"""Text-analysis operators for large-scale training-data pipelines.

Extensions beyond the reference surface (SURVEY.md §7 / BASELINE.json
north star): language-ID, quality scoring, token counting, document
fingerprinting — all pure Catalyst column expressions / relational
plans (no Python UDFs), so they run JVM-side with whole-stage codegen
and scale linearly with input splits.

Determinism: token math uses only length/replace arithmetic and
explode+join relational counts; every ratio is a single division of
exact integer counts → bit-identical across engines and partitionings.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ureplicator_spark.functions import micro6, round6f, round6s

from ureplicator_spark.caching import pin
from ureplicator_spark.functions import md5_long

# language → characteristic stopwords (tiny demo profiles; extend freely)
LANG_PROFILES: dict[str, list[str]] = {
    "en": ["the", "a", "of"],
    "de": ["der", "die", "das"],
    "es": ["el", "la", "los"],
    "fr": ["le", "la", "les"],
    "zh": ["de", "le", "he"],
}


def tokens(documents: DataFrame) -> DataFrame:
    """(doc_id, pos, token) — the relational token view.

    Deliberately NOT fan_out-widened: token consumers are count/group
    aggregations (cheap per row), so on the single-split fixture scan
    the extra exchange + task scheduling costs more than the
    parallelism buys (measured: quality_score 0.48→0.80 s widened).
    Hash-heavy per-token pipelines (shingling, simhash) widen at their
    own call sites where the CPU work amortizes it."""
    return documents.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "token")
    )


def token_stats(documents: DataFrame) -> DataFrame:
    """Token counting via pure string arithmetic (no explode, no UDF):
    n_tokens = #separators + 1 on single-space text; avg token length
    derived from exact char counts."""
    n_tokens = (
        F.length("text") - F.length(F.regexp_replace("text", " ", "")) + 1
    ).alias("n_tokens")
    return documents.select(
        "doc_id",
        F.length("text").alias("n_chars"),
        n_tokens,
        round6f(
            (F.length(F.regexp_replace("text", " ", "")))
            / (F.length("text") - F.length(F.regexp_replace("text", " ", "")) + 1)
        ).alias("avg_token_len"),
        # BPE-ish subword proxy: vowel-group count (regexp_extract_all is
        # codegen'd JVM-side; the pattern is RE2/Java-portable)
        F.expr("size(regexp_extract_all(text, '[aeiou]+', 0))").alias("n_subword_units"),
    )


def quality_score(documents: DataFrame) -> DataFrame:
    """Quality heuristics: type-token ratio + stopword ratio + length,
    combined into a keep/drop signal (the standard pretraining filter
    shape: Gopher/C4-style rules over exact counts)."""
    tok = tokens(documents)
    en_stop = [w for w in LANG_PROFILES["en"]]
    per_doc = tok.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        F.countDistinct("token").alias("n_distinct"),
        F.sum(F.when(F.col("token").isin(en_stop), 1).otherwise(0)).alias("n_stop"),
    )
    return per_doc.select(
        "doc_id",
        "n_tokens",
        "n_distinct",
        round6f(F.col("n_distinct") / F.col("n_tokens")).alias("type_token_ratio"),
        round6f(F.col("n_stop") / F.col("n_tokens")).alias("stopword_ratio"),
        (
            (F.col("n_tokens") >= 10)
            & (F.col("n_distinct") * 10 >= F.col("n_tokens"))  # TTR ≥ 0.1, exact ints
            & (F.col("n_stop") > 0)
        ).alias("keep"),
    )


def lang_id(documents: DataFrame, spark: SparkSession) -> DataFrame:
    """N-gram/stopword language ID: score each language profile by
    token hits, argmax with deterministic tie-break; 'unknown' when no
    profile matches. Reports prediction vs the labeled lang column."""
    profile_rows = [(lang, w) for lang, ws in LANG_PROFILES.items() for w in ws]
    from ureplicator_spark.functions import values_df

    profiles = values_df(spark, profile_rows, "plang string, token string")
    tok = tokens(documents)
    scores = (
        tok.join(F.broadcast(profiles), "token")
        .groupBy("doc_id", "plang")
        .agg(F.count("*").alias("hits"))
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("hits").desc(), F.col("plang"))
    best = scores.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    return (
        documents.select("doc_id", "lang")
        .join(best.select("doc_id", "plang", "hits"), "doc_id", "left")
        .select(
            "doc_id",
            "lang",
            F.coalesce("plang", F.lit("unknown")).alias("lang_pred"),
            F.coalesce("hits", F.lit(0)).cast("long").alias("hits"),
            (F.coalesce("plang", F.lit("unknown")) == F.col("lang")).alias("correct"),
        )
    )


def fingerprint(documents: DataFrame) -> DataFrame:
    """Document fingerprints: full-content md5, prefix fingerprint, and
    a 60-bit portable integer fingerprint (for joins/sharding)."""
    from ureplicator_spark.functions import md5_long

    return documents.select(
        "doc_id",
        F.md5("text").alias("content_md5"),
        F.md5(F.substring("text", 1, 64)).alias("prefix_md5"),
        md5_long(F.col("text")).alias("fingerprint60"),
        F.length("text").alias("n_chars"),
    )


WINNOW_K = 8  # char-k-gram width
WINNOW_W = 4  # window width → guarantee threshold t = K + W - 1 = 11


def winnow_fingerprints(
    documents: DataFrame, k: int = WINNOW_K, w: int = WINNOW_W
) -> DataFrame:
    """Winnowed LOCAL fingerprints per document (Schleimer, Wilkerson &
    Aiken, SIGMOD'03 — the MOSS algorithm): normalize (lowercase, strip
    non-alphanumerics), hash every char k-gram, slide a w-wide window
    over the hash sequence and keep each window's minimum (rightmost on
    ties). The guarantee: any shared substring of length ≥ k + w - 1
    between two documents yields at least one SHARED fingerprint —
    partial-overlap detection that whole-document digests
    (:func:`fingerprint`) structurally cannot provide, at expected
    density 2/(w+1) of the k-gram count.

    Returns (doc_id, n_kgrams, fingerprints: array<struct<h,p>>) where
    (h, p) are the distinct selected (hash, 1-based position) pairs.
    Docs shorter than one full window (len < k + w - 1 after
    normalization) are excluded — the guarantee is vacuous for them.

    Scale shape: map-only per-doc array folds, zero shuffles — md5 runs
    once per k-gram (the `hashes` array is referenced twice in the next
    projection, so CollapseProject cannot inline the transform into the
    O(n·w) window fold and re-hash per comparison), selection is an
    O(n·w) integer fold over the materialized array, w is a small
    constant. Hashes are md5-derived 60-bit longs so any engine
    reproduces the fingerprint sets exactly.
    """
    from ureplicator_spark.functions import fan_out

    max_long = (1 << 63) - 1
    norm = (
        fan_out(documents)
        .select(
            "doc_id",
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9]", "").alias("s"),
        )
        .filter(F.length("s") >= k + w - 1)
    )
    hashes = (
        f"transform(sequence(1, length(s) - {k - 1}), "
        f"i -> CAST(conv(substring(md5(substring(s, i, {k})), 1, 15), 16, 10) AS BIGINT))"
    )
    hashed = norm.selectExpr("doc_id", f"{hashes} AS hashes")
    selected = (
        f"transform(sequence(1, size(hashes) - {w - 1}), j -> "
        f"aggregate(sequence(j, j + {w - 1}), "
        f"named_struct('h', CAST({max_long} AS BIGINT), 'p', 0), "
        f"(acc, i) -> IF(element_at(hashes, i) <= acc.h, "
        f"named_struct('h', element_at(hashes, i), 'p', CAST(i AS INT)), acc)))"
    )
    return hashed.selectExpr(
        "doc_id",
        "size(hashes) AS n_kgrams",
        f"array_distinct({selected}) AS fingerprints",
    )


def winnowing_stats(
    documents: DataFrame, k: int = WINNOW_K, w: int = WINNOW_W
) -> DataFrame:
    """Per-document winnowing fingerprint report: k-gram/window counts,
    selected-fingerprint counts and density (expected ≈ 2/(w+1), the
    paper's bound — a built-in self-check that selection is winnowing
    and not plain min-hashing)."""
    return winnowing_stats_from_fp(winnow_fingerprints(documents, k, w), w)


def winnowing_stats_from_fp(fp: DataFrame, w: int = WINNOW_W) -> DataFrame:
    """:func:`winnowing_stats` from an ALREADY-BUILT (doc_id, n_kgrams,
    fingerprints) frame — the probe half, split out so the standing
    persisted ``winnow_fingerprints`` index section serves it without
    re-hashing the corpus (fingerprints are PER-DOC local state, so
    the section appends exactly like signatures)."""
    return fp.select(
        "doc_id",
        "n_kgrams",
        (F.col("n_kgrams") - (w - 1)).alias("n_windows"),
        F.size("fingerprints").alias("n_fingerprints"),
        F.size(F.expr("array_distinct(transform(fingerprints, x -> x.h))")).alias(
            "n_distinct_hashes"
        ),
        # floor chain, not round(double): n_fp/n_windows is an
        # arbitrary rational that can land within an ulp of a .5e-6
        # boundary where the engines' ROUNDs disagree (drift-monitor
        # lesson). Density is nonnegative so the plain chain suffices.
        (
            F.floor(
                F.size("fingerprints") / (F.col("n_kgrams") - (w - 1)) * 1e6
                + F.lit(0.5)
            ).cast("double")
            / 1e6
        ).alias("density"),
    )


def winnowing_overlap_pairs(
    documents: DataFrame,
    k: int = WINNOW_K,
    w: int = WINNOW_W,
    max_df: int = 50,
    min_shared: int = 2,
    top_n: int = 20,
) -> DataFrame:
    """Document pairs sharing winnowed fingerprints — MOSS-style local
    overlap detection. Catches PARTIAL plagiarism/quotation (a shared
    run of ≥ k+w-1 chars) that Jaccard-style whole-set measures dilute
    away on long documents.

    Scale shape: the join is keyed by fingerprint hash — bucket-sized
    work like the LSH band join, never all-pairs. Fingerprints shared
    by more than ``max_df`` docs are dropped first (boilerplate
    stop-fingerprints, same discipline as the stop-shingle cap): the
    cap bounds any bucket's pair fan-out at C(max_df, 2) and removes
    exactly the fingerprints that carry no pair-level signal. The
    per-doc fingerprint frame is pinned before the explode (Generate
    re-evaluates its generator child per output row — the md5+fold
    chain must not re-run per fingerprint). The doc-frequency cap is a
    window count over the h-partitioning the join itself needs, so
    cap + join share one exchange."""
    return winnowing_overlap_pairs_from_fp(
        winnow_fingerprints(documents, k, w), max_df, min_shared, top_n
    )


def winnowing_overlap_pairs_from_fp(
    fp: DataFrame,
    max_df: int = 50,
    min_shared: int = 2,
    top_n: int = 20,
) -> DataFrame:
    """:func:`winnowing_overlap_pairs` from an ALREADY-BUILT (doc_id,
    n_kgrams, fingerprints) frame — the probe half for the standing
    persisted section (see winnowing_stats_from_fp)."""
    from ureplicator_spark.caching import pin

    per_doc = pin(
        fp.selectExpr(
            "doc_id", "array_distinct(transform(fingerprints, x -> x.h)) AS fps"
        )
    )
    capped = (
        per_doc.select("doc_id", F.explode("fps").alias("h"))
        .withColumn("df", F.count("*").over(Window.partitionBy("h")))
        .filter(F.col("df") <= max_df)
        .select("doc_id", "h")
    )
    pairs = (
        capped.alias("a")
        .join(
            capped.alias("b"),
            (F.col("a.h") == F.col("b.h")) & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )
    return pairs.withColumn(
        "rank",
        F.row_number().over(Window.orderBy(F.desc("n_shared"), "doc_a", "doc_b")),
    ).filter(F.col("rank") <= top_n)


def chunk_documents(documents: DataFrame, size: int = 32, stride: int = 24) -> DataFrame:
    """Fixed-size token chunks with overlap (training-sample windowing):
    chunk i covers tokens [i*stride, i*stride + size). All JVM-side —
    split + sequence + posexplode + slice, no Python in the hot path.
    Scale shape: narrow map-only pipeline (one output row per chunk),
    no shuffle at all; parallelism = input splits."""
    from ureplicator_spark.functions import md5_long

    return (
        documents.select("doc_id", F.split("text", " +").alias("toks"))
        .select(
            "doc_id",
            "toks",
            F.posexplode(
                F.expr(f"sequence(0, greatest(size(toks) - 1, 0), {stride})")
            ).alias("chunk_id", "start"),
        )
        .select(
            "doc_id",
            F.col("chunk_id").cast("int").alias("chunk_id"),
            F.expr(f"slice(toks, start + 1, {size})").alias("chunk"),
        )
        .select(
            "doc_id",
            "chunk_id",
            F.size("chunk").cast("int").alias("n_tokens"),
            md5_long(F.array_join("chunk", " ")).alias("chunk_hash"),
        )
    )


def split_assign(
    documents: DataFrame, train_pct: int = 80, val_pct: int = 10
) -> DataFrame:
    """Deterministic train/val/test assignment by content-independent
    doc_id hash bucket — reproducible across runs/engines, no sampling
    state. Returns per-split doc counts + char totals."""
    from ureplicator_spark.functions import md5_long

    bucket = F.pmod(md5_long(F.col("doc_id").cast("string")), F.lit(100))
    split = (
        F.when(bucket < train_pct, "train")
        .when(bucket < train_pct + val_pct, "val")
        .otherwise("test")
    )
    return (
        documents.select(split.alias("split"), "n_chars")
        .groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
        .orderBy("split")
    )


def split_leakage(
    documents: DataFrame,
    pairs: DataFrame,
    threshold: float = 0.5,
    train_pct: int = 80,
    val_pct: int = 10,
) -> DataFrame:
    """Cross-split contamination matrix: near-duplicate pairs (est
    Jaccard ≥ threshold) classified by the train/val/test membership of
    BOTH sides. Rows where split_a ≠ split_b are evaluation leakage —
    an eval doc whose near-twin sits in train inflates every benchmark
    it touches, the leakage :func:`split_assign`'s content-independent
    bucketing cannot prevent (the split is by doc_id, the duplication
    is by content). The same-split rows complete the matrix so the
    cross-split rate has its denominator.

    ``sum_matches`` is exact integer math: est_jaccard = matches/K with
    K a power of two, so SUM(est·K) is order-free and engine-exact
    where SUM(double) would not be.

    Scale shape: pairs is delta-sized (the LSH family's output, served
    from the standing index); the two membership joins are keyed by
    doc_id and the final rollup is at most |splits|² rows. Declared
    declaratively so AQE broadcasts the pair side when it is small.
    """
    from ureplicator_spark.functions import md5_long
    from ureplicator_spark.operators.dedup import N_MINHASH

    bucket = F.pmod(md5_long(F.col("doc_id").cast("string")), F.lit(100))
    split = (
        F.when(bucket < train_pct, "train")
        .when(bucket < train_pct + val_pct, "val")
        .otherwise("test")
    )
    splits = documents.select("doc_id", split.alias("split"))
    sa = splits.select(
        F.col("doc_id").alias("doc_a"), F.col("split").alias("sa")
    )
    sb = splits.select(
        F.col("doc_id").alias("doc_b"), F.col("split").alias("sb")
    )
    return (
        pairs.filter(F.col("est_jaccard") >= threshold)
        .join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            F.least("sa", "sb").alias("split_a"),
            F.greatest("sa", "sb").alias("split_b"),
            "est_jaccard",
        )
        .groupBy("split_a", "split_b")
        .agg(
            F.count("*").alias("n_pairs"),
            F.sum(F.col("est_jaccard") * N_MINHASH).cast("long").alias("sum_matches"),
            F.max("est_jaccard").alias("max_jaccard"),
        )
        .orderBy("split_a", "split_b")
    )


def boilerplate_shingles(
    documents: DataFrame, k: int = 3, min_docs: int = 2
) -> DataFrame:
    """C4-style boilerplate detection: word k-grams that recur across
    ≥ min_docs distinct documents (the removal pass filters chunks
    containing them). The shingle is hashed BEFORE the aggregation so
    the one shuffle carries 8-byte longs, not ~20-byte strings — at
    100 TB that is the difference between shuffling the corpus and
    shuffling a quarter of it. 60-bit collisions merge two shingles'
    counts; harmless for a recurrence detector until distinct shingles
    approach 2^30 per job, at which point widen to the md5 pair."""
    from ureplicator_spark.functions import fan_out, md5_long, stream_word_kgrams

    # Occurrence counting needs NO per-doc dedup, so the k-gram STRING
    # array never has to exist (stream_word_kgrams rationale).
    sh = stream_word_kgrams(
        fan_out(documents)
        .select("doc_id", F.split("text", " +").alias("toks"))
        .filter(F.size("toks") >= k),
        k,
        "shingle",
        "doc_id",
    ).select("doc_id", md5_long("shingle").alias("shingle_hash"))
    return (
        sh.groupBy("shingle_hash")
        .agg(
            F.count_distinct("doc_id").alias("n_docs"),
            F.count("*").alias("n_occur"),
        )
        .filter(F.col("n_docs") >= min_docs)
    )


def redact_tokens(documents: DataFrame, denylist: tuple[str, ...] = ("key", "value")) -> DataFrame:
    """PII-style token redaction: mask denylisted tokens and any token
    containing a digit, report per-doc mask counts + a hash of the
    redacted text (the downstream-pipeline contract: redaction happens
    BEFORE dedup/chunking so masks are stable). Pure array transform —
    map-only, no shuffle, no Python."""
    from ureplicator_spark.functions import md5_long

    deny = ", ".join(f"'{t}'" for t in denylist)
    toks = F.split("text", " +")
    mask_expr = (
        "transform(split(text, ' +'), t -> CASE WHEN t IN (" + deny
        + ") OR t RLIKE '[0-9]' THEN '<MASK>' ELSE t END)"
    )
    masked = F.expr(mask_expr)
    return documents.select(
        "doc_id",
        F.size(toks).cast("int").alias("n_tokens"),
        F.size(F.filter(masked, lambda t: t == "<MASK>")).cast("int").alias("n_masked"),
        md5_long(F.array_join(masked, " ")).alias("redacted_hash"),
    )


def corpus_mix(documents: DataFrame) -> DataFrame:
    """Training-mix report: per (source, lang) document and token
    counts plus each cell's share of total corpus tokens — the numbers
    that become sampling weights when composing a training mixture.
    Scale shape: one shuffle for the (source, lang) aggregate; the
    global total is re-aggregated from that tiny result and broadcast
    back (cross join with a 1-row side), so the 100 TB fact is scanned
    exactly once and no global window is involved."""
    g = documents.groupBy("source", "lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(F.split("text", " +"))).cast("long").alias("n_tokens"),
    )
    total = g.agg(F.sum("n_tokens").alias("_total"))
    return (
        g.crossJoin(F.broadcast(total))
        .select(
            "source",
            "lang",
            "n_docs",
            "n_tokens",
            round6f(F.col("n_tokens") / F.col("_total")).alias("token_share"),
        )
    )


def repetition_stats(documents: DataFrame, include_3gram: bool = True) -> DataFrame:
    """Gopher-style repetition signals per document (Rae et al. 2021,
    table A1): share of the most frequent token, and the duplicate
    share of word 2-grams / 3-grams. Heavily repeated text is the
    strongest single predictor of low-quality web documents.

    Scale shape: all three signals are per-doc aggregations keyed on
    doc_id — map-side partial, one shuffle each, no windows over the
    corpus and no cross-doc state. The n-gram views reuse the shingle
    construction (slice over the token array) entirely in codegen.

    ``include_3gram=False`` skips the 3-gram pass (one full
    explode+aggregate over the corpus) for consumers that only gate on
    n_tokens / top-token share / 2-gram share — the quality gates use
    exactly that subset."""
    toks = documents.select("doc_id", F.split("text", " +").alias("toks"))

    tok_counts = (
        toks.select("doc_id", F.explode("toks").alias("token"))
        .groupBy("doc_id", "token")
        .count()
    )
    per_tok = tok_counts.groupBy("doc_id").agg(
        F.sum("count").cast("long").alias("n_tokens"),
        F.max("count").cast("long").alias("top_token_n"),
    )

    def gram_share(k: int, out: str) -> DataFrame:
        from ureplicator_spark.functions import stream_word_kgrams

        grams = (
            stream_word_kgrams(
                toks.filter(F.size("toks") >= k), k, "gram", "doc_id"
            )
            .groupBy("doc_id", "gram")
            .count()
        )
        return grams.groupBy("doc_id").agg(
            round6f(
                (F.sum("count") - F.count("*")) / F.sum("count")
            ).alias(out)
        )

    out = per_tok.join(gram_share(2, "dup_2gram_share"), "doc_id", "left")
    cols = [
        F.col("doc_id"),
        F.col("n_tokens"),
        round6f(F.col("top_token_n") / F.col("n_tokens")).alias("top_token_share"),
        F.coalesce("dup_2gram_share", F.lit(0.0)).alias("dup_2gram_share"),
    ]
    if include_3gram:
        out = out.join(gram_share(3, "dup_3gram_share"), "doc_id", "left")
        cols.append(F.coalesce("dup_3gram_share", F.lit(0.0)).alias("dup_3gram_share"))
    return out.select(*cols)


def quality_gate_summary(documents: DataFrame) -> DataFrame:
    """Per-(source, lang) tally of documents failing each pretraining
    gate — the report a corpus curator reads before choosing sampling
    weights. Rules (Gopher-flavored, exact integer/ratio arithmetic):
    too_short (<10 tokens), too_long (>2000), top-token share > 0.2,
    duplicate-2gram share > 0.3; pass = none failed.

    Scale shape: repetition_stats' per-doc shuffles + one final
    (source, lang) aggregation; every agg is algebraic (map-side
    partial), nothing is collected."""
    stats = repetition_stats(documents)
    flags = documents.select("doc_id", "source", "lang").join(stats, "doc_id")
    too_short = (F.col("n_tokens") < 10).cast("int")
    too_long = (F.col("n_tokens") > 2000).cast("int")
    top_share = (F.col("top_token_share") > 0.2).cast("int")
    dup2 = (F.col("dup_2gram_share") > 0.3).cast("int")
    return (
        flags.groupBy("source", "lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(too_short).cast("long").alias("n_too_short"),
            F.sum(too_long).cast("long").alias("n_too_long"),
            F.sum(top_share).cast("long").alias("n_top_token"),
            F.sum(dup2).cast("long").alias("n_dup_2gram"),
            F.sum(
                (
                    (too_short + too_long + top_share + dup2) == 0
                ).cast("int")
            )
            .cast("long")
            .alias("n_pass"),
        )
    )


LANG_SAMPLE_RATES = {"en": 90, "de": 50, "es": 50, "fr": 50, "zh": 25}


def stratified_sample(
    documents: DataFrame, rates: dict[str, int] | None = None
) -> DataFrame:
    """Deterministic per-language downsampling — rebalancing a corpus
    mix without sampling state. A document survives iff its md5 bucket
    (0-99, content-independent) falls under its language's rate, so the
    same doc set survives on any engine and any run.

    Scale shape: the rates table is a literal broadcast; the filter is
    a map-only predicate over the fact scan — zero shuffles."""
    from ureplicator_spark.functions import md5_long, values_df

    rates = rates or LANG_SAMPLE_RATES
    rt = values_df(
        documents.sparkSession,
        sorted(rates.items()),
        "lang string, rate int",
    )
    bucket = F.pmod(md5_long(F.col("doc_id").cast("string")), F.lit(100))
    return (
        documents.join(F.broadcast(rt), "lang")
        .filter(bucket < F.col("rate"))
        .select("doc_id", "source", "lang", "n_chars")
    )


def ngram_top(documents: DataFrame, k: int = 2, top_n: int = 10) -> DataFrame:
    """Top-N word k-grams per language with deterministic tie-break —
    the corpus-level vocabulary/boilerplate report.

    Scale shape: one shuffle keyed on (lang, gram) with map-side
    partial counts; the top-N window partitions by lang over the
    AGGREGATED gram table (vocab-bounded, orders of magnitude smaller
    than the corpus), not over raw tokens."""
    from pyspark.sql import Window

    from ureplicator_spark.functions import stream_word_kgrams

    grams = (
        stream_word_kgrams(
            documents.select("lang", F.split("text", " +").alias("toks")).filter(
                F.size("toks") >= k
            ),
            k,
            "gram",
            "lang",
        )
        .groupBy("lang", "gram")
        .count()
    )
    # Two-phase top-N: a per-lang window over the full gram table puts
    # O(vocab^k / #langs) rows in one task. Rank within (lang, hash
    # shard) first — a global top-N gram is top-N in its shard — then
    # rank the N x n_shards survivors per lang (tiny).
    n_shards = 16
    w1 = Window.partitionBy("lang", "_shard").orderBy(
        F.col("count").desc(), F.col("gram")
    )
    survivors = (
        grams.withColumn("_shard", F.pmod(F.hash("gram"), F.lit(n_shards)))
        .withColumn("_r", F.row_number().over(w1))
        .filter(F.col("_r") <= top_n)
        .drop("_shard", "_r")
    )
    w2 = Window.partitionBy("lang").orderBy(F.col("count").desc(), F.col("gram"))
    return (
        survivors.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= top_n)
        .select("lang", "gram", F.col("count").alias("n_occur"), "rank")
    )


def length_buckets(documents: DataFrame) -> DataFrame:
    """Power-of-two document-length histogram per source — the length
    profile used to choose chunk sizes and spot truncation artifacts.
    Bucket = bit length of n_chars (integer-exact on every engine,
    no float log2 edge cases). Map-only + one small aggregation."""
    bucket = F.length(F.bin("n_chars")).cast("int")
    return (
        documents.select("source", bucket.alias("len_bucket"), "n_chars")
        .groupBy("source", "len_bucket")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            F.min("n_chars").cast("long").alias("min_chars"),
            F.max("n_chars").cast("long").alias("max_chars"),
        )
    )


def benchmark_contamination(
    documents: DataFrame, benchmark_max_id: int = 10, k: int = 3
) -> DataFrame:
    """Decontamination sweep (Lee et al. 2022 / GPT-3 appendix C
    practice): per corpus document, how many of its word k-grams also
    occur in a held-out benchmark set — here the docs with
    ``doc_id < benchmark_max_id`` stand in for the eval suite.

    Scale shape: the benchmark gram set is fixed-size (eval suites
    don't grow with the corpus), so it broadcasts; the corpus side is
    one map-side join + one per-doc aggregation. flag = hit share
    >= 0.5 (likely verbatim leakage)."""
    from ureplicator_spark.operators.dedup import shingles

    sh = shingles(documents, k)
    # groupBy(shingle) rather than distinct(): same rows, but the
    # reduction is an Aggregate in the analyzed plan, which the
    # broadcast guard recognizes as the bounded broadcast-the-summary
    # shape (the true bound is the constant doc_id < benchmark_max_id).
    bench = (
        sh.filter(F.col("doc_id") < benchmark_max_id)
        .groupBy("shingle")
        .agg(F.lit(1).alias("_hit"))
    )
    corpus = sh.filter(F.col("doc_id") >= benchmark_max_id)
    return (
        corpus.join(F.broadcast(bench), "shingle", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.sum(F.coalesce("_hit", F.lit(0))).cast("long").alias("n_hits"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_hits",
            round6f(F.col("n_hits") / F.col("n_grams")).alias("hit_share"),
            (round6f(F.col("n_hits") / F.col("n_grams")) >= 0.5).alias(
                "contaminated"
            ),
        )
    )


def corpus_mix_weights(documents: DataFrame, alpha: float = 0.7) -> DataFrame:
    """Temperature-scaled sampling weights per (source, lang):
    weight ∝ token_share^alpha, normalized — the standard multinomial
    smoothing (alpha<1 upsamples the tail) used when composing
    multilingual / multi-source training mixtures.

    Scale shape: same single-shuffle aggregate as corpus_mix; both
    normalizers are 1-row aggregates of the tiny cell table broadcast
    back, so the corpus is scanned once. Raw pow values are rounded to
    1e-6 before normalization so every engine sums identical inputs."""
    g = documents.groupBy("source", "lang").agg(
        F.sum(F.size(F.split("text", " +"))).cast("long").alias("n_tokens")
    )
    total = g.agg(F.sum("n_tokens").alias("_total"))
    cells = (
        g.crossJoin(F.broadcast(total))
        .withColumn("token_share", round6f(F.col("n_tokens") / F.col("_total")))
        .withColumn("raw_w", round6f(F.pow("token_share", F.lit(alpha))))
    )
    z = cells.agg(F.sum("raw_w").alias("_z"))
    return (
        cells.crossJoin(F.broadcast(z))
        .select(
            "source",
            "lang",
            "n_tokens",
            "token_share",
            round6f(F.col("raw_w") / F.col("_z")).alias("weight"),
        )
    )


def boilerplate_spans(
    documents: DataFrame, k: int = 3, min_docs: int = 2
) -> DataFrame:
    """The C4 removal pass companion to ``boilerplate_shingles``:
    WHERE in each document the cross-document boilerplate k-grams sit.
    Returns (doc_id, pos, shingle_hash, n_docs) — one row per
    occurrence of a gram that recurs in >= min_docs distinct docs, with
    pos the 1-based token offset, ready to drive span deletion.

    Scale shape: the positioned gram view is the same map-only explode
    as shingling; the boilerplate set is an aggregate on the gram key
    and the final join is gram-keyed (shuffle join — the boilerplate
    set grows with the corpus, so no broadcast hint; AQE may still
    choose one while it fits)."""
    from ureplicator_spark.functions import md5_long

    toked = (
        documents.select("doc_id", F.split("text", " +").alias("toks"))
        .filter(F.size("toks") >= k)
    )
    # stream_word_kgrams shape, kept inline because the 1-based token
    # offset IS the exploded index — no gram-string array materialized
    grams = toked.select(
        "doc_id",
        "toks",
        F.posexplode(F.expr(f"sequence(1, size(toks) - {k - 1})")).alias(
            "p0", "i"
        ),
    ).select(
        "doc_id",
        F.col("i").cast("long").alias("pos"),
        F.expr(f"array_join(slice(toks, i, {k}), ' ')").alias("gram"),
    )
    bp = (
        grams.groupBy("gram")
        .agg(F.count_distinct("doc_id").alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
    )
    return grams.join(bp, "gram").select(
        "doc_id", "pos", md5_long("gram").alias("shingle_hash"), "n_docs"
    )


def chunk_dedup(
    documents: DataFrame, size: int = 32, stride: int = 24, min_docs: int = 2
) -> DataFrame:
    """Cross-document chunk dedup — the C4 line-dedup pass at training-
    chunk granularity: chunk hashes that recur in ≥ min_docs distinct
    documents, with keeper = lowest doc_id (drop the chunk everywhere
    else). Two-phase agg keyed on the 60-bit chunk hash: map-side
    partial counts collapse repeats before the single shuffle, so
    shuffle volume is O(distinct chunks), not O(chunks)."""
    ch = chunk_documents(documents, size, stride)
    return (
        ch.groupBy("chunk_hash")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count("*").alias("n_occur"),
            F.min("doc_id").alias("keeper_doc_id"),
        )
        .filter(F.col("n_docs") >= min_docs)
        .orderBy("chunk_hash")
    )


# GPT-style pre-tokenizer classes: letter runs, single digits,
# punctuation. Same regex dialect subset in Java (Spark) and RE2
# (DuckDB): character classes, +, alternation only.
_BPE_PATTERN = "[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]"


def bpe_token_estimate(documents: DataFrame) -> DataFrame:
    """Tokenizer-aware size estimate: whitespace words vs BPE-ish
    pre-token count (letter runs + single digits + punctuation marks —
    the GPT-2 pre-tokenizer's coarse classes). The tokens-per-word
    ratio is the standard sizing heuristic when budgeting a training
    mix in tokens rather than documents. Map-only, no shuffle."""
    toks = F.split(F.trim(F.col("text")), " +")
    bpe = F.size(F.regexp_extract_all(F.col("text"), F.lit(_BPE_PATTERN), F.lit(0)))
    return documents.select(
        "doc_id",
        F.size(toks).cast("int").alias("n_words"),
        bpe.cast("int").alias("n_bpe_tokens"),
        round6f(bpe / F.size(toks)).alias("tokens_per_word"),
    )


def unigram_lm_score(documents: DataFrame) -> DataFrame:
    """Per-document cross-entropy under a corpus-trained unigram LM —
    the cheap perplexity proxy used to rank raw documents for quality
    before an expensive model-based filter (the CCNet/KenLM stage of a
    curation pipeline, approximated without the external LM).

    Two passes over the token stream: (1) train — one aggregation for
    token counts + one scalar total; (2) score — join each token to
    its probability and average ``-ln p`` per document. The model
    table is vocabulary-sized (far smaller than the corpus at any SF)
    and is broadcast, so scoring adds no shuffle beyond the per-doc
    aggregation. ``ROUND(.., 6)`` bounds the summation-order noise of
    the double average across engines."""
    tok = tokens(documents).select("doc_id", "token")
    model = tok.groupBy("token").agg(F.count("*").alias("c"))
    # grand total rolls up from the vocab-sized model table, not a
    # second pass over the token stream
    total = model.agg(F.sum("c").alias("t"))
    # r11 exactness v2: cross_entropy = ln(t) - (Σ ln c)/n decomposed
    # exactly; ln(c) quantizes to integer micro-units ON THE MODEL
    # (vocabulary-sized, once), so the per-doc Σ is exact integer
    # arithmetic — order-free, plain-SUM plan (see dsir_weights for
    # the collect-fold-vs-micro history). One ln + one division at
    # the end, chained to 6 dp.
    model6 = model.select("token", micro6(F.log(F.col("c"))).alias("lnc6"))
    per = (
        tok.join(F.broadcast(model6), "token")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum("lnc6").alias("_slc6"),
        )
    )
    return (
        per.crossJoin(F.broadcast(total))
        .select(
            "doc_id",
            "n_tokens",
            round6f(
                F.log(F.col("t"))
                - F.col("_slc6").cast("double") / (F.col("n_tokens") * 1e6)
            ).alias("cross_entropy"),
        )
        .orderBy("doc_id")
    )


def dsir_weights(
    documents: DataFrame, target_source: str = "src0", n_buckets: int = 256
) -> DataFrame:
    """DSIR importance weights (Xie et al., arXiv:2302.03169): score
    every raw-pool document by how target-like its hashed-n-gram
    distribution is — ``log w(x) = Σ_tokens log p̂_target(b(t)) −
    log p̂_raw(b(t))`` over ``n_buckets`` hashed unigram buckets with
    add-one smoothing. Data-selection pipelines sample the raw pool
    with probability ∝ exp(log_weight) to match a target domain;
    here target = the ``target_source`` docs, raw = every other doc,
    and only raw docs are scored (they are the selection pool).

    Scale shape: the token stream is tokenized + hashed ONCE into a
    per-(doc, bucket) count table bounded by docs × n_buckets (far
    smaller than the token stream); that narrow table is the ONLY
    thing persisted, and it feeds both the model training (one
    n_buckets-row aggregation, broadcast back) and the per-doc scoring
    — so the corpus pays exactly one doc_id shuffle regardless of
    vocabulary size (the point of hashing the features). Buckets use
    the portable md5 hash so the oracle reproduces every assignment;
    the double log-sum takes one final ROUND(.., 6)."""
    pre = (
        tokens(documents)
        .join(documents.select("doc_id", "source"), "doc_id")
        .groupBy(
            "doc_id",
            "source",
            F.pmod(md5_long(F.col("token")), F.lit(n_buckets)).alias("bucket"),
        )
        .agg(F.count("*").alias("cnt"))
    )
    pre = pin(pre)
    is_target = F.col("source") == target_source
    counts = pre.groupBy("bucket").agg(
        F.sum(F.when(is_target, F.col("cnt")).otherwise(0)).alias("ct"),
        F.sum(F.when(~is_target, F.col("cnt")).otherwise(0)).alias("cr"),
    )
    tot = counts.agg(
        F.sum("ct").alias("tt"), F.sum("cr").alias("tr")
    )
    # r11 exactness v2: the n_buckets-row MODEL quantizes log_ratio to
    # integer micro-units ONCE (micro6 — the 6-dp floor chain kept in
    # integer form); the per-doc score is then an EXACT integer
    # Σ cnt·lr6 — order-free, map-side combinable, no double fold and
    # no per-group list materialization (the first refold collected
    # and sorted per-doc term lists; measured 1.44 s vs the original
    # 0.6 s at sf0.1 — the micro-unit sum restores the plain-SUM plan)
    model = counts.crossJoin(F.broadcast(tot)).select(
        "bucket",
        micro6(
            F.log((F.col("ct") + 1) / (F.col("tt") + n_buckets))
            - F.log((F.col("cr") + 1) / (F.col("tr") + n_buckets))
        ).alias("lr6"),
    )
    return (
        pre.filter(~is_target)
        .join(F.broadcast(model), "bucket")
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").cast("long").alias("n_tokens"),
            (F.sum(F.col("cnt") * F.col("lr6")).cast("double") / 1e6).alias(
                "log_weight"
            ),
        )
        .orderBy("doc_id")
    )


def source_unigram_kl(documents: DataFrame) -> DataFrame:
    """KL(source ‖ corpus) over unigram distributions, per source — a
    corpus-drift / source-divergence gauge: sources whose token mix
    diverges most from the pooled distribution surface first in mix
    audits. All counts are exact integers; each term of the sum is
    p_s·ln(p_s/p_c) with one final ROUND(.., 6).

    The per-(source, token) table shuffles once on its grouping key;
    corpus-level token counts are vocabulary-sized and broadcast into
    the source-level rows."""
    tok = documents.select(
        "source", F.explode(F.split("text", " ")).alias("token")
    )
    st = tok.groupBy("source", "token").agg(F.count("*").alias("cs"))
    # corpus/grand roll up from st (|sources| x vocab rows), so the
    # token stream is exploded and shuffled exactly once
    src_tot = st.groupBy("source").agg(F.sum("cs").alias("ts"))
    corpus = st.groupBy("token").agg(F.sum("cs").alias("c"))
    grand = corpus.agg(F.sum("c").alias("t"))
    ps = F.col("cs") / F.col("ts")
    pc = F.col("c") / F.col("t")
    return (
        st.join(F.broadcast(src_tot), "source")
        .join(F.broadcast(corpus), "token")
        .crossJoin(F.broadcast(grand))
        .groupBy("source")
        .agg(
            # st rows are already distinct per (source, token), so a
            # plain count == countDistinct without the Expand+exchange
            F.count("*").alias("n_terms"),
            # r11 exactness v2: each KL term quantizes to integer
            # micro-units, the vocabulary sum is exact integer
            # arithmetic — order-free with a plain-SUM plan (see
            # dsir_weights for the fold-vs-micro history)
            (F.sum(micro6(ps * F.log(ps / pc))).cast("double") / 1e6).alias(
                "kl_divergence"
            ),
        )
        .orderBy("source")
    )


def source_length_psi(documents: DataFrame) -> DataFrame:
    """Population stability index of the document-length distribution,
    per source vs the pooled corpus — the standard numeric drift score
    of production ML monitoring (scorecard heritage: PSI < 0.1 stable,
    0.1–0.25 moderate shift, > 0.25 major shift). Complements
    :func:`source_unigram_kl`'s token-mix divergence with a
    shape-of-documents view: a source that starts truncating or
    concatenating documents moves PSI before it moves the vocabulary.

    Buckets are :func:`length_buckets`' integer-exact bit-length bins;
    Laplace add-one smoothing keeps every corpus bucket defined for
    every source — a source MISSING a bucket is exactly the shift PSI
    must price, not a division crash. All counts are exact integers;
    each term is (p−q)·ln(p/q) with the final sum rounded by the
    floor(x·1e6+0.5)/1e6 chain (the drift-monitor lesson: ROUND of a
    double is implementation-defined at boundaries).

    Scale shape: ONE (source, bucket) aggregation over the corpus
    (map-side combined, |sources|·B rows out); the corpus distribution
    and totals roll up from that table, join back broadcast, and the
    per-source sum is B-bounded (B ≤ 64 for any length that fits a
    long). The corpus is never rescanned."""
    bucket = F.length(F.bin("n_chars")).cast("int")
    sb = (
        documents.select("source", bucket.alias("b"))
        .groupBy("source", "b")
        .agg(F.count("*").alias("ns"))
    )
    cb = sb.groupBy("b").agg(F.sum("ns").alias("nc"))
    src_tot = sb.groupBy("source").agg(F.sum("ns").alias("ts"))
    tot = cb.agg(
        F.sum("nc").alias("t"), F.count("*").cast("int").alias("nb")
    )
    grid = (
        src_tot.crossJoin(F.broadcast(cb))
        .join(sb, ["source", "b"], "left")
        .na.fill({"ns": 0})
        .crossJoin(F.broadcast(tot))
    )
    p = (F.col("ns") + 1) / (F.col("ts") + F.col("nb"))
    q = (F.col("nc") + 1) / (F.col("t") + F.col("nb"))
    term = (p - q) * F.log(p / q)
    # SUM(double) is partition-order-dependent — unlike the drift /
    # covariance chains (whose pre-round operands are exact), the
    # float addition order here could flip the last digit across
    # partitionings or vs the oracle near a .5e-6 boundary. Fold the
    # per-bucket terms in canonical bucket order instead (B ≤ 64
    # structs per source — array-fold-sized), so the sum is the same
    # IEEE sequence on every engine and partitioning.
    ordered_sum = F.aggregate(
        F.sort_array(F.collect_list(F.struct(F.col("b").alias("b"), term.alias("t")))),
        F.lit(0.0),
        lambda acc, x: acc + x["t"],
    )
    return (
        grid.groupBy("source")
        .agg(
            F.max("ts").alias("n_docs"),
            F.count("*").cast("int").alias("n_buckets"),
            (F.floor(ordered_sum * 1e6 + F.lit(0.5)).cast("double") / 1e6).alias(
                "psi"
            ),
        )
        .select(
            "source",
            "n_docs",
            "n_buckets",
            "psi",
            F.when(F.col("psi") < 0.1, "stable")
            .when(F.col("psi") < 0.25, "moderate_shift")
            .otherwise("major_shift")
            .alias("band"),
        )
        .orderBy("source")
    )


def doc_token_offsets(
    documents: DataFrame, token_offset: int = 0
) -> DataFrame:
    """(doc_id, n_tokens, start, end): each document's half-open
    global token interval under doc_id-ordered concatenation, with the
    running total starting at ``token_offset`` (nonzero when a
    streaming feed continues the cumsum across micro-batches).

    The prefix sum is computed in two phases so no global-ordering
    window ever sees the full corpus: (1) per-bucket token totals
    (bucket = doc_id // 4096) — one small aggregation; (2) a window
    over the bucket-total table (corpus_size/4096 rows) yields each
    bucket's starting offset; (3) a per-bucket window (partitioned,
    bounded width) finishes the local cumsum. At 100 TB the bucket
    table is ~10^7 rows for 10^10 docs — window-able on one executor;
    beyond that, recurse the same two-phase split on buckets. Shared
    scan for both whole-doc shard layout (``shard_assignments``) and
    boundary-splitting sequence packing (operators/packing.py)."""
    n_tok = (
        F.length("text") - F.length(F.regexp_replace("text", " ", "")) + 1
    ).cast("long").alias("n_tokens")
    t = documents.select("doc_id", n_tok).withColumn(
        "bucket", (F.col("doc_id") / F.lit(4096)).cast("long")
    )
    bucket_tot = t.groupBy("bucket").agg(F.sum("n_tokens").alias("btok"))
    w_b = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
    offsets = bucket_tot.select(
        "bucket",
        (F.coalesce(F.sum("btok").over(w_b), F.lit(0)) + F.lit(int(token_offset))).alias(
            "offset"
        ),
    )
    w_d = Window.partitionBy("bucket").orderBy("doc_id")
    return (
        t.join(F.broadcast(offsets), "bucket")
        .withColumn("end", F.col("offset") + F.sum("n_tokens").over(w_d))
        .select(
            "doc_id",
            "n_tokens",
            (F.col("end") - F.col("n_tokens")).alias("start"),
            "end",
        )
    )


def shard_assignments(
    documents: DataFrame, budget: int = 20_000, token_offset: int = 0
) -> DataFrame:
    """(doc_id, n_tokens, shard_id): each document's contiguous
    token-budget shard — whole docs, cut when the running total
    crosses ``budget``. Prefix-sum topology on ``doc_token_offsets``."""
    return doc_token_offsets(documents, token_offset).select(
        "doc_id",
        "n_tokens",
        # integral div, not floor(double/) — exact past 2^53 tokens
        F.expr(f"start div {int(budget)}").alias("shard_id"),
    )


def token_shard_packing(documents: DataFrame, budget: int = 20_000) -> DataFrame:
    """Contiguous token-budget sharding: walk the corpus in doc_id
    order, accumulate token counts, and cut a new training shard each
    time the running total crosses ``budget`` — the standard layout
    step before writing tokenized shards for a trainer. Prefix-sum
    topology documented on ``shard_assignments``."""
    return (
        shard_assignments(documents, budget)
        .groupBy("shard_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .orderBy("shard_id")
    )


def lang_trigram_profiles(documents: DataFrame, profile_len: int = 64) -> DataFrame:
    """The Cavnar–Trenkle language MODEL: per language, the
    ``profile_len`` most frequent char trigrams of the labeled 80%
    train split (doc_id % 10 < 8), ranked (count desc, gram asc) —
    (plang, g, rl). Integer counts/ranks only, so the learned model is
    engine-exact. One vocabulary-sized shuffle (the train branch
    aggregates straight to (lang, g), so map-side combine collapses
    each partition to ~|langs|·|trigram vocab| rows) + an L-partition
    ranking window. L×profile_len rows out — a broadcast-sized model
    table, trained once per corpus snapshot in production
    (`standing.get("langmodel")`)."""
    from ureplicator_spark.functions import fan_out

    tri = (
        fan_out(documents)
        .filter(F.col("doc_id") % 10 < 8)
        .select("doc_id", "lang", F.lower(F.col("text")).alias("t"))
        .filter(F.length("t") >= 3)
        .select(
            "lang",
            F.explode(
                F.expr("transform(sequence(1, length(t) - 2), i -> substring(t, i, 3))")
            ).alias("g"),
        )
    )
    train = tri.groupBy("lang", "g").agg(F.count("*").alias("c"))
    wl = Window.partitionBy("lang").orderBy(F.col("c").desc(), "g")
    return (
        train.withColumn("rl", F.row_number().over(wl))
        .filter(F.col("rl") <= profile_len)
        .select(F.col("lang").alias("plang"), "g", "rl")
    )


def doc_trigram_profiles(
    documents: DataFrame, doc_profile_len: int = 32
) -> DataFrame:
    """Per-document ranked trigram profile, SHUFFLE-FREE: one row per
    held-out doc (doc_id % 10 >= 8) with ``prof`` = the doc's top
    ``doc_profile_len`` (count desc, gram asc) trigrams as an ordered
    array of (nc, g) structs.

    The r8 shape exploded every test doc to its trigram stream (a
    char-level row blowup), counted at (doc, gram) grain through a
    corpus-wide shuffle, and ranked with a per-doc window (a second
    sort) — at sf0.1 those two exchanges were most of the query. The
    profile is a pure per-document function, so it now computes inside
    one projection (the ``minhash_wide`` discipline): sort the doc's
    trigram array, find run STARTS by index comparison (O(n)
    element_at probes — no quadratic array_append accumulator), turn
    each run into (negated count, gram) so ascending struct order IS
    (count desc, gram asc), sort, slice. Zero exchanges; counts and
    ranks identical to the grouped formulation by construction (run
    length of a sorted array == the gram's occurrence count).

    Built as ONE expression with ``transform(array(x), v -> ...)``
    let-bindings for the sorted array and the run-start positions:
    stacked projections would invite CollapseProject to inline the
    expensive intermediates into every use site (measured: the
    collapsed plan re-evaluated the sort per run lookup — minutes, not
    ms, at sf0.001), whereas a lambda variable is bound to its value
    exactly once per row by construction."""
    from ureplicator_spark.functions import fan_out

    prof = f"""
    slice(
      sort_array(
        element_at(transform(
          array(array_sort(transform(sequence(1, length(t) - 2),
                                     i -> substring(t, i, 3)))),
          sg -> element_at(transform(
            array(filter(sequence(1, size(sg)),
                         p -> p = 1 OR element_at(sg, p) != element_at(sg, p - 1))),
            st -> transform(sequence(1, size(st)), k -> named_struct(
              'nc', -(CAST(coalesce(try_element_at(st, k + 1), size(sg) + 1)
                           AS BIGINT)
                      - element_at(st, k)),
              'g', element_at(sg, element_at(st, k))))
          ), 1)
        ), 1)
      ),
    1, {doc_profile_len}) AS prof
    """
    return (
        fan_out(documents)
        .filter(F.col("doc_id") % 10 >= 8)
        .select("doc_id", "lang", F.lower(F.col("text")).alias("t"))
        .filter(F.length("t") >= 3)
        .selectExpr("doc_id", "lang", prof)
    )


def classify_with_profiles(
    docprof: DataFrame,
    model: DataFrame | list,
    profile_len: int = 64,
) -> DataFrame:
    """Confusion matrix from per-doc profiles + a trained language
    model (a DataFrame to collect, or the already-collected
    ``(plang, g, rl)`` rows — the standing-model path).

    The Cavnar–Trenkle distance is ``dist(doc, L) = base(doc) −
    adj(doc, L)`` with ``adj = Σ_matched (profile_len − |rd − rl|)``;
    ``base`` is a per-doc constant, so argmin dist ≡ argmax adj, every
    matched language beats every unmatched one (each matched gram
    credits ≥ 1), and an all-unmatched doc falls to the
    lexicographically first language — which is exactly what the
    (−adj, lang) struct-min over a dense per-language score array
    yields when every adj is 0.

    The model is a FIXED small table (L × profile_len), i.e. a
    classifier artifact, not data — so it enters the plan as
    per-language map LITERALS (gram → rank) and the entire
    classification computes per document inside one projection: an
    ``aggregate`` fold over the profile per language, then a
    struct-min over the L scores. No explode, no join, no doc-keyed
    shuffle — the only exchange is the L²-bounded confusion rollup.
    (The r8 shape paid a broadcast join + three doc-keyed exchanges —
    ~1.8 s of stage constants at sf0.1 for 1 000 test docs; this
    projection form measures sub-second. At 100 TB the difference is
    one full corpus shuffle.)

    docprof is pinned: the per-language folds each reference ``prof``,
    and Catalyst inlines the (expensive) profile expression into every
    use site — materializing one bounded-width row per test doc makes
    it evaluate once, at any corpus scale."""
    from ureplicator_spark.caching import pin

    rows = model if isinstance(model, list) else [
        (r["plang"], r["g"], r["rl"]) for r in model.collect()
    ]
    by_lang: dict[str, list] = {}
    for plang, g, rl in rows:
        by_lang.setdefault(plang, []).append((g, rl))

    docprof = pin(docprof)
    # per-doc profile with ranks, bound once via the array let-trick
    # (see doc_trigram_profiles) so the fold below can't re-inline it
    ranked = "transform(sequence(1, size(prof)), i -> named_struct('rd', i, 'g', element_at(prof, i).g))"
    # One selectExpr STRING for the whole score array: Column-by-Column
    # construction of ~L×profile_len map literals costs one Py4J
    # round-trip per node (measured 0.7 s of DRIVER time per query at
    # L=5) — a SQL string ships the tree in one call and parses
    # JVM-side (the simhash discipline). Grams are arbitrary document
    # text, so they enter as base64 (no quoting/escaping pitfalls);
    # the map literals are foldable and constant-fold to one map each.
    import base64

    def _b64(s: str) -> str:
        return base64.b64encode(s.encode("utf-8")).decode("ascii")

    # The maps live in their own projection layer, NOT inline in the
    # fold lambdas: ConstantFolding does not reach inside lambda
    # bodies, so an inline map literal would be re-built per array
    # element; as projected columns they fold to Literal nodes at plan
    # time and the lambda reads a ready value.
    langs = sorted(by_lang)
    map_cols = []
    for i, plang in enumerate(langs):
        kv = ", ".join(
            f"CAST(unbase64('{_b64(g)}') AS STRING), {int(rl)}"
            for g, rl in by_lang[plang]
        )
        map_cols.append(f"map({kv}) AS m{i}")

    def _lang_score(i: int, plang: str) -> str:
        return (
            "named_struct('na', -aggregate(rp, CAST(0 AS BIGINT), (acc, e) -> "
            f"acc + coalesce({profile_len} - abs(e.rd - "
            f"try_element_at(m{i}, e.g)), 0)), "
            f"'plang', CAST(unbase64('{_b64(plang)}') AS STRING))"
        )

    score_arr = ", ".join(_lang_score(i, plang) for i, plang in enumerate(langs))
    best = docprof.selectExpr(
        "doc_id", "lang", f"{ranked} AS rp", *map_cols
    ).selectExpr("lang", f"array_min(array({score_arr})).plang AS lang_pred")
    return (
        best.groupBy("lang", "lang_pred")
        .agg(F.count("*").alias("n_docs"))
        .orderBy("lang", "lang_pred")
    )


def ngram_profile_confusion(
    documents: DataFrame,
    profile_len: int = 64,
    doc_profile_len: int = 32,
) -> DataFrame:
    """Trainable language classifier, evaluated as a confusion matrix:
    Cavnar–Trenkle ranked n-gram profiles (N-Gram-Based Text
    Categorization, SDAIR'94) learned IN-ENGINE from the labeled 80%
    train split (doc_id % 10 < 8) and applied to the held-out 20%.

    Per language: the ``profile_len`` most frequent char trigrams of
    the train docs, ranked (count desc, gram asc). Per test doc: its
    own top ``doc_profile_len`` trigrams. Distance = out-of-place
    rank sum with an out-of-profile penalty of ``profile_len``;
    prediction = argmin (ties -> lang asc). Everything is integer
    arithmetic — counts, ranks, |rank differences| — so any engine
    reproduces the exact prediction (no float log-likelihoods).

    Scale shape (r9): the language model is L x profile_len rows —
    broadcast (`lang_trigram_profiles`, one vocabulary-sized shuffle).
    Per-doc test profiles are SHUFFLE-FREE (`doc_trigram_profiles`:
    the ranked profile is a pure per-document function, computed as a
    sorted-array run-length fold inside one projection — the r8 shape
    paid a corpus-wide (doc, gram) shuffle plus a per-doc ranking
    window for the same rows). The distance pass joins profile rows
    (N x doc_profile_len) against the broadcast model and aggregates
    per (doc, lang) — the only doc-keyed exchange; the missing-gram
    penalty folds into ``base - matched_credit`` so unmatched grams
    never materialize rows."""
    model = lang_trigram_profiles(documents, profile_len)
    docprof = doc_trigram_profiles(documents, doc_profile_len)
    return classify_with_profiles(docprof, model, profile_len)


def collocation_pmi(
    documents: DataFrame, min_count: int = 5, top_n: int = 20
) -> DataFrame:
    """Collocation mining: top-N adjacent token pairs by pointwise
    mutual information, ``pmi = ln(c_ab * N1^2 / (N2 * c_a * c_b))``
    (Church & Hanks, CL'90) with a minimum-support cut — the
    association table behind phrase detection (word2vec-style
    phrase merging) and boilerplate signature discovery.

    Engine parity: counts are exact integers; the single float step
    is one deterministic IEEE multiply-divide chain and one ln,
    rounded to 6 dp. Scale shape: one shuffle each for unigram and
    bigram counts (map-side partial aggs); the PMI join runs on the
    AGGREGATED pair table (vocab-bounded) with the two corpus-total
    scalars broadcast; the final ranking window sees only pairs past
    the support cut, never the corpus."""
    toks = documents.select(F.split("text", " ").alias("toks"))
    uni = (
        toks.select(F.explode("toks").alias("t"))
        .groupBy("t")
        .agg(F.count("*").alias("cu"))
    )
    n1df = uni.agg(F.sum("cu").alias("n1"))
    pairs = (
        toks.filter(F.size("toks") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(toks) - 1),"
                    " i -> struct(toks[i-1] AS a, toks[i] AS b))"
                )
            ).alias("p")
        )
        .select("p.a", "p.b")
    )
    bc = pairs.groupBy("a", "b").agg(F.count("*").alias("cab"))
    n2df = bc.agg(F.sum("cab").alias("n2"))
    ua = uni.select(F.col("t").alias("a"), F.col("cu").alias("ca"))
    ub = uni.select(F.col("t").alias("b"), F.col("cu").alias("cb"))
    # numerator/denominator each cast to double FIRST and kept
    # left-associated so both engines run the identical IEEE chain
    pmi = round6s(
        F.log(
            (F.col("cab").cast("double") * F.col("n1") * F.col("n1"))
            / (F.col("n2").cast("double") * F.col("ca") * F.col("cb"))
        )
    )
    scored = (
        bc.filter(F.col("cab") >= min_count)
        .join(ua, "a")
        .join(ub, "b")
        .crossJoin(F.broadcast(n1df))
        .crossJoin(F.broadcast(n2df))
        .select("a", "b", "cab", pmi.alias("pmi"))
    )
    w = Window.orderBy(F.col("pmi").desc(), "a", "b")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_n)
        .select(
            "a", "b", F.col("cab").cast("long").alias("n_occur"), "pmi", "rank"
        )
        .orderBy("rank")
    )


def weighted_sample_docs(
    documents: DataFrame, per_group: int = 5, weight_col: str = "n_chars"
) -> DataFrame:
    """Weighted sampling without replacement, per language: the
    Efraimidis-Spirakis A-ES scheme (IPL 2006) — each doc draws a key
    ``ln(u) / w`` from a deterministic pseudo-uniform ``u`` and the
    top ``per_group`` keys win, giving inclusion probability
    proportional to weight. The sampler behind weight-aware corpus
    mixing (sample big docs more often than boilerplate stubs)
    expressed as one ranking — no rejection loop, no driver RNG.

    Determinism/parity: ``u = (md5_long(doc_id) + 1) / 2^60`` is the
    same salted-hash uniform any engine reproduces; the key is rounded
    to 9 dp with doc_id tie-break, so rank order is engine-exact.
    (A-ES maximizes ``u^(1/w)``; taking ``ln(u)/w`` — negative,
    maximized — is the standard log-domain equivalent that avoids
    ``pow`` precision traps.)

    Scale shape: map-side key computation, then the established
    two-phase top-N per group (rank window over per-group candidates
    only after a size cut would be overkill here: the window
    partitions by lang over doc-cardinality rows with bounded width
    per group after ranking — same discipline as ngram_top)."""
    from ureplicator_spark.functions import md5_long

    u = (md5_long(F.col("doc_id").cast("string"), salt="wsample") + 1) / F.lit(
        float(1 << 60)
    )
    key = round6s(F.log(u) / F.col(weight_col), 9)
    scored = documents.filter(F.col(weight_col) > 0).select(
        "doc_id", "lang", F.col(weight_col).alias("weight"), key.alias("es_key")
    )
    w = Window.partitionBy("lang").orderBy(F.col("es_key").desc(), "doc_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= per_group)
        .select("lang", "rank", "doc_id", "weight", "es_key")
        .orderBy("lang", "rank")
    )


def bm25_scores(
    documents: DataFrame,
    query_terms: tuple[str, ...],
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25 relevance of every document to a bag of query terms
    (Robertson-Walker TREC-3 '94; the Lucene-default non-negative idf
    ``ln(1 + (N - df + 0.5) / (df + 0.5))``) — the lexical ranking arm
    a retrieval/curation pipeline runs next to the ANN arm.

    Scale shape: the term filter pushes an ``isin`` predicate into the
    token scan, so only query-term postings survive the first shuffle
    (|terms| · df rows, not the corpus token count); df and the
    (avgdl, N) pair are vocabulary-/scalar-sized broadcasts; doc
    length is one count aggregate reused from the same token view.
    Nothing corpus-sized crosses the wire except the per-doc partial
    tf counts, which map-side combine bounds by |terms| per task.

    Determinism/parity: per-term contributions are exact-order-free
    (each is one double expression over integer tf/df/dl), and only
    the final per-doc sum is rounded (6 dp) for the rank gate."""
    tok = tokens(documents).select("doc_id", "token")
    dl = tok.groupBy("doc_id").agg(F.count("*").alias("dl"))
    corpus = dl.agg(
        F.avg("dl").alias("avgdl"), F.count("*").alias("n_docs")
    )
    hits = tok.filter(F.col("token").isin(*query_terms))
    tf = hits.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    # MEASURED-AND-REJECTED (r13): dfreq = tf.groupBy(token).count()
    # (sharing tf's explode instead of re-aggregating `hits`) measured
    # a wash-to-worse (old min 1.184/med 1.726 s vs new 1.511/2.106 s
    # interleaved at sf0.1, executed exchanges 8 both ways) — column
    # pruning re-projects the tf subtree per consumer, so nothing is
    # actually shared, and the chained rollup only adds depth.
    dfreq = hits.groupBy("token").agg(F.countDistinct("doc_id").alias("df"))
    return (
        tf.join(F.broadcast(dfreq), "token")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(corpus))
        .groupBy("doc_id")
        .agg(
            # r11 exactness v2: per-term contributions quantize to
            # integer micro-units, summed exactly (order-free,
            # plain-SUM plan — see dsir_weights)
            (F.sum(micro6(bm25_contribution(k1, b))).cast("double") / 1e6)
            .alias("bm25")
        )
    )


def bm25_contribution(k1: float, b: float) -> Column:
    """Per-(doc, term) BM25 contribution ``idf * tf_norm`` over columns
    (tf, df, dl, avgdl, n_docs). One shared expression for the
    query-terms arm and the more-like-this arm (hybrid retrieval), so
    the scoring formula cannot drift between call sites. Non-negative
    Lucene idf; literal subexpressions are pre-folded Python floats so
    the oracle SQL can mirror them digit-for-digit."""
    idf = F.log(
        1.0 + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    tf_norm = (F.col("tf") * (k1 + 1.0)) / (
        F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl"))
    )
    return idf * tf_norm


def bm25_search(
    documents: DataFrame,
    query_terms: tuple[str, ...] = ("dup", "spark", "merge"),
    top_k: int = 10,
) -> DataFrame:
    """Top-k BM25 retrieval: rank :func:`bm25_scores` output, ties to
    the smaller doc_id, and pull back the snippet/metadata only for
    the k winners (the ranked-id list is tiny, so the documents table
    joins it broadcast and never shuffles).

    The global top-k is ``orderBy().limit()`` — Spark plans it as
    TakeOrderedAndProject (per-partition partial top-k, k-row merge),
    so no corpus-sized single-partition window ever exists; the rank
    column is then a window over exactly k rows."""
    scored = bm25_scores(documents, query_terms)
    top = scored.orderBy(F.col("bm25").desc(), "doc_id").limit(top_k)
    w = Window.orderBy(F.col("bm25").desc(), "doc_id")
    top = top.withColumn("rank", F.row_number().over(w))
    return (
        documents.join(F.broadcast(top), "doc_id")
        .select(
            "rank",
            "doc_id",
            "bm25",
            "lang",
            "source",
            F.substring("text", 1, 60).alias("snippet"),
        )
        .orderBy("rank")
    )


def bigram_lm_score(documents: DataFrame, lam: float = 0.75) -> DataFrame:
    """Per-document cross-entropy under a corpus-trained interpolated
    bigram LM — the quality-ranking upgrade of :func:`unigram_lm_score`
    (repetitive boilerplate scores even lower once context is
    conditioned on): ``p(b|a) = lam * c_ab/c_a + (1-lam) * c_b/N``
    (Jelinek-Mercer interpolation; the unigram term makes every
    observed bigram scoreable without discounting machinery).

    Bigram extraction is the shuffle-free array transform
    :func:`collocation_pmi` uses (no per-doc window). Model tables:
    the aggregated bigram table is observed-pairs-sized and the
    unigram table vocabulary-sized — both corpus-growing, so neither
    carries a broadcast hint: AQE broadcasts them at runtime while
    they fit the threshold and falls back to a shuffle join on (a, b)
    when they outgrow it. Scoring is one join pass + a per-doc
    aggregation.

    Parity: ``lam`` defaults to 0.75 so both ``lam`` and ``1 - lam``
    are exact binary doubles any engine reproduces from the literal;
    the per-doc average is rounded to 6 dp."""
    one_m = 1.0 - lam
    toks = documents.select("doc_id", F.split("text", " ").alias("toks"))
    pairs = (
        toks.filter(F.size("toks") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(toks) - 1),"
                    " i -> struct(toks[i-1] AS a, toks[i] AS b))"
                )
            ).alias("p"),
        )
        .select("doc_id", "p.a", "p.b")
    )
    bc = pairs.groupBy("a", "b").agg(F.count("*").alias("cab"))
    uni = (
        toks.select(F.explode("toks").alias("t"))
        .groupBy("t")
        .agg(F.count("*").alias("cu"))
    )
    n1df = uni.agg(F.sum("cu").alias("n1"))
    ua = uni.select(F.col("t").alias("a"), F.col("cu").alias("ca"))
    ub = uni.select(F.col("t").alias("b"), F.col("cu").alias("cb"))
    p = lam * (F.col("cab") / F.col("ca")) + one_m * (F.col("cb") / F.col("n1"))
    # No broadcast hints on the model tables: the bigram-pair table is
    # observed-pairs-sized and the unigram table vocabulary-sized —
    # both GROW with the corpus, so a forced broadcast would OOM long
    # before 100 TB (r7 advisor). AQE picks broadcast at runtime while
    # they fit and falls back to a shuffle join when they don't —
    # which is the documented fallback, now actually in the plan. Only
    # the 1-row corpus total keeps its hint.
    return (
        pairs.join(bc, ["a", "b"])
        .join(ua, "a")
        .join(ub, "b")
        .crossJoin(F.broadcast(n1df))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            # r11 exactness v2: each -ln p term quantizes to integer
            # micro-units; the per-doc sum is exact integer arithmetic
            # — order-free, plain-SUM plan (see dsir_weights)
            round6f(
                F.sum(micro6(-F.log(p))).cast("double")
                / (F.count("*") * 1e6)
            ).alias("cross_entropy"),
        )
        .orderBy("doc_id")
    )


def nb_lang_confusion(documents: DataFrame) -> DataFrame:
    """Second trainable classifier family next to the rank-based
    Cavnar-Trenkle (:func:`ngram_profile_confusion`): multinomial
    Naive Bayes over word tokens with add-one smoothing, trained
    IN-ENGINE on the labeled 80% split (doc_id % 10 < 8), evaluated
    as a confusion matrix on the held-out 20%.

    Score(d, l) = ln(n_l / n) + sum_t tf(d,t) * ln((c(l,t) + 1) /
    (C(l) + V)); prediction = argmax, ties to the smaller lang.

    Scale shape: the model is the (lang, token) count table —
    vocabulary x L rows, broadcast (with the standard frequency cut at
    100 TB); priors and per-lang totals are L-row broadcasts. Scoring
    crosses each test doc's tf rows with the L-row language list (the
    same fan-out the CT distance pass pays) and aggregates per
    (doc, lang) — one doc-keyed shuffle over the 20% split only; the
    80/20 split predicates sit below the aggregations, so the train
    and test branches scan disjoint slices.

    Parity: the only floats are the per-token ln terms and the prior;
    the (doc, lang) log-likelihood is rounded to 6 dp before the
    argmax window (ties -> lang asc), so both engines rank
    identically."""
    tokl = documents.select(
        "doc_id", "lang", F.explode(F.split("text", " ")).alias("token")
    )
    tr = tokl.filter(F.col("doc_id") % 10 < 8)
    te = (
        tokl.filter(F.col("doc_id") % 10 >= 8)
        .groupBy("doc_id", "lang", "token")
        .agg(F.count("*").alias("tf"))
    )
    ctok = tr.groupBy(F.col("lang").alias("plang"), "token").agg(
        F.count("*").alias("c")
    )
    cl = ctok.groupBy("plang").agg(F.sum("c").alias("ctot"))
    # r13 §2.4: v and pri used to each re-explode and re-aggregate the
    # TRAIN corpus (two extra corpus-sized passes + exchanges). The
    # distinct train vocabulary is exactly ctok's distinct token set
    # (model-sized, L·V rows), and the per-lang distinct train doc
    # count is doc-level state — every non-NULL text yields ≥1 token
    # row (split('', ' ') -> [''], in Spark and DuckDB alike), and a
    # NULL text yields none, so filtering documents on text IS NOT
    # NULL reproduces the token-derived doc set without the explode.
    v = ctok.agg(F.countDistinct("token").alias("v"))
    pri = (
        documents.filter((F.col("doc_id") % 10 < 8) & F.col("text").isNotNull())
        .groupBy(F.col("lang").alias("plang"))
        .agg(F.countDistinct("doc_id").alias("nl"))
    )
    ntr = pri.agg(F.sum("nl").alias("n"))

    # r11 exactness v2: ln of the smoothed token probability
    # quantizes to integer micro-units per (plang, token) — the MODEL
    # side, L×V rows — so the per-(doc, plang) log-likelihood is an
    # exact integer Σ tf·lnp6: order-free, plain-SUM plan (see
    # dsir_weights for the fold-vs-micro history)
    lnp6 = micro6(
        F.log((F.coalesce("c", F.lit(0)) + 1.0) / (F.col("ctot") + F.col("v")))
    )
    scored = (
        te.crossJoin(F.broadcast(pri.select("plang")))
        .join(F.broadcast(ctok), ["plang", "token"], "left")
        .join(F.broadcast(cl), "plang")
        .crossJoin(F.broadcast(v))
        .groupBy("doc_id", "lang", "plang")
        .agg(F.sum(F.col("tf") * lnp6).alias("ll_tok6"))
    )
    ll = (
        scored.join(F.broadcast(pri), "plang")
        .crossJoin(F.broadcast(ntr))
        .select(
            "doc_id",
            "lang",
            "plang",
            round6s(
                F.col("ll_tok6").cast("double") / 1e6
                + F.log(F.col("nl").cast("double") / F.col("n"))
            ).alias("ll"),
        )
    )
    wd = Window.partitionBy("doc_id").orderBy(F.col("ll").desc(), "plang")
    pred = (
        ll.withColumn("rn", F.row_number().over(wd))
        .filter(F.col("rn") == 1)
        .select("doc_id", "lang", F.col("plang").alias("lang_pred"))
    )
    return (
        pred.groupBy("lang", "lang_pred")
        .agg(F.count("*").alias("n_docs"))
        .orderBy("lang", "lang_pred")
    )


def min_doc_phrase(
    documents: DataFrame, start: int = 1, length: int = 3
) -> DataFrame:
    """The deterministic probe phrase used by the phrase-search gates:
    tokens [start, start+length) of the LOWEST doc_id holding at least
    start+length+1 tokens — (offset, term) rows, offset 0-based. Pure
    plan (no collect); the anchored-subquery convention the CMS probe
    set also uses, so any engine derives the same phrase."""
    eligible = documents.filter(
        F.size(F.split("text", " ")) >= start + length + 1
    )
    mindoc = eligible.agg(F.min("doc_id").alias("doc_id"))
    # final groupBy(offset): one token per offset by construction
    # (a single doc's positions are unique), so MIN is the identity —
    # but it makes the reduction VISIBLE to the plan: the phrase's
    # size is bounded by the offset key space {0..length-1}, which is
    # what lets phrase_search broadcast it under the 100 TB broadcast
    # guard (lineage through tokens(documents) alone proves nothing).
    return (
        tokens(documents)
        .join(F.broadcast(mindoc), "doc_id")
        .filter(F.col("pos").between(start, start + length - 1))
        .select((F.col("pos") - start).alias("offset"), "token")
        .groupBy("offset")
        .agg(F.min("token").alias("term"))
    )


def phrase_search(documents: DataFrame, phrase: DataFrame) -> DataFrame:
    """EXACT-PHRASE retrieval by positional posting intersection —
    the lexical capability BM25's bag-of-words scoring cannot express
    (docs containing every query term in any order are not docs
    containing the phrase). ``phrase`` is (offset, term), offset
    0-based consecutive. Output: (doc_id, n_occurrences, first_pos)
    for every document containing the phrase.

    Algebra: each positional posting (doc_id, pos, token) matching a
    phrase term votes for candidate start position pos - offset; a
    start with votes from ALL offsets is an occurrence (the classic
    positional-index phrase intersection, done as one equi-join + one
    aggregate instead of k zipper merges).

    Scale shape: the broadcast phrase join prunes the token stream to
    the phrase terms' postings BEFORE any exchange — work is bounded
    by the sum of the phrase terms' posting lengths, never a LIKE scan
    over corpus strings. One shuffle on (doc_id, start) with map-side
    partial counts, one on doc_id. The standing-index twin
    (sources/lexical_index.phrase_index_search) additionally prunes
    the postings SCAN to the terms' hash buckets."""
    ph = F.broadcast(phrase)
    nterms = F.broadcast(phrase.agg(F.count("*").alias("k")))
    hits = (
        tokens(documents)
        .join(ph, F.col("token") == F.col("term"))
        .select("doc_id", (F.col("pos") - F.col("offset")).alias("start"), "offset")
        .groupBy("doc_id", "start")
        .agg(F.count_distinct("offset").alias("n_off"))
        .crossJoin(nterms)
        .filter((F.col("n_off") == F.col("k")) & (F.col("start") >= 0))
    )
    return (
        hits.groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_occurrences"),
            F.min("start").cast("long").alias("first_pos"),
        )
        .orderBy("doc_id")
    )
