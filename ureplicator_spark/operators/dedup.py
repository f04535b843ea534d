"""Deduplication operators for training-data pipelines, designed for
100 TB scale.

Four families, all shuffle-disciplined:
  * exact        — hash-groupBy on content digest. ONE shuffle on a
                   64-hex key; at scale this is the cheapest possible
                   dedup (map-side partial agg collapses dups early).
  * minhash-LSH  — shingle → K minhashes → band → bucket-join. The
                   candidate-pair join is on (band, band_hash), never
                   all-pairs; cost is Σ bucket² which LSH keeps tiny.
  * simhash      — 60-bit portable simhash (Manku WWW'07); near-dup
                   pairs via 15-bit banded buckets at Hamming ≤ 3.
  * n-gram Jaccard — exact verification on candidate pairs that share
                   a shingle (inverted-index self-join, blocked).

Hash portability: all hashing is md5-derived (``md5_long``) so the
DuckDB oracle reproduces signatures bit-for-bit. In production you'd
swap in xxhash64 for speed; the topology is unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ureplicator_spark.functions import round6f

from ureplicator_spark.caching import adopt_checkpoint, pin, release_checkpoint


N_MINHASH = 8
N_BANDS = 4  # → 2 hashes per band
SHINGLE_WORDS = 3
# 60 bits = the full width md5_long yields portably (15 hex chars) in
# both engines. Manku (WWW'07) uses 64-bit fingerprints precisely for
# band-bucket selectivity: with 15-bit bands each band value has 32,768
# possible values, so bucket occupancy shrinks as ~N/32768 per value
# instead of the old 16-bit/4-bit scheme whose 16-value bands held ~N/16
# of the corpus each (an all-pairs join in disguise at 100 TB).
SIMHASH_BITS = 60
SIMHASH_BAND_BITS = 15


def exact_dedup_groups(documents: DataFrame) -> DataFrame:
    """Exact dedup: content-hash groups with keeper = min doc_id."""
    return (
        documents.select("doc_id", F.md5("text").alias("content_hash"))
        .groupBy("content_hash")
        .agg(F.min("doc_id").alias("keeper_doc_id"), F.count("*").alias("n_docs"))
    )


def shingles(documents: DataFrame, k: int = SHINGLE_WORDS) -> DataFrame:
    """(doc_id, shingle) distinct word-k-gram view via array ops —
    stays inside codegen; the explode is the only row expansion.

    The token array is materialized in its own projection BEFORE the
    lambda so the split regex runs once per row, not once per shingle
    (a 5× difference even at test scale).

    Docs with fewer than k tokens produce no shingles and are filtered
    out BEFORE gram construction: ``sequence(1, size-k+1)`` would
    otherwise build a descending sequence and ``slice`` would throw
    INVALID_PARAMETER_VALUE.START, aborting the whole job on any real
    corpus containing a short/empty document. (DuckDB's ``range``
    yields empty for the same case, so the oracle agrees.)

    Dedup is ``array_distinct`` BEFORE the explode, not ``.distinct()``
    after it: the distinct keys are (doc_id, shingle), i.e. purely
    per-document, so a map-side array dedup is semantically identical
    to the corpus-wide distinct shuffle it replaces — and this view
    feeds every shingle consumer (Jaccard, containment, prefix join,
    boilerplate), so the removed exchange is removed from ALL of them
    (r7: measured -30-40% on the shingle-dominated queries at sf0.1).
    """
    from ureplicator_spark.functions import fan_out, word_kgrams

    toked = (
        fan_out(documents)
        .select("doc_id", F.split("text", " ").alias("toks"))
        .filter(F.size("toks") >= k)
    )
    return toked.select(
        "doc_id",
        F.explode(F.array_distinct(word_kgrams("toks", k))).alias("shingle"),
    )


def minhash_wide(documents: DataFrame, n_hashes: int = N_MINHASH) -> DataFrame:
    """(doc_id, m0..m{K-1}): all K minhashes, SHUFFLE-FREE.

    MIN over a multiset equals MIN over its set, so the distinct-
    shingle view (a full shuffle) is unnecessary here: fold the
    per-doc k-gram ARRAY with ``aggregate``+``zip_with(least)`` into
    the K running minima — one map-only pass, one output row per doc,
    zero exchanges (the naive explode→distinct→groupBy costs two
    corpus-wide shuffles). Salted hashes match the oracle's
    md5(seed || ':' || shingle) exactly; docs shorter than the gram
    width are filtered out first (word_kgrams contract), matching the
    shingle view's behavior."""
    max_long = (1 << 63) - 1
    salted = ", ".join(
        f"CAST(conv(substring(md5('{s}:' || g), 1, 15), 16, 10) AS BIGINT)"
        for s in range(n_hashes)
    )
    kgrams = (
        f"transform(sequence(1, size(toks) - {SHINGLE_WORDS - 1}),"
        f" i -> array_join(slice(toks, i, {SHINGLE_WORDS}), ' '))"
    )
    fold = (
        f"aggregate({kgrams}, array_repeat(CAST({max_long} AS BIGINT), {n_hashes}), "
        f"(acc, g) -> zip_with(acc, array({salted}), (a, b) -> least(a, b)))"
    )
    from ureplicator_spark.functions import fan_out

    return (
        fan_out(documents)
        .selectExpr("doc_id", "split(text, ' ') AS toks")
        .filter(F.size("toks") >= SHINGLE_WORDS)
        .selectExpr("doc_id", f"{fold} AS ms")
        .selectExpr(
            "doc_id", *[f"ms[{s}] AS m{s}" for s in range(n_hashes)]
        )
    )


def minhash_signatures(documents: DataFrame, n_hashes: int = N_MINHASH) -> DataFrame:
    """(doc_id, seed, minhash) long view — unpivoted from the wide
    one-pass aggregation (stack is a zero-shuffle projection)."""
    wide = minhash_wide(documents, n_hashes)
    stack_args = ", ".join(f"{s}, m{s}" for s in range(n_hashes))
    return wide.selectExpr(
        "doc_id", f"stack({n_hashes}, {stack_args}) as (seed, minhash)"
    )


def banded_signatures(
    wide: DataFrame, n_bands: int = N_BANDS, n_hashes: int = N_MINHASH
) -> DataFrame:
    """(doc_id, band, band_hash) banding rows from a wide signature
    table — the md5-of-concatenated-minhashes bucketing shared by the
    in-query LSH pass, the persisted index builder
    (sources/minhash_index.py) and the streaming maintainer. A zero-
    shuffle projection: band ids explode as LITERALS and the band hash
    computes AFTER the explode behind a CASE — Generate re-evaluates
    its generator child per output row, so exploding an array of
    computed md5 structs would hash every signature n_bands× over."""
    rows_per_band = n_hashes // n_bands

    def _band_hash(b: int):
        return F.md5(
            F.concat_ws(
                ",",
                *[
                    F.col(f"m{b * rows_per_band + j}").cast("string")
                    for j in range(rows_per_band)
                ],
            )
        )

    bh = F.when(F.col("band") == 0, _band_hash(0))
    for b in range(1, n_bands):
        bh = bh.when(F.col("band") == b, _band_hash(b))
    return wide.select(
        "doc_id",
        *[F.col(f"m{s}") for s in range(n_hashes)],
        F.explode(F.array(*[F.lit(b) for b in range(n_bands)])).alias("band"),
    ).select("doc_id", "band", bh.alias("band_hash"))


def lsh_candidate_pairs(
    documents: DataFrame, n_bands: int = N_BANDS, n_hashes: int = N_MINHASH
) -> DataFrame:
    """Band the signatures and self-join buckets → candidate pairs with
    estimated Jaccard = matching-minhash fraction.

    The join key is (band, band_hash) so only same-bucket docs meet —
    the LSH property that makes near-dedup feasible at 100 TB. The
    Jaccard estimate compares wide signature rows directly (no per-seed
    join): one broadcast-or-shuffle join per pair side, K column
    compares per pair.
    """
    # The signature table feeds three branches (banding + both pair
    # sides); Catalyst plans no ReusedExchange across them, so without
    # this the shingling/K-hash pipeline — the expensive part — runs
    # three times per query. persist() shares one InMemoryRelation
    # across the branches (computed on first touch) — the "build the
    # signature index once" step every real LSH deployment has. NOT
    # localCheckpoint: under AQE its toRdd conversion materializes the
    # shuffle AT PLAN-CONSTRUCTION time (a 2.5 s job before the query
    # is even submitted), whereas cache stays lazy and dedups by
    # canonicalized plan across repeated calls.
    wide = pin(minhash_wide(documents, n_hashes))
    return pairs_from_signatures(
        wide, banded_signatures(wide, n_bands, n_hashes), n_hashes
    )


def pairs_from_signatures(
    wide: DataFrame, banded: DataFrame, n_hashes: int = N_MINHASH
) -> DataFrame:
    """Candidate pairs + estimated Jaccard from ALREADY-BUILT signature
    tables — the probe half of the LSH pass, split out so the standing
    persisted index (sources/minhash_index.py) serves the same pair set
    without re-shingling the corpus: a registry/bench invocation pays
    only the band self-join + K column compares (O(bucket-local pairs)),
    while the shingle→K-hash build is the one-off amortized index
    build."""
    a = banded.alias("a")
    b = banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    wa = wide.select(F.col("doc_id").alias("doc_a"), *[F.col(f"m{s}").alias(f"a{s}") for s in range(n_hashes)])
    wb = wide.select(F.col("doc_id").alias("doc_b"), *[F.col(f"m{s}").alias(f"b{s}") for s in range(n_hashes)])
    matches = sum(
        F.when(F.col(f"a{s}") == F.col(f"b{s}"), 1).otherwise(0) for s in range(n_hashes)
    )
    return (
        cand.join(wa, "doc_a")
        .join(wb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(matches / F.lit(float(n_hashes)), 6).alias("est_jaccard"),
        )
    )


_SIMHASH_PACK = 3  # counters per aggregate column
_SIMHASH_FIELD = 21  # bits per packed counter → max 2^21-1 tokens/doc


def simhash(documents: DataFrame, bits: int = SIMHASH_BITS) -> DataFrame:
    """Portable 60-bit simhash over tokens: bit_j = 1 iff more tokens
    set hash bit j than clear it. All bitwise ops are integer-exact and
    the value fits a BIGINT on both engines (2^60 - 1 < 2^63).

    SHUFFLE-FREE shape: the whole fingerprint is computed per document
    with higher-order array functions — hash the token array with
    ``transform``, fold it with ``aggregate`` into 20 SWAR-packed
    bit-counters (3 one-bit counters per long in disjoint 21-bit
    fields; exact while a doc has < 2^21 tokens — chunk longer docs
    upstream), then rebuild the fingerprint with a flat 60-child
    concat into conv(·, 2, 10). One map-only pass, one output row per
    doc: no token explode (≈30× row blowup) and NO exchange at all,
    vs the naive explode→groupBy's full-corpus shuffle — at 100 TB
    the corpus never leaves its input splits. Measured 0.82→0.30 s at
    sf0.1. The sign test 2·ones_j > n matches the oracle's
    SUM(bit*2-1) > 0 bit-for-bit.

    Built as SQL strings: Column-by-Column construction of ~180 bit
    expressions costs one Py4J round-trip per operator; a selectExpr
    string ships the tree in one call and parses JVM-side."""
    from ureplicator_spark.functions import fan_out

    n_cols = -(-bits // _SIMHASH_PACK)
    pack_elems = []
    for g in range(n_cols):
        pieces = []
        for s in range(_SIMHASH_PACK):
            j = g * _SIMHASH_PACK + s
            if j >= bits:
                break
            pieces.append(f"shiftleft(shiftright(h, {j}) & 1, {s * _SIMHASH_FIELD})")
        pack_elems.append(" + ".join(pieces))
    hashes = (
        "transform(split(text, ' '), "
        "t -> CAST(conv(substring(md5(t), 1, 15), 16, 10) AS BIGINT))"
    )
    fold = (
        f"aggregate({hashes}, array_repeat(CAST(0 AS BIGINT), {n_cols}), "
        f"(acc, h) -> zip_with(acc, array({', '.join(pack_elems)}), (a, b) -> a + b))"
    )
    packed = fan_out(documents).selectExpr(
        "doc_id", "size(split(text, ' ')) AS n", f"{fold} AS packs"
    )
    mask = (1 << _SIMHASH_FIELD) - 1
    bit_chars = []
    for j in reversed(range(bits)):  # MSB first for the base-2 string
        g, s = divmod(j, _SIMHASH_PACK)
        bit_chars.append(
            f"IF((shiftright(packs[{g}], {s * _SIMHASH_FIELD}) & {mask}) * 2 > n, '1', '0')"
        )
    return packed.selectExpr(
        "doc_id",
        f"CAST(conv(concat({', '.join(bit_chars)}), 2, 10) AS BIGINT) AS simhash",
    )


def ngram_jaccard_pairs(documents: DataFrame, top_k: int = 20) -> DataFrame:
    """Exact n-gram Jaccard for candidate pairs sharing ≥1 shingle
    (inverted-index self-join), global top-k by similarity.

    At scale: the self-join is on the shingle key (skew-prone for
    stop-shingles — AQE skew handling + a frequency cap mitigate);
    top-k keeps driver output bounded.
    """
    # Four branches read the shingle view (both join sides + both size
    # lookups); persist it once instead of re-shingling per branch
    # (cache, not localCheckpoint — see lsh_candidate_pairs).
    sh = pin(shingles(documents))
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_grams"))
    a = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_grams").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_grams").alias("nb"))
    j = (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            round6f(
                F.col("n_inter") / (F.col("na") + F.col("nb") - F.col("n_inter"))
            ).alias("jaccard"),
        )
    )
    from ureplicator_spark.functions import top_k_ranked

    return top_k_ranked(j, top_k, F.col("jaccard").desc(), F.col("doc_a"), F.col("doc_b"))


def _changed_from_observation(obs, fallback):
    """The `changed` metric from a checkpoint-materialized Observation.

    Polls the non-blocking JVM accessor (getOrEmpty) under a 30 s
    deadline instead of Observation.get's unbounded wait; the eager
    localCheckpoint() has already executed the plan, so the listener
    normally lands the metric before the first poll (measured ~10 ms).
    If it never lands — a Spark-internals change, not a current
    behavior — ``fallback()`` recomputes the count explicitly (the
    pre-r12 shape: one extra scan, never a hang). getOrEmpty throws on
    Spark 4.1.2 while the metric row is still the unset placeholder;
    that is treated as "not yet"."""
    import time

    jo = obs._jo
    deadline = time.monotonic() + 30.0
    while time.monotonic() < deadline:
        try:
            if not jo.getOrEmpty().isEmpty():
                return int(obs.get["changed"])
        except Exception:
            pass
        time.sleep(0.01)
    return int(fallback())



def duplicate_clusters(pairs: DataFrame, max_iter: int = 20) -> DataFrame:
    """Connected components over near-dup pairs → duplicate clusters
    (label propagation to the min doc_id; the step that turns pairwise
    LSH output into keep-one-per-cluster decisions).

    Iterative min-label propagation: each node takes the min label in
    its neighborhood until fixpoint — O(cluster diameter) rounds, and
    near-dup clusters are shallow in practice (LSH-thresholded pair
    sets are cliquish; measured 2 rounds at sf0.1 — a pointer-jumping
    O(log d) variant was measured SLOWER here, its extra label
    self-join costing more than the rounds it saves on shallow
    graphs). Each round is one join + one agg keyed on doc id; the
    driver only checks a scalar convergence count per round. Input:
    (doc_a, doc_b) undirected pairs. Output: (doc_id, cluster_id,
    is_keeper) for every doc that appears in ≥1 pair.
    """
    edges = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .union(pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")))
        # No distinct (r12): min-label propagation is idempotent under
        # duplicate edges — min over a repeated neighbor is the min —
        # so deduping here only cost a full edge-set exchange + agg
        # before the checkpoint; every caller passes canonical
        # (a < b) grouped pairs anyway.
        # checkpoint BEFORE deriving labels: both the per-round joins
        # and the initial label table must read the materialized edge
        # set — deriving labels from the pre-checkpoint lineage made
        # round 0 re-execute the entire upstream (LSH) pipeline a
        # second time (measured: ~2.5 s of the loop at sf0.1)
        .localCheckpoint()
    )
    # Round 1 fused into the label init (r12): labels start as the
    # identity, so the first round's join is algebraically a no-op —
    # min over the neighborhood of identity labels is just min(dst) —
    # and the distinct + join + agg collapse into ONE groupBy:
    # label₁(v) = least(v, min neighbor). Exactly the state the loop
    # formerly reached after its first iteration; the loop then
    # continues from round 2. Saves a corpus-keyed join + a distinct
    # exchange in every duplicate_clusters consumer (4 gated queries).
    # Convergence counts ride the checkpoint jobs as Observations
    # (r12): an EAGER localCheckpoint() runs the plan synchronously,
    # and the QueryExecutionListener that fills observe() aggregates
    # fires before the metric read below — verified on PySpark 4.1.2
    # including the empty-input case — so the separate count() action
    # (a full re-scan of the labels blocks per round at scale)
    # disappears. Control flow only; no query result reads these
    # numbers. Because Observation.get blocks WITHOUT a timeout, the
    # reads go through _changed_from_observation (r12 advisor): a
    # bounded poll of the non-blocking accessor, falling back to the
    # pre-r12 explicit count if a future Spark change ever stopped the
    # checkpoint from publishing the metric — degraded speed, never a
    # hung loop.
    from pyspark.sql import Observation

    obs0 = Observation()
    labels = (
        edges.groupBy(F.col("src").alias("doc_id"))
        .agg(F.least(F.min("dst"), F.col("src")).alias("cluster_id"))
        .observe(
            obs0,
            F.coalesce(
                F.sum((F.col("cluster_id") != F.col("doc_id")).cast("long")),
                F.lit(0),
            ).alias("changed"),
        )
        .localCheckpoint()
    )
    changed0 = _changed_from_observation(
        obs0,
        lambda: labels.filter(F.col("cluster_id") != F.col("doc_id")).count(),
    )
    if changed0 == 0:
        release_checkpoint(edges)
        adopt_checkpoint(labels)
        return labels.withColumn("is_keeper", F.col("doc_id") == F.col("cluster_id"))
    prev = labels
    for _ in range(max_iter - 1):
        neighbor_min = (
            edges.join(labels, edges["dst"] == labels["doc_id"])
            .groupBy("src")
            .agg(F.min("cluster_id").alias("n_min"))
        )
        # localCheckpoint truncates lineage each round — without it the
        # plan doubles per iteration and Catalyst re-analysis alone
        # takes minutes after ~15 rounds (deep-cluster corpora). The
        # checkpoint job doubles as the materialization, and the
        # `changed` count rides it as an Observation.
        obs = Observation()
        updated = (
            labels.join(neighbor_min, labels["doc_id"] == neighbor_min["src"], "left")
            .select(
                "doc_id",
                F.least(
                    F.col("cluster_id"), F.coalesce(F.col("n_min"), F.col("cluster_id"))
                ).alias("new_cluster_id"),
                "cluster_id",
            )
            .observe(
                obs,
                F.coalesce(
                    F.sum(
                        (F.col("new_cluster_id") != F.col("cluster_id")).cast("long")
                    ),
                    F.lit(0),
                ).alias("changed"),
            )
            .localCheckpoint()
        )
        # the new round's checkpoint is materialized, so the previous
        # round's blocks are dead — release them NOW (DataFrame
        # .unpersist is a no-op for checkpoints; unreleased rounds
        # accumulated one pinned RDD each, caching.py)
        if prev is not None:
            release_checkpoint(prev)
        prev = updated
        changed = _changed_from_observation(
            obs,
            lambda u=updated: u.filter(
                F.col("new_cluster_id") != F.col("cluster_id")
            ).count(),
        )
        labels = updated.select("doc_id", F.col("new_cluster_id").alias("cluster_id"))
        if changed == 0:
            break
    if prev is not None:
        # the returned frame reads only the LAST round's checkpoint;
        # the edge set is dead. The final checkpoint is adopted by the
        # caller's pin scope (released on scope exit, like every other
        # shared operator cache).
        release_checkpoint(edges)
        adopt_checkpoint(prev)
    return labels.withColumn("is_keeper", F.col("doc_id") == F.col("cluster_id"))


def simhash_near_pairs(
    documents: DataFrame, max_hamming: int = 3, n_bands: int = 4
) -> DataFrame:
    """SimHash near-duplicate pairs at Hamming distance <= max_hamming
    (Manku et al., WWW'07 — the web-scale near-dup detector): split the
    60-bit simhash into ``n_bands`` 15-bit bands; by pigeonhole any
    pair within distance n_bands-1 shares at least one intact band, so
    the self-join on (band, band_value) sees every qualifying pair
    while only bucket-local rows ever meet. Exact bit_count(xor) then
    filters to the true distance.

    Scale shape: same banded topology as MinHash-LSH — no all-pairs
    join. Each band value ranges over 2^15 = 32,768 buckets, so bucket
    occupancy (and thus the Σ bucket² join cost) keeps shrinking as the
    corpus grows — the Manku selectivity contract, property-tested in
    test_properties.py. The simhash table feeds three branches so it is
    cached once like the minhash signatures."""
    sim = pin(simhash(documents))
    bands = sim.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright("simhash", SIMHASH_BAND_BITS * b)
                        .bitwiseAND(F.lit(2**SIMHASH_BAND_BITS - 1))
                        .alias("band_val"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bs"),
    ).select("doc_id", "simhash", F.col("bs.band").alias("band"), F.col("bs.band_val").alias("band_val"))
    a = bands.alias("a")
    b = bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    sa = sim.select(F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sim_a"))
    sb = sim.select(F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sim_b"))
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
            .cast("int")
            .alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )


def containment_pairs(
    documents: DataFrame, threshold: float = 0.9
) -> DataFrame:
    """Directional containment dedup (the substring-dedup signal of
    Lee et al., "Deduplicating Training Data Makes Language Models
    Better"): doc A is (near-)contained in doc B when ≥ ``threshold``
    of A's distinct shingles also occur in B — ratio 1.0 means every
    A-shingle appears in B, the quote/boilerplate-wrapper case that
    symmetric Jaccard under-scores (a small doc inside a big one has
    low Jaccard but full containment).

    Scale shape — ASYMMETRIC prefix filter (the PPJoin discipline of
    :func:`jaccard_prefix_join`, adapted to directional containment):
    if |A∩B|/|A| >= t then at most floor((1-t)·|A|) of A's shingles
    are missing from B, so among A's rarest floor((1-t)·|A|)+1
    shingles (one global rarest-first order, same as the PPJoin
    prefix) at least one occurs in B — pigeonhole, provably complete
    for ANY ordering. The candidate join therefore runs A-PREFIX ×
    B-full instead of full × full: at t = 0.9 the inner side shrinks
    ~10×, and because prefixes are by construction the rarest
    shingles, stop-shingles (the fat tail that made the full inverted
    index 6.4× its oracle at sf0.1 — r7 verdict) contribute almost no
    candidates: a stop-shingle appears on the B side only, matched
    against the handful of docs rare-enough to hold it in a prefix.
    Candidates that survive a size prune (|B| >= t·|A|, since
    n_shared <= |B|) are verified exactly with
    ``size(array_intersect)`` over per-doc distinct shingle arrays —
    a |cand|-row map after two doc-keyed joins, the same array
    verification the PPJoin sibling measured 5.9 s → sub-second.
    Completeness is property-tested against an oblivious brute force
    (tests/test_properties.py)."""
    return containment_from_docarr(pin(shingle_docarr(documents)), threshold)


def shingle_docarr(documents: DataFrame) -> DataFrame:
    """(doc_id, toks, s): per-doc DISTINCT shingle array in one global
    rarest-first order (global count asc, token asc — the (gc, token)
    struct IS the shared total order) plus the set size — the shared
    input of both prefix-filter joins (containment + PPJoin). ONE
    doc-keyed aggregation yields ordering, size, prefix slice and
    verification array at once (the pre-r7 shape paid three doc-keyed
    shuffles; fusion measured 5.9 s → ~3.5 s warm at sf0.1).

    Persisted by ``sources/minhash_index.build_minhash_index`` as the
    ``shingle_arrays`` section so registry/bench probes skip the
    shingle→count→sort build entirely; the order is a CORPUS-SNAPSHOT
    property (counts move under appends), so the index invalidates the
    section on append and `refresh_shingle_arrays` rebuilds it."""
    tok = pin(shingles(documents).select("doc_id", F.col("shingle").alias("token")))
    gcnt = tok.groupBy("token").agg(F.count("*").alias("gc"))
    return (
        tok.join(gcnt, "token")
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list(F.struct("gc", "token"))).alias("arr"))
        .select(
            "doc_id",
            F.expr("transform(arr, x -> x.token)").alias("toks"),
            F.size("arr").cast("long").alias("s"),
        )
    )


def containment_from_docarr(
    docarr: DataFrame, threshold: float = 0.9
) -> DataFrame:
    """Containment pairs from an ALREADY-BUILT (doc_id, toks, s) array
    table (see :func:`containment_pairs` for the filter math) — the
    probe half, split out so the standing persisted index serves it
    without re-shingling. The B-side token view is the array explode
    (identical to the distinct shingle view by construction), and the
    verification arrays are docarr columns — nothing per-doc is
    recomputed, closing the r8 gap where the whole corpus re-built
    distinct-shingle arrays per invocation."""
    # pin: the array table feeds four branches (prefix, B-side explode,
    # both verification sides); without it a parquet-backed docarr is
    # re-scanned and re-decoded per branch (idempotent when the caller
    # already pinned — persist() at the same level is a no-op)
    docarr = pin(docarr)
    # allowed-missing bound floor((1-t)·s): the +1e-9 guards the IEEE
    # product from rounding DOWN past an exact integer (which would
    # shorten the prefix and break completeness); rounding UP only
    # lengthens the prefix — conservative, never lossy.
    p_len = (
        F.floor(F.col("s") * F.lit(1.0 - threshold) + F.lit(1e-9)) + 1
    ).cast("int")
    prefix = docarr.select(
        F.col("doc_id").alias("inner_doc"),
        F.col("s").alias("n_inner"),
        F.explode(F.slice("toks", F.lit(1), p_len)).alias("token"),
    )
    b_side = docarr.select(
        F.col("doc_id").alias("outer_doc"), F.explode("toks").alias("token")
    )
    # Candidates are NOT deduplicated here: a pair recurs once per
    # shared prefix token (~2% duplication measured at sf0.1 — 136 k
    # raw vs 133 k distinct), so verifying duplicates costs a handful
    # of extra array_intersects while dropping the 133 k-row
    # dedup-shuffle wave cut the operator 5.1 s → 2.3 s warm (the agg
    # barrier also blocked AQE's runtime broadcast of the candidate
    # side into the verification joins). The tiny verified output is
    # deduplicated at the end instead.
    # pin: same verification-join sizing argument as
    # prefix_join_from_docarr — materialized candidate stats let AQE
    # keep the array side out of the exchanges
    cand = pin(
        prefix.join(b_side, "token")
        .filter(F.col("inner_doc") != F.col("outer_doc"))
        .select("inner_doc", "outer_doc", "n_inner")
    )
    va = docarr.select(F.col("doc_id").alias("inner_doc"), F.col("toks").alias("toks_a"))
    vb = docarr.select(
        F.col("doc_id").alias("outer_doc"),
        F.col("toks").alias("toks_b"),
        F.col("s").alias("s_outer"),
    )
    verified = (
        cand.join(va, "inner_doc")
        .join(vb, "outer_doc")
        # n_shared <= |B|: outer docs smaller than t·|A| cannot qualify
        .filter(F.col("s_outer") >= F.col("n_inner") * F.lit(threshold))
        .select(
            "inner_doc",
            "outer_doc",
            "n_inner",
            F.size(F.array_intersect("toks_a", "toks_b"))
            .cast("long")
            .alias("n_shared"),
        )
        .filter(F.col("n_shared") / F.col("n_inner") >= F.lit(threshold))
        # dedup the duplicated candidates on the THRESHOLDED output
        # (n_inner/n_shared are functions of the pair, so grouping by
        # all four == distinct pairs)
        .groupBy("inner_doc", "outer_doc", "n_inner", "n_shared")
        .agg(F.lit(1).alias("_d"))
    )
    return verified.select(
        "inner_doc",
        "outer_doc",
        "n_inner",
        "n_shared",
        round6f(F.col("n_shared") / F.col("n_inner")).alias("containment"),
    ).orderBy("inner_doc", "outer_doc")


def keep_best_per_cluster(documents: DataFrame, clusters: DataFrame) -> DataFrame:
    """Canonical-representative selection: given duplicate clusters
    (from ``duplicate_clusters``), keep the longest document in each
    cluster (ties → smallest doc_id) and report what gets dropped —
    the retention policy that turns cluster assignments into an actual
    curation decision (near-dup families usually keep the longest /
    highest-quality member, not the arbitrary min-id labeler keeper).

    One broadcast-able join from cluster rows (near-dup docs only — a
    small fraction of any real corpus) to doc lengths, then a window
    partitioned by cluster (bounded by cluster size) and one per-
    cluster aggregation. The full corpus is never shuffled."""
    sized = clusters.join(documents.select("doc_id", "n_chars"), "doc_id")
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("n_chars").desc(), F.col("doc_id")
    )
    ranked = sized.withColumn("rn", F.row_number().over(w))
    best = ranked.filter(F.col("rn") == 1).select(
        "cluster_id",
        F.col("doc_id").alias("kept_doc"),
        F.col("n_chars").alias("kept_chars"),
    )
    stats = sized.groupBy("cluster_id").agg(
        F.count("*").alias("n_members"),
        F.sum("n_chars").alias("total_chars"),
    )
    return (
        best.join(stats, "cluster_id")
        .select(
            "cluster_id",
            "kept_doc",
            "kept_chars",
            "n_members",
            (F.col("n_members") - F.lit(1)).alias("n_dropped"),
            (F.col("total_chars") - F.col("kept_chars")).alias("chars_dropped"),
        )
        .orderBy("cluster_id")
    )


def exact_substring_spans(
    documents: DataFrame, window: int = 48, stride: int = 8
) -> DataFrame:
    """Character-level exact-substring duplication signal (the
    ExactSubstr criterion of Lee et al., "Deduplicating Training Data
    Makes Language Models Better", ACL'22 — approximated with strided
    fixed-width windows instead of a suffix array): a document's
    windows that recur verbatim in ANY other document mark spans a
    curation pass would cut.

    Per doc: total windows, windows whose exact 48-char content
    appears in >= 2 distinct docs, and the duplicated share. Shape:
    one map-side pass emits (doc_id, window-hash) — stride bounds the
    blowup at len/stride rows per doc — then one aggregation finds
    cross-doc hashes and one hash join + per-doc aggregation scores
    documents. The window TEXT never shuffles, only its 128-bit hash;
    the suffix-array formulation would need a global sort, which is
    exactly what this avoids at 100 TB."""
    wins = (
        documents.filter(F.length("text") >= window)
        .select(
            "doc_id",
            F.explode(
                F.expr(f"sequence(1, length(text) - {window} + 1, {stride})")
            ).alias("pos"),
            "text",
        )
        .select(
            "doc_id",
            F.md5(F.expr(f"substring(text, pos, {window})")).alias("win_hash"),
        )
    )
    rep = (
        wins.groupBy("win_hash")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("win_hash")
    )
    dup = F.when(F.col("nd_flag").isNotNull(), 1).otherwise(0)
    return (
        wins.join(rep.withColumn("nd_flag", F.lit(1)), "win_hash", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_windows"),
            F.sum(dup).cast("long").alias("n_dup_windows"),
            round6f(F.sum(dup).cast("double") / F.count("*")).alias("dup_share"),
        )
        .orderBy("doc_id")
    )


def lexical_semantic_agreement(
    documents: DataFrame,
    embeddings: DataFrame,
    jaccard_threshold: float = 0.5,
    cosine_threshold: float = 0.5,
) -> DataFrame:
    """Cross-signal dedup audit: every lexical near-dup candidate
    (MinHash-LSH, est Jaccard >= threshold) scored by the SEMANTIC
    similarity of the same two documents' embeddings. Disagreements
    are the interesting rows — lexically-near pairs the embedding
    space separates (template pages, boilerplate twins) or misses —
    and the agreement rate is the calibration number for choosing one
    signal's threshold from the other.

    The pair set is LSH output (a vanishing fraction of the corpus,
    but still SF-growing — so no broadcast hint: AQE picks the join
    strategy from measured sizes); each cosine is one zip_with fold
    per pair — the corpus is never paired all-against-all in either
    modality."""
    pairs = lsh_candidate_pairs(documents).filter(
        F.col("est_jaccard") >= jaccard_threshold
    )
    return semantic_agreement_from_pairs(pairs, embeddings, cosine_threshold)


def semantic_agreement_from_pairs(
    pairs: DataFrame,
    embeddings: DataFrame,
    cosine_threshold: float = 0.5,
) -> DataFrame:
    """The cosine-scoring half of :func:`lexical_semantic_agreement`,
    split out so the standing MinHash index's pair set (already signed,
    already banded) feeds it directly — the probe pays one zip_with
    fold per candidate pair and never re-shingles the corpus."""
    emb = embeddings.select(
        "vec_id",
        F.expr("transform(embedding, v -> CAST(v AS DOUBLE))").alias("e"),
    ).withColumn(
        "n",
        F.sqrt(
            F.aggregate(
                F.expr("transform(e, v -> v * v)"), F.lit(0.0), lambda a, v: a + v
            )
        ),
    )
    ea = emb.select(F.col("vec_id").alias("doc_a"), F.col("e").alias("e_a"), F.col("n").alias("n_a"))
    eb = emb.select(F.col("vec_id").alias("doc_b"), F.col("e").alias("e_b"), F.col("n").alias("n_b"))
    dot = F.aggregate(
        F.zip_with("e_a", "e_b", lambda x, y: x * y), F.lit(0.0), lambda a, v: a + v
    )
    return (
        ea.join(pairs, "doc_a")
        .join(eb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "est_jaccard",
            round6f(F.try_divide(dot, F.col("n_a") * F.col("n_b"))).alias("cosine"),
        )
        .withColumn("agree", F.col("cosine") >= cosine_threshold)
        .orderBy("doc_a", "doc_b")
    )


def jaccard_prefix_join(documents: DataFrame) -> DataFrame:
    """EXACT shingle-set similarity join at Jaccard >= 0.5 via prefix
    filtering (Chaudhuri ICDE'06 / Xiao WWW'08 "PPJoin" family) — the
    guaranteed-complete alternative to MinHash-LSH's probabilistic
    candidates: every qualifying pair is found, yet no all-pairs join
    ever forms.

    The filter: order the vocabulary rarest-first (global count asc,
    token asc); a doc with s distinct tokens keeps only its first
    ``s - ceil(t*s) + 1`` tokens as its PREFIX; two docs with
    J >= t MUST share a prefix token (pigeonhole on the overlap bound
    ``inter >= ceil(t/(1+t) * (sa+sb))``), so the candidate join runs
    on prefix tokens only — and prefixes are by construction the
    RAREST tokens, so join groups stay small. At t = 0.5 everything is
    integer: prefix length ``s//2 + 1``, the candidate length filter
    ``max(sa,sb) <= 2*min(sa,sb)`` (sets differing in size by more
    than 2x cannot reach J >= 1/2), and the final test
    ``3*inter >= sa + sb`` (J = i/(sa+sb-i) >= 1/2  <=>  3i >= sa+sb)
    — no float until the reported jaccard itself.

    Sets are word-3-gram shingles (same universe as
    ``dedup_ngram_jaccard``), NOT unigram tokens: prefix filtering is
    only selective when the element universe is large relative to set
    sizes. Measured on the fixture corpus (vocabulary ~40 tokens),
    unigram prefixes matched thousands of docs each and the candidate
    join degenerated to near-all-pairs (156 s at sf0.1); the
    combinatorial shingle universe restores rare prefixes (sub-second
    candidates, identical math).

    Two further PPJoin refinements, both measured at sf0.1 (r7):

    * POSITIONAL prune (Xiao WWW'08 §3.2): for a shared token at
      per-doc ranks (i, j), every common token sorts strictly before
      or after it in the one global order, so
      ``inter <= min(i-1, j-1) + min(sa-i, sb-j) + 1`` — valid for
      EVERY shared prefix token, hence pairs are pruned when the
      MINIMUM bound over their shared prefix tokens already fails
      ``3*bound >= sa+sb`` (provably no qualifying pair dropped).
      Folds into the same candidate aggregation that deduplicates
      pairs (a MIN agg instead of DISTINCT — no extra shuffle).
    * ARRAY verification: intersections come from
      ``size(array_intersect(toks_a, toks_b))`` over per-doc distinct
      token arrays joined onto the candidate pairs — a |cand|-row
      map after two doc-keyed hash joins, replacing the token-level
      join whose intermediate was |cand| x tokens-per-doc rows
      (~20 M at sf0.1; measured 5.9 s -> sub-second). Token arrays
      are bounded by document length, so the per-row cost is bounded
      at any corpus scale.

    Scale shape: ONE doc-keyed aggregation builds the rarest-first
    ordered token array per doc (sort within group — bounded by doc
    length), from which size, prefix slice, and verification array all
    derive without further shuffles; the candidate join keys on rare
    tokens (bounded groups — the whole point of rarest-first);
    verification shuffles candidate pairs and the doc-keyed array
    table — corpus-keyed shuffles, never a cross join. Verified
    complete against an oblivious brute-force reference in tests."""
    # pin(): the caller's pin_scope releases the shared array table
    # after the last action (see caching.py); shingle_docarr pins the
    # distinct shingle-set view internally (it feeds the global-count
    # aggregate AND the per-doc array build).
    return prefix_join_from_docarr(pin(shingle_docarr(documents)))


def prefix_join_from_docarr(docarr: DataFrame) -> DataFrame:
    """PPJoin from an ALREADY-BUILT rarest-first (doc_id, toks, s)
    array table (see :func:`jaccard_prefix_join` for the filter math) —
    the probe half, split out so the standing persisted index serves it
    without re-shingling. NOTE the completeness proof requires every
    doc's array sorted by ONE shared total order, so mixing arrays from
    different corpus snapshots (whose global counts differ) is invalid
    — the index enforces this by invalidating its shingle_arrays
    section on append."""
    # pin: three consuming branches (prefix + two verification sides);
    # see containment_from_docarr
    docarr = pin(docarr)
    sets = docarr.select("doc_id", "toks")
    prefix = docarr.select(
        "doc_id",
        "s",
        F.posexplode(
            F.expr("slice(toks, 1, CAST(s div 2 + 1 AS INT))")
        ).alias("p", "token"),
    ).select("doc_id", "token", "s", (F.col("p") + 1).alias("ord"))

    pa = prefix.select(
        F.col("doc_id").alias("doc_a"),
        "token",
        F.col("s").alias("sa"),
        F.col("ord").alias("ord_a"),
    )
    pb = prefix.select(
        F.col("doc_id").alias("doc_b"),
        "token",
        F.col("s").alias("sb"),
        F.col("ord").alias("ord_b"),
    )
    # positional overlap bound for THIS shared token (see docstring)
    ub = (
        F.least(F.col("ord_a") - 1, F.col("ord_b") - 1)
        + F.least(F.col("sa") - F.col("ord_a"), F.col("sb") - F.col("ord_b"))
        + 1
    )
    # pin the candidate table (pair ids + sizes — narrow rows): left
    # lazy, AQE cannot size it and plans the two verification joins as
    # full sort-merge exchanges that drag the token ARRAYS through the
    # shuffle (measured 3.9 s end-to-end vs 1.7 s with cand
    # materialized at sf0.1 — the runtime stats make the array side
    # stay put)
    cand = pin(
        pa.join(pb, "token")
        .filter(
            (F.col("doc_a") < F.col("doc_b"))
            # length filter: |sets| within 2x of each other or J < 1/2
            & (F.col("sa") <= 2 * F.col("sb"))
            & (F.col("sb") <= 2 * F.col("sa"))
        )
        .groupBy("doc_a", "doc_b", "sa", "sb")
        .agg(F.min(ub).alias("ub"))  # dedup + tightest positional bound
        .filter(3 * F.col("ub") >= F.col("sa") + F.col("sb"))
        .select("doc_a", "doc_b", "sa", "sb")
    )
    inter = (
        cand.join(
            sets.select(F.col("doc_id").alias("doc_a"), F.col("toks").alias("toks_a")),
            "doc_a",
        )
        .join(
            sets.select(F.col("doc_id").alias("doc_b"), F.col("toks").alias("toks_b")),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            "sa",
            "sb",
            # tok is a DISTINCT (doc, token) view, so the intersection
            # size of the two arrays IS the exact set intersection
            F.size(F.array_intersect("toks_a", "toks_b")).alias("inter"),
        )
    )
    return (
        inter.filter(3 * F.col("inter") >= F.col("sa") + F.col("sb"))
        .select(
            "doc_a",
            "doc_b",
            "inter",
            "sa",
            "sb",
            round6f(
                F.col("inter") / (F.col("sa") + F.col("sb") - F.col("inter"))
            ).alias("jaccard"),
        )
        .orderBy("doc_a", "doc_b")
    )
