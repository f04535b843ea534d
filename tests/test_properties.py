"""Property-based tests (hypothesis) for the hand-built operators —
the ones whose semantics aren't delegated to Catalyst.

Each property checks the Spark operator against an oblivious pure-
Python reference on randomized inputs. Spark round-trips are slow, so
examples are capped and deadlines disabled; the value is in the
randomized edge cases (empty keys, ties, all-stale tolerances,
single-row groups), not volume.
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

SETTINGS = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

_key = st.sampled_from(["a", "b", "c"])
_ts = st.integers(min_value=0, max_value=50)


@given(
    left=st.lists(st.tuples(_key, _ts), min_size=1, max_size=20),
    right=st.lists(st.tuples(_key, _ts, st.integers(0, 99)), max_size=20),
    tolerance=st.one_of(st.none(), st.integers(0, 20)),
)
@SETTINGS
def test_asof_join_matches_reference(spark, left, right, tolerance):
    from ureplicator_spark.operators.asof import asof_join

    ldf = spark.createDataFrame(
        [(k, t, i) for i, (k, t) in enumerate(left)], "k string, ts long, row_id long"
    )
    rdf = spark.createDataFrame(right or [("zz", -1, -1)], "k string, ts long, v long")
    out = {
        r.row_id: r.v
        for r in asof_join(
            ldf, rdf, ["k"], "ts", "ts", ["v"], tolerance=tolerance
        ).collect()
    }

    def expected(k, t):
        # latest right row at-or-before t for key k (ties: the row with
        # max ts; equal-ts right rows are interchangeable for v since
        # last-write-wins is not part of the contract — compare the set)
        cands = [(rt, v) for (rk, rt, v) in (right or []) if rk == k and rt <= t]
        if not cands:
            return set()
        best_ts = max(rt for rt, _ in cands)
        if tolerance is not None and best_ts < t - tolerance:
            return set()
        return {v for rt, v in cands if rt == best_ts}

    for i, (k, t) in enumerate(left):
        exp = expected(k, t)
        if not exp:
            assert out[i] is None, (k, t, out[i])
        else:
            assert out[i] in exp, (k, t, out[i], exp)


@given(
    rows=st.lists(st.integers(-1000, 1000), min_size=1, max_size=50),
    k=st.integers(1, 10),
)
@SETTINGS
def test_top_k_ranked_matches_sorted(spark, rows, k):
    from ureplicator_spark.functions import top_k_ranked

    df = spark.createDataFrame([(i, v) for i, v in enumerate(rows)], "id long, v long")
    got = [
        (r.v, r.id, r.rank)
        for r in top_k_ranked(df, k, F.col("v").desc(), F.col("id")).collect()
    ]
    exp = sorted([(v, i) for i, v in enumerate(rows)], key=lambda t: (-t[0], t[1]))[:k]
    assert got == [(v, i, rank + 1) for rank, (v, i) in enumerate(exp)]


@given(
    rows=st.lists(st.tuples(_key, st.integers(-100, 100)), min_size=1, max_size=40),
    n_salt=st.integers(1, 8),
)
@SETTINGS
def test_salted_agg_matches_reference(spark, rows, n_salt):
    from ureplicator_spark.operators.skew import salted_agg

    df = spark.createDataFrame(rows, "k string, v long")
    got = {
        r.k: (r.n, r.total, r.mn, r.mx)
        for r in salted_agg(
            df,
            ["k"],
            {"n": ("count", "v"), "total": ("sum", "v"),
             "mn": ("min", "v"), "mx": ("max", "v")},
            n_salt=n_salt,
        ).collect()
    }
    exp = {}
    for k, v in rows:
        n, s, mn, mx = exp.get(k, (0, 0, None, None))
        exp[k] = (
            n + 1,
            s + v,
            v if mn is None else min(mn, v),
            v if mx is None else max(mx, v),
        )
    assert got == exp


@given(
    docs=st.lists(
        st.lists(st.sampled_from(["aa", "bb", "cc", "dd"]), min_size=1, max_size=90),
        min_size=1,
        max_size=8,
    ),
    size=st.integers(2, 40),
)
@SETTINGS
def test_chunk_documents_covers_every_token_exactly(spark, docs, size):
    """Chunking invariants vs a pure-Python reference: chunk starts at
    every stride multiple, each chunk holds min(size, n-start) tokens,
    and token positions [i*stride, i*stride+size) reconstruct."""
    from ureplicator_spark.operators.text import chunk_documents

    stride = max(1, size * 3 // 4)
    df = spark.createDataFrame(
        [(i, " ".join(words)) for i, words in enumerate(docs)],
        "doc_id long, text string",
    )
    got = {
        (r.doc_id, r.chunk_id): r.n_tokens
        for r in chunk_documents(df, size=size, stride=stride).collect()
    }
    expected = {}
    for i, words in enumerate(docs):
        n = len(words)
        for ci, start in enumerate(range(0, max(n, 1), stride)):
            expected[(i, ci)] = min(size, n - start)
    assert got == expected


@given(
    vecs=st.lists(
        st.lists(
            st.floats(-8, 8, allow_nan=False, width=32), min_size=3, max_size=6
        ),
        min_size=1,
        max_size=6,
    )
)
@SETTINGS
def test_quantize_int8_bounds(spark, vecs):
    """Quantization invariants: |q| ≤ 127, and per-component
    reconstruction error ≤ 0.5/scale (half a quantization step) which
    bounds MSE by (0.5/scale)^2."""
    from ureplicator_spark.operators.similarity import quantize_int8

    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)], "vec_id long, embedding array<float>"
    )
    for r in quantize_int8(df).collect():
        assert r.max_q <= 127
        assert r.mse <= (0.5 / r.scale) ** 2 + 1e-9


@given(
    edges=st.lists(
        st.tuples(st.integers(0, 30), st.integers(0, 30)),
        min_size=1,
        max_size=40,
    ).filter(lambda es: any(a != b for a, b in es)),
)
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_duplicate_clusters_matches_union_find(spark, edges):
    """Min-label propagation must agree with a pure-Python union-find
    on random graphs: same components, cluster id = min member,
    keeper = that min. Self-loops are dropped like the LSH pair filter
    (doc_a < doc_b) would drop them."""
    from ureplicator_spark.operators.dedup import duplicate_clusters

    edges = [(a, b) for a, b in edges if a != b]
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    got = {r.doc_id: (r.cluster_id, r.is_keeper)
           for r in duplicate_clusters(pairs, max_iter=64).collect()}

    parent: dict[int, int] = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent[find(a)] = find(b)
    comps: dict[int, set] = {}
    for n in parent:
        comps.setdefault(find(n), set()).add(n)
    want = {}
    for members in comps.values():
        m = min(members)
        for n in members:
            want[n] = (m, n == m)
    assert got == want


@given(
    texts=st.lists(
        st.text(alphabet="ab ", min_size=1, max_size=40).map(
            lambda s: " ".join(s.split()) or "a"
        ),
        min_size=2,
        max_size=12,
    ),
)
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_simhash_near_pairs_complete_vs_bruteforce(spark, texts):
    """Banding must be COMPLETE for Hamming <= n_bands-1 (pigeonhole):
    the banded pair set equals the brute-force all-pairs filter."""
    from ureplicator_spark.operators.dedup import simhash, simhash_near_pairs

    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    sims = {r.doc_id: r.simhash for r in simhash(docs).collect()}
    want = {
        (a, b, bin(sims[a] ^ sims[b]).count("1"))
        for a in sims
        for b in sims
        if a < b and bin(sims[a] ^ sims[b]).count("1") <= 3
    }
    got = {
        (r.doc_a, r.doc_b, r.hamming) for r in simhash_near_pairs(docs).collect()
    }
    assert got == want


def test_simhash_band_bucket_cardinality_grows(spark):
    """Manku (WWW'07) selectivity contract: with 15-bit bands the
    number of distinct (band, band_val) buckets must GROW with corpus
    size (old 16-bit/4-bit scheme capped at 16 values per band, so
    buckets held ~N/16 of the corpus — all-pairs in disguise). Checks
    the per-band distinct-value count is far above the old 16-value
    ceiling and scales up corpus-to-corpus."""
    from ureplicator_spark.operators.dedup import (
        SIMHASH_BAND_BITS,
        SIMHASH_BITS,
        simhash,
    )

    assert SIMHASH_BITS == 60 and SIMHASH_BAND_BITS == 15

    def n_buckets(sf_dir: str) -> tuple[int, int]:
        from ureplicator_spark.sources.parquet import load_table

        docs = load_table(spark, sf_dir, "documents")
        sim = simhash(docs)
        bands = sim.select(
            "doc_id",
            *[
                (F.shiftright("simhash", SIMHASH_BAND_BITS * b)
                 .bitwiseAND(F.lit(2**SIMHASH_BAND_BITS - 1))).alias(f"b{b}")
                for b in range(4)
            ],
        )
        distinct = bands.agg(
            *[F.countDistinct(f"b{b}").alias(f"d{b}") for b in range(4)]
        ).collect()[0]
        return min(distinct), sim.count()

    # sf0.001 and sf0.01 share a 500-doc documents table; sf0.1 has
    # 5000 docs — compare the two distinct corpus sizes. Simhash bits
    # are correlated across similar docs (that is the point of the
    # fingerprint), so per-band cardinality tracks corpus size loosely,
    # not 1:1 — the contract is "far above the old 16-value ceiling and
    # growing", not uniform-hash occupancy.
    small_min, small_docs = n_buckets("/root/testdata/sf0.001")
    big_min, big_docs = n_buckets("/root/testdata/sf0.1")
    assert small_docs == 500 and big_docs == 5000
    assert small_min > 8 * 16  # old scheme capped each band at 16 values
    assert big_min > 2 * small_min  # selectivity keeps improving with N


_uid = st.integers(min_value=1, max_value=5)
_etype = st.sampled_from(["signup", "view", "purchase", "error"])
_ets = st.integers(min_value=0, max_value=100)


@given(events=st.lists(st.tuples(_uid, _etype, _ets), min_size=1, max_size=40))
@SETTINGS
def test_funnel_matches_reference(spark, events):
    """funnel_counts == oblivious per-user min-ts chain on random
    event sets (replays, ties, missing stages, out-of-order)."""
    from ureplicator_spark.operators.relational import funnel_counts

    ev = spark.createDataFrame(events, "user_id long, event_type string, ts_sec long")
    got = {r.event_type: r.n_users for r in funnel_counts(ev).collect()}

    stages = ["signup", "view", "purchase"]
    expected = {s: 0 for s in stages}
    users = {u for u, _, _ in events}
    for u in users:
        mine = [(t, e) for (uu, e, t) in events if uu == u]
        prev_t = None
        for s in stages:
            cand = [t for (t, e) in mine if e == s and (prev_t is None or t > prev_t)]
            if not cand:
                break
            prev_t = min(cand)
            expected[s] += 1
    assert got == expected


@given(events=st.lists(st.tuples(_uid, st.integers(0, 3_000_000)), min_size=1, max_size=40))
@SETTINGS
def test_retention_matches_reference(spark, events):
    from ureplicator_spark.operators.relational import retention_cohorts

    ev = spark.createDataFrame(events, "user_id long, ts_sec long")
    got = {(r.cohort_week, r.week_offset): r.n_users
           for r in retention_cohorts(ev).collect()}

    wk = 604800
    first = {}
    for u, t in events:
        first[u] = min(first.get(u, t), t)
    expected: dict = {}
    for key in {(first[u] // wk, t // wk - first[u] // wk, u) for u, t in events}:
        cw, off, _ = key
        expected[(cw, off)] = expected.get((cw, off), 0) + 1
    assert got == expected


_words = st.sampled_from(["red", "blue", "fox", "dog", "run", "sky"])


@given(
    docs=st.lists(
        st.lists(_words, min_size=0, max_size=8), min_size=2, max_size=8
    ),
    threshold=st.sampled_from([0.5, 0.9, 1.0]),
)
@SETTINGS
def test_containment_matches_reference(spark, docs, threshold):
    """containment_pairs == oblivious shingle-set containment on random
    tiny corpora (short docs, identical docs, empty overlap)."""
    from ureplicator_spark.operators.dedup import containment_pairs

    rows = [(i, " ".join(ws)) for i, ws in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.inner_doc, r.outer_doc): (r.n_inner, r.n_shared)
        for r in containment_pairs(df, threshold=threshold).collect()
    }

    def sh(ws):
        return {" ".join(ws[i : i + 3]) for i in range(len(ws) - 2)}

    sets = {i: sh(ws) for i, ws in enumerate(docs)}
    expected = {}
    for i, si in sets.items():
        if not si:
            continue
        for j, sj in sets.items():
            if i == j or not sj:
                continue
            inter = len(si & sj)
            if inter and inter / len(si) >= threshold:
                expected[(i, j)] = (len(si), inter)
    assert got == expected


@given(
    vecs=st.lists(
        st.lists(st.integers(-4, 4), min_size=3, max_size=3),
        min_size=3,
        max_size=12,
    )
)
@pytest.mark.slow
@SETTINGS
def test_kmeans_matches_reference(spark, vecs):
    """Integer-exact Lloyd == an oblivious Python implementation of
    the same spec (k=2, 2 assignment passes, floor-div centroid
    update, (dist, cluster) tie-break) on random tiny corpora."""
    from ureplicator_spark.operators.similarity import kmeans_clusters

    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {
        r.cluster_id: (r.n_vecs, r.inertia)
        for r in kmeans_clusters(df, k=2, iters=2, qscale=1000).collect()
    }

    q = {i: [x * 1000 for x in v] for i, v in enumerate(vecs)}
    cents = {j: q[j] for j in range(min(2, len(q)))}

    def assign(cs):
        best = {}
        for i, v in q.items():
            scored = sorted(
                (sum((a - b) ** 2 for a, b in zip(v, c)), j) for j, c in cs.items()
            )
            best[i] = scored[0]  # (dist, cluster)
        return best

    for it in range(2):
        best = assign(cents)
        if it == 0:
            upd: dict = {}
            for i, (d, j) in best.items():
                upd.setdefault(j, []).append(q[i])
            cents = {
                j: [sum(col) // len(vs) for col in zip(*vs)]
                for j, vs in upd.items()
            }
    expected: dict = {}
    for i, (d, j) in best.items():
        n, s = expected.get(j, (0, 0))
        expected[j] = (n + 1, s + d)
    assert got == expected


@given(
    sizes=st.lists(st.integers(1, 40), min_size=1, max_size=30),
    budget=st.integers(5, 200),
    id_stride=st.integers(1, 3000),
)
@SETTINGS
def test_shard_packing_matches_reference(spark, sizes, budget, id_stride):
    """Two-phase distributed prefix sum == the naive sequential cumsum
    for any doc sizes / budget / id spacing (strides push ids across
    the 4096 bucket boundary so offsets are exercised)."""
    from ureplicator_spark.operators.text import token_shard_packing

    rows = [
        (i * id_stride, " ".join(["w"] * n)) for i, n in enumerate(sizes)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.shard_id: (r.n_docs, r.total_tokens, r.first_doc, r.last_doc)
        for r in token_shard_packing(docs, budget=budget).collect()
    }
    expect = {}
    cum = 0
    for i, n in enumerate(sizes):
        shard = cum // budget
        cum += n
        d, t, fd, ld = expect.get(shard, (0, 0, None, None))
        expect[shard] = (d + 1, t + n, fd if fd is not None else i * id_stride,
                         i * id_stride)
    assert got == expect


@given(
    vecs=st.lists(
        st.lists(st.integers(-4, 4), min_size=3, max_size=3),
        min_size=3,
        max_size=12,
    ),
    threshold=st.sampled_from([0.3, 0.7, 0.95]),
)
@pytest.mark.slow
@SETTINGS
def test_semantic_dedup_matches_reference(spark, vecs, threshold):
    """SemDeDup == an oblivious Python implementation of the same spec
    (reference Lloyd assignment, then every within-cluster pair with
    6dp-rounded cosine >= threshold) on random tiny corpora. Zero
    vectors produce undefined cosines and are excluded by both sides.
    """
    import math

    from ureplicator_spark.operators.similarity import semantic_dedup_pairs

    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {
        (r.vec_a, r.vec_b): (r.cluster_id, r.cosine)
        for r in semantic_dedup_pairs(df, k=2, iters=2, threshold=threshold).collect()
    }

    # reference Lloyd (same spec as test_kmeans_matches_reference)
    q = {i: [x * 1000 for x in v] for i, v in enumerate(vecs)}
    cents = {j: q[j] for j in range(min(2, len(q)))}

    def assign(cs):
        return {
            i: min((sum((a - b) ** 2 for a, b in zip(v, c)), j) for j, c in cs.items())
            for i, v in q.items()
        }

    for it in range(2):
        best = assign(cents)
        if it == 0:
            upd: dict = {}
            for i, (_, j) in best.items():
                upd.setdefault(j, []).append(q[i])
            cents = {
                j: [sum(col) // len(vs) for col in zip(*vs)] for j, vs in upd.items()
            }
    cluster = {i: j for i, (_, j) in best.items()}

    expected = {}
    for a in q:
        for b in q:
            if a >= b or cluster[a] != cluster[b]:
                continue
            na = math.sqrt(sum(x * x for x in vecs[a]))
            nb = math.sqrt(sum(x * x for x in vecs[b]))
            if na == 0 or nb == 0:
                continue
            dot = sum(x * y for x, y in zip(vecs[a], vecs[b]))
            cos = round(dot / (na * nb), 6)
            if cos >= threshold:
                expected[(a, b)] = (cluster[a], cos)
    assert got == expected


@pytest.mark.slow
def test_semantic_dedup_blocked_kernel_giant_cluster(spark, monkeypatch):
    """The r13 blocked gram kernel == the oblivious O(n²) reference on
    ONE giant skewed cluster (k=1 puts every vector in a single
    applyInPandas group — the skew case the blocking exists for), with
    the block size shrunk so the kernel runs dozens of row blocks.
    Integer components keep every dot exactly representable, so the
    comparison is exact, not tolerance-based. A zero vector rides
    along to pin the undefined-cosine exclusion across block edges."""
    import math
    import random

    from ureplicator_spark.operators import similarity as SIM

    rng = random.Random(13)
    n, dim = 257, 8
    vecs = [[float(rng.randint(-4, 4)) for _ in range(dim)] for _ in range(n)]
    vecs[100] = [0.0] * dim  # zero norm: excluded by both sides
    rows = [(i, v) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    # force many blocks: B = 600 // 257 = 2 rows per block
    monkeypatch.setattr(SIM, "_PAIR_BLOCK_CELLS", 600)
    got = {
        (r.vec_a, r.vec_b): r.cosine
        for r in SIM.semantic_dedup_pairs(df, k=1, iters=1, threshold=0.3).collect()
    }

    expected = {}
    for a in range(n):
        na = math.sqrt(sum(x * x for x in vecs[a]))
        if na == 0:
            continue
        for b in range(a + 1, n):
            nb = math.sqrt(sum(x * x for x in vecs[b]))
            if nb == 0:
                continue
            dot = sum(x * y for x, y in zip(vecs[a], vecs[b]))
            c = dot / (na * nb)
            c = math.copysign(1, c) * math.floor(abs(c) * 1e6 + 0.5) / 1e6 + 0.0
            if c >= 0.3:
                expected[(a, b)] = c
    assert got == expected


@given(
    old_rows=st.dictionaries(
        st.integers(0, 30), st.tuples(st.sampled_from(["x", "y"]), st.integers(0, 5)),
        max_size=15,
    ),
    new_rows=st.dictionaries(
        st.integers(0, 30), st.tuples(st.sampled_from(["x", "y"]), st.integers(0, 5)),
        max_size=15,
    ),
)
@SETTINGS
def test_snapshot_diff_reconstructs_target(spark, old_rows, new_rows):
    """CDC round-trip property: applying the diff to the old snapshot
    (drop removed+changed keys, insert added+changed rows from new)
    reconstructs the new snapshot exactly; unchanged keys never appear
    in the diff."""
    from ureplicator_spark.sources.archive import snapshot_diff

    def df_of(d):
        rows = [(k, s, v) for k, (s, v) in sorted(d.items())] or [(-1, "zz", -1)]
        return spark.createDataFrame(rows, "k long, s string, v long").filter(
            F.col("k") >= 0
        )

    diff = {
        r.k: r.change_type
        for r in snapshot_diff(df_of(old_rows), df_of(new_rows), ["k"]).collect()
    }
    rebuilt = dict(old_rows)
    for k, ct in diff.items():
        if ct == "removed":
            rebuilt.pop(k)
        elif ct in ("added", "changed"):
            rebuilt[k] = new_rows[k]
    assert rebuilt == new_rows
    for k, ct in diff.items():
        if ct == "changed":
            assert old_rows[k] != new_rows[k]
    unchanged = {
        k for k in set(old_rows) & set(new_rows) if old_rows[k] == new_rows[k]
    }
    assert unchanged.isdisjoint(diff)


@given(
    docs=st.lists(
        st.lists(st.sampled_from(["a", "b", "c", "d", "e"]), max_size=9),
        min_size=2,
        max_size=8,
    ),
)
@SETTINGS
def test_prefix_join_positional_prune_is_lossless(spark, docs):
    """The PPJoin positional bound (r7) must drop ONLY pairs that
    cannot reach Jaccard >= 0.5: on random tiny corpora over a 5-token
    vocabulary (maximal shingle sharing — the adversarial case for
    prefix/positional filtering), the join equals the oblivious
    brute-force pair set exactly."""
    from itertools import combinations

    from ureplicator_spark.operators.dedup import jaccard_prefix_join

    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sets = {
        i: {" ".join(toks[j : j + 3]) for j in range(len(toks) - 2)}
        for i, toks in enumerate(docs)
        if len(toks) >= 3
    }
    want = set()
    for a, b in combinations(sorted(sets), 2):
        inter = len(sets[a] & sets[b])
        if inter > 0 and 3 * inter >= len(sets[a]) + len(sets[b]):
            want.add((a, b))
    got = {(r.doc_a, r.doc_b) for r in jaccard_prefix_join(df).collect()}
    assert got == want


@given(
    docs=st.lists(
        st.lists(st.sampled_from(["a", "b", "c", "d", "e"]), max_size=9),
        min_size=2,
        max_size=8,
    ),
    threshold=st.sampled_from([0.5, 0.75, 0.9, 1.0]),
)
@pytest.mark.slow
@SETTINGS
def test_containment_prefix_filter_is_lossless(spark, docs, threshold):
    """The r8 asymmetric prefix filter (A-prefix × B-full candidates
    + size prune) must drop ONLY pairs that cannot reach containment
    >= t: on random tiny corpora over a 5-token vocabulary (maximal
    shingle sharing — adversarial for prefix filtering) and across
    thresholds, the operator equals the oblivious brute force
    exactly, including n_shared/n_inner values."""
    from itertools import permutations

    from ureplicator_spark.operators.dedup import containment_pairs

    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sets = {
        i: {" ".join(toks[j : j + 3]) for j in range(len(toks) - 2)}
        for i, toks in enumerate(docs)
        if len(toks) >= 3
    }
    want = {}
    for a, b in permutations(sorted(sets), 2):
        inter = len(sets[a] & sets[b])
        if inter > 0 and inter / len(sets[a]) >= threshold:
            want[(a, b)] = (len(sets[a]), inter)
    got = {
        (r.inner_doc, r.outer_doc): (r.n_inner, r.n_shared)
        for r in containment_pairs(df, threshold=threshold).collect()
    }
    assert got == want


@given(
    texts=st.lists(
        st.lists(st.sampled_from(["w1", "w2", "w3", "w4", "w5"]), min_size=1, max_size=8),
        min_size=2,
        max_size=10,
    ),
    split=st.integers(min_value=0, max_value=10),
)
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@pytest.mark.slow
def test_lexical_index_append_equals_single_build(spark, tmp_path_factory, texts, split):
    """The incremental-index invariant, randomized: building on any
    prefix and appending the rest must produce byte-identical search
    results (and stats) to one build over everything — including
    empty prefixes, empty appends and single-token docs."""
    from ureplicator_spark.sources.lexical_index import (
        append_to_lexical_index,
        build_lexical_index,
        search_lexical_index,
    )
    from ureplicator_spark.streaming.ivm import read_view

    docs = spark.createDataFrame(
        [(i, " ".join(t), "en", "s", len(" ".join(t))) for i, t in enumerate(texts)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    split = min(split, len(texts))
    terms = ("w1", "w3")

    r_full = str(tmp_path_factory.mktemp("lex_full"))
    build_lexical_index(spark, docs, r_full)
    want = [tuple(r) for r in search_lexical_index(spark, r_full, terms).collect()]
    want_df = {r.token: r.df for r in read_view(spark, r_full + "/stats").collect()}

    r_inc = str(tmp_path_factory.mktemp("lex_inc"))
    build_lexical_index(spark, docs.filter(F.col("doc_id") < split), r_inc)
    append_to_lexical_index(spark, r_inc, docs.filter(F.col("doc_id") >= split))
    got = [tuple(r) for r in search_lexical_index(spark, r_inc, terms).collect()]
    got_df = {r.token: r.df for r in read_view(spark, r_inc + "/stats").collect()}

    assert got == want
    assert got_df == want_df


@given(
    payloads=st.lists(
        st.binary(min_size=0, max_size=600), min_size=2, max_size=8
    ),
    split=st.integers(min_value=0, max_value=8),
)
@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_chunk_index_append_equals_single_build(
    spark, tmp_path_factory, payloads, split
):
    """The incremental-index invariant for the CDC chunk index,
    randomized: building on any prefix and appending the rest must
    yield the identical chunk-identity set to one build over
    everything — including empty prefixes/appends, empty payloads
    and payloads below min_size (single whole-payload chunks)."""
    from ureplicator_spark.sources.chunk_index import (
        append_to_chunk_index,
        build_chunk_index,
        read_chunk_index,
    )

    media = spark.createDataFrame(
        [(i, p) for i, p in enumerate(payloads)],
        "media_id long, payload binary",
    )
    split = min(split, len(payloads))

    r_full = str(tmp_path_factory.mktemp("ci_full"))
    build_chunk_index(media, r_full)
    want = {tuple(r) for r in read_chunk_index(spark, r_full).collect()}

    r_inc = str(tmp_path_factory.mktemp("ci_inc"))
    build_chunk_index(media.filter(F.col("media_id") < split), r_inc)
    append_to_chunk_index(media.filter(F.col("media_id") >= split), r_inc)
    got = {tuple(r) for r in read_chunk_index(spark, r_inc).collect()}
    assert got == want


@given(
    payloads=st.lists(
        st.binary(min_size=1, max_size=300), min_size=2, max_size=12
    ),
    max_hamming=st.integers(0, 7),
)
@SETTINGS
def test_dhash_banding_complete_random_payloads(spark, payloads, max_hamming):
    """Pigeonhole completeness of the Hamming band join on ARBITRARY
    binary payloads (the fixture-based test only sees ASCII text):
    banded pairs == oblivious all-pairs scan at every threshold the
    8-band split supports."""
    from ureplicator_spark.operators.multimodal import dhash_near_pairs, image_dhash

    media = spark.createDataFrame(
        [(i, p) for i, p in enumerate(payloads)],
        "media_id long, payload binary",
    )
    hs = {r.media_id: r.dhash for r in image_dhash(media).collect()}
    ids = sorted(hs)
    want = set()
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            d = bin((hs[a] ^ hs[b]) & ((1 << 64) - 1)).count("1")
            if d <= max_hamming:
                want.add((a, b, d))
    got = {
        (r.media_a, r.media_b, r.hamming)
        for r in dhash_near_pairs(image_dhash(media), max_hamming=max_hamming).collect()
    }
    assert got == want


@given(payloads=st.lists(st.binary(min_size=1, max_size=300), min_size=1, max_size=10))
@SETTINGS
def test_audio_fp_matches_python_on_random_payloads(spark, payloads):
    """The acoustic fingerprint equals the oblivious Python reference
    on arbitrary bytes — including payloads shorter than one window
    per sample (empty windows) and all-identical bytes (zero
    energies, all bits 0)."""
    from test_dhash import _py_audio_fp

    from ureplicator_spark.operators.multimodal import audio_fingerprint

    media = spark.createDataFrame(
        [(i, p) for i, p in enumerate(payloads)],
        "media_id long, payload binary",
    )
    got = {r.media_id: r.dhash for r in audio_fingerprint(media).collect()}
    want = {i: _py_audio_fp(p) for i, p in enumerate(payloads)}
    assert got == want


@given(payloads=st.lists(st.binary(min_size=0, max_size=400), min_size=1, max_size=8))
@SETTINGS
def test_frame_hashes_match_python_on_random_payloads(spark, payloads):
    """Per-frame dHash sequences on ARBITRARY bytes equal composing
    the oblivious Python dHash with fixed-stride frame slicing —
    including payloads shorter than one frame (no rows) and exact
    multiples of the stride (no dropped tail)."""
    from test_dhash import _py_dhash

    from ureplicator_spark.operators.multimodal import (
        FRAME_STRIDE,
        video_frame_hashes,
    )

    media = spark.createDataFrame(
        [(i, p) for i, p in enumerate(payloads)],
        "media_id long, payload binary",
    )
    got = {
        (r.media_id, r.frame_idx): r.fhash
        for r in video_frame_hashes(media).collect()
    }
    want = {}
    for i, p in enumerate(payloads):
        for f in range(len(p) // FRAME_STRIDE):
            want[(i, f)] = _py_dhash(p[f * FRAME_STRIDE : (f + 1) * FRAME_STRIDE])
    assert got == want


@given(
    docs=st.lists(
        st.lists(st.sampled_from(["x", "y", "z", "w"]), min_size=0, max_size=12),
        min_size=1,
        max_size=10,
    ),
    phrase=st.lists(st.sampled_from(["x", "y", "z"]), min_size=1, max_size=3),
)
@SETTINGS
def test_phrase_search_matches_python_reference(spark, docs, phrase):
    """phrase_search == an oblivious sliding-window scan on random
    tiny-vocab corpora — repeated terms inside the phrase, overlapping
    occurrences, phrase-at-position-0, and docs shorter than the
    phrase all come from the generator."""
    from ureplicator_spark.operators.text import phrase_search

    docs_df = spark.createDataFrame(
        [(i, " ".join(toks)) for i, toks in enumerate(docs)],
        "doc_id long, text string",
    )
    phrase_df = spark.createDataFrame(
        list(enumerate(phrase)), "offset int, term string"
    )
    got = {
        r.doc_id: (r.n_occurrences, r.first_pos)
        for r in phrase_search(docs_df, phrase_df).collect()
    }

    want = {}
    for i, toks in enumerate(docs):
        # split(" ") on a joined empty list yields [""] — mirror that
        toks = " ".join(toks).split(" ")
        starts = [
            s
            for s in range(len(toks) - len(phrase) + 1)
            if toks[s : s + len(phrase)] == phrase
        ]
        if starts:
            want[i] = (len(starts), min(starts))
    assert got == want


_topic = st.integers(0, 1500).map(lambda i: f"t{i}")


@st.composite
def _route_tables_and_records(draw):
    """A route's mapping and partition counts (up to 1,000 entries
    each, renames free to chain) and records whose topics mix renamed,
    counted-only, unknown and NULL names."""
    mapping = draw(st.dictionaries(_topic, _topic, max_size=1000))
    counts = draw(st.dictionaries(_topic, st.integers(1, 64), max_size=1000))
    known = sorted(set(mapping) | set(mapping.values()) | set(counts))
    topic = st.one_of(st.none(), _topic, *([st.sampled_from(known)] if known else []))
    rows = draw(st.lists(
        st.tuples(
            topic,
            st.one_of(st.none(), st.integers(-5, 200)),
            st.one_of(st.none(), st.integers(-10, 2_000_000_000)),
        ),
        min_size=1, max_size=40,
    ))
    return mapping, counts, rows


def _replicate_oracle(mapping, counts, rows):
    """P1/P2/P3 per record, straight from the reference transformer:
    one getOrDefault rename, the destination's count, p % n for p >= 0,
    non-positive timestamps to NULL."""
    out = []
    for offset, (topic, p, ts) in enumerate(rows):
        dst = None if topic is None else mapping.get(topic, topic)
        n = None if dst is None else counts.get(dst)
        dp = p % n if n is not None and p is not None and p >= 0 else None
        out.append((topic, p, offset, None if ts is None or ts <= 0 else ts, dst, dp))
    return out


@given(case=_route_tables_and_records())
@SETTINGS
@example(case=({}, {}, [("a", 3, 5)]))
@example(case=({"a": "b", "b": "c"}, {"b": 2, "c": 5}, [("a", 7, 1), ("b", 7, 1), ("c", 7, 1)]))
@example(case=({"a": "b"}, {"z": 3}, [(None, 1, 1), ("z", -1, 0), ("z", None, -4), ("q", 2, 9)]))
@example(case=(
    {f"t{i}": f"t{i + 1}" for i in range(1000)},
    {f"t{i}": i % 7 + 1 for i in range(500, 1500)},
    [(f"t{i}", i % 9, i) for i in (0, 499, 500, 999, 1000, 1200, 1499, 1500)],
))
def test_composed_route_lookup_matches_reference(spark, case):
    """``replicate_with_tables`` joins one driver-composed lookup
    instead of the mapping and the counts separately; its rows must be
    the reference transformer's record for record, with the column
    layout of the two-table ``replicate_transform``."""
    from ureplicator_spark.functions import values_df
    from ureplicator_spark.operators.replicate import (
        replicate_transform,
        replicate_with_tables,
    )

    mapping, counts, rows = case
    records = values_df(
        spark,
        [(t, p, i, ts) for i, (t, p, ts) in enumerate(rows)],
        "topic string, partition int, offset long, ts_sec long",
    )
    out = replicate_with_tables(records, mapping, counts)
    cols = ["topic", "partition", "offset", "ts_sec", "dst_topic", "dst_partition"]
    assert out.columns == cols
    got = sorted((tuple(r) for r in out.collect()), key=lambda r: r[2])
    assert got == _replicate_oracle(mapping, counts, rows)
    two_tables = replicate_transform(
        records,
        values_df(spark, list(mapping.items()) or [("", "")], "src_topic string, dst_topic string"),
        values_df(spark, list(counts.items()) or [("", 1)], "topic string, num_partitions int"),
    )
    assert two_tables.schema == out.schema
    assert sorted((tuple(r) for r in two_tables.collect()), key=lambda r: r[2]) == got


_T1, _T2 = 1705708800, 1706313600  # fixtures.SNAPSHOT_T1 / SNAPSHOT_T2
_lag_row = st.tuples(
    st.one_of(st.none(), st.sampled_from(["a", "b", "click"])),  # "click": the stalled topic
    st.one_of(st.none(), st.integers(0, 1)),
    st.integers(0, 30),
    st.one_of(st.none(), st.sampled_from([_T1 - 1, _T1, _T1 + 1, _T2, _T2 + 1])),
)


@given(rows=st.lists(_lag_row, min_size=1, max_size=30))
@SETTINGS
@example(rows=[
    (None, 0, 4, _T1), (None, 0, 9, _T2 + 1), ("a", None, 3, _T1), ("a", None, 7, _T2 + 1),
    ("a", 0, 2, None), ("a", 0, 5, _T1 - 1), ("click", 0, 6, _T1), ("click", 0, 8, _T2 + 1),
])
def test_lag_reads_with_null_keys_match_oracle(spark, rows):
    """The fused lag reads against the registry's oracle SQL, over
    records with NULL topic, partition and ts_sec: a group with a NULL
    key never joins a commit in the oracle, so it has none here."""
    import duckdb

    from ureplicator_spark import fixtures as FX
    from ureplicator_spark.functions import values_df
    from ureplicator_spark.operators import lag as LAG
    from ureplicator_spark.queries import QUERIES

    assert (FX.SNAPSHOT_T1, FX.SNAPSHOT_T2, FX.STALLED_TOPIC) == (_T1, _T2, "click")

    def oracle(name, log):
        con = duckdb.connect()
        con.execute('CREATE TABLE log (topic VARCHAR, "partition" INTEGER, '
                    '"offset" BIGINT, ts_sec BIGINT)')
        con.executemany("INSERT INTO log VALUES (?, ?, ?, ?)", log)
        sql = QUERIES[name][1].replace(FX.RECORDS_CTE, "records AS (SELECT * FROM log)")
        assert "FROM log" in sql
        return sorted(con.execute(sql).fetchall(), key=repr)

    def records(log):
        return values_df(spark, log, "topic string, partition int, offset long, ts_sec long")

    def got(df):
        return sorted((tuple(r) for r in df.collect()), key=repr)

    rec = records(rows)
    assert got(LAG.consumer_lag(rec, _T1)) == oracle("consumer_lag", rows)
    c1 = LAG.committed_offsets(rec, _T1)
    c2 = FX.stalled_commit_override(LAG.committed_offsets(rec, _T2), c1)
    assert got(LAG.no_progress(rec, _T1, _T2, c1=c1, c2=c2)) == oracle("no_progress", rows)
    # without the stalled topic the registry's override changes nothing,
    # so the default (one-aggregation) read answers the same SQL
    plain = [r for r in rows if r[0] != "click"]
    if plain:
        assert got(LAG.no_progress(records(plain), _T1, _T2)) == oracle("no_progress", plain)
