"""Round-14 optimization parity tests.

Every r14 kernel/rewrite must be bit-identical to the path it replaces;
these tests pin that equivalence on adversarial inputs (the oracle sweep
re-proves it on the fixtures).
"""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from ddataframeoperation_spark.operators import dedup, relational


# --- banded MinHash table (the JVM signature aggregate) ------------------


def _band_table(docs, **kw):
    return [tuple(r) for r in dedup.minhash_band_table(docs, **kw).collect()]


def test_minhash_band_table_rows_per_id_and_degenerate_docs(spark):
    """Every scorable doc gets exactly ``bands`` (band, bucket) rows —
    empty and shorter-than-shingle docs included (each yields one
    shingle) — and NULL text drops."""
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy cat"),
            (3, ""),               # empty -> single empty shingle
            (4, "one two"),        # shorter than shingle_n
            (5, None),             # NULL text drops
            (6, "Repeated repeated REPEATED tokens tokens tokens here"),
        ],
        "doc_id long, text string",
    )
    for kw, bands in (({}, 8), (dict(num_hashes=16, bands=4, shingle_n=2), 4)):
        rows = _band_table(docs, **kw)
        ids = sorted({i for i, _, _ in rows})
        assert ids == [1, 2, 3, 4, 6], kw
        for i in ids:
            assert sorted(b for j, b, _ in rows if j == i) == list(
                range(bands)
            ), (kw, i)
        assert all(isinstance(bucket, int) for _, _, bucket in rows)


def test_minhash_band_table_identical_texts_share_every_bucket(spark):
    """Identical (post-normalization) texts share every bucket, at the
    default and a non-default band geometry, with string ids; a
    different text does not share all of them."""
    docs = spark.createDataFrame(
        [
            ("a", "alpha beta gamma delta epsilon zeta"),
            ("b", "Alpha, beta GAMMA delta epsilon zeta!"),
            ("c", "alpha beta gamma delta epsilon eta"),
        ],
        "doc_id string, text string",
    )
    for kw, bands in (({}, 8), (dict(num_hashes=16, bands=4, shingle_n=2), 4)):
        by_id = {}
        for i, band, bucket in _band_table(docs, **kw):
            by_id.setdefault(i, {})[band] = bucket
        assert set(by_id) == {"a", "b", "c"}
        assert len(by_id["a"]) == bands
        assert by_id["a"] == by_id["b"], kw
        assert by_id["a"] != by_id["c"], kw


# --- connected_components single-task endgame ---------------------------


def test_cc_endgame_matches_loop_random_graph(spark):
    random.seed(14)
    edges = [(random.randint(0, 400), random.randint(0, 400))
             for _ in range(700)]
    # self-loops + duplicates + a long chain tail
    edges += [(5, 5), (7, 7)] + edges[:50] + [(1000 + i, 1001 + i)
                                              for i in range(40)]
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    fast = {(r["id"], r["component"])
            for r in dedup.connected_components(pairs).collect()}
    loop = {(r["id"], r["component"])
            for r in dedup.connected_components(
                pairs, small_graph_rows=0).collect()}
    assert fast == loop


def test_cc_endgame_matches_loop_string_ids_and_nulls(spark):
    pairs = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y"), (None, "z"), ("q", None)],
        "id_a string, id_b string",
    )
    fast = {(r["id"], r["component"])
            for r in dedup.connected_components(pairs).collect()}
    loop = {(r["id"], r["component"])
            for r in dedup.connected_components(
                pairs, small_graph_rows=0).collect()}
    assert fast == loop
    # NULL-endpoint pairs drop whole on both paths
    assert {i for i, _ in fast} == {"a", "b", "c", "x", "y"}


# --- semantic_join vs brute force ON THE FIXTURES (ADVICE r13) ----------


def test_semantic_join_kernel_fold_parity_on_fixture(spark):
    """b33_semantic_join runs the BLAS arrow kernel, whose agreement with
    a sequential fold is empirical, not structural (a cosine near-tie
    within ~1e-16 could flip a winner on a future fixture). Check it
    against a pure-Python brute force on the registered query's own
    probe (sf0.01 fixture) so a fixture/data change surfaces here, not
    as an opaque oracle hash mismatch."""
    from bruteforce import nearest_right, semantic_join_result

    from ddataframeoperation_spark.catalog import read_fixture_table
    from ddataframeoperation_spark.operators import similarity

    emb = read_fixture_table(spark, "/root/testdata/sf0.01", "embeddings")
    left = emb.filter(F.col("vec_id") < 250)
    right = emb.filter(F.col("vec_id") >= 250)
    cents = similarity.kmeans_centroids(emb, k=8, iters=5)
    kern = semantic_join_result(
        similarity.semantic_join(left, right, cents, nprobe=None)
    )

    def rows(df):
        return [(r["vec_id"], r["embedding"]) for r in df.collect()]

    assert kern == nearest_right(rows(left), rows(right))
    assert len(kern) == left.count()


# --- triangle census vs brute force --------------------------------------


def _brute_triangles(edges):
    """(n_edges, oriented wedges, triangles) by enumeration: edges
    canonicalised lo < hi, self-loops and NULL endpoints dropped."""
    from itertools import combinations

    e = {
        (min(a, b), max(a, b))
        for a, b in edges
        if a is not None and b is not None and a != b
    }
    out = {}
    for lo, hi in e:
        out.setdefault(lo, []).append(hi)
    wedges = [(w1, w2) for hs in out.values()
              for w1, w2 in combinations(sorted(hs), 2)]
    return len(e), len(wedges), sum(w in e for w in wedges)


def test_triangle_block_kernel_matches_join_path(spark):
    random.seed(3)
    rows = []
    for blk in range(6):
        base = blk * 100
        for _ in range(120):
            rows.append((base + random.randint(0, 25),
                         base + random.randint(0, 25), f"b{blk}"))
    pairs = spark.createDataFrame(rows, "id_a long, id_b long, blk string")
    got = tuple(dedup.triangle_count(pairs).collect()[0])
    want = _brute_triangles([(a, b) for a, b, _ in rows])
    assert got == want
    assert want[2] > 0  # the comparison must not be vacuous
    empty = spark.createDataFrame([], "id_a long, id_b long, blk string")
    assert tuple(dedup.triangle_count(empty).collect()[0]) == (0, 0, 0)


# --- binary-search bucket assign vs the filter-count lambda --------------


def test_bucket_by_cuts_matches_filter_count(spark):
    """The rank machinery's O(log cuts) binary-search bucket assign must
    equal the old size(filter(cuts, x -> v > x)) count for every value —
    including duplicates, values equal to cuts, NaN and ±inf."""
    import math

    random.seed(21)
    vals = [float(random.randint(-8, 8)) for _ in range(1500)]
    vals += [random.uniform(-50, 50) for _ in range(1500)]
    vals += [float("nan")] * 7 + [float("inf"), float("-inf")] * 3
    df = spark.createDataFrame([(v,) for v in vals], "_v double")
    for buckets in (2, 7, 64, 512):
        probs = [i / buckets for i in range(1, buckets)]
        cuts = df.agg(
            F.percentile_approx("_v", probs, 10_000).alias("_cuts")
        )
        old_rows = (
            df.crossJoin(F.broadcast(cuts))
            .withColumn(
                "_bkt",
                F.size(F.filter(F.col("_cuts"), lambda x: F.col("_v") > x)),
            )
            .groupBy("_v", "_bkt").count().collect()
        )
        new_rows = (
            relational._bucket_by_cuts(
                df, cuts, "_v", "_cuts", buckets - 1, "_bkt"
            )
            .groupBy("_v", "_bkt").count().collect()
        )

        def key(rows):  # NaN-safe set encoding
            return sorted(
                (math.isnan(r["_v"]),
                 0.0 if math.isnan(r["_v"]) else r["_v"],
                 r["_bkt"], r["count"])
                for r in rows
            )

        assert key(new_rows) == key(old_rows), f"buckets={buckets}"


def test_bucket_by_cuts_integer_values(spark):
    df = spark.createDataFrame(
        [(v,) for v in [1, 1, 2, 3, 5, 8, 13, 21, 34, 55, 89]], "_v long"
    )
    buckets = 4
    probs = [i / buckets for i in range(1, buckets)]
    cuts = df.agg(F.percentile_approx("_v", probs, 10_000).alias("_cuts"))
    old = {
        (r["_v"], r["_bkt"])
        for r in df.crossJoin(F.broadcast(cuts)).withColumn(
            "_bkt",
            F.size(F.filter(F.col("_cuts"), lambda x: F.col("_v") > x)),
        ).collect()
    }
    new = {
        (r["_v"], r["_bkt"])
        for r in relational._bucket_by_cuts(
            df, cuts, "_v", "_cuts", buckets - 1, "_bkt"
        ).collect()
    }
    assert new == old
