"""Round-11 contract tests: the r10 VERDICT/ADVICE fixes.

1. dedup_token_savings empty/NULL-doc token matrix: a NULL-text doc and
   an empty-normalized doc both count EXACTLY 0 tokens (the explicit
   CASE, not an engine's split-of-empty convention — the round-10
   driver-red class), and savings_bp stays all-integer long.
2. common_neighbor_pairs is wedge-oriented: a hub graph completes with
   bounded wedge cost and the oriented form returns the same pairs as
   the naive definition.
3. rolling_origin_folds honours fold_col (ADVICE r10).
4. match_one_to_one output carries no duplicate column names when both
   sides share non-key columns (ADVICE r10).
5. bloom_filter_planner on an empty build side reports n=0 explicitly
   instead of NULL/div-by-zero (ADVICE r10).
"""

from __future__ import annotations

import pyspark.sql.functions as F


# ------------------------------- dedup_token_savings empty/NULL-doc matrix


def test_token_savings_empty_and_null_docs_count_zero(spark):
    from ddataframeoperation_spark.operators.dedup import dedup_token_savings

    df = spark.createDataFrame(
        [
            # NULL text and punctuation-only text normalize to '' — both
            # must count 0 tokens and share one fingerprint group.
            (1, "a", None),
            (2, "a", "!!! ... ???"),
            (3, "a", ""),
            # Real docs: 3 tokens, duplicated once across the source.
            (4, "b", "the quick fox"),
            (5, "b", "The Quick FOX!"),
            (6, "b", "one two"),
        ],
        "doc_id int, source string, text string",
    )
    out = {r["source"]: r.asDict() for r in dedup_token_savings(df).collect()}
    a, b = out["a"], out["b"]
    # Source a: 3 docs, all empty-normalized → one survivor, 0 tokens.
    assert (a["n_docs"], a["n_docs_kept"]) == (3, 1)
    assert (a["n_tokens"], a["n_tokens_kept"]) == (0, 0)
    assert a["savings_bp"] == 0  # 0-token source: explicit 0, not NULL/NaN
    # Source b: 8 tokens total, dedup drops the 3-token near-copy.
    assert (b["n_docs"], b["n_docs_kept"]) == (3, 2)
    assert (b["n_tokens"], b["n_tokens_kept"]) == (8, 5)
    assert b["savings_bp"] == (3 * 10000) // 8
    # All-integer contract: every numeric output is long.
    sch = dict(dedup_token_savings(df).dtypes)
    for c in ("n_docs", "n_docs_kept", "n_tokens", "n_tokens_kept", "savings_bp"):
        assert sch[c] == "bigint", (c, sch[c])


def test_oracle_checker_flags_hugeint_output(tmp_path):
    # The checker must hard-flag a HUGEINT oracle column (driver
    # materializes through pandas → float64 → hash mismatch) even though
    # its own fetchall() path would compare equal — exercise the ACTUAL
    # flag function on real DuckDB output types.
    import duckdb

    from tools.check_oracles import hash_unsafe_types, nan_to_none

    con = duckdb.connect()
    hug = con.sql("SELECT sum(x) AS s FROM (SELECT CAST(1 AS BIGINT) x)").types
    assert hash_unsafe_types(hug) == ["HUGEINT"]  # the b31 class
    dec = con.sql("SELECT CAST(1.5 AS DECIMAL(38,4)) AS d").types
    assert hash_unsafe_types(dec) == ["DECIMAL"]
    safe = con.sql("SELECT CAST(1 AS BIGINT) AS a, 1.5::DOUBLE AS b, 'x' AS c").types
    assert hash_unsafe_types(safe) == []
    # NaN normalization is scalar-only: ndarray cells pass through.
    import numpy as np

    assert nan_to_none(float("nan")) is None
    assert nan_to_none(3) == 3
    arr = np.array([1, 2])
    assert nan_to_none(arr) is arr
    # and the audit tool's hard set covers it
    from tools.oracle_type_audit import _DUCK_INT

    assert "BIGINT" in _DUCK_INT


# --------------------------------------- common_neighbor_pairs hub bounding


def _pairs(df):
    return {
        (r[0], r[1], r[2])
        for r in df.select("id_a", "id_b", "n_common").collect()
    }


def _naive_common_neighbors(edges, min_common):
    # Reference definition: non-adjacent unordered pairs (a<b) sharing
    # >= min_common neighbors in the symmetrized graph.
    import itertools

    adj: dict[int, set[int]] = {}
    eset = set()
    for s, d in edges:
        adj.setdefault(s, set()).add(d)
        adj.setdefault(d, set()).add(s)
        eset.add((min(s, d), max(s, d)))
    want = set()
    for a, b in itertools.combinations(sorted(adj), 2):
        if (a, b) in eset:
            continue
        n = len(adj[a] & adj[b])
        if n >= min_common:
            want.add((a, b, n))
    return want


def test_common_neighbor_pairs_hub_graph_matches_naive(spark):
    from ddataframeoperation_spark.operators.dedup import common_neighbor_pairs

    # Hub graph: node 0 touches 1..8; plus a path tail 9-10, 10-11 (so
    # 9 and 11 share center 10 and are non-adjacent).
    edges = [(0, i) for i in range(1, 9)] + [(9, 10), (10, 11)]
    e = spark.createDataFrame(edges, "id_a int, id_b int")
    got = _pairs(common_neighbor_pairs(e, min_common=1))
    assert got == _naive_common_neighbors(edges, 1)
    # the hub's spoke pairs are present without the guard
    assert (1, 2, 1) in got and (9, 11, 1) in got


def test_common_neighbor_pairs_max_degree_drops_hub_centers(spark):
    from ddataframeoperation_spark.operators.dedup import common_neighbor_pairs

    edges = [(0, i) for i in range(1, 9)] + [(9, 10), (10, 11)]
    e = spark.createDataFrame(edges, "id_a int, id_b int")
    got = _pairs(common_neighbor_pairs(e, min_common=1, max_degree=3))
    # Hub 0 (degree 8) is excluded as a WEDGE CENTER: its spoke pairs
    # disappear; the degree-2 center 10 survives, so (9, 11) stays.
    assert got == {(9, 11, 1)}


# --------------------------------------------- rolling_origin_folds fold_col


def test_rolling_origin_folds_respects_fold_col(spark):
    import pytest

    from ddataframeoperation_spark.operators.sampling import rolling_origin_folds

    df = spark.createDataFrame(
        [(f"2024-01-{d:02d} 00:00:00",) for d in range(1, 21)], "ts string"
    ).select(F.to_timestamp("ts").alias("ts"))
    origins = ["2024-01-08", "2024-01-12", "2024-01-16"]
    out = rolling_origin_folds(
        df, "ts", origins, horizon="2 days", fold_col="cv_fold"
    )
    assert "cv_fold" in out.columns and "fold" not in out.columns
    assert out.select("cv_fold").distinct().count() == 3
    # a pre-existing column named like fold_col must be rejected, not
    # silently collided with after the crossJoin
    with pytest.raises(ValueError, match="already exists"):
        rolling_origin_folds(
            df.withColumn("fold", F.lit(1)), "ts", origins
        )


# ---------------------------------------------- match_one_to_one column set


def test_match_one_to_one_no_duplicate_columns(spark):
    from ddataframeoperation_spark.operators.relational import match_one_to_one

    a = spark.createDataFrame(
        [(1, "t1", 10), (1, "t2", 20)], "g int, ts string, amt int"
    )
    b = spark.createDataFrame(
        [(1, "t3", 11), (1, "t4", 21), (1, "t5", 31)], "g int, ts string, amt int"
    )
    out = match_one_to_one(
        a,
        b,
        ["g"],
        order_a=[F.col("ts").asc()],
        order_b=[F.col("ts").asc()],
    )
    assert len(out.columns) == len(set(out.columns)), out.columns
    assert {"ts_a", "ts_b", "amt_a", "amt_b"} <= set(out.columns)
    rows = out.orderBy("k").collect()
    assert len(rows) == 2  # shorter side bounds the 1:1 matching
    assert [(r["amt_a"], r["amt_b"]) for r in rows] == [(10, 11), (20, 21)]
    # every column referenceable without AMBIGUOUS_REFERENCE
    for c in out.columns:
        out.select(c).take(1)


# ------------------------------------------------ bloom planner n=0 guard


def test_bloom_planner_empty_build_side(spark):
    import math

    from ddataframeoperation_spark.operators.skew import bloom_filter_planner

    empty = spark.createDataFrame([], "k int")
    # Empty build side (n=0): an EMPTY plan — never NULL arithmetic,
    # NaN/Inf in fp_pred, or an ANSI divide-by-zero.
    assert bloom_filter_planner(empty, "k").count() == 0
    allnull = spark.createDataFrame([(None,), (None,)], "k int")
    assert bloom_filter_planner(allnull, "k").count() == 0
    # and the non-empty path is unchanged: full ladder, finite fp
    build = spark.createDataFrame([(i,) for i in range(100)], "k int")
    rows = bloom_filter_planner(
        build, "k", n_bits_options=(1 << 14,), n_hashes_options=(1, 2)
    ).collect()
    assert len(rows) == 2
    for r in rows:
        assert r["n_build_keys"] == 100
        assert math.isfinite(r["fp_pred"]) and r["bits_per_key_x100"] > 0


# ------------------------------------- semantic_join top-1 aggregate parity


def test_semantic_join_matches_bruteforce_with_ties(spark):
    # The r11 plan change (row_number window -> map-side min(struct))
    # must preserve exact top-1 semantics INCLUDING the lowest-right-id
    # tiebreak. Tie-heavy adversarial data: vectors drawn from a tiny
    # alphabet so many right rows share the exact winning cosine. Plus
    # the no-valid-score classes: NULL-element and zero-norm candidates
    # score NaN and lose to any real score, and a left row with no
    # scorable candidate (zero-norm left) emits NaN with the lowest rid.
    from bruteforce import NAN, nearest_right, semantic_join_result

    from ddataframeoperation_spark.operators.similarity import semantic_join

    alphabet = [
        [1.0, 0.0, 0.0, 0.0],
        [0.0, 1.0, 0.0, 0.0],
        [1.0, 1.0, 0.0, 0.0],
        [0.5, 0.5, 0.5, 0.5],
        [1.0, 0.0, 1.0, 0.0],
    ]
    rows = [(i, alphabet[i % len(alphabet)]) for i in range(40)]
    rows[3] = (3, [0.0, 0.0, 0.0, 0.0])       # zero-norm left row
    rows[10] = (10, [1.0, None, 0.0, 0.0])    # NULL-element candidate
    rows[11] = (11, [0.0, 0.0, 0.0, 0.0])     # zero-norm candidate
    df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    left = df.filter("vec_id < 10")
    right = df.filter("vec_id >= 10")
    cents = [[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 1.0, 1.0]]
    got = semantic_join_result(semantic_join(left, right, cents, nprobe=None))
    want = nearest_right(rows[:10], rows[10:])
    assert got == want
    # the rules are exercised, not vacuous
    assert want[3] == (10, NAN)
    assert all(rid not in (10, 11) for lid, (rid, _) in want.items() if lid != 3)
    assert want[0] == (15, 1.0)  # five exact ties: 15, 20, 25, ... -> 15


def test_match_one_to_one_suffix_collision_rejected(spark):
    import pytest

    from ddataframeoperation_spark.operators.relational import match_one_to_one

    a = spark.createDataFrame([(1, "x", "y")], "g int, ts string, ts_a string")
    b = spark.createDataFrame([(1, "z")], "g int, ts string")
    with pytest.raises(ValueError, match="suffix collision"):
        match_one_to_one(
            a, b, ["g"],
            order_a=[F.col("ts").asc()],
            order_b=[F.col("ts").asc()],
        )


def test_semantic_join_string_ids(spark):
    # The top-1 aggregate must not negate the ID (r11 review): string
    # ids exercise the type-generic tiebreak under ANSI mode.
    from ddataframeoperation_spark.operators.similarity import semantic_join

    left = spark.createDataFrame(
        [("L1", [1.0, 0.0]), ("L2", [0.0, 1.0])],
        "vec_id string, embedding array<double>",
    )
    right = spark.createDataFrame(
        [("RA", [1.0, 0.0]), ("RB", [1.0, 0.0]), ("RC", [0.0, 1.0])],
        "vec_id string, embedding array<double>",
    )
    got = {
        r["l_vec_id"]: r["r_vec_id"]
        for r in semantic_join(
            left, right, [[1.0, 0.0], [0.0, 1.0]], nprobe=None
        ).collect()
    }
    # L1 ties RA/RB at cos=1 -> lowest right id RA wins; L2 -> RC.
    assert got == {"L1": "RA", "L2": "RC"}


def test_keyword_pagerank_checkpoint_dir_matches_local(spark, tmp_path):
    # The r11 checkpoint_dir passthrough (parquet edge materialization +
    # forwarded pagerank rounds) must be a pure plumbing choice: ranks
    # identical to the localCheckpoint default.
    from ddataframeoperation_spark.operators.text import keyword_pagerank

    docs = spark.createDataFrame(
        [
            (1, "spark shuffles data between stages"),
            (2, "spark shuffles data across executors"),
            (3, "data between stages moves in shuffles"),
            (4, "executors cache data between stages"),
        ],
        "doc_id int, text string",
    )
    base = {
        (r["token"], r["rank_units"])
        for r in keyword_pagerank(docs, min_count=2, n_iter=3, k=5).collect()
    }
    ckpt = {
        (r["token"], r["rank_units"])
        for r in keyword_pagerank(
            docs, min_count=2, n_iter=3, k=5,
            checkpoint_dir=str(tmp_path / "kwpr"),
        ).collect()
    }
    assert base == ckpt and len(base) > 0
    # r12: keyword_pagerank owns its checkpoint lifecycle — the top-k is
    # bounded, so it materializes and sweeps its own round files; the
    # directory must NOT accumulate run dirs (VERDICT r11 #6).
    kw = tmp_path / "kwpr"
    assert not any(kw.iterdir()) if kw.exists() else True
