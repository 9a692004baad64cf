"""Connected-components clustering and cluster dedup tests."""

from __future__ import annotations

from ddataframeoperation_spark.operators import dedup


def test_connected_components_chain_and_islands(spark):
    # Components: {1,2,3,4} (chain), {10,11} (pair); 99 untouched (no edges).
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "id_a long, id_b long"
    )
    comp = {r["id"]: r["component"] for r in dedup.connected_components(pairs).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_connected_components_deep_chain_converges_logarithmically(spark):
    # VERDICT r7 #2: a 1024-hop path — adversarial but possible in
    # scraped-web near-dup graphs. Plain min-label propagation needs 1024
    # rounds (and silently returned partial labels at the 20-round cap);
    # hook + double-shortcut closes it in <=7 rounds, which this pins by
    # setting max_iterations=7 with the default on_nonconverged="raise".
    n = 1024
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "id_a long, id_b long"
    )
    # small_graph_rows=0 forces the iterative loop — the r14 single-task
    # endgame would otherwise solve this tiny graph exactly in one pass
    # and this test exists to pin the LOOP's log-convergence contract.
    comp = {
        r["id"]: r["component"]
        for r in dedup.connected_components(
            pairs, max_iterations=7, small_graph_rows=0
        ).collect()
    }
    assert len(comp) == n + 1
    assert set(comp.values()) == {0}


def test_connected_components_nonconvergence_raises_and_warns(spark):
    import warnings

    import pytest

    # A 64-hop chain cannot converge in ONE round (hook + 2 shortcuts
    # reaches ~4 hops): the default must refuse loudly...
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(64)], "id_a long, id_b long"
    )
    # small_graph_rows=0 forces the loop (the r14 endgame converges any
    # small graph exactly, so nothing would raise) — this test pins the
    # LOOP's refuse-partial-labels contract.
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup.connected_components(pairs, max_iterations=1, small_graph_rows=0)
    # ...and warn-mode must return the partial (still valid-per-id) labels.
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        labels = dedup.connected_components(
            pairs, max_iterations=1, on_nonconverged="warn",
            small_graph_rows=0,
        ).collect()
    assert any("did not converge" in str(x.message) for x in w)
    assert len(labels) == 65


def test_connected_components_rejects_bad_on_nonconverged(spark):
    import pytest

    # A 3-edge graph takes the single-task endgame, which never consults
    # on_nonconverged; the bad value must still raise, before any job.
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 8)], "id_a long, id_b long"
    )
    with pytest.raises(ValueError, match="on_nonconverged"):
        dedup.connected_components(pairs, on_nonconverged="ignore")


def test_cluster_dedup_keeps_one_per_cluster(spark):
    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in (1, 2, 3, 4, 10, 11, 99)],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "id_a long, id_b long"
    )
    kept = sorted(r["doc_id"] for r in dedup.cluster_dedup(docs, pairs).collect())
    # One per cluster (lowest id) + the unpaired doc.
    assert kept == [1, 10, 99]


def test_full_neardup_pipeline(spark):
    base = "the quick brown fox jumps over the lazy dog and runs far away today"
    docs = spark.createDataFrame(
        [
            (1, base),
            (2, base + "!"),
            (3, base.upper()),
            (4, "an entirely different document about query engines and joins"),
        ],
        "doc_id long, text string",
    )
    pairs = dedup.minhash_candidates(docs)
    out = sorted(r["doc_id"] for r in dedup.cluster_dedup(docs, pairs).collect())
    assert out == [1, 4]
