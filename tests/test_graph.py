"""Connected-components / cluster-resolution tests."""

from __future__ import annotations

from quick_and_easy_vectordb_spark.operators.graph import (
    connected_components,
    dup_clusters,
)


def test_cc_chain_and_separate_cluster(spark):
    # chain 1-2-3-4 (diameter > 1 forces multiple iterations) + pair 10-11
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "id_a long, id_b long"
    )
    comp = {r.id: r.component for r in connected_components(edges).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_cc_long_chain_converges(spark):
    n = 12
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "id_a long, id_b long"
    )
    comp = {r.id: r.component for r in connected_components(edges).collect()}
    assert set(comp.values()) == {0} and len(comp) == n + 1


def test_dup_clusters_shape(spark):
    edges = spark.createDataFrame(
        [(5, 3), (3, 9), (20, 21)], "id_a long, id_b long"
    )
    rows = {r.keep_id: r for r in dup_clusters(edges).collect()}
    assert rows[3].n_members == 3 and rows[3].members == [3, 5, 9]
    assert rows[20].n_members == 2 and rows[20].members == [20, 21]


def test_cc_star_rounds_beat_diameter(spark):
    # A 120-vertex chain has diameter 120; alternating star rounds
    # must converge well within 12 rounds (O(log^2), not O(diameter)).
    n = 120
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "id_a long, id_b long"
    )
    comp = {
        r.id: r.component
        for r in connected_components(edges, max_iter=12).collect()
    }
    assert set(comp.values()) == {0} and len(comp) == n + 1


def test_cc_adversarial_id_layout_chain(spark):
    """The round-9 regression: a chain whose SHUFFLED ids point label
    pointers away from the minimum defeated the old label-propagation
    + path-halving operator (it silently returned split components on
    the geo DBSCAN graph). Star rounds contract the graph itself, so
    the id layout must not matter."""
    import random

    n = 200
    perm = list(range(n))
    random.Random(7).shuffle(perm)
    edges = spark.createDataFrame(
        [(perm[i], perm[i + 1]) for i in range(n - 1)],
        "id_a long, id_b long",
    )
    comp = {r.id: r.component for r in connected_components(edges).collect()}
    assert set(comp.values()) == {0} and len(comp) == n


def test_cc_exhausted_cap_raises_not_wrong(spark):
    """An exhausted iteration budget must RAISE — the old operator
    returned split components instead, which is how the round-9 bug
    stayed invisible for eight rounds."""
    import pytest

    n = 300
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(edges, max_iter=1)


def test_cc_isolated_self_loop_vertex(spark):
    edges = spark.createDataFrame(
        [(1, 2), (7, 7)], "id_a long, id_b long"
    )
    comp = {r.id: r.component for r in connected_components(edges).collect()}
    assert comp == {1: 1, 2: 1, 7: 7}


def test_cc_leaves_session_conf_alone(spark):
    """The operator writes no session conf, also when it runs three
    times at once and on checkpoint-derived input: a localCheckpointed
    edge list, and a CC output fed back into CC (the incremental-merge
    shape of dedup_cc_incremental), with constraint propagation left
    as the session has it."""
    import threading

    _CP = "spark.sql.constraintPropagation.enabled"
    before = spark.conf.get(_CP, None)
    got, errs = {}, []

    def run(lo):
        try:
            edges = spark.createDataFrame(
                [(lo + i, lo + i + 1) for i in range(5)] + [(lo + 20, lo + 21)],
                "id_a long, id_b long",
            ).localCheckpoint()
            first = connected_components(edges)
            again = connected_components(
                first.unionByName(
                    spark.createDataFrame(
                        [(lo + 5, lo + 20)], "id long, component long"
                    )
                ),
                "id",
                "component",
            )
            got[lo] = {r.id: r.component for r in again.collect()}
        except Exception as e:  # pragma: no cover — surfaced below
            errs.append(e)

    ts = [threading.Thread(target=run, args=(k * 100,)) for k in range(3)]
    for t in ts:
        t.start()
    for t in ts:
        t.join(timeout=600)
    assert not any(t.is_alive() for t in ts)
    assert not errs, errs
    for lo in (0, 100, 200):
        assert got[lo] == {lo + i: lo for i in [*range(6), 20, 21]}
    assert spark.conf.get(_CP, None) == before


def test_cc_mixed_nullability_endpoints(spark):
    """A non-nullable and a nullable endpoint column (as when a
    spark.range id meets a nullable ``id % k``): a self-union of such
    edges fails Spark 4 analysis with "key not found: <attr>" while
    constraint propagation is on, so the operator builds its
    symmetric edges without one."""
    from pyspark.sql.types import LongType, StructField, StructType

    schema = StructType([
        StructField("id_a", LongType(), False),
        StructField("id_b", LongType(), True),
    ])
    edges = spark.createDataFrame([(i % 3, i + 10) for i in range(9)], schema)
    comp = {r.id: r.component for r in connected_components(edges).collect()}
    assert comp == {0: 0, 1: 1, 2: 2, **{i + 10: i % 3 for i in range(9)}}


def test_cc_job_budget(spark):
    """Jobs started by one call on the chain-plus-pair graph of
    test_cc_chain_and_separate_cluster: at most 30, the count since
    one star-forest test decides convergence (56 before, with a
    fingerprint job per round and a no-op confirmation round). An extra
    confirmation round or a second convergence check per round shows
    up here as a higher count."""
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "id_a long, id_b long"
    )
    sc = spark.sparkContext
    group = "test_cc_job_budget"
    sc.setJobGroup(group, group)
    try:
        connected_components(edges)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert len(jobs) <= 30, len(jobs)


def test_cc_keeps_the_callers_cache(spark):
    """An edge list the caller persisted is still persisted, at the same
    level, after a call: the operator caches (and uncaches) only an input
    that was not cached."""
    from pyspark import StorageLevel

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
    ).persist(StorageLevel.MEMORY_AND_DISK)
    try:
        level = edges.storageLevel
        comp = {r.id: r.component for r in connected_components(edges).collect()}
        assert comp == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}
        assert edges.storageLevel == level != StorageLevel.NONE
    finally:
        edges.unpersist()
