"""Manifest table format (sources/table_format.py): snapshot
isolation, atomic publish, restatement, branches and expiry."""

from __future__ import annotations

import os

import pytest

from quick_and_easy_vectordb_spark.sources.table_format import ManifestParquetFormat


@pytest.fixture()
def table(tmp_path):
    return os.path.join(str(tmp_path), "t")


def test_commit_versions_and_latest_read(spark, table):
    fmt = ManifestParquetFormat()
    assert fmt.versions(table) == []
    v1 = fmt.commit(spark.range(3), table)
    v2 = fmt.commit(spark.range(3, 5), table)
    assert (v1, v2) == (1, 2)
    assert fmt.versions(table) == [1, 2]
    assert sorted(r.id for r in fmt.read(spark, table).collect()) == [
        0, 1, 2, 3, 4,
    ]


def test_snapshot_isolation_under_restatement(spark, table):
    """A pinned version's result must not change when a later commit
    RESTATES one of its files — the property the whole design exists
    for (readers pin manifests; writers never touch referenced
    files)."""
    fmt = ManifestParquetFormat()
    fmt.commit(spark.range(10), table, name="orig")
    v1_before = sorted(r.id for r in fmt.read(spark, table, 1).collect())
    fmt.commit(
        spark.range(100, 105), table, replace="orig", name="restated"
    )
    assert sorted(
        r.id for r in fmt.read(spark, table, 1).collect()
    ) == v1_before
    assert sorted(r.id for r in fmt.read(spark, table, 2).collect()) == [
        100, 101, 102, 103, 104,
    ]


def test_no_tmp_manifest_left_behind(spark, table):
    """The publish step is write-tmp + rename: after a commit no .tmp
    file may remain (a crashed commit leaves only an invisible tmp,
    never a half-written manifest)."""
    fmt = ManifestParquetFormat()
    fmt.commit(spark.range(2), table)
    md = os.path.join(table, "manifests")
    assert sorted(os.listdir(md)) == ["v1.json"]


def test_read_missing_table_raises(spark, table):
    with pytest.raises(FileNotFoundError):
        ManifestParquetFormat().read(spark, table)


def test_expire_vacuums_only_unreferenced_files(spark, table):
    """Expiry refcounts files ACROSS retained versions: a file shared
    with the kept version must survive even though an expired version
    also references it."""
    fmt = ManifestParquetFormat()
    fmt.commit(spark.range(3), table, name="shared")           # v1
    fmt.commit(spark.range(3, 6), table, name="old")           # v2
    fmt.commit(spark.range(6, 9), table, replace="old",
               name="new")                                     # v3
    stats = fmt.expire(table, keep_versions=[3])
    assert stats == {"live": 2, "expired": 1}
    assert fmt.versions(table) == [3]
    # kept version still fully readable (shared file survived)
    assert sorted(r.id for r in fmt.read(spark, table).collect()) == [
        0, 1, 2, 6, 7, 8,
    ]
    with pytest.raises(FileNotFoundError):
        fmt._load(table, 2)


def test_commit_is_retry_safe_after_partial_failure(spark, table):
    """Round-10 (ADVICE r09): a crash between df.write and the manifest
    rename leaves an orphaned data dir; a RERUN with the same logical
    name must succeed (fresh physical uuid dir), and expire() must
    vacuum the orphan. Simulated by writing a data dir with no
    manifest, exactly the post-crash state."""
    fmt = ManifestParquetFormat()
    # simulate the crashed first attempt: data written, no manifest
    orphan_dir = os.path.join(table, "data", "orig-deadbeef")
    spark.range(5).write.parquet(orphan_dir)
    assert fmt.versions(table) == []
    # the retry with the same logical name must not hit mode('error')
    v1 = fmt.commit(spark.range(10), table, name="orig")
    assert v1 == 1
    assert sorted(r.id for r in fmt.read(spark, table).collect()) == list(
        range(10)
    )
    # the orphan is unreferenced; expire() vacuums it, keeps the live file
    stats = fmt.expire(table, keep_versions=[1])
    assert stats == {"live": 1, "expired": 1}
    assert not os.path.exists(orphan_dir)
    assert sorted(r.id for r in fmt.read(spark, table).collect()) == list(
        range(10)
    )


def test_same_logical_name_twice_gets_distinct_physical_dirs(spark, table):
    """Two commits reusing a logical entry name (the restatement
    pattern) must never collide on disk."""
    fmt = ManifestParquetFormat()
    fmt.commit(spark.range(3), table, name="chunk")
    fmt.commit(spark.range(10, 13), table, replace="chunk", name="chunk")
    data_dirs = os.listdir(os.path.join(table, "data"))
    assert len(data_dirs) == 2 and len(set(data_dirs)) == 2
    assert sorted(r.id for r in fmt.read(spark, table, 2).collect()) == [
        10, 11, 12,
    ]
    # v1 snapshot still intact (old physical dir untouched)
    assert sorted(r.id for r in fmt.read(spark, table, 1).collect()) == [
        0, 1, 2,
    ]


def test_branch_fork_isolation_and_expire_safety(spark, table):
    """Round-10 branching: a branch is a zero-copy metadata fork; its
    commits never leak into main and vice versa; and expiring main
    versions must NOT vacuum files the branch still references (the
    refs-vs-GC hazard)."""
    fmt = ManifestParquetFormat()
    fmt.commit(spark.range(5), table, name="base")          # main v1
    bp = fmt.branch(table, "exp", from_version=1)
    # branch sees main@v1 without any data copy
    assert sorted(r.id for r in fmt.read(spark, bp).collect()) == list(
        range(5)
    )
    data_root = os.path.join(table, "data")
    n_dirs_before = len(os.listdir(data_root))
    fmt.commit(spark.range(100, 103), bp, name="exp_only")  # exp v2
    fmt.commit(spark.range(5, 8), table, name="more")       # main v2
    # isolation both ways
    assert sorted(r.id for r in fmt.read(spark, table).collect()) == list(
        range(8)
    )
    assert sorted(r.id for r in fmt.read(spark, bp).collect()) == [
        0, 1, 2, 3, 4, 100, 101, 102,
    ]
    # the fork itself copied no data files under main
    assert len(os.listdir(data_root)) == n_dirs_before + 1  # main v2 only
    # branching is idempotent
    assert fmt.branch(table, "exp", from_version=1) == bp
    # expire main down to v2 only: the 'base' file is in main v2 AND
    # pinned by the branch — it must survive; branch stays readable
    stats = fmt.expire(table, keep_versions=[2])
    # live = base + more (main v2) + exp_only (branch-pinned)
    assert stats["live"] == 3
    assert sorted(r.id for r in fmt.read(spark, bp).collect()) == [
        0, 1, 2, 3, 4, 100, 101, 102,
    ]


def test_expire_keeps_branch_only_files(spark, table):
    """Even when main expires EVERY version that references a file, a
    branch manifest pinning it keeps it on disk."""
    fmt = ManifestParquetFormat()
    fmt.commit(spark.range(3), table, name="old")            # v1
    bp = fmt.branch(table, "keepme", from_version=1)
    fmt.commit(spark.range(10, 12), table, replace="old",
               name="new")                                   # v2 drops old
    stats = fmt.expire(table, keep_versions=[2])
    assert stats["expired"] == 0  # 'old' pinned by the branch
    assert sorted(r.id for r in fmt.read(spark, bp).collect()) == [0, 1, 2]
    assert sorted(r.id for r in fmt.read(spark, table).collect()) == [10, 11]


def test_expire_keeps_restated_name_across_kept_versions(spark, table):
    """Round-11 (ADVICE r10, high): liveness is tracked by PATH, not
    logical name. Restate 'x' (v1→path1, v2→path2), keep BOTH
    versions: the vacuum must not delete path1 just because the name
    'x' now resolves to path2 in the latest manifest."""
    fmt = ManifestParquetFormat()
    fmt.commit(spark.range(3), table, name="x")                   # v1
    fmt.commit(spark.range(10, 13), table, replace="x", name="x")  # v2
    stats = fmt.expire(table, keep_versions=[1, 2])
    assert stats == {"live": 2, "expired": 0}
    # kept v1 must remain fully readable after the vacuum
    assert sorted(r.id for r in fmt.read(spark, table, 1).collect()) == [
        0, 1, 2,
    ]
    assert sorted(r.id for r in fmt.read(spark, table, 2).collect()) == [
        10, 11, 12,
    ]


def test_expire_keeps_branch_pinned_path_after_main_restates(spark, table):
    """Round-11 (ADVICE r10, high): a branch seeded from main@v1 pins
    v1's PHYSICAL path. When main later restates the same logical name
    and expires down to the restated version, the branch's data must
    survive (name-keyed liveness collapsed 'x' to main's latest path
    and deleted the fork's file)."""
    fmt = ManifestParquetFormat()
    fmt.commit(spark.range(3), table, name="x")                   # v1
    bp = fmt.branch(table, "fork", from_version=1)
    fmt.commit(spark.range(10, 13), table, replace="x", name="x")  # v2
    stats = fmt.expire(table, keep_versions=[2])
    assert stats["expired"] == 0  # v1's path pinned by the branch
    assert sorted(r.id for r in fmt.read(spark, bp).collect()) == [0, 1, 2]
    assert sorted(r.id for r in fmt.read(spark, table).collect()) == [
        10, 11, 12,
    ]


def test_diff_paths_counts_restatement_as_added(spark, table):
    """Round-11 (ADVICE r10, medium): diff_paths compares PATHS, so a
    restated entry (same logical name, fresh uuid dir) is returned —
    matching read_diff's documented CDF semantics. An unchanged entry
    (same name, same path) is not."""
    fmt = ManifestParquetFormat()
    fmt.commit(spark.range(3), table, name="keep")                 # v1
    fmt.commit(spark.range(5, 8), table, name="x")                 # v2
    fmt.commit(spark.range(10, 13), table, replace="x", name="x")  # v3
    # v2→v3: 'keep' unchanged (excluded), 'x' restated (included)
    paths = fmt.diff_paths(table, 2, 3)
    assert len(paths) == 1
    added = fmt.read_diff(spark, table, 2, 3)
    assert sorted(r.id for r in added.collect()) == [10, 11, 12]
    # v1→v2: plain addition still reported
    assert len(fmt.diff_paths(table, 1, 2)) == 1


def test_concurrent_publish_conflict_and_rebase(spark, table):
    """Round-14 (VERDICT r13 item 4): optimistic concurrency. Two
    writers stage on the same base; the loser's naive publish raises
    CommitConflict WITHOUT corrupting the winner's manifest, and a
    rebase retry lands it as the next version with both updates
    visible."""
    import json

    from quick_and_easy_vectordb_spark.sources.table_format import (
        CommitConflict,
    )

    fmt = ManifestParquetFormat()
    v1 = fmt.commit(spark.range(3), table, name="base")
    assert v1 == 1
    base_files = fmt._load(table, 1)["files"]

    # Both writers stage against v1.
    name_a, dir_a = fmt.stage(spark.range(10, 13), table, "writer_a")
    name_b, dir_b = fmt.stage(spark.range(20, 23), table, "writer_b")

    # A publishes v2 first and wins.
    fmt.try_publish(table, {**base_files, name_a: dir_a}, 2)
    winner_manifest = json.load(
        open(os.path.join(table, "manifests", "v2.json"))
    )

    # B's stale publish at the same version must CONFLICT...
    with pytest.raises(CommitConflict, match="version 2"):
        fmt.try_publish(table, {**base_files, name_b: dir_b}, 2)
    # ...and must not have touched the winner's manifest (equality,
    # not just existence) or left a tmp file behind.
    assert json.load(
        open(os.path.join(table, "manifests", "v2.json"))
    ) == winner_manifest
    assert not [
        f for f in os.listdir(os.path.join(table, "manifests"))
        if f.endswith(".tmp")
    ]

    # The rebase retry lands B as v3; both writers' rows are visible.
    v3 = fmt.publish_entry(table, name_b, dir_b)
    assert v3 == 3
    assert sorted(r.id for r in fmt.read(spark, table).collect()) == [
        0, 1, 2, 10, 11, 12, 20, 21, 22,
    ]
    # The winner's snapshot (v2) stays pinned: no writer_b rows.
    assert sorted(r.id for r in fmt.read(spark, table, 2).collect()) == [
        0, 1, 2, 10, 11, 12,
    ]


def test_unsafe_rebases_surface_as_conflicts(spark, table):
    from quick_and_easy_vectordb_spark.sources.table_format import (
        CommitConflict,
    )

    fmt = ManifestParquetFormat()
    fmt.commit(spark.range(3), table, name="chunk")

    # Double-commit: two writers chose the same logical name.
    name2, dir2 = fmt.stage(spark.range(5), table, "chunk")
    with pytest.raises(CommitConflict, match="double-commit"):
        fmt.publish_entry(table, name2, dir2)

    # Concurrent restatement: writer A restates 'chunk' (v2); writer
    # B, staged before that, also restates 'chunk' — rebase would
    # silently drop A's update, so it must surface.
    fmt.commit(spark.range(10, 13), table, replace="chunk", name="chunk")
    name_b, dir_b = fmt.stage(spark.range(30, 33), table, "chunk_v2")
    fmt.commit(spark.range(40, 43), table, replace="chunk",
               name="chunk")  # A wins again: 'chunk' now restated
    with pytest.raises(CommitConflict, match="gone from"):
        fmt.publish_entry(table, name_b, dir_b, replace="chunk_old")
