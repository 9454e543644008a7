"""Table IO — Iceberg-style snapshot catalog over immutable Parquet segments.

No Iceberg runtime jar ships in this sandbox, so the engine carries its own
catalog implementing the same commit protocol Iceberg documents publicly
(spec: snapshots + manifests + optimistic metadata commit). The properties
the design needs (SURVEY.md §1.2) and how they are met:

- **Immutable data**: every write stages its Parquet files into a fresh
  ``data/seg-<uuid>/`` segment directory. No writer ever mutates or deletes
  a live file, so concurrent writers can never clobber each other's data —
  the failure mode of the round-4 shim (append-during-compact data loss,
  ADVICE r4) is structurally impossible.
- **Tracked file manifests**: a snapshot is a JSON state file listing the
  exact data files that make up the table at that version. Readers read the
  manifest, never ``listdir`` of a shared mutable directory.
- **Optimistic CAS commits**: committing version N+1 means atomically
  creating ``_snapshots/v{N+1}.json`` via exclusive-create (``os.link`` of
  a fully-written temp file — fails with EEXIST if another writer won).
  Losers re-read the new head and retry (appends merge trivially; rewrites
  raise :class:`CommitConflict` because their staged data derives from a
  stale snapshot, exactly like Iceberg's ``rewrite_data_files``). This is
  the object-store-portable primitive: on S3/GCS it maps to a conditional
  If-None-Match PUT of the same version object; no flock, no POSIX rename
  semantics, no shared mutable state beyond the version counter.
- **Snapshot isolation + time travel**: a reader resolves the head version
  once and then only touches immutable files, so a query never sees a
  half-committed table. ``read(..., version=N)`` reads any retained
  historical version.
- **Dynamic partition overwrite** for idempotent re-runs (the reference's
  overlap re-compute + last-write-wins storage, launcher.py:40-44) is a
  manifest operation: the new snapshot drops tracked files whose partition
  path matches a partition present in the staged segment.

On a real cluster this module is swapped for the Iceberg catalog: the
``Catalog`` API (write/append/overwrite_partitions/read/snapshots/compact/
expire_snapshots) matches what ``df.writeTo(table)`` + table maintenance
procedures provide. At 100 TB the single JSON file list becomes a manifest
*tree* (manifest-list -> manifests, as Iceberg does); the commit protocol —
the part that breaks first on object stores — is identical.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from dataclasses import asdict, dataclass
from functools import reduce

from pyspark.sql import DataFrame, SparkSession


class CommitConflict(RuntimeError):
    """A rewrite/compact staged its output against a snapshot that is no
    longer the table head (a concurrent commit landed first). The staged
    segment has been discarded; re-read and re-stage to retry — identical
    to Iceberg's ValidationException on rewrite_data_files."""


@dataclass
class Snapshot:
    snapshot_id: int
    table: str
    mode: str               # "overwrite" | "append" | "overwrite_partitions" | "rewrite"
    rows: int | None
    committed_at: float
    watermark: str | None = None  # max event time covered by this write


class Catalog:
    def __init__(self, base_path: str):
        self.base_path = base_path
        os.makedirs(base_path, exist_ok=True)

    # -- paths -------------------------------------------------------------
    def _table_dir(self, name: str) -> str:
        return os.path.join(self.base_path, name)

    def _data_dir(self, name: str) -> str:
        return os.path.join(self._table_dir(name), "data")

    def _meta_dir(self, name: str) -> str:
        return os.path.join(self._table_dir(name), "_snapshots")

    def _version_path(self, name: str, version: int) -> str:
        return os.path.join(self._meta_dir(name), f"v{version:09d}.json")

    # -- snapshot state ----------------------------------------------------
    def _versions(self, name: str) -> list[int]:
        d = self._meta_dir(name)
        if not os.path.isdir(d):
            return []
        out = []
        for f in os.listdir(d):
            if f.startswith("v") and f.endswith(".json"):
                try:
                    out.append(int(f[1:-5]))
                except ValueError:
                    pass
        return sorted(out)

    def _load_version(self, name: str, version: int) -> dict:
        with open(self._version_path(name, version)) as f:
            return json.load(f)

    def _head(self, name: str) -> tuple[int, dict]:
        """Resolve the current table head: highest committed version file.
        Version files are immutable and appear atomically (written to a
        temp name, then hard-linked into place), so a concurrent reader
        sees either version N or N+1, never a torn state."""
        versions = self._versions(name)
        if not versions:
            return 0, {"snapshots": [], "files": []}
        return versions[-1], self._load_version(name, versions[-1])

    def snapshots(self, name: str) -> list[Snapshot]:
        _, state = self._head(name)
        return [Snapshot(**rec) for rec in state["snapshots"]]

    def last_snapshot_id(self, name: str) -> int | None:
        v, _ = self._head(name)
        return v or None

    def tracked_files(self, name: str, version: int | None = None) -> list[str]:
        """Data files (relative to data/) composing the table at a version."""
        if version is None:
            _, state = self._head(name)
        else:
            state = self._load_version(name, version)
        return list(state["files"])

    # -- CAS commit --------------------------------------------------------
    def _try_publish(self, name: str, version: int, state: dict) -> bool:
        """Atomically publish ``state`` as version ``version`` iff no other
        writer has. The temp file is fully written and closed before the
        ``os.link`` — the link either materializes the complete file under
        the version name or fails with EEXIST (the CAS losing branch). On
        an object store this is a conditional PUT (If-None-Match: *)."""
        d = self._meta_dir(name)
        os.makedirs(d, exist_ok=True)
        tmp = os.path.join(d, f".tmp-{uuid.uuid4().hex}")
        with open(tmp, "w") as f:
            json.dump(state, f, indent=1)
            f.flush()
            os.fsync(f.fileno())
        try:
            os.link(tmp, self._version_path(name, version))
            return True
        except FileExistsError:
            return False
        finally:
            os.unlink(tmp)

    @staticmethod
    def _partition_key(relpath: str) -> tuple[str, ...]:
        """The ``col=val`` path components of a tracked file — the table's
        partition tuple for dynamic-partition-overwrite matching."""
        return tuple(p for p in relpath.split("/")[:-1] if "=" in p)

    def _commit_files(
        self,
        snap: Snapshot,
        added: list[str],
        expected_parent: int | None = None,
        added_stats: dict[str, dict] | None = None,
    ) -> int:
        """Optimistic commit loop: read head, compute the new tracked file
        list from ``snap.mode``, CAS-publish head+1. Appends and partition
        overwrites merge against whatever head they land on and simply
        retry on a lost race; rewrites (mode='rewrite'/'overwrite' with
        ``expected_parent``) abort with :class:`CommitConflict` if the head
        moved, because their staged output derives from a stale file set."""
        replaced = {self._partition_key(f) for f in added}
        while True:
            head_v, state = self._head(snap.table)
            if expected_parent is not None and head_v != expected_parent:
                raise CommitConflict(
                    f"{snap.table}: staged against v{expected_parent}, "
                    f"head is now v{head_v}"
                )
            if snap.mode == "append":
                files = state["files"] + added
            elif snap.mode == "overwrite_partitions":
                files = [
                    f for f in state["files"]
                    if self._partition_key(f) not in replaced
                ] + added
            else:  # overwrite / rewrite: staged segment replaces everything
                files = list(added)
            snap.snapshot_id = head_v + 1
            kept = set(files)
            stats = {
                f: st
                for f, st in state.get("stats", {}).items()
                if f in kept
            }
            stats.update(added_stats or {})
            new_state = {
                "snapshots": state["snapshots"] + [asdict(snap)],
                "files": files,
                "stats": stats,
            }
            if self._try_publish(snap.table, head_v + 1, new_state):
                return snap.snapshot_id
            # lost the CAS race — loop re-reads the new head and retries
            # (or raises CommitConflict above when a parent was pinned)

    # -- file statistics (manifest data skipping) --------------------------
    @staticmethod
    def _stats_value(v):
        """JSON-able, ORDER-PRESERVING encoding of a parquet stat value:
        numbers pass through; timestamps/dates become ISO strings (which
        compare lexicographically in timestamp order)."""
        import datetime

        if isinstance(v, (datetime.datetime, datetime.date)):
            return v.isoformat(sep=" ")
        if isinstance(v, (int, float, str)):
            return v
        return None

    def _collect_file_stats(
        self, name: str, files: list[str], cols: list[str]
    ) -> dict[str, dict]:
        """Min/max per requested column from each staged file's parquet
        footer (no data read) — the manifest-level data-skipping stats
        Iceberg keeps per data file. Columns with no usable stats are
        simply absent; skipping is conservative."""
        import pyarrow.parquet as pq

        out: dict[str, dict] = {}
        for f in files:
            md = pq.ParquetFile(
                os.path.join(self._data_dir(name), f)
            ).metadata
            per_col: dict[str, list] = {}
            bad: set[str] = set()  # any row group without min/max -> no stat
            for rg in range(md.num_row_groups):
                row = md.row_group(rg)
                for ci in range(row.num_columns):
                    col = row.column(ci)
                    cname = col.path_in_schema
                    if cname not in cols or cname in bad:
                        continue
                    st = col.statistics
                    lo = self._stats_value(st.min) if st and st.has_min_max else None
                    hi = self._stats_value(st.max) if st and st.has_min_max else None
                    if lo is None or hi is None:
                        bad.add(cname)
                        per_col.pop(cname, None)
                        continue
                    if cname in per_col:
                        per_col[cname] = [
                            min(per_col[cname][0], lo),
                            max(per_col[cname][1], hi),
                        ]
                    else:
                        per_col[cname] = [lo, hi]
            if per_col:
                out[f] = per_col
        return out

    @staticmethod
    def _default_stats_cols(df: DataFrame) -> list[str]:
        from pyspark.sql import types as T

        return [
            f.name
            for f in df.schema.fields
            if isinstance(
                f.dataType,
                (T.TimestampType, T.TimestampNTZType, T.DateType),
            )
        ]

    # -- staging -----------------------------------------------------------
    def _stage(
        self, name: str, df: DataFrame, partition_by: list[str] | None
    ) -> list[str]:
        """Write ``df`` into a fresh immutable segment dir and return the
        relative paths of the staged parquet files. Staging is entirely
        outside the commit critical section — N writers stage in parallel
        with zero coordination — and a segment is invisible to readers
        until a snapshot references it."""
        seg = f"seg-{uuid.uuid4().hex[:16]}"
        seg_dir = os.path.join(self._data_dir(name), seg)
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(seg_dir)
        files = []
        for root, _, names in os.walk(seg_dir):
            rel_root = os.path.relpath(root, self._data_dir(name))
            files.extend(
                os.path.join(rel_root, f) for f in names if f.endswith(".parquet")
            )
        return sorted(files)

    def _discard_segment(self, name: str, files: list[str]) -> None:
        segs = {f.split("/", 1)[0] for f in files}
        for seg in segs:
            shutil.rmtree(
                os.path.join(self._data_dir(name), seg), ignore_errors=True
            )

    # -- writes ------------------------------------------------------------
    def write(
        self,
        name: str,
        df: DataFrame,
        mode: str = "overwrite",
        partition_by: list[str] | None = None,
        watermark: str | None = None,
        count_rows: bool = False,
        stats_cols: list[str] | None = None,
    ) -> int:
        """Write a table; returns the committed snapshot id (== version).

        ``overwrite`` is safe even when ``df`` derives from this same table
        (the classic Spark can't-overwrite-what-it-reads trap): the read
        targets the old segments, the write stages a new one.

        ``stats_cols`` (default: every timestamp/date column) get per-file
        min/max recorded in the manifest from the parquet footers — the
        Iceberg data-skipping stats ``read(where=...)`` prunes with."""
        added = self._stage(name, df, partition_by)
        cols = (
            stats_cols if stats_cols is not None else self._default_stats_cols(df)
        )
        return self._commit_files(
            Snapshot(
                snapshot_id=-1,  # assigned by the winning CAS
                table=name,
                mode=mode,
                rows=df.count() if count_rows else None,
                committed_at=time.time(),
                watermark=watermark,
            ),
            added,
            added_stats=self._collect_file_stats(name, added, cols) if cols else None,
        )

    def rewrite(
        self,
        name: str,
        df: DataFrame,
        partition_by: list[str] | None = None,
        watermark: str | None = None,
        expected_parent: int | None = None,
    ) -> int:
        """Full-table rewrite pinned to the snapshot it read: stages the new
        file set, then commits ONLY if the head is still the version the
        rewrite's input derives from — a concurrent append/overwrite aborts
        the rewrite (staged segment discarded, :class:`CommitConflict`
        raised) instead of silently losing the concurrent data.

        ``expected_parent`` is the version ``df`` was read at; callers that
        built ``df`` from an explicit version MUST pass it (the default —
        head at call time — reintroduces a read-vs-pin window if ``df`` was
        resolved earlier). This is the delete/tombstone primitive (S10 —
        reference tools/remove_influx_data.py:10-21 drops a measurement
        range; here the table is rewritten without the dropped rows)."""
        parent = (
            expected_parent if expected_parent is not None
            else self._head(name)[0]
        )
        added = self._stage(name, df, partition_by)
        cols = self._default_stats_cols(df)
        try:
            return self._commit_files(
                Snapshot(
                    snapshot_id=-1,
                    table=name,
                    mode="rewrite",
                    rows=None,
                    committed_at=time.time(),
                    watermark=watermark,
                ),
                added,
                expected_parent=parent,
                added_stats=self._collect_file_stats(name, added, cols) if cols else None,
            )
        except CommitConflict:
            self._discard_segment(name, added)
            raise

    def compact(
        self,
        spark: SparkSession,
        name: str,
        target_file_mb: int = 128,
        partition_by: list[str] | None = None,
        max_retries: int = 3,
    ) -> int:
        """Small-files compaction (the Iceberg ``rewrite_data_files``
        analog): many appends leave a table as thousands of tiny part
        files, and at scale the scan's task-scheduling overhead then
        dominates I/O. Rewrites the table's current file set into files
        sized toward ``target_file_mb`` (count estimated from on-disk
        bytes, floor 1). ``repartition`` — a real shuffle — is used rather
        than ``coalesce`` so skewed input files still land as evenly-sized
        outputs (coalesce only glues existing partitions together and
        inherits their skew). Row-identical by construction; retries the
        read+stage+commit cycle on :class:`CommitConflict` so a concurrent
        append is folded into the next attempt instead of lost."""
        last: CommitConflict | None = None
        for _ in range(max_retries):
            head_v, state = self._head(name)
            total = 0
            for f in state["files"]:
                p = os.path.join(self._data_dir(name), f)
                if os.path.exists(p):
                    total += os.path.getsize(p)
            n_files = max(1, round(total / (target_file_mb * 1024 * 1024)))
            df = self.read(spark, name, version=head_v)
            if partition_by:
                # spread within each partition dir without a global sort
                df = df.repartition(n_files, *partition_by)
            else:
                df = df.repartition(n_files)
            try:
                return self.rewrite(
                    name, df, partition_by=partition_by,
                    expected_parent=head_v,  # pin to the version df reads
                )
            except CommitConflict as e:
                last = e
        raise last  # type: ignore[misc]

    # -- reads ---------------------------------------------------------
    def read(
        self,
        spark: SparkSession,
        name: str,
        version: int | None = None,
        where: tuple | None = None,
    ) -> DataFrame:
        """Read the table at head (or a retained historical ``version`` —
        time travel). Only manifest-tracked files are scanned: uncommitted
        staged segments and superseded segments are invisible. Files are
        grouped per segment so Spark's partition discovery (``basePath``)
        still recovers ``col=val`` partition columns and prunes on them.

        ``where=(col, lo, hi)`` additionally skips files whose recorded
        min/max range for ``col`` cannot intersect [lo, hi] — manifest-level
        data skipping, decided from the snapshot alone before Spark lists a
        single file (at 100 TB the planning win: a 7-day lookback over a
        years-deep table plans against days of files, not years). This is a
        pure pruning hint: the caller still applies the real filter, and
        files without stats are always kept."""
        if version is None:
            version, state = self._head(name)
            if version == 0:
                raise FileNotFoundError(f"table {name} has no snapshots")
        else:
            state = self._load_version(name, version)
        files = state["files"]
        if where is not None:
            col, lo, hi = where
            lo, hi = self._stats_value(lo), self._stats_value(hi)
            stats = state.get("stats", {})

            def keep(f: str) -> bool:
                rng = stats.get(f, {}).get(col)
                if rng is None:
                    return True  # no stats -> conservative
                return not (rng[1] < lo or rng[0] > hi)

            files = [f for f in files if keep(f)]
        by_seg: dict[str, list[str]] = {}
        for f in files:
            by_seg.setdefault(f.split("/", 1)[0], []).append(f)
        parts = []
        for seg, files in sorted(by_seg.items()):
            base = os.path.join(self._data_dir(name), seg)
            parts.append(
                spark.read.option("basePath", base).parquet(
                    *(os.path.join(self._data_dir(name), f) for f in files)
                )
            )
        if not parts:
            raise FileNotFoundError(f"table {name} v{version} tracks no files")
        return reduce(lambda a, b: a.unionByName(b), parts)

    def exists(self, name: str) -> bool:
        return bool(self._versions(name))

    # -- maintenance -------------------------------------------------------
    def expire_snapshots(self, name: str, keep_last: int = 1) -> int:
        """Retire history: drop version files older than the newest
        ``keep_last`` and delete data files referenced only by the expired
        versions (Iceberg's ``expire_snapshots``). Never touches files the
        kept versions reference, and never touches unreferenced segment
        dirs (they may be another writer's in-flight staging). Returns the
        number of data files deleted. Readers pinned to an expired version
        lose time travel to it — the documented retention tradeoff."""
        versions = self._versions(name)
        if len(versions) <= keep_last:
            return 0
        expired, kept = versions[:-keep_last], versions[-keep_last:]
        keep_files = set()
        for v in kept:
            keep_files.update(self._load_version(name, v)["files"])
        drop_files = set()
        for v in expired:
            drop_files.update(self._load_version(name, v)["files"])
        drop_files -= keep_files
        for f in sorted(drop_files):
            p = os.path.join(self._data_dir(name), f)
            if os.path.exists(p):
                os.unlink(p)
        # prune now-empty segment dirs, then the expired version files
        for seg in {f.split("/", 1)[0] for f in drop_files}:
            seg_dir = os.path.join(self._data_dir(name), seg)
            for root, dirs, files in os.walk(seg_dir, topdown=False):
                if not dirs and not files:
                    os.rmdir(root)
        for v in expired:
            os.unlink(self._version_path(name, v))
        return len(drop_files)
