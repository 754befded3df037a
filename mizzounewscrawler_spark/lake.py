"""IceLite — snapshot-versioned parquet tables with Iceberg-style semantics.

The north rule calls for Iceberg tables whose snapshot summaries carry
frontier/fetched/deduped counters and per-partition lineage so a killed job
resumes from the last committed checkpoint.  This container has no Iceberg
runtime jar, so IceLite provides the same *semantics* on plain parquet:

- every commit writes a new immutable data directory ``data/v{NNNN}/`` plus a
  JSON manifest ``snapshots/v{NNNN}.json`` holding ``summary`` properties
  (arbitrary string/number map — our counters + lineage) and the list of live
  data versions;
- the manifest write is atomic (write tmp + ``os.replace``), so a reader
  either sees the previous snapshot or the complete new one — a crash
  mid-commit leaves orphan data files but a consistent table;
- reads resolve the latest (or an explicit) snapshot and load only its live
  data directories — time travel for free;
- reads are planned from the manifest alone, as in Iceberg: the snapshot's
  recorded ``schema_json`` types the data files and the delete-key files,
  so opening a table launches no footer-reading (schema-inference) Spark
  job.  Only a snapshot with no recorded schema falls back to inference;
- ``append`` keeps prior versions live (Iceberg append), ``overwrite``
  replaces them (Iceberg overwrite);
- ``merge`` is the merge-on-read commit (Iceberg v2 equality deletes):
  append new rows + record delete keys in one O(batch) snapshot; readers
  apply deletes as a broadcast anti-join until ``compact`` rewrites.
  Simplification vs Iceberg: deletes apply to ALL data versions (no
  sequence-number ordering), so callers must never append a row whose key
  was previously deleted — the crawl frontier guarantees this because
  url_seen blocks any URL from being admitted twice.

On a real cluster this module is replaced 1:1 by Iceberg:
``df.writeTo(tbl).option("snapshot-property.frontier", …).append()`` and
``spark.read.option("snapshot-id", …).table(tbl)`` — callers only touch the
``LakeTable`` API so the swap is one import.

Reference parity: the reference's checkpointing is DB status columns +
idempotent upserts (src/models/database.py:797-863) and versioned exports with
checksums (src/models/versioning.py:113-330); snapshots subsume both.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, SparkSession


def _dir_rows(d: str) -> int:
    """Sum parquet-footer row counts of a directory (no Spark job)."""
    import pyarrow.parquet as pq

    total = 0
    for name in os.listdir(d):
        if name.endswith(".parquet"):
            total += pq.ParquetFile(os.path.join(d, name)).metadata.num_rows
    return total


def _dir_file_stats(d: str) -> list[dict[str, Any]]:
    """Per-data-file (partition) lineage: name, rows, bytes — the Iceberg
    manifest-entry analog (DataFile record row_count/file_size), read from
    parquet footers driver-side, no Spark job.  O(files-per-version) and
    wave outputs are coalesced to a handful of files, so this adds
    microseconds to the (already driver-local) commit."""
    import pyarrow.parquet as pq

    stats = []
    for name in sorted(os.listdir(d)):
        if name.endswith(".parquet"):
            p = os.path.join(d, name)
            stats.append(
                {
                    "file": name,
                    "rows": pq.ParquetFile(p).metadata.num_rows,
                    "bytes": os.path.getsize(p),
                }
            )
    return stats


def _schema(schema_json: str):
    """The StructType a manifest recorded, or None for a schema-less one."""
    if not schema_json:
        return None
    from pyspark.sql import types as T

    return T.StructType.fromJson(json.loads(schema_json))


def _read(spark: SparkSession, schema, paths: list[str]) -> DataFrame:
    """Parquet reader typed by ``schema`` when known — planning then reads
    no footers, so it launches no Spark job; ``None`` infers as before."""
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(*paths)


# (SparkContext id, path) -> (listing, inferred schema); see read_parquet
_SCHEMA_MEMO: dict[tuple[int, str], tuple[tuple, Any]] = {}


def _listing(path: str) -> tuple | None:
    """(name, size, mtime_ns, inode) of every file under a local parquet
    path, or None when the path is remote or missing (nothing to validate
    against).  The inode catches an atomic same-size replace that lands
    within one mtime tick."""
    if path.startswith("file:"):
        path = path[len("file:"):]
    elif "://" in path:
        return None
    try:
        st = os.stat(path)
    except OSError:
        return None
    if not os.path.isdir(path):
        return ((path, st.st_size, st.st_mtime_ns, st.st_ino),)
    out = []
    for root, dirs, files in os.walk(path):
        dirs.sort()
        for name in sorted(files):
            p = os.path.join(root, name)
            fst = os.stat(p)
            out.append((p, fst.st_size, fst.st_mtime_ns, fst.st_ino))
    return tuple(out)


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` for a plain (non-lake) parquet path,
    with the Spark-inferred schema memoized per (SparkContext, path): a
    repeat read of an unchanged path is planned with no footer-reading job.
    A memo entry holds only while the path's file listing (see
    :func:`_listing`) is unchanged, so a rewritten path is inferred again.
    A path that cannot be listed locally is read plainly."""
    listing = _listing(path)
    if listing is None:
        return spark.read.parquet(path)
    key = (id(spark.sparkContext), path)
    hit = _SCHEMA_MEMO.get(key)
    if hit is not None and hit[0] == listing:
        return _read(spark, hit[1], [path])
    df = spark.read.parquet(path)
    _SCHEMA_MEMO[key] = (listing, df.schema)
    return df


@dataclass
class Snapshot:
    version: int
    summary: dict[str, Any]
    live_versions: list[int]
    schema_json: str = ""
    parent: int | None = None
    # merge-on-read state (Iceberg v2 equality-delete analog): versions whose
    # deletes/v{N}/ dir holds delete-key files, and the equality column
    delete_versions: list[int] = field(default_factory=list)
    delete_key_col: str = ""
    # per-partition lineage of THIS version's commit: [{file, rows, bytes}]
    # for data files, same for delete files (Iceberg manifest-entry analog)
    files: list[dict] = field(default_factory=list)
    delete_files: list[dict] = field(default_factory=list)

    @property
    def snapshot_id(self) -> int:
        return self.version


@dataclass
class LakeTable:
    """A snapshot-versioned parquet table rooted at ``path``."""

    spark: SparkSession
    path: str
    _cache: dict[int, Snapshot] = field(default_factory=dict)

    # -- snapshot bookkeeping -------------------------------------------------

    @property
    def _snap_dir(self) -> str:
        return os.path.join(self.path, "snapshots")

    def _data_dir(self, version: int) -> str:
        return os.path.join(self.path, "data", f"v{version:06d}")

    def _delete_dir(self, version: int) -> str:
        return os.path.join(self.path, "deletes", f"v{version:06d}")

    def snapshots(self) -> list[Snapshot]:
        if not os.path.isdir(self._snap_dir):
            return []
        out = []
        for name in sorted(os.listdir(self._snap_dir)):
            if not name.endswith(".json"):
                continue
            version = int(name[1:-5])
            if version not in self._cache:
                with open(os.path.join(self._snap_dir, name)) as f:
                    raw = json.load(f)
                self._cache[version] = Snapshot(
                    version=version,
                    summary=raw.get("summary", {}),
                    live_versions=raw.get("live_versions", []),
                    schema_json=raw.get("schema_json", ""),
                    parent=raw.get("parent"),
                    delete_versions=raw.get("delete_versions", []),
                    delete_key_col=raw.get("delete_key_col", ""),
                    files=raw.get("files", []),
                    delete_files=raw.get("delete_files", []),
                )
            out.append(self._cache[version])
        return out

    def current_snapshot(self) -> Snapshot | None:
        snaps = self.snapshots()
        return snaps[-1] if snaps else None

    def exists(self) -> bool:
        return self.current_snapshot() is not None

    # -- writes ---------------------------------------------------------------

    def stage(
        self, df: DataFrame | None = None, delete_keys: DataFrame | None = None
    ) -> dict[str, Any]:
        """Write the NEXT version's data/delete parquet without committing a
        manifest.  Staging runs the Spark write jobs; :meth:`commit_staged`
        is then a driver-local JSON write — so a caller committing several
        tables per batch can run all stage() calls from concurrent driver
        threads and serialize only the (microsecond) manifest commits in
        checkpoint order.  ``mode("overwrite")``: a crash between stage and
        commit leaves an orphan dir at exactly the version the replayed
        commit will reuse, so replay is idempotent."""
        prev = self.current_snapshot()
        version = (prev.version + 1) if prev else 0
        if df is not None:
            df.write.mode("overwrite").parquet(self._data_dir(version))
        if delete_keys is not None:
            delete_keys.write.mode("overwrite").parquet(self._delete_dir(version))
        return {
            "version": version,
            "has_data": df is not None,
            "has_deletes": delete_keys is not None,
            "schema_json": df.schema.json() if df is not None else "",
        }

    def commit_staged(
        self,
        staged: dict[str, Any],
        mode: str,
        summary: dict[str, Any] | None,
        delete_key_col: str = "",
    ) -> Snapshot:
        """Atomically commit a manifest for data written by :meth:`stage`.
        Driver-local (no Spark job)."""
        prev = self.current_snapshot()
        version = staged["version"]
        if prev is not None and version != prev.version + 1:
            raise RuntimeError(
                f"stale staging for {self.path}: staged v{version}, "
                f"current v{prev.version}"
            )
        has_data, has_deletes = staged["has_data"], staged["has_deletes"]

        if mode == "rewrite" and prev is not None:
            # bin-pack: this version REPLACES a subset of live versions
            replaced = set(staged.get("replace_versions", []))
            live = [v for v in prev.live_versions if v not in replaced] + (
                [version] if has_data else []
            )
        elif mode in ("append", "merge") and prev is not None:
            live = [*prev.live_versions] + ([version] if has_data else [])
        elif has_data:
            live = [version]
        else:
            live = []
        if mode == "merge" and prev is not None:
            deletes = [*prev.delete_versions] + ([version] if has_deletes else [])
            key_col = delete_key_col or prev.delete_key_col
        elif mode == "merge":
            deletes = [version] if has_deletes else []
            key_col = delete_key_col
        else:  # append/rewrite keep prior deletes; overwrite clears them
            deletes = list(prev.delete_versions) if (
                mode in ("append", "rewrite") and prev is not None
            ) else []
            key_col = prev.delete_key_col if (
                mode in ("append", "rewrite") and prev is not None
            ) else ""

        snap_summary = dict(summary or {})
        snap_summary.setdefault("committed_at", time.time())
        snap_summary.setdefault("operation", mode)
        schema_json = staged["schema_json"] or (prev.schema_json if prev else "")
        manifest = {
            "summary": snap_summary,
            "live_versions": live,
            "schema_json": schema_json,
            "parent": prev.version if prev else None,
            "delete_versions": deletes,
            "delete_key_col": key_col,
            # per-partition lineage (north rule): one entry per data file
            # of THIS version with footer row count + size — the Iceberg
            # manifest DataFile analog, auditable without reading data
            "files": (
                _dir_file_stats(self._data_dir(version)) if has_data else []
            ),
            "delete_files": (
                _dir_file_stats(self._delete_dir(version))
                if has_deletes
                else []
            ),
        }
        os.makedirs(self._snap_dir, exist_ok=True)
        tmp = os.path.join(self._snap_dir, f".v{version:06d}.json.tmp")
        final = os.path.join(self._snap_dir, f"v{version:06d}.json")
        with open(tmp, "w") as f:
            json.dump(manifest, f)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, final)  # atomic commit point
        snap = Snapshot(
            version=version,
            summary=snap_summary,
            live_versions=live,
            schema_json=schema_json,
            parent=manifest["parent"],
            delete_versions=deletes,
            delete_key_col=key_col,
            files=manifest["files"],
            delete_files=manifest["delete_files"],
        )
        self._cache[version] = snap
        return snap

    def _commit(
        self,
        df: DataFrame | None,
        mode: str,
        summary: dict[str, Any] | None,
        delete_keys: DataFrame | None = None,
        delete_key_col: str = "",
    ) -> Snapshot:
        return self.commit_staged(
            self.stage(df, delete_keys), mode, summary, delete_key_col
        )

    def rollback(
        self,
        to_version: int | None,
        summary: dict[str, Any] | None = None,
    ) -> Snapshot:
        """Restore the VIEW of an earlier snapshot with a NEW commit
        (Iceberg rollback analog — history-preserving, driver-local, no
        Spark job): the new manifest re-references exactly the target
        snapshot's live/delete versions, so data committed after the
        target becomes unreferenced and :meth:`expire_snapshots` collects
        its files later.  ``to_version=None`` restores the empty view.

        This is the crash-recovery primitive for the wave loop: a wave
        that committed some side tables (articles/url_seen/…) but died
        before the FRONTIER checkpoint commit leaves wave-w orphan
        snapshots; resume rolls each side table back to its wave-(w−1)
        view before re-running the wave — without this the replay would
        double-append every orphaned row."""
        cur = self.current_snapshot()
        if cur is None:
            raise ValueError(f"rollback on empty table {self.path}")
        if to_version is not None:
            target = None
            for s in self.snapshots():
                if s.version == to_version:
                    target = s
            if target is None:
                raise ValueError(
                    f"rollback target v{to_version} not found in {self.path}"
                )
            if cur.version == to_version:
                return cur
            live = list(target.live_versions)
            deletes = list(target.delete_versions)
            key_col = target.delete_key_col
            schema_json = target.schema_json
        else:
            live, deletes, key_col = [], [], ""
            schema_json = cur.schema_json
        snap_summary = dict(summary or {})
        snap_summary["rollback_to"] = to_version
        return self._commit_view(
            cur, live, deletes, key_col, schema_json, snap_summary
        )

    def rollback_exclude(
        self,
        versions: list[int],
        summary: dict[str, Any] | None = None,
    ) -> Snapshot:
        """Restore the view to CURRENT minus the given snapshots' own
        data/delete versions — the GC-survivable rollback for APPEND-mode
        orphans, whose data version id is exactly their snapshot version.
        Needs no earlier manifest, so it works even after
        :meth:`expire_snapshots` pruned every pre-crash snapshot (where
        :meth:`rollback` has no target to point at).  Only sound when no
        later rewrite/overwrite folded the excluded rows into another
        version — the caller (crawl resume) checks that."""
        cur = self.current_snapshot()
        if cur is None:
            raise ValueError(f"rollback_exclude on empty table {self.path}")
        drop = set(versions)
        live = [v for v in cur.live_versions if v not in drop]
        deletes = [v for v in cur.delete_versions if v not in drop]
        snap_summary = dict(summary or {})
        snap_summary["rollback_exclude"] = sorted(drop)
        return self._commit_view(
            cur, live, deletes, cur.delete_key_col, cur.schema_json,
            snap_summary,
        )

    def _commit_view(
        self,
        cur: Snapshot,
        live: list[int],
        deletes: list[int],
        key_col: str,
        schema_json: str,
        snap_summary: dict[str, Any],
    ) -> Snapshot:
        """Write a data-free manifest re-referencing existing version dirs
        (shared tail of rollback/rollback_exclude)."""
        version = cur.version + 1
        snap_summary.setdefault("committed_at", time.time())
        snap_summary.setdefault("operation", "rollback")
        manifest = {
            "summary": snap_summary,
            "live_versions": live,
            "schema_json": schema_json,
            "parent": cur.version,
            "delete_versions": deletes,
            "delete_key_col": key_col,
            "files": [],
            "delete_files": [],
        }
        os.makedirs(self._snap_dir, exist_ok=True)
        tmp = os.path.join(self._snap_dir, f".v{version:06d}.json.tmp")
        final = os.path.join(self._snap_dir, f"v{version:06d}.json")
        with open(tmp, "w") as f:
            json.dump(manifest, f)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, final)  # atomic commit point
        snap = Snapshot(
            version=version,
            summary=snap_summary,
            live_versions=live,
            schema_json=schema_json,
            parent=cur.version,
            delete_versions=deletes,
            delete_key_col=key_col,
            files=[],
            delete_files=[],
        )
        self._cache[version] = snap
        return snap

    def append(self, df: DataFrame, summary: dict[str, Any] | None = None) -> Snapshot:
        return self._commit(df, "append", summary)

    def overwrite(
        self, df: DataFrame, summary: dict[str, Any] | None = None
    ) -> Snapshot:
        return self._commit(df, "overwrite", summary)

    def merge(
        self,
        appends: DataFrame | None,
        delete_keys: DataFrame | None,
        key_col: str,
        summary: dict[str, Any] | None = None,
    ) -> Snapshot:
        """Merge-on-read commit (Iceberg v2 equality-delete analog): append
        new rows AND record delete keys in ONE snapshot — O(batch) I/O where
        ``overwrite`` pays O(table).  This is the frontier's per-wave commit:
        the north rule's 10^10-URL frontier cannot be rewritten every wave.

        ``delete_keys`` must contain exactly the ``key_col`` column; readers
        apply them as a broadcast anti-join.  Call :meth:`compact` when the
        accumulated delete set grows past a fraction of the table (readers
        pay the anti-join until then)."""
        return self._commit(
            appends, "merge", summary, delete_keys=delete_keys,
            delete_key_col=key_col,
        )

    def compact(self, summary: dict[str, Any] | None = None) -> Snapshot:
        """Materialize the merged view into one data version and clear the
        delete set (Iceberg rewrite-data-files analog)."""
        current = self.read()
        snap_summary = dict(summary or {})
        snap_summary.setdefault("compaction", True)
        return self._commit(current, "overwrite", snap_summary)

    def _dir_bytes(self, version: int) -> int:
        d = self._data_dir(version)
        return sum(
            os.path.getsize(os.path.join(d, n))
            for n in os.listdir(d)
            if n.endswith(".parquet")
        )

    def compact_small(
        self,
        max_live: int,
        summary: dict[str, Any] | None = None,
        target_file_bytes: int = 128 << 20,
    ) -> Snapshot | None:
        """Bin-pack small live data versions (the Iceberg
        rewrite-data-files *binpack* analog) when their count exceeds
        ``max_live`` — the compaction path for APPEND-heavy tables
        (url_seen / articles / order_log), which gain one wave-sized
        version per wave forever otherwise (VERDICT r3 wrong #2).

        Scale argument: unlike :meth:`compact` (O(table) rewrite), this
        folds only the SMALLEST ``max_live/2`` versions into one — the
        folded bytes are ~max_live/2 wave-sized deltas, so the amortized
        I/O per wave is O(wave), independent of table size; the big
        versions produced by earlier folds are left in place and re-fold
        only when they become part of the small half (geometric, LSM-like).
        Reader benefit: file listing + plan size stay O(max_live) at 10^4+
        waves instead of O(waves).

        Merge-on-read deletes are untouched: IceLite deletes apply to all
        data versions (no sequence ordering), so folding data dirs cannot
        change the merged view.  Returns the new snapshot, or None if no
        compaction was needed."""
        snap = self.current_snapshot()
        if snap is None or len(snap.live_versions) <= max_live:
            return None
        sized = sorted(
            ((self._dir_bytes(v), v) for v in snap.live_versions), reverse=True
        )
        keep_n = max(max_live // 2, 1)
        fold = [v for _, v in sized[keep_n:]]
        fold_bytes = sum(b for b, v in sized[keep_n:])
        df = _read(
            self.spark, _schema(snap.schema_json),
            [self._data_dir(v) for v in fold],
        )
        nfiles = max(1, min(fold_bytes // target_file_bytes + 1, 64))
        staged = self.stage(df.coalesce(int(nfiles)))
        staged["replace_versions"] = fold
        snap_summary = dict(summary or {})
        snap_summary.setdefault("compaction", "binpack")
        snap_summary["folded_versions"] = len(fold)
        return self.commit_staged(staged, "rewrite", snap_summary)

    def expire_snapshots(self, keep_last: int = 2) -> dict[str, Any]:
        """Iceberg ``expire_snapshots`` analog: drop manifests older than
        the newest ``keep_last`` and delete the data/delete version dirs
        that NO retained snapshot references.

        Compaction removes versions from the live list but leaves their
        directories and manifests on disk — at 10^4+ waves the full
        pre-compaction history accumulates as dead storage.  Expiration is
        the GC half: time travel shortens to ``keep_last`` snapshots, the
        CURRENT merged view is untouched (every retained snapshot's
        live/delete versions are kept, so reads and resume-from-checkpoint
        are unaffected).  Driver-local file ops only — run it on the same
        amortized trigger as compaction, not per wave."""
        if keep_last < 1:
            raise ValueError("expire_snapshots: keep_last must be >= 1")
        snaps = self.snapshots()
        if len(snaps) <= keep_last:
            return {"expired_snapshots": 0, "removed_dirs": 0}
        retained, expired = snaps[-keep_last:], snaps[:-keep_last]
        referenced: set[int] = set()
        for s in retained:
            referenced.update(s.live_versions)
            referenced.update(s.delete_versions)
        removed = 0
        dead: set[int] = set()
        for s in expired:
            dead.update(s.live_versions)
            dead.update(s.delete_versions)
            dead.add(s.version)  # a data-less merge commit still staged dirs
        for v in sorted(dead - referenced):
            for d in (self._data_dir(v), self._delete_dir(v)):
                if os.path.isdir(d):
                    shutil.rmtree(d)
                    removed += 1
        for s in expired:
            os.remove(os.path.join(self._snap_dir, f"v{s.version:06d}.json"))
            self._cache.pop(s.version, None)
        return {"expired_snapshots": len(expired), "removed_dirs": removed}

    def export_version(
        self, dest_dir: str, snapshot_id: int | None = None
    ) -> dict[str, Any]:
        """S11 versioned dataset export with per-file checksums (reference
        ``export_dataset_version`` /root/reference/src/models/versioning.py:113-330):
        write the snapshot's merged view to ``dest_dir`` as parquet, then a
        ``manifest.json`` recording snapshot id, per-file SHA-256 + size,
        and row count — fsynced, so a verifier can re-hash the export.
        Returns the manifest dict."""
        import hashlib

        df = self.read(snapshot_id)
        df.write.mode("errorifexists").parquet(dest_dir)
        snap = (
            self.current_snapshot() if snapshot_id is None
            else self._cache[snapshot_id]
        )
        files = {}
        for name in sorted(os.listdir(dest_dir)):
            if not name.endswith(".parquet"):
                continue
            p = os.path.join(dest_dir, name)
            h = hashlib.sha256()
            with open(p, "rb") as f:
                for chunk in iter(lambda: f.read(1 << 20), b""):
                    h.update(chunk)
            files[name] = {"sha256": h.hexdigest(), "bytes": os.path.getsize(p)}
        manifest = {
            "snapshot_id": snap.version if snap else None,
            "table_path": self.path,
            "files": files,
            "row_count": _dir_rows(dest_dir),
        }
        tmp = os.path.join(dest_dir, ".manifest.json.tmp")
        final = os.path.join(dest_dir, "manifest.json")
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=2)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, final)
        return manifest

    @staticmethod
    def verify_export(dest_dir: str) -> bool:
        """Re-hash an export against its manifest (the reference's checksum
        verification path)."""
        import hashlib

        with open(os.path.join(dest_dir, "manifest.json")) as f:
            manifest = json.load(f)
        for name, meta in manifest["files"].items():
            p = os.path.join(dest_dir, name)
            if not os.path.exists(p) or os.path.getsize(p) != meta["bytes"]:
                return False
            h = hashlib.sha256()
            with open(p, "rb") as f:
                for chunk in iter(lambda: f.read(1 << 20), b""):
                    h.update(chunk)
            if h.hexdigest() != meta["sha256"]:
                return False
        return True

    def pending_delete_rows(self) -> int:
        """Total rows across live delete files (compaction heuristic input),
        from parquet footers — no Spark job."""
        snap = self.current_snapshot()
        if snap is None or not snap.delete_versions:
            return 0
        return sum(_dir_rows(self._delete_dir(v)) for v in snap.delete_versions)

    def staged_rows(self, staged: dict[str, Any]) -> int:
        """Row count of a :meth:`stage`-written data dir, from parquet
        footers — no Spark job.  Lets a batch loop derive its per-batch
        counters from the writes it already ran instead of paying dedicated
        count/agg jobs (per-wave fixed driver latency — VERDICT r2)."""
        if not staged["has_data"]:
            return 0
        return _dir_rows(self._data_dir(staged["version"]))

    def staged_df(self, staged: dict[str, Any]) -> DataFrame | None:
        """The stage()-written data dir as a DataFrame (distributed read of
        the already-materialized parquet), or None when the stage wrote no
        data.  The bulk twin of :meth:`staged_column`: side-structure
        rebuilds too large to ship to the driver (e.g. a >2M-row Bloom
        increment) read the staged files back instead of re-running the
        producing plan."""
        if not staged["has_data"]:
            return None
        return _read(
            self.spark, _schema(staged["schema_json"]),
            [self._data_dir(staged["version"])],
        )

    def staged_column(self, staged: dict[str, Any], column: str):
        """One column of a stage()-written data dir as a numpy array, read
        driver-locally with pyarrow — no Spark job.  Used for wave-sized
        side-structure maintenance (Bloom bit increments) where launching a
        distributed job per wave is pure fixed driver latency (VERDICT r2).
        Only sound for wave-sized writes; bulk rebuilds stay distributed."""
        import glob

        import numpy as np

        if not staged["has_data"]:
            return np.empty(0, dtype=np.int64)
        import pyarrow.parquet as pq

        # part files only — Spark also writes _SUCCESS / .crc markers
        files = sorted(
            glob.glob(os.path.join(self._data_dir(staged["version"]), "*.parquet"))
        )
        if not files:
            return np.empty(0, dtype=np.int64)
        cols = [pq.read_table(f, columns=[column]).column(column) for f in files]
        return np.concatenate([c.to_numpy(zero_copy_only=False) for c in cols])

    # -- reads ----------------------------------------------------------------

    def read(self, snapshot_id: int | None = None) -> DataFrame:
        snaps = self.snapshots()
        if not snaps:
            raise FileNotFoundError(f"LakeTable at {self.path} has no snapshots")
        snap = snaps[-1] if snapshot_id is None else self._cache[snapshot_id]
        schema = _schema(snap.schema_json)
        if not snap.live_versions:
            # e.g. first-ever commit was merge(appends=None): no data dirs to
            # scan — return an empty frame from the recorded schema instead
            # of an unhelpful zero-path parquet error (ADVICE r2)
            if schema is not None:
                return self.spark.createDataFrame([], schema)
            raise ValueError(
                f"LakeTable at {self.path} snapshot v{snap.version} has no "
                "live data versions and no recorded schema"
            )
        # planned from the manifest: the recorded schema types every data
        # file (inference would read one file's footer in a Spark job)
        df = _read(
            self.spark, schema, [self._data_dir(v) for v in snap.live_versions]
        )
        if snap.delete_versions:
            from pyspark.sql import functions as F
            from pyspark.sql import types as T

            key_col = snap.delete_key_col
            dk = _read(
                self.spark,
                T.StructType([schema[key_col]])
                if schema is not None and key_col in schema.names
                else None,
                [self._delete_dir(v) for v in snap.delete_versions],
            )
            df = df.join(F.broadcast(dk), on=key_col, how="left_anti")
        return df


    def history(self) -> list[dict[str, Any]]:
        """Snapshot lineage, oldest first — the Iceberg ``table.history()``
        analog: version, parent, commit counters from the summary, and the
        per-commit file lineage sizes.  Pure manifest reads — no data I/O."""
        out = []
        for s in self.snapshots():
            out.append(
                {
                    "version": s.version,
                    "parent": s.parent,
                    "summary": dict(s.summary),
                    "files": len(s.files),
                    "rows_committed": sum(
                        int(f.get("rows", 0)) for f in s.files
                    ),
                    "delete_files": len(s.delete_files),
                }
            )
        return out

    def diff(
        self,
        from_snapshot: int,
        to_snapshot: int | None = None,
        key_col: str | None = None,
    ) -> DataFrame:
        """Rows that changed between two snapshots, as one DataFrame with a
        ``_change`` column ('added' / 'removed') — the time-travel audit
        query ("what did wave N admit / retract?").

        With ``key_col`` (the usual case — every engine table is keyed):
        two broadcast-free anti-joins on the uniform key.  Without it,
        whole-row ``exceptAll`` both ways (exact multiset difference —
        heavier, for keyless tables).  Reads ONLY the two snapshots'
        live versions; nothing is rewritten."""
        from pyspark.sql import functions as F
        a = self.read(from_snapshot)
        b = self.read(to_snapshot)
        if key_col is not None:
            added = b.join(a.select(key_col), key_col, "left_anti")
            removed = a.join(b.select(key_col), key_col, "left_anti")
        else:
            added = b.exceptAll(a)
            removed = a.exceptAll(b)
        return added.withColumn("_change", F.lit("added")).unionByName(
            removed.withColumn("_change", F.lit("removed"))
        )
