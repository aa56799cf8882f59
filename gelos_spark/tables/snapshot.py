"""Snapshot-manifest table layer — the engine's Iceberg-semantics
store (SURVEY.md §7.0, M7).

No Iceberg runtime jar is available offline (verified: none under
$SPARK_HOME/jars or ~/.ivy2), so the engine implements the subset of
Iceberg semantics the north rule actually uses, from scratch:

  - **atomic append**: data files are written to a unique directory,
    then a new JSON manifest (listing ALL live files) is committed by
    an atomic ``os.rename`` of the ``_current`` pointer — readers see
    the old or the new snapshot, never a partial one. This generalizes
    the reference's marker-file commit protocol
    (gelos/embedding_generation.py:58-61,80).
  - **idempotent overwrite-by-partition**: a commit can atomically
    replace all manifest entries carrying a given partition value —
    re-running a stage cannot double-append.
  - **time travel**: every snapshot's manifest is retained;
    ``read_at(snapshot_id)`` reads any historical snapshot (the
    resume path reads lineage "as of" the last good snapshot).
  - **schema from the manifest**: every entry also records the Spark
    row schema its file's footer carries (the
    ``org.apache.spark.sql.parquet.row.metadata`` key Spark writes), so
    a read hands Spark the schema instead of re-inferring it from a
    footer. When the picked files disagree (an append changed the
    schema) or an entry has none (older manifests, footers without
    the key) the read falls back to Spark's inference.
  - **scan planning from manifest column stats** (Iceberg's
    lower_bounds/upper_bounds): every commit records per-file min/max
    for primitive columns straight from the parquet footers (no data
    read); ``read(where={col: (lo, hi)})`` plans the file list from
    the manifest alone and opens only overlapping files. Pruning is a
    pure optimization — the residual predicate is re-applied as a
    Spark filter by default (``residual=False`` opts into the
    planFiles file-granularity-superset contract for callers whose
    downstream operator applies the predicate), so results are
    byte-identical with or without stats. At 10^12-image scale this
    is THE scan primitive: a cell-range query touches the few data
    files whose Morton range overlaps, not the table.
  - **clustered writes** (Z-order-style layout): ``cluster_by=`` on
    any write range-partitions + sorts rows by the given keys
    (Morton ``cell_id`` makes one int key already interleave
    lon/lat bits), so each data file covers a tight, near-disjoint
    key range and min/max pruning actually bites.
  - **maintenance**: ``compact()`` bin-packs small data files into
    fewer large ones as a normal atomic commit (readers of older
    snapshots unaffected; convergent — already-packed partitions are
    no-ops); ``expire_snapshots(keep_last=N)`` retains the newest N
    of the COMMITTED chain and deletes everything no retained
    snapshot references (including crashed-commit leftovers: orphan
    manifests, data files, stranded pointer tmp files).
  - **incremental consumption + rollback**: ``read_delta(from, to)``
    returns exactly the rows appended between two snapshots from the
    manifests' file-set difference (append-only intervals only —
    rewrites raise); ``rollback(sid)`` atomically re-points
    ``_current`` at a committed snapshot. Snapshot ids are NEVER
    reused, so what a previously observed id reads can never change.

Layout under ``root``:
  data/<commit-uuid>/*.parquet      immutable data files
  manifests/<snapshot_id>.json      {"snapshot_id", "parent", "ts",
                                     "files": [{"path", "rows",
                                     "bytes", "partition",
                                     "stats": {col: [min, max]},
                                     "schema": spark-json | null}]}
  _current                          text file: latest snapshot_id
                                    (committed via atomic rename)

At cluster scale the same protocol works on any store with atomic
rename (HDFS) or conditional put (S3); data-file writes are fully
distributed (df.write.parquet) — only the tiny manifest commit and
the footer-stat harvest are driver-side, exactly like Iceberg's.
``overwrite_partition`` also takes a ``pyarrow.Table``: a handful of
bookkeeping rows (the checkpoint log's) is written from the driver as
one file (tmp file + rename) in a fresh commit directory and commits
through the same manifest protocol, without starting a Spark job.

Concurrency contract: ONE writer per table at a time (the engine's
actual shapes — each pipeline stage owns its table, the streaming
sink is a single query). Readers are always safe against a
concurrent writer (they only follow ``_current``), but two
simultaneous commits would last-write-win the pointer; supporting
them needs a compare-and-swap on the current pointer plus
retry-with-rebase, which is exactly the role Iceberg delegates to
its catalog.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from typing import Any

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

#: JSON-safe primitive python types a manifest stat may hold.
_STAT_TYPES = (bool, int, float, str)

#: parquet footer key under which Spark stores a file's row schema
SPARK_SCHEMA_KEY = "org.apache.spark.sql.parquet.row.metadata"


def _file_column_stats(meta: "pq.FileMetaData") -> dict[str, list]:
    """Per-file [min, max] for every top-level primitive column,
    folded across row groups from the parquet FOOTER only (no data
    pages read — same cost profile as Iceberg's manifest stats).

    Conservative by construction: a column is omitted (→ never pruned
    on) unless EVERY row group has usable min/max of a JSON-safe
    primitive type. Nested paths (``a.list.element``), raw binary,
    and NaN floats are all skipped."""
    if meta.num_row_groups == 0:
        return {}
    stats: dict[str, list] = {}
    for ci in range(meta.num_columns):
        name = meta.row_group(0).column(ci).path_in_schema
        if "." in name:  # nested leaf (array/struct/map) — not prunable
            continue
        mins: list = []
        maxs: list = []
        for rg in range(meta.num_row_groups):
            st = meta.row_group(rg).column(ci).statistics
            if st is None or not st.has_min_max:
                mins = []
                break
            mins.append(st.min)
            maxs.append(st.max)
        if not mins:
            continue
        mn, mx = min(mins), max(maxs)
        if not (isinstance(mn, _STAT_TYPES) and isinstance(mx, _STAT_TYPES)):
            continue  # bytes (true binary) or other non-JSON scalar
        if isinstance(mn, float) and (mn != mn or mx != mx):
            continue  # NaN bounds can't order — skip, stay conservative
        stats[name] = [mn, mx]
    return stats


def _file_entry(path: str, partition: str | None) -> dict:
    """Manifest entry for one data file, from its footer alone. The
    Spark schema JSON is stored in one canonical form so entries of
    the same schema compare equal whichever writer produced them."""
    meta = pq.read_metadata(path)
    raw = (meta.metadata or {}).get(SPARK_SCHEMA_KEY.encode())
    schema = json.dumps(json.loads(raw), sort_keys=True, separators=(",", ":")) if raw else None
    return {
        "path": path,
        "rows": meta.num_rows,
        "bytes": os.path.getsize(path),
        "partition": partition,
        "stats": _file_column_stats(meta),
        "schema": schema,
    }


def _scan(spark: SparkSession, entries: list[dict]) -> DataFrame:
    """Read the entries' files, with the schema their manifest entries
    agree on, or with Spark's inference when they don't all carry the
    same one."""
    schemas = {f.get("schema") for f in entries}
    reader = spark.read
    if len(schemas) == 1 and None not in schemas:
        reader = reader.schema(StructType.fromJson(json.loads(schemas.pop())))
    return reader.parquet(*[f["path"] for f in entries])


def _as_ranges(pred) -> list[tuple]:
    """A predicate is one (lo, hi) tuple or a list of them (OR of
    ranges — e.g. the Morton ranges of a polygon's cell cover)."""
    if isinstance(pred, list):
        if not pred:
            raise ValueError("empty range list predicate (matches nothing?)")
        return [tuple(r) for r in pred]
    return [tuple(pred)]


def _range_hits(smin, smax, lo, hi) -> bool:
    try:
        if hi is not None and smin > hi:
            return False
        if lo is not None and smax < lo:
            return False
    except TypeError:
        # predicate/stat type mismatch (e.g. int range on a string
        # column): never prune on a comparison we can't evaluate —
        # the residual filter still applies the caller's predicate
        return True
    return True


def _overlaps(file_entry: dict, where: dict) -> bool:
    """True iff the file MAY contain rows matching every predicate
    (each an OR-of-ranges). Missing stats for a column ⇒ keep the
    file."""
    stats = file_entry.get("stats") or {}
    for col, pred in where.items():
        if col not in stats:
            continue
        smin, smax = stats[col]
        if not any(_range_hits(smin, smax, lo, hi) for lo, hi in _as_ranges(pred)):
            return False
    return True


class SnapshotTable:
    def __init__(self, root: str):
        self.root = root
        #: planned-vs-total file counts of the most recent read()
        self.last_scan: dict[str, int] | None = None
        os.makedirs(os.path.join(root, "data"), exist_ok=True)
        os.makedirs(os.path.join(root, "manifests"), exist_ok=True)

    # ------------------------------------------------------- reading

    def current_snapshot_id(self) -> int | None:
        p = os.path.join(self.root, "_current")
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return int(f.read().strip())

    def snapshots(self) -> list[int]:
        d = os.path.join(self.root, "manifests")
        return sorted(int(f[:-5]) for f in os.listdir(d) if f.endswith(".json"))

    def manifest(self, snapshot_id: int | None = None) -> dict[str, Any]:
        sid = self.current_snapshot_id() if snapshot_id is None else snapshot_id
        if sid is None:
            return {"snapshot_id": None, "parent": None, "files": []}
        with open(os.path.join(self.root, "manifests", f"{sid}.json")) as f:
            return json.load(f)

    def files(self, snapshot_id: int | None = None) -> list[dict[str, Any]]:
        return self.manifest(snapshot_id)["files"]

    def plan_files(
        self, where: dict | None = None, snapshot_id: int | None = None
    ) -> list[dict[str, Any]]:
        """Manifest-only scan planning (Iceberg's planFiles): return
        the file entries whose [min, max] stats overlap every
        predicate in ``where`` ({col: (lo, hi)} — None = unbounded on
        that side, equality = (v, v) — or {col: [(lo, hi), ...]}, an
        OR of ranges, e.g. a polygon cover's Morton cell ranges).
        Files without stats for a column are kept — pruning is never
        allowed to change results."""
        files = self.files(snapshot_id)
        if not where:
            return files
        return [f for f in files if _overlaps(f, where)]

    def read(
        self,
        spark: SparkSession,
        snapshot_id: int | None = None,
        where: dict | None = None,
        residual: bool = True,
    ) -> DataFrame:
        """Read a snapshot; with ``where``, plan the file list from
        manifest stats and open only overlapping files, then re-apply
        the same ranges as a Spark filter (exactness does not depend
        on pruning). ``last_scan`` records planned-vs-total file
        counts for plan audits.

        ``residual=False`` skips the row-level re-filter and returns
        the FILE-GRANULARITY SUPERSET — Iceberg's planFiles contract,
        for callers whose downstream operator applies the predicate
        anyway (e.g. pip_join's cover join after an aoi_cell_ranges
        pushdown: a 100+-term OR-of-ranges residual over every row
        costs more than the join that subsumes it; measured 15x at
        16M rows, PLANS.md)."""
        all_files = self.files(snapshot_id)
        if not all_files:
            raise ValueError(f"table {self.root} is empty (no committed snapshot)")
        picked = self.plan_files(where, snapshot_id)
        self.last_scan = {"files_total": len(all_files), "files_read": len(picked)}
        if not picked:
            # no file can match: empty frame with the table's schema
            df = _scan(spark, all_files[:1]).limit(0)
        else:
            df = _scan(spark, picked)
        if not residual:
            return df
        for col, pred in (where or {}).items():
            clause = None
            for lo, hi in _as_ranges(pred):
                term = F.lit(True)
                if lo is not None:
                    term = term & (F.col(col) >= F.lit(lo))
                if hi is not None:
                    term = term & (F.col(col) <= F.lit(hi))
                clause = term if clause is None else (clause | term)
            df = df.filter(clause)
        return df

    read_at = read  # alias: time-travel read

    def is_empty(self) -> bool:
        return not self.files()

    # ------------------------------------------------------- writing

    def _write_data_files(
        self,
        df: DataFrame,
        partition: str | None,
        cluster_by: list[str] | None = None,
        num_files: int | None = None,
        keep_empty_if_none: bool = True,
    ) -> list[dict]:
        if cluster_by:
            # Z-order-style layout: range-partition + sort on the
            # cluster keys so each file covers a tight key range and
            # manifest min/max pruning is effective. (Morton cell_id
            # is already a bit-interleaved 2-D key, so one int column
            # gives spatial locality.) repartitionByRange samples to
            # pick bounds — file BOUNDARIES may vary run-to-run, but
            # content and every pruned read stay exact.
            cols = [F.col(c) for c in cluster_by]
            df = (
                df.repartitionByRange(num_files, *cols)
                if num_files
                else df.repartitionByRange(*cols)
            ).sortWithinPartitions(*cols)
        elif num_files:
            df = df.repartition(num_files)
        commit_dir = os.path.join(self.root, "data", uuid.uuid4().hex)
        df.write.mode("overwrite").parquet(commit_dir)
        out: list[dict] = []
        empties: list[dict] = []
        for name in sorted(os.listdir(commit_dir)):
            if not name.endswith(".parquet"):
                continue
            entry = _file_entry(os.path.join(commit_dir, name), partition)
            # range partitions can be empty
            (out if entry["rows"] else empties).append(entry)
        if not out and empties and keep_empty_if_none:
            # a legitimately EMPTY commit (stage produced 0 rows) must
            # still register one schema-bearing file when the TABLE
            # would otherwise end up file-less, or read() loses the
            # schema and raises. Callers whose commit keeps other
            # files pass keep_empty_if_none=False so an idle stream's
            # empty batches don't accumulate 0-row files forever.
            out.append(empties.pop(0))
        for e in empties:
            os.remove(e["path"])
        return out

    def _write_arrow_file(self, table: pa.Table, partition: str | None) -> list[dict]:
        """Write ``table`` from the driver as one data file of a fresh
        commit directory: tmp file + rename, so the directory never
        holds a torn ``.parquet`` (a crash leaves at most a tmp file
        for expire_snapshots)."""
        commit_dir = os.path.join(self.root, "data", uuid.uuid4().hex)
        os.makedirs(commit_dir)
        path = os.path.join(commit_dir, "part-00000.parquet")
        tmp = f"{path}.tmp"
        pq.write_table(table, tmp)
        os.rename(tmp, path)
        return [_file_entry(path, partition)]

    def _point_current(self, sid: int) -> None:
        """The atomic commit point, shared by _commit and rollback:
        write the pointer to a tmp file, fsync, then os.rename onto
        ``_current`` — POSIX guarantees readers see either the old or
        the new pointer, never a torn write. Any durability fix here
        (e.g. directory fsync) covers both paths."""
        tmp = os.path.join(self.root, f"_current.tmp.{uuid.uuid4().hex}")
        with open(tmp, "w") as f:
            f.write(str(sid))
            f.flush()
            os.fsync(f.fileno())
        os.rename(tmp, os.path.join(self.root, "_current"))

    def _commit(self, files: list[dict]) -> int:
        parent = self.current_snapshot_id()
        # never reuse an on-disk manifest id: after a rollback (or a
        # crashed commit) ids above the parent may exist, and silently
        # overwriting one would change what read(snapshot_id=...)
        # returns for a previously observable id. Superseded manifests
        # are left as orphans for expire_snapshots.
        sid = max(self.snapshots() + [parent or 0]) + 1
        man = {
            "snapshot_id": sid,
            "parent": parent,
            "ts": time.time(),
            "files": files,
        }
        mpath = os.path.join(self.root, "manifests", f"{sid}.json")
        with open(mpath, "w") as f:
            json.dump(man, f)
        self._point_current(sid)  # atomic commit point
        return sid

    def append(
        self,
        df: DataFrame,
        partition: str | None = None,
        cluster_by: list[str] | None = None,
        num_files: int | None = None,
    ) -> int:
        """Atomic append: new snapshot = old files + newly written files."""
        prior = self.files()
        new_files = self._write_data_files(
            df, partition, cluster_by, num_files, keep_empty_if_none=not prior
        )
        return self._commit(prior + new_files)

    def overwrite_partition(
        self,
        df: DataFrame | pa.Table,
        partition: str,
        cluster_by: list[str] | None = None,
        num_files: int | None = None,
    ) -> int:
        """Idempotent replace of every file tagged with ``partition``
        (the resume path re-runs a stage safely). A ``pyarrow.Table``
        is written from the driver as one file, with no Spark job;
        ``cluster_by`` and ``num_files`` apply to DataFrames only."""
        kept = [f for f in self.files() if f["partition"] != partition]
        if isinstance(df, pa.Table):
            new_files = self._write_arrow_file(df, partition)
        else:
            new_files = self._write_data_files(
                df, partition, cluster_by, num_files, keep_empty_if_none=not kept
            )
        return self._commit(kept + new_files)

    def overwrite(
        self,
        df: DataFrame,
        partition: str | None = None,
        cluster_by: list[str] | None = None,
        num_files: int | None = None,
    ) -> int:
        """Replace the whole table in one atomic snapshot."""
        return self._commit(self._write_data_files(df, partition, cluster_by, num_files))

    def read_delta(
        self, spark: SparkSession, from_snapshot: int, to_snapshot: int | None = None
    ) -> DataFrame:
        """Incremental read (Iceberg's incremental scan): the rows
        ADDED between ``from_snapshot`` (exclusive) and
        ``to_snapshot`` (inclusive, default current) — i.e. the data
        files present in ``to`` but not in ``from``. This is how a
        downstream consumer tails an append-only table without
        rescanning it.

        Raises if any ``from`` file is gone from ``to`` (the interval
        contains an overwrite/compaction — "added files" would not
        equal "added rows"); consumers of rewritten tables must
        re-read the snapshot instead."""
        to_snapshot = self.current_snapshot_id() if to_snapshot is None else to_snapshot
        old = {f["path"] for f in self.files(from_snapshot)}
        new_entries = self.files(to_snapshot)
        new = {f["path"] for f in new_entries}
        removed = old - new
        if removed:
            raise ValueError(
                f"read_delta: {len(removed)} file(s) of snapshot "
                f"{from_snapshot} were removed by snapshot {to_snapshot} "
                "(overwrite/compaction in the interval) — the delta is not "
                "append-only; re-read the full snapshot"
            )
        added = [f for f in new_entries if f["path"] not in old]
        if not added:
            return self.read(spark, to_snapshot).limit(0)
        return _scan(spark, added)

    def rollback(self, snapshot_id: int) -> int:
        """Atomically point ``_current`` back at an earlier COMMITTED
        snapshot (Iceberg's rollback_to_snapshot): readers switch to
        the old state instantly; later snapshots stay on disk (and
        readable by id) until expire_snapshots. The rolled-back-to id
        must be on the committed chain — rolling to a crashed commit's
        orphan manifest would resurrect a state that never was."""
        if snapshot_id not in self._committed_chain():
            raise ValueError(
                f"rollback: snapshot {snapshot_id} is not on the committed "
                f"chain {self._committed_chain()}"
            )
        self._point_current(snapshot_id)
        return snapshot_id

    # -------------------------------------------------- maintenance

    def compact(
        self,
        spark: SparkSession,
        target_file_bytes: int = 128 << 20,
        cluster_by: list[str] | None = None,
        merge_partitions: bool = False,
    ) -> int | None:
        """Bin-pack small data files (< ``target_file_bytes``) into
        fewer large ones, per partition tag, committed as ONE normal
        atomic snapshot — time travel to pre-compaction snapshots
        still reads the original files (expire_snapshots reclaims
        them later). Row content is untouched; only layout changes.
        Returns the new snapshot id, or None if nothing to compact.

        At 10^12-image scale streaming/micro-batch appends accumulate
        small files and manifest entries; compaction bounds both
        (Iceberg's rewrite_data_files). The rewrite itself is a
        distributed read→write; only manifest surgery is driver-side.

        Grouping respects partition tags by default, so
        ``overwrite_partition`` keeps working per tag.
        ``merge_partitions=True`` bin-packs ACROSS tags into one
        ``__compacted__`` tag — the streaming-sink shape (one small
        file per ``batch-{id}``); only safe once those batch ids can
        no longer replay (the stream's offset checkpoint has committed
        past them), since a replayed overwrite_partition can't target
        rows folded into the merged tag anymore.
        """
        files = self.files()
        by_part: dict[str | None, list[dict]] = {}
        for f in files:
            if f["bytes"] < target_file_bytes:
                key = "__compacted__" if merge_partitions else f["partition"]
                by_part.setdefault(key, []).append(f)
        rewritten: set[str] = set()
        new_files: list[dict] = []
        for part, fs in by_part.items():
            total = sum(f["bytes"] for f in fs)
            n_out = max(1, -(-total // target_file_bytes))  # ceil
            if len(fs) <= n_out:
                # already as packed as the target allows — rewriting
                # would emit the same number of sub-target files
                # forever (convergence: compact() after compact() is a
                # no-op)
                continue
            src = _scan(spark, fs)
            new_files.extend(
                self._write_data_files(src, part, cluster_by, num_files=int(n_out))
            )
            rewritten.update(f["path"] for f in fs)
        if not rewritten:
            return None
        kept = [f for f in files if f["path"] not in rewritten]
        return self._commit(kept + new_files)

    def _committed_chain(self) -> list[int]:
        """Snapshot ids actually reachable from ``_current`` via
        parent links, oldest first. A manifest on disk that is NOT on
        this chain is an orphan from a crashed commit (written before
        the ``_current`` rename died) — it was never the table state
        and must not anchor retention."""
        chain: list[int] = []
        sid = self.current_snapshot_id()
        while sid is not None:
            chain.append(sid)
            try:
                sid = self.manifest(sid).get("parent")
            except FileNotFoundError:
                break  # parent already expired earlier
        return chain[::-1]

    def expire_snapshots(self, keep_last: int = 1) -> dict[str, int]:
        """Retain the newest ``keep_last`` snapshots OF THE COMMITTED
        CHAIN (walked from ``_current`` — an on-disk manifest a
        crashed commit left behind is an orphan, not a snapshot, and
        is itself expired); delete older manifests and every data file
        under ``root`` no retained manifest references. Mirrors
        Iceberg's expire_snapshots + remove_orphan_files. Caveat (same
        as Iceberg's): don't run concurrently with an in-flight write,
        whose not-yet-committed files look like orphans."""
        if keep_last < 1:
            raise ValueError("expire_snapshots: keep_last must be >= 1")
        sids = self.snapshots()
        retained = self._committed_chain()[-keep_last:]
        referenced = {
            f["path"] for sid in retained for f in self.files(sid)
        }
        dropped_manifests = 0
        for sid in sids:
            if sid not in retained:
                os.remove(os.path.join(self.root, "manifests", f"{sid}.json"))
                dropped_manifests += 1
        # crashed commits can also strand _current.tmp.* pointer files
        # in the table root — same leftover class as orphan manifests
        for name in list(os.listdir(self.root)):
            if name.startswith("_current.tmp."):
                os.remove(os.path.join(self.root, name))
        deleted_files = 0
        data_root = os.path.join(self.root, "data")
        for commit_dir in list(os.listdir(data_root)):
            cdir = os.path.join(data_root, commit_dir)
            for name in list(os.listdir(cdir)):
                p = os.path.join(cdir, name)
                if p not in referenced:
                    os.remove(p)
                    deleted_files += name.endswith(".parquet")
            if not os.listdir(cdir):
                os.rmdir(cdir)
        return {
            "retained_snapshots": len(retained),
            "expired_manifests": dropped_manifests,
            "deleted_data_files": deleted_files,
        }

    # ------------------------------------------------------- stats

    def total_rows(self, snapshot_id: int | None = None) -> int:
        return sum(f["rows"] for f in self.files(snapshot_id))

    def partitions(self) -> set[str | None]:
        return {f["partition"] for f in self.files()}
