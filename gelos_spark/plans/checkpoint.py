"""Checkpoint / lineage / idempotent resume (SURVEY.md §2.9, M6;
north rule: "every stage writes per-partition lineage + row-count
metrics to a checkpoint Iceberg table so the job resumes idempotently
mid-pipeline").

A pipeline is a named sequence of stages. Each stage:

  1. is SKIPPED if the checkpoint log already holds a ``done`` marker
     for (run_id, stage) — the generalization of the reference's
     ``.embeddings_complete`` marker skip
     (gelos/embedding_generation.py:58-61);
  2. otherwise computes its DataFrame and commits it to the stage's
     SnapshotTable with ``overwrite_partition(partition=stage)`` —
     idempotent: a crash after data-write but before the marker
     re-runs the stage and replaces, never duplicates;
  3. then appends lineage rows to the checkpoint table: one row per
     written data file (the physical output partition) with row count
     + byte size, plus one ``done`` marker row with wall-clock ms.

The checkpoint log itself is a SnapshotTable, so markers commit with
the same atomic-rename protocol and are queryable as a DataFrame
(per-partition metrics ARE rows, as the north rule requires, not log
lines). The bookkeeping stays off Spark: ``record`` writes each
stage's few rows from the driver as one Arrow-built parquet file
(``SnapshotTable.overwrite_partition`` with a ``pyarrow.Table``) whose
footer carries ``CHECKPOINT_SCHEMA`` as its Spark row schema, and
``done_stages`` reads the markers with pyarrow from the files the
log's manifest lists — neither starts a Spark job, so a resume that
skips every stage runs none. ``resume_delta`` exposes the J6
anti-join: work items minus already-done items.
"""

from __future__ import annotations

import time
from collections.abc import Callable

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import DoubleType, LongType, StringType, StructField, StructType

from gelos_spark.tables.snapshot import SPARK_SCHEMA_KEY, SnapshotTable

CHECKPOINT_SCHEMA = StructType(
    [
        StructField("run_id", StringType()),
        StructField("stage", StringType()),
        StructField("partition_id", StringType()),
        StructField("rows_in", LongType()),
        StructField("rows_out", LongType()),
        StructField("bytes", LongType()),
        StructField("status", StringType()),
        StructField("wall_ms", LongType()),
        StructField("ts", DoubleType()),
    ]
)
# the Arrow form record() writes; its footer metadata makes Spark read
# the file back as exactly CHECKPOINT_SCHEMA
_ARROW_SCHEMA = to_arrow_schema(CHECKPOINT_SCHEMA).with_metadata(
    {SPARK_SCHEMA_KEY: CHECKPOINT_SCHEMA.json()}
)


class CheckpointLog:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.table = SnapshotTable(root)

    def read(self) -> DataFrame:
        if self.table.is_empty():
            return self.spark.createDataFrame([], CHECKPOINT_SCHEMA)
        return self.table.read(self.spark)

    def done_stages(self, run_id: str) -> set[str]:
        """Stages of ``run_id`` with a ``done`` marker, read with
        pyarrow from the log files whose manifest run_id range holds
        ``run_id`` (no Spark job)."""
        done: set[str] = set()
        for f in self.table.plan_files({"run_id": (run_id, run_id)}):
            t = pq.read_table(f["path"], columns=["run_id", "stage", "status"]).to_pydict()
            done.update(
                stage
                for rid, stage, status in zip(t["run_id"], t["stage"], t["status"])
                if rid == run_id and status == "done"
            )
        return done

    def record(self, rows: list[tuple]) -> None:
        table = pa.Table.from_arrays([list(c) for c in zip(*rows)], schema=_ARROW_SCHEMA)
        # one checkpoint commit per stage, tagged by (run, stage) so a
        # re-run replaces its own lineage instead of duplicating it
        run_id, stage = rows[0][0], rows[0][1]
        self.table.overwrite_partition(table, partition=f"{run_id}/{stage}")

    def lineage(self, run_id: str) -> DataFrame:
        return self.read().where(F.col("run_id") == run_id).orderBy("stage", "partition_id")


class Pipeline:
    """Checkpoint-resumable multi-stage pipeline over SnapshotTables."""

    def __init__(self, spark: SparkSession, root: str, run_id: str):
        self.spark = spark
        self.root = root
        self.run_id = run_id
        self.log = CheckpointLog(spark, f"{root}/_checkpoints")
        self._tables: dict[str, SnapshotTable] = {}
        self.skipped: list[str] = []
        self.executed: list[str] = []

    def table(self, stage: str) -> SnapshotTable:
        if stage not in self._tables:
            self._tables[stage] = SnapshotTable(f"{self.root}/{stage}")
        return self._tables[stage]

    def output(self, stage: str) -> DataFrame:
        return self.table(stage).read(self.spark)

    def stage(
        self,
        name: str,
        fn: Callable[[SparkSession], DataFrame],
        rows_in: int = -1,
        cluster_by: list[str] | None = None,
        num_files: int | None = None,
    ) -> DataFrame:
        """Run (or resume-skip) one stage; returns its committed
        output. ``cluster_by`` commits the stage table range-sorted on
        the given keys so manifest min/max stats prune later range
        scans (tables/snapshot.py)."""
        tbl = self.table(name)
        if name in self.log.done_stages(self.run_id):
            self.skipped.append(name)
            return tbl.read(self.spark)

        t0 = time.time()
        df = fn(self.spark)
        tbl.overwrite_partition(  # idempotent commit
            df, partition=name, cluster_by=cluster_by, num_files=num_files
        )
        wall_ms = int((time.time() - t0) * 1000)

        now = time.time()
        lineage = [
            (
                self.run_id,
                name,
                f["path"].rsplit("/", 1)[-1],
                rows_in,
                f["rows"],
                f["bytes"],
                "file",
                wall_ms,
                now,
            )
            for f in tbl.files()
            if f["partition"] == name
        ]
        total = sum(r[4] for r in lineage)
        lineage.append(
            (self.run_id, name, "__stage__", rows_in, total, -1, "done", wall_ms, now)
        )
        self.log.record(lineage)
        self.executed.append(name)
        return tbl.read(self.spark)


def resume_delta(work: DataFrame, done: DataFrame, key: str) -> DataFrame:
    """J6 anti-join: rows of ``work`` whose ``key`` is not in ``done``."""
    return work.join(done.select(key).distinct(), key, "left_anti")
