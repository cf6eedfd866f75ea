"""Checkpoint / lineage / exactly-once resume (north-rule requirement).

The reference has no fault tolerance (SURVEY §4 "spill/fault" row:
LMDB batched writes only, ``gluonocr/data/data_utils.py:112-115``);
this is an engine addition. Semantics emulate Iceberg's
snapshot-commit on plain parquet so the sandbox needs no extra jars —
on a real deployment each snapshot directory maps 1:1 onto an
Iceberg ``append`` snapshot and `_lineage` onto a metadata table.

:class:`CommitLog` is that protocol, once, for every exactly-once
writer: :class:`ExtractionJob` here (``docs/run_id=<id>/``) and
:class:`gluon_ocr_spark.pipeline.IncrementalCorpus`
(``docs/increment=<id>/`` plus its artifact tables):

* each snapshot writes to isolated ``<part>=<id>/`` directories
  (never mutating prior snapshots);
* the snapshot is COMMITTED only when its rows appear in the
  ``_lineage`` log — one single-file append, written last, after the
  data write has fully succeeded. Readers resolve committed ids from
  the log first, so a crash mid-write leaves an orphan directory that
  is invisible to readers and harmlessly re-processed on retry;
* the log is read ONCE per call, with its known schema (no inference
  job), as one aggregate row per committed id;
* ONLY a missing log (``PATH_NOT_FOUND``) means "no commits yet". A
  log that exists but cannot be read raises: reading it as empty would
  re-extract and re-commit every url. A log holding only the
  ``_temporary/`` of a crashed first commit reads as zero rows.

For :class:`ExtractionJob`, resume = left-anti join of the input pages
against the committed url set, so every url is extracted exactly once
across any number of crash/retry cycles; lineage rows carry
per-partition counters ``(run_id, partition_id, url_count, line_count,
char_count, min_url, max_url, committed_at)`` — the SURVEY §1.3
lineage schema — computed from the data as written (not from the
plan), so the metrics audit what actually committed.
"""

from __future__ import annotations

import os
import uuid

import pandas as pd
from pyspark.errors import AnalysisException
from pyspark.sql import Column, DataFrame, Row, SparkSession, functions as F

from ..operators.extract import DOCS_SCHEMA, extract_docs

#: lineage row as built at the commit point; ``committed_at`` is
#: appended there
LINEAGE_ROW_SCHEMA = (
    "run_id string, partition_id int, url_count bigint, line_count bigint, "
    "char_count bigint, min_url string, max_url string"
)
LINEAGE_SCHEMA = LINEAGE_ROW_SCHEMA + ", committed_at timestamp"
#: a run directory as written: the docs plus the partition that wrote them
RUN_SCHEMA = DOCS_SCHEMA + ", partition_id int"


class CommitLog:
    """The ``_lineage`` snapshot-commit log under ``root``.
    ``row_schema`` is a flat ``"name type, ..."`` DDL list whose first
    column is the snapshot id; ``part`` names the ``<part>=<id>``
    directories that hold each snapshot's data."""

    def __init__(self, root: str, row_schema: str, part: str):
        self.dir = os.path.join(root, "_lineage")
        self.columns = [field.split()[0] for field in row_schema.split(",")]
        self.key = self.columns[0]
        self.part = part
        self.row_schema = row_schema
        self.schema = row_schema + ", committed_at timestamp"

    def read(self, spark: SparkSession) -> DataFrame | None:
        """The raw log, or None when it does not exist yet."""
        try:
            return spark.read.schema(self.schema).parquet(self.dir)
        except AnalysisException as e:
            if e.getCondition() == "PATH_NOT_FOUND":
                return None  # no commits yet
            raise

    def committed(self, spark: SparkSession, *totals: Column) -> dict[str, Row]:
        """ONE log read: ``{id: Row(key, *totals)}`` per committed id."""
        log = self.read(spark)
        if log is None:
            return {}
        rows = log.groupBy(self.key).agg(*(totals or (F.count("*").alias("rows"),))).collect()
        return {r[self.key]: r for r in rows}

    def snapshots(
        self, spark: SparkSession, base_dir: str, ids, schema: str | None = None
    ) -> DataFrame | None:
        """Union of the committed ``base_dir/<part>=<id>`` directories
        only — orphan (uncommitted) directories stay invisible, like
        uncommitted Iceberg snapshots."""
        paths = [os.path.join(base_dir, f"{self.part}={i}") for i in ids]
        if not paths:
            return None
        reader = spark.read if schema is None else spark.read.schema(schema)
        return reader.parquet(*paths)

    def commit(self, spark: SparkSession, rows: list[tuple]) -> None:
        """THE commit point. coalesce(1): one file per snapshot so the
        append is all-or-nothing — a multi-file append could crash
        half-way and leave a partially-committed snapshot (wrong
        counters on replay). The rows are tiny (one per partition at
        most), so a single file costs nothing even at 10^5 partitions.
        They go over as one pandas frame: with Arrow on, that takes no
        Python-worker round trip, which a list of tuples costs (measured
        ~0.15 s against ~1 s a commit, local[4] on a 4-core host)."""
        frame = pd.DataFrame(rows, columns=self.columns)
        log = spark.createDataFrame(frame, self.row_schema).withColumn("committed_at", F.current_timestamp())
        log.coalesce(1).write.mode("append").parquet(self.dir)


class ExtractionJob:
    """Resumable distributed extraction over a pages table."""

    def __init__(self, out_dir: str, num_partitions: int | None = None):
        self.out_dir = out_dir
        self.num_partitions = num_partitions
        self.docs_dir = os.path.join(out_dir, "docs")
        self.log = CommitLog(out_dir, LINEAGE_ROW_SCHEMA, "run_id")
        self.lineage_dir = self.log.dir

    # -- read side --------------------------------------------------
    def lineage(self, spark: SparkSession) -> DataFrame | None:
        return self.log.read(spark)

    def committed_run_ids(self, spark: SparkSession) -> list[str]:
        return list(self.log.committed(spark))

    def read_docs(self, spark: SparkSession) -> DataFrame | None:
        """Union of committed runs only."""
        return self.log.snapshots(spark, self.docs_dir, self.log.committed(spark), RUN_SCHEMA)

    def committed_urls(self, spark: SparkSession) -> DataFrame | None:
        docs = self.read_docs(spark)
        return None if docs is None else docs.select("url")

    # -- write side ---------------------------------------------------
    def run(self, spark: SparkSession, pages: DataFrame, run_id: str | None = None) -> dict:
        """Extract all not-yet-committed pages; commit docs + lineage.

        Returns counters for observability. Safe to re-run after any
        crash; committed urls are never re-extracted (exactly-once).
        """
        run_id = run_id or uuid.uuid4().hex[:16]
        committed = self.log.committed(spark, F.sum("url_count").alias("n"), F.sum("line_count").alias("l"))
        if run_id in committed:
            # Idempotent replay: foreachBatch re-delivers an epoch when
            # the STREAM's commit-log write crashed after OUR commit
            # (deterministic run_id = epoch). Recomputing todo as empty
            # via the anti-join would overwrite the committed run dir
            # with an empty dataset — permanent data loss. A committed
            # run_id is final: report its counters from lineage and
            # touch nothing.
            prior = committed[run_id]
            return {"run_id": run_id, "urls_processed": prior["n"], "lines": prior["l"], "replayed": True}
        todo = pages
        if committed:
            # resume: anti-join against committed urls. url is the
            # identity key (input_hint); both sides shuffle on it and
            # AQE handles skew.
            done = self.log.snapshots(spark, self.docs_dir, committed, RUN_SCHEMA)
            todo = pages.join(done.select("url"), "url", "left_anti")

        docs = extract_docs(todo, num_partitions=self.num_partitions).withColumn(
            "partition_id", F.spark_partition_id()
        )
        run_dir = os.path.join(self.docs_dir, f"run_id={run_id}")
        docs.write.mode("overwrite").parquet(run_dir)

        # lineage AND the returned counters from ONE pass over the data
        # as written (audit what actually committed): a row per partition
        parts = (
            spark.read.schema(RUN_SCHEMA)
            .parquet(run_dir)
            .groupBy("partition_id")
            .agg(
                F.count("*").alias("url_count"),
                F.sum("n_lines").alias("line_count"),
                F.sum("n_chars").alias("char_count"),
                F.min("url").alias("min_url"),
                F.max("url").alias("max_url"),
            )
            .collect()
        )
        self.log.commit(spark, [(run_id, *p) for p in parts])
        return {
            "run_id": run_id,
            "urls_processed": sum(p["url_count"] for p in parts),
            "lines": sum(p["line_count"] for p in parts),
        }
