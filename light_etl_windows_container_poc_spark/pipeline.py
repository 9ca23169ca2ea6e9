"""End-to-end ETL pipeline — the reference's whole flow as one engine call.

Reference flow (watch → pattern-route → read → clean → append → log →
archive → notify) lived across a file watcher, Celery tasks, and pandas
(`pattern_based_cleaner_watcher.py`, `dataframe_tasks.py`,
`enhanced_tasks.py`). Here it's a single batch job, or a stream (see
streaming/excel_pipeline.py).

One core, two callers. `route_clean_append` is the whole routed ingest:

    route on source_path → sanitize names → drop all-empty rows, then
    coerce by name → lineage from target_table (ALL tables in one
    plan) → persist → ONE (file, table) row-count aggregation →
    concurrent per-table appends from the cache.

`ETLPipeline.ingest_csv_dir` feeds it a CSV drop and the Excel stream's
`excel_etl_batch_handler` feeds it each micro-batch. They differ only in
what they do with its result:
- failure policy: batch logs a failing table as an ``error`` row and
  continues; the stream re-raises the first failed append so the
  micro-batch replays from its checkpoint;
- log granularity: batch writes one `etl_processing_log` row per table
  (its counts summed over files); the stream writes one
  ``completed`` row per (file, table).

Scale shape: the corpus is parsed and cleaned exactly ONCE; the counts
and every append re-read the persisted frame, never the raw files, and
discovery/routing/archive are metadata-only. So once the corpus is
cached the sink jobs set an ingest's latency (the reference appends and
logs one table at a time, `dataframe_tasks.py:78-103`).

Reliability surface (reference `enhanced_tasks.py`):
- per-file retry with backoff then quarantine (`ingest_files_with_retry`
  ~ Celery task retries, `enhanced_tasks.py` bind=True task classes)
- archive processed inputs (`enhanced_tasks.py:207-219`)
- on_success / on_failure completion callbacks
  (`notify_processing_complete`, `enhanced_tasks.py:28-49`)
"""

from __future__ import annotations

import os
import shutil
import time
from collections import Counter
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators.cleaning import (coerce_by_name, drop_empty_rows,
                                 sanitize_column_names, with_etl_metadata)
from .operators.routing import PatternRouter
from .sinks import (append_processing_log, append_tables,
                    processing_log_row, write_processing_log)
from .sources.files import read_csv_auto


@dataclass
class IngestResult:
    table: str
    rows: int
    status: str
    error: str | None = None


def _move_file(src: str, dest_dir: str) -> str:
    """Driver-side file move for local/POSIX paths (the reference archives
    on a local share, `enhanced_tasks.py:207-219`). On HDFS/S3 swap this
    for the Hadoop FileSystem rename — the pipeline only ever moves a
    METADATA-scale list of paths, never data."""
    os.makedirs(dest_dir, exist_ok=True)
    dest = os.path.join(dest_dir, os.path.basename(src))
    if os.path.exists(dest):  # keep moves idempotent across retries
        base, ext = os.path.splitext(dest)
        dest = f"{base}_{int(time.time() * 1000)}{ext}"
    shutil.move(src, dest)
    return dest


def route_clean_append(df: DataFrame, warehouse_dir: str,
                       router: PatternRouter, batch_ts: str | None = None,
                       ) -> tuple[dict[tuple[str, str], int],
                                  dict[str, tuple[float, Exception | None]]]:
    """Route ``df`` on its ``source_path``, clean every table in one plan,
    and append each routed table to the warehouse.

    Returns the landed row counts keyed by ``(source_path, target_table)``
    and ``append_tables``' per-table ``(seconds, error)`` outcomes. The
    caller owns the failure policy and the processing-log rows.
    """
    named = sanitize_column_names(router.route(df, path_col="source_path"))
    # dropna(how='all') parity (reference enhanced_tasks.py:97-103) runs
    # over the DATA columns only, since the lineage columns are never
    # null; and BEFORE coercion, as pandas does, so a row whose only value
    # is junk in an *amount* column lands as an all-null data row
    data_cols = [c for c in named.columns
                 if c not in ("source_path", "target_table")]
    cleaned = with_etl_metadata(
        coerce_by_name(drop_empty_rows(named, data_cols)),
        F.col("target_table"), batch_ts).persist()
    try:
        counts = {(r["source_path"], r["target_table"]): r["n"] for r in
                  cleaned.groupBy("source_path", "target_table")
                  .agg(F.count(F.lit(1)).alias("n")).collect()}
        outcomes = append_tables(df.sparkSession, warehouse_dir, {
            table: (cleaned.filter(F.col("target_table") == table)
                    .drop("target_table"))
            for table in {t for _, t in counts}})
    finally:
        cleaned.unpersist()
    return counts, outcomes


@dataclass
class ETLPipeline:
    spark: SparkSession
    warehouse_dir: str
    router: PatternRouter = field(default_factory=PatternRouter)
    # completion callbacks (reference notify_processing_complete /
    # on_failure hooks): called once per ingest with the result list
    on_success: Callable[[list[IngestResult]], None] | None = None
    on_failure: Callable[[list[IngestResult]], None] | None = None

    def ingest_csv_dir(self, input_dir: str, schema_ddl: str,
                       batch_ts: str | None = None,
                       archive_dir: str | None = None,
                       notify: bool = True) -> list[IngestResult]:
        """Route every CSV under ``input_dir`` by path pattern and append
        each routed group to its warehouse table (``route_clean_append``).

        A failing table yields an ``error`` result and log row and the
        other tables still land. Then ONE processing-log append carries
        every table's row. Results are sorted by table. ``archive_dir``
        moves successfully-ingested input files there afterwards.
        """
        counts, outcomes = route_clean_append(
            read_csv_auto(self.spark, input_dir, schema_ddl),
            self.warehouse_dir, self.router, batch_ts)
        rows: Counter[str] = Counter()
        for (_path, table), n in counts.items():
            rows[table] += n
        results: list[IngestResult] = []
        log: list[tuple] = []
        for table in sorted(outcomes):
            seconds, err = outcomes[table]
            # log-and-continue, reference behavior
            r = (IngestResult(table, rows[table], "success") if err is None
                 else IngestResult(table, 0, "error", str(err)))
            results.append(r)
            log.append(processing_log_row(
                input_dir, r.rows, r.status, error_message=r.error,
                processing_time_seconds=seconds, sheet_name=table))
        append_processing_log(self.spark, self.warehouse_dir, log)
        if archive_dir is not None and results and \
                all(r.status == "success" for r in results):
            for src in self._list_input_files(input_dir):
                _move_file(src, archive_dir)
        if notify:
            self._notify(results)
        return results

    def ingest_files_with_retry(self, files: list[str], schema_ddl: str,
                                batch_ts: str | None = None,
                                max_retries: int = 3,
                                backoff_seconds: float = 0.1,
                                archive_dir: str | None = None,
                                quarantine_dir: str | None = None,
                                ) -> list[IngestResult]:
        """Per-FILE ingest with the reference's Celery retry policy: each
        file is attempted up to ``max_retries`` times with exponential
        backoff; a file that still fails is quarantined (moved to
        ``quarantine_dir``) and logged — one poison file never sinks the
        batch, and unlike Spark's task retries this re-attempts the whole
        file-level job."""
        results: list[IngestResult] = []
        for path in files:
            last_err: str | None = None
            for attempt in range(max_retries):
                try:
                    # read_csv_auto accepts a single-file path: the per-file
                    # job re-runs end-to-end on retry, not just a Spark task
                    file_results = self.ingest_csv_dir(
                        path, schema_ddl, batch_ts=batch_ts, notify=False)
                    results.extend(file_results)
                    last_err = None
                    break
                except Exception as e:
                    last_err = str(e)
                    time.sleep(backoff_seconds * (2 ** attempt))
            if last_err is not None:
                write_processing_log(
                    self.spark, self.warehouse_dir, filename=path,
                    rows_processed=0, status="quarantined",
                    error_message=last_err)
                if quarantine_dir is not None and os.path.isfile(path):
                    _move_file(path, quarantine_dir)
                results.append(IngestResult(os.path.basename(path), 0,
                                            "quarantined", last_err))
            elif archive_dir is not None and os.path.isfile(path):
                _move_file(path, archive_dir)
        self._notify(results)
        return results

    # -- internals --------------------------------------------------------

    def _list_input_files(self, input_dir: str) -> list[str]:
        out = []
        for root, _dirs, names in os.walk(input_dir):
            out += [os.path.join(root, n) for n in names if n.endswith(".csv")]
        return out

    def _notify(self, results: list[IngestResult]) -> None:
        failed = [r for r in results if r.status != "success"]
        try:
            if failed and self.on_failure is not None:
                self.on_failure(results)
            elif not failed and self.on_success is not None:
                self.on_success(results)
        except Exception:  # a broken callback must not fail the ingest
            pass


def health_check(spark: SparkSession, warehouse_dir: str | None = None,
                 tables: list[str] | None = None) -> dict:
    """Reference `health_check` parity (`enhanced_tasks.py:264-284`):
    session liveness + warehouse readability in one probe dict."""
    out: dict = {"status": "healthy", "spark_version": spark.version,
                 "default_parallelism": spark.sparkContext.defaultParallelism}
    try:
        out["session_alive"] = spark.range(1).count() == 1
    except Exception as e:  # pragma: no cover
        return {"status": "unhealthy", "error": str(e)}
    if warehouse_dir and tables:
        table_status = {}
        for t in tables:
            try:
                spark.read.parquet(f"{warehouse_dir}/{t}").limit(1).collect()
                table_status[t] = "ok"
            except Exception as e:
                table_status[t] = f"error: {e}"[:200]
                out["status"] = "degraded"
        out["tables"] = table_status
    return out
