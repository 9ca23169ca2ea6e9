"""The reference's WHOLE flow, streaming: watch an Excel drive →
pattern-route → clean → per-table warehouse append → processing log.

Each micro-batch of the streaming excel source
(`sources/excel_datasource.py`) runs through the batch pipeline's one
ingest core, `pipeline.route_clean_append`: the same routing, cleaning,
lineage, single-parse persist and concurrent appends. The Structured
Streaming checkpoint replaces the watcher's seen-file bookkeeping
(`pattern_based_cleaner_watcher.py:239-314`), so new/modified workbooks
flow to the warehouse without a poll-loop process.

The stream differs from the batch ingest in two things only:
- failure policy: if any table's append raises, the others still
  finish, then the micro-batch fails with the first error (by table)
  and writes no log row, so it replays from the checkpoint;
- log granularity: one ``completed`` `etl_processing_log` row per
  (file, table), all in ONE append.
"""

from __future__ import annotations

import time
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from ..operators.routing import PatternRouter
from ..pipeline import route_clean_append
from ..sinks import append_processing_log, processing_log_row


def excel_etl_batch_handler(warehouse_dir: str,
                            router: PatternRouter | None = None,
                            batch_ts: str | None = None,
                            ) -> Callable[[DataFrame, int], None]:
    """foreachBatch function: `route_clean_append`, then the per-file
    processing-log rows in one job (reference `etl_processing_log`,
    `database_postgres.py:71-83`)."""
    router = router or PatternRouter()

    def handle(batch: DataFrame, batch_id: int) -> None:
        t0 = time.time()
        counts, outcomes = route_clean_append(batch, warehouse_dir, router,
                                              batch_ts)
        for table in sorted(outcomes):
            if outcomes[table][1] is not None:
                raise outcomes[table][1]
        # the micro-batch id lives in the streaming checkpoint/metrics,
        # not in the log: its schema is shared with the batch pipeline
        dt = time.time() - t0
        append_processing_log(batch.sparkSession, warehouse_dir, [
            processing_log_row(path, n, "completed",
                               processing_time_seconds=dt)
            for (path, _table), n in counts.items()])

    return handle


def start_excel_etl_stream(spark: SparkSession, input_dir: str,
                           schema_ddl: str, warehouse_dir: str,
                           checkpoint_dir: str,
                           router: PatternRouter | None = None,
                           batch_ts: str | None = None,
                           available_now: bool = True) -> StreamingQuery:
    """Wire the streaming excel source into the ETL handler. The schema
    gains `source_path` automatically (routing needs it). Register-once
    semantics: re-registering the data source per session is a no-op."""
    from ..session import ensure_package_on_executors
    from ..sources.excel_datasource import ExcelDataSource

    ensure_package_on_executors(spark)
    spark.dataSource.register(ExcelDataSource)
    ddl = schema_ddl if "source_path" in schema_ddl \
        else schema_ddl + ", source_path string"
    stream = spark.readStream.format("excel").schema(ddl).load(input_dir)
    writer = (stream.writeStream
              .foreachBatch(excel_etl_batch_handler(
                  warehouse_dir, router, batch_ts))
              .option("checkpointLocation", checkpoint_dir))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
