from __future__ import annotations

from light_etl_windows_container_poc_spark.pipeline import ETLPipeline

SCHEMA = "Customer_Name string, Order_Date string, Amount string"


def _mkcsv(p, rows):
    p.parent.mkdir(parents=True, exist_ok=True)
    p.write_text("Customer Name,Order Date,Amount\n" + "\n".join(rows) + "\n")


def test_pipeline_routes_cleans_appends_and_logs(spark, tmp_path):
    src = tmp_path / "drop"
    _mkcsv(src / "customer_data" / "a.csv",
           ["Ana,2024-01-05,10.5", "Bob,2024-02-01,20.0"])
    _mkcsv(src / "sales_data" / "b.csv", ["Cy,2024-03-01,30.25"])
    _mkcsv(src / "unmatched_stuff" / "c.csv", ["Zed,2024-01-01,99.0"])

    wh = str(tmp_path / "warehouse")
    pipe = ETLPipeline(spark, warehouse_dir=wh)
    # read_csv_auto parses with pandas (header from file), so the DDL uses
    # the raw header names — sanitize runs inside the pipeline
    results = pipe.ingest_csv_dir(
        str(src), "`Customer Name` string, `Order Date` string, Amount string",
        batch_ts="2026-01-01 00:00:00")

    by_table = {r.table: r for r in results}
    assert set(by_table) == {"dim_customers", "fact_sales"}  # unmatched skipped
    assert by_table["dim_customers"].rows == 2
    assert by_table["dim_customers"].status == "success"

    cust = spark.read.parquet(f"{wh}/dim_customers")
    assert sorted(cust.columns)[:3] == ["amount", "customer_name", "order_date"]
    row = cust.filter(cust.customer_name == "Ana").collect()[0]
    assert row.amount == 10.5            # *amount* name-coerced to double
    assert str(row.order_date) == "2024-01-05"  # *date* coerced to DATE
    assert row.source_name == "dim_customers"

    log = spark.read.parquet(f"{wh}/etl_processing_log")
    assert log.filter(log.status == "success").count() == 2


def test_pipeline_ingest_is_single_pass(spark, tmp_path, monkeypatch):
    """The input corpus must be parsed exactly once per ingest: the routed+
    cleaned frame is persisted and every per-table append reads the cache.
    Spy on read_csv_auto to count parse-plan constructions and check the
    per-table write plans hit InMemoryRelation."""
    import light_etl_windows_container_poc_spark.pipeline as pl

    src = tmp_path / "drop"
    _mkcsv(src / "customer_data" / "a.csv", ["Ana,2024-01-05,10.5"])
    _mkcsv(src / "sales_data" / "b.csv", ["Cy,2024-03-01,30.25"])

    calls = {"n": 0}
    real = pl.read_csv_auto

    def spy(*a, **k):
        calls["n"] += 1
        return real(*a, **k)

    monkeypatch.setattr(pl, "read_csv_auto", spy)
    wh = str(tmp_path / "warehouse")
    pipe = pl.ETLPipeline(spark, warehouse_dir=wh)
    results = pipe.ingest_csv_dir(
        str(src), "`Customer Name` string, `Order Date` string, Amount string",
        batch_ts="2026-01-01 00:00:00")
    assert calls["n"] == 1          # ONE parse plan for the whole ingest
    assert len(results) == 2
    # both tables landed from the one pass
    assert spark.read.parquet(f"{wh}/dim_customers").count() == 1
    assert spark.read.parquet(f"{wh}/fact_sales").count() == 1


def test_pipeline_archives_and_notifies(spark, tmp_path):
    import os

    import light_etl_windows_container_poc_spark.pipeline as pl

    src = tmp_path / "drop"
    _mkcsv(src / "customer_data" / "a.csv", ["Ana,2024-01-05,10.5"])
    archive = tmp_path / "archive"
    seen = {}
    pipe = pl.ETLPipeline(
        spark, warehouse_dir=str(tmp_path / "wh"),
        on_success=lambda rs: seen.setdefault("ok", rs),
        on_failure=lambda rs: seen.setdefault("bad", rs))
    pipe.ingest_csv_dir(
        str(src), "`Customer Name` string, `Order Date` string, Amount string",
        batch_ts="2026-01-01 00:00:00", archive_dir=str(archive))
    # file moved out of the drop dir into the archive
    assert not (src / "customer_data" / "a.csv").exists()
    assert os.listdir(archive) == ["a.csv"]
    # success callback fired with the results, failure one did not
    assert [r.table for r in seen["ok"]] == ["dim_customers"]
    assert "bad" not in seen


def test_pipeline_retries_then_quarantines_poison_file(spark, tmp_path):
    import light_etl_windows_container_poc_spark.pipeline as pl

    src = tmp_path / "drop" / "customer_data"
    good = src / "good.csv"
    _mkcsv(good, ["Ana,2024-01-05,10.5"])
    poison = src / "poison.csv"
    # unclosed quote + ragged rows → pandas C tokenizer raises ParserError
    poison.write_text('Customer Name,Order Date,Amount\n"Bad,x\nc,d,e,f,g,h\n')

    seen = {}
    quarantine = tmp_path / "quarantine"
    wh = str(tmp_path / "wh")
    pipe = pl.ETLPipeline(spark, warehouse_dir=wh,
                          on_failure=lambda rs: seen.setdefault("bad", rs))
    results = pipe.ingest_files_with_retry(
        [str(good), str(poison)],
        "`Customer Name` string, `Order Date` string, Amount string",
        batch_ts="2026-01-01 00:00:00", max_retries=2,
        backoff_seconds=0.01, quarantine_dir=str(quarantine),
        archive_dir=str(tmp_path / "archive"))

    by_status = {r.status for r in results}
    assert by_status == {"success", "quarantined"}
    # the poison file was moved to quarantine, the good one archived
    assert (quarantine / "poison.csv").exists()
    assert (tmp_path / "archive" / "good.csv").exists()
    # quarantine event recorded in the processing log
    log = spark.read.parquet(f"{wh}/etl_processing_log")
    assert log.filter(log.status == "quarantined").count() == 1
    # failure callback fired (batch contains a non-success result)
    assert "bad" in seen


# -- sink layer: concurrent per-table appends, one processing-log append --

_DDL = "`Customer Name` string, `Order Date` string, Amount string"
_LOG_SCHEMA = ("struct<filename:string,sheet_name:string,rows_processed:bigint,"
               "status:string,error_message:string,processed_at:string,"
               "processing_time_seconds:double>")


def _two_table_drop(tmp_path):
    src = tmp_path / "drop"
    _mkcsv(src / "customer_data" / "a.csv",
           ["Ana,2024-01-05,10.5", "Bob,2024-02-01,20.0"])
    _mkcsv(src / "sales_data" / "b.csv", ["Cy,2024-03-01,30.25"])
    return str(src)


def test_ingest_writes_one_log_append(spark, tmp_path, monkeypatch):
    from light_etl_windows_container_poc_spark import sinks

    tables = []
    real = sinks.append_table

    def spy(df, warehouse_dir, table, *a, **k):
        tables.append(table)
        return real(df, warehouse_dir, table, *a, **k)

    monkeypatch.setattr(sinks, "append_table", spy)
    wh = str(tmp_path / "warehouse")
    results = ETLPipeline(spark, warehouse_dir=wh).ingest_csv_dir(
        _two_table_drop(tmp_path), _DDL, batch_ts="2026-01-01 00:00:00")
    assert [(r.table, r.rows, r.status) for r in results] == [
        ("dim_customers", 2, "success"), ("fact_sales", 1, "success")]
    assert tables.count("etl_processing_log") == 1
    assert sorted(t for t in tables if t != "etl_processing_log") == [
        "dim_customers", "fact_sales"]
    log = spark.read.parquet(f"{wh}/etl_processing_log")
    assert sorted((r.sheet_name, r.rows_processed, r.status)
                  for r in log.collect()) == [
        ("dim_customers", 2, "success"), ("fact_sales", 1, "success")]


def test_failing_table_is_isolated_and_logged(spark, tmp_path, monkeypatch):
    """One table's append raising must not stop the others, and both
    outcomes land in the one log append."""
    from light_etl_windows_container_poc_spark import sinks

    real = sinks.append_table

    def flaky(df, warehouse_dir, table, *a, **k):
        if table == "fact_sales":
            raise RuntimeError("disk full")
        return real(df, warehouse_dir, table, *a, **k)

    monkeypatch.setattr(sinks, "append_table", flaky)
    wh = str(tmp_path / "warehouse")
    results = ETLPipeline(spark, warehouse_dir=wh).ingest_csv_dir(
        _two_table_drop(tmp_path), _DDL, batch_ts="2026-01-01 00:00:00")
    assert [(r.table, r.rows, r.status) for r in results] == [
        ("dim_customers", 2, "success"), ("fact_sales", 0, "error")]
    assert results[1].error == "disk full"
    assert spark.read.parquet(f"{wh}/dim_customers").count() == 2
    log = {r.sheet_name: r for r in
           spark.read.parquet(f"{wh}/etl_processing_log").collect()}
    assert set(log) == {"dim_customers", "fact_sales"}
    assert log["dim_customers"].status == "success"
    assert log["fact_sales"].status == "error"
    assert log["fact_sales"].error_message == "disk full"


def test_append_jobs_keep_the_callers_job_group(spark, tmp_path,
                                                monkeypatch, job_group):
    """The appends run on their own driver threads; every job they start
    must still carry the caller's job group, so no ingest job goes
    unattributed."""
    from light_etl_windows_container_poc_spark import sinks

    groups = []
    real = sinks.append_table

    def spy(df, warehouse_dir, table, *a, **k):
        groups.append((table, spark.sparkContext.getLocalProperty(
            "spark.jobGroup.id")))
        return real(df, warehouse_dir, table, *a, **k)

    monkeypatch.setattr(sinks, "append_table", spy)
    wh = str(tmp_path / "warehouse")
    with job_group("ingest_group") as sc:
        tracker = sc.statusTracker()
        ungrouped0 = set(tracker.getJobIdsForGroup(None))
        ETLPipeline(spark, warehouse_dir=wh).ingest_csv_dir(
            _two_table_drop(tmp_path), _DDL, batch_ts="2026-01-01 00:00:00")
        grouped = tracker.getJobIdsForGroup("ingest_group")
        # no NEW ungrouped job; once the session passes
        # spark.ui.retainedJobs the status store evicts its oldest jobs,
        # so the ungrouped set may shrink but must never gain an id
        assert set(tracker.getJobIdsForGroup(None)) - ungrouped0 == set()
    assert sorted(groups) == [("dim_customers", "ingest_group"),
                              ("etl_processing_log", "ingest_group"),
                              ("fact_sales", "ingest_group")]
    assert len(grouped) >= len(groups)


def test_two_table_ingest_job_ceiling(spark, tmp_path, job_group):
    """Noise-free tripwire on the ingest's job diet: one group-by count,
    one append per table and one processing-log append (7 jobs before
    the log rows were batched into one append)."""
    with job_group("ingest_ceiling") as sc:
        ETLPipeline(spark, warehouse_dir=str(tmp_path / "warehouse")
                    ).ingest_csv_dir(_two_table_drop(tmp_path), _DDL,
                                     batch_ts="2026-01-01 00:00:00")
        jobs = sc.statusTracker().getJobIdsForGroup("ingest_ceiling")
    assert len(jobs) <= 6


def test_processing_log_schema_is_one_schema(spark, tmp_path):
    """The batch ingest, a stream micro-batch and a quarantine event all
    append the same 7-column `etl_processing_log` schema; checked per
    parquet file, since a mixed footer would be hidden by the table
    scan."""
    import glob

    from light_etl_windows_container_poc_spark.sources.xlsx import \
        build_xlsx_bytes
    from light_etl_windows_container_poc_spark.streaming.excel_pipeline \
        import start_excel_etl_stream

    wh = str(tmp_path / "warehouse")
    pipe = ETLPipeline(spark, warehouse_dir=wh)
    pipe.ingest_csv_dir(_two_table_drop(tmp_path), _DDL,
                        batch_ts="2026-01-01 00:00:00")
    poison = tmp_path / "poison" / "customer_data" / "p.csv"
    poison.parent.mkdir(parents=True)
    poison.write_text('Customer Name,Order Date,Amount\n"Bad,x\nc,d,e,f\n')
    pipe.ingest_files_with_retry([str(poison)], _DDL, max_retries=1,
                                 backoff_seconds=0.0)
    book = tmp_path / "drive" / "sales_data" / "s.xlsx"
    book.parent.mkdir(parents=True)
    book.write_bytes(build_xlsx_bytes({"S": [["Item"], ["widget"]]}))
    q = start_excel_etl_stream(spark, str(tmp_path / "drive"), "Item string",
                               wh, str(tmp_path / "ckpt"),
                               batch_ts="2024-06-01 00:00:00")
    assert q.awaitTermination(300)
    assert q.exception() is None

    files = glob.glob(f"{wh}/etl_processing_log/*.parquet")
    statuses = set()
    for f in files:
        df = spark.read.parquet(f)
        assert df.schema.simpleString() == _LOG_SCHEMA, f
        statuses |= {r.status for r in df.collect()}
    assert statuses == {"success", "quarantined", "completed"}


def test_batch_and_stream_land_the_same_rows(spark, tmp_path):
    """The batch ingest and an Excel-stream micro-batch share one ingest
    core, so identical rows land identically, lineage included. The
    all-empty row is dropped by both. The row whose only value is a junk
    amount lands in both as an all-null data row: empty rows are dropped
    on the raw strings, before the amount is coerced (pandas parity)."""
    from light_etl_windows_container_poc_spark.streaming.excel_pipeline \
        import excel_etl_batch_handler

    rows = [("Ana", "2024-01-05", "10.5"), (None, None, None),
            (None, None, "junk")]
    ts = "2026-01-01 00:00:00"
    src = tmp_path / "drop"
    _mkcsv(src / "customer_data" / "a.csv",
           [",".join(v or "" for v in r) for r in rows])
    batch_wh = str(tmp_path / "batch_wh")
    ETLPipeline(spark, warehouse_dir=batch_wh).ingest_csv_dir(
        str(src), _DDL, batch_ts=ts)

    # a static frame stands in for the micro-batch: the stream source's
    # schema is the DDL's string columns plus source_path
    stream_wh = str(tmp_path / "stream_wh")
    static = spark.createDataFrame(
        [(*r, "/drive/customer_data/a.xlsx") for r in rows],
        _DDL + ", source_path string")
    excel_etl_batch_handler(stream_wh, batch_ts=ts)(static, 0)

    def landed(wh):
        df = spark.read.parquet(f"{wh}/dim_customers").drop("source_path")
        return df.dtypes, sorted(map(tuple, df.collect()), key=repr)

    batch, stream = landed(batch_wh), landed(stream_wh)
    assert len(batch[1]) == 2
    assert batch == stream


def test_append_tables_stress_records_every_table(spark, tmp_path):
    """More tables than cores and a short thread switch interval: every
    table's outcome is recorded once and every row lands."""
    import sys
    import threading

    from light_etl_windows_container_poc_spark.sinks import append_tables

    wh = str(tmp_path / "warehouse")
    frames = {f"t{i}": spark.range(i + 1) for i in range(10)}
    got = {}
    prev = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        t = threading.Thread(target=lambda: got.update(
            append_tables(spark, wh, frames)))
        t.start()
        t.join(timeout=300)
    finally:
        sys.setswitchinterval(prev)
    assert not t.is_alive(), "append_tables did not finish"
    assert sorted(got) == sorted(frames)
    assert all(err is None and secs > 0 for secs, err in got.values())
    for i in range(10):
        assert spark.read.parquet(f"{wh}/t{i}").count() == i + 1
