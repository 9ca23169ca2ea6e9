"""End-to-end STREAMING reference pipeline: watch an Excel drive →
pattern-route → clean → per-table warehouse append → processing log —
the whole reference flow under Structured Streaming. One stream per
pattern directory, each with that pattern's schema (the reference's
per-pattern config maps to per-pattern streams; same machinery)."""

from __future__ import annotations

import os

from light_etl_windows_container_poc_spark.streaming.excel_pipeline import \
    start_excel_etl_stream


def _write_book(path, sheets):
    from light_etl_windows_container_poc_spark.sources.xlsx import \
        build_xlsx_bytes
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "wb") as fh:
        fh.write(build_xlsx_bytes(sheets))


def test_streaming_excel_etl_end_to_end(spark, tmp_path):
    drive = str(tmp_path / "drive")
    wh = str(tmp_path / "warehouse")
    # customer drop: messy-but-DDL-legal headers (sanitize lowercases),
    # an all-empty business row (dropped), a junk date (coerced → null)
    _write_book(f"{drive}/customer_data/c1.xlsx", {"Sheet1": [
        ["Customer_Name", "Signup_Date"],
        ["Ana", "2024-01-02"],
        [None, None],
        ["Bob", "not-a-date"]]})
    _write_book(f"{drive}/sales_data/s1.xlsx", {"Sheet1": [
        ["Item", "Amount_USD"],
        ["widget", 12.5],
        ["gadget", 3]]})

    start_excel_etl_stream(
        spark, f"{drive}/customer_data",
        "Customer_Name string, Signup_Date string",
        wh, str(tmp_path / "ck_cust"), batch_ts="2024-06-01 00:00:00"
    ).awaitTermination(300)
    start_excel_etl_stream(
        spark, f"{drive}/sales_data",
        "Item string, Amount_USD double",
        wh, str(tmp_path / "ck_sales"), batch_ts="2024-06-01 00:00:00"
    ).awaitTermination(300)

    cust = spark.read.parquet(f"{wh}/dim_customers")
    assert "source_name" in cust.columns and "processing_batch" in cust.columns
    names = sorted(r["customer_name"] for r in cust.collect())
    assert names == ["Ana", "Bob"]  # the all-empty business row dropped
    # name-heuristic coercion: the *date* column became a timestamp,
    # invalid value → null
    dates = {r["customer_name"]: r["signup_date"] for r in cust.collect()}
    assert dates["Bob"] is None and dates["Ana"] is not None

    sales = spark.read.parquet(f"{wh}/fact_sales")
    assert sorted(r["item"] for r in sales.collect()) == ["gadget", "widget"]
    # *amount* name-heuristic kept numeric type through cleaning
    assert {r["amount_usd"] for r in sales.collect()} == {12.5, 3.0}

    log = spark.read.parquet(f"{wh}/etl_processing_log")
    by_file = {os.path.basename(r["filename"]): r["rows_processed"]
               for r in log.collect()}
    assert by_file == {"c1.xlsx": 2, "s1.xlsx": 2}
    assert all(r["status"] == "completed" for r in log.collect())


def test_streaming_excel_etl_incremental_second_run(spark, tmp_path):
    drive = str(tmp_path / "drive")
    wh = str(tmp_path / "warehouse")
    ckpt = str(tmp_path / "ckpt")
    _write_book(f"{drive}/sales_data/a.xlsx", {"S": [["v"], ["one"]]})
    start_excel_etl_stream(spark, drive, "v string", wh, ckpt,
                           batch_ts="2024-06-01 00:00:00"
                           ).awaitTermination(300)
    _write_book(f"{drive}/sales_data/b.xlsx", {"S": [["v"], ["two"]]})
    start_excel_etl_stream(spark, drive, "v string", wh, ckpt,
                           batch_ts="2024-06-01 00:00:00"
                           ).awaitTermination(300)
    vals = sorted(r["v"] for r in
                  spark.read.parquet(f"{wh}/fact_sales").collect())
    assert vals == ["one", "two"]  # a.xlsx was NOT re-ingested


def test_concurrent_appends_to_shared_table_lose_nothing(spark, tmp_path):
    """Regression: concurrent appends to ONE parquet dir are unsafe under
    FileOutputCommitter (both jobs stage under `_temporary/0/`; the first
    commit deletes the other's staging — observed as a chmod
    ExitCodeException AND silent row loss when two streaming handlers
    appended the shared `etl_processing_log` concurrently). append_table
    now serializes same-path appends on a per-path driver lock; this is
    the standalone repro shape that lost half its rows before the fix:
    two threads, 6 appends each, one shared table directory."""
    import threading

    from light_etl_windows_container_poc_spark.sinks import append_table

    wh = str(tmp_path / "warehouse")
    rows_per_batch, batches = 200, 6
    errors: list[BaseException] = []

    def writer(tag: int) -> None:
        try:
            for b in range(batches):
                df = spark.range(rows_per_batch).selectExpr(
                    f"id + {tag * 1_000_000 + b * 1_000} as id")
                append_table(df, wh, "shared_log")
        except BaseException as e:  # noqa: BLE001 — surface thread failures
            errors.append(e)

    threads = [threading.Thread(target=writer, args=(t,)) for t in (1, 2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, f"concurrent append raised: {errors[0]!r}"
    got = spark.read.parquet(f"{wh}/shared_log")
    assert got.count() == 2 * batches * rows_per_batch  # zero silent loss
    # every id unique — no batch double-committed either
    assert got.distinct().count() == 2 * batches * rows_per_batch


def test_two_streams_shared_log_concurrent(spark, tmp_path):
    """The cert's exact overlap, at test scale: two per-pattern streams
    run CONCURRENTLY against one warehouse; the shared processing log
    must carry every file's row (the pre-fix race silently dropped
    whole committed appends)."""
    drive = str(tmp_path / "drive")
    wh = str(tmp_path / "warehouse")
    for part in range(4):
        _write_book(f"{drive}/customer_data/c{part}.xlsx",
                    {"S": [["Name"], [f"cust{part}"]]})
        _write_book(f"{drive}/sales_data/s{part}.xlsx",
                    {"S": [["Item"], [f"item{part}"]]})
    qs = [start_excel_etl_stream(
        spark, f"{drive}/{sub}", ddl, wh, str(tmp_path / f"ck_{sub}"),
        batch_ts="2024-06-01 00:00:00")
        for sub, ddl in (("customer_data", "Name string"),
                         ("sales_data", "Item string"))]
    for q in qs:
        assert q.awaitTermination(300)
    log = spark.read.parquet(f"{wh}/etl_processing_log")
    assert log.count() == 8  # one row per ingested workbook, none lost
    assert {r["rows_processed"] for r in log.collect()} == {1}


def test_append_lock_keys_on_physical_path_and_reaps(spark, tmp_path):
    """r13 ADVICE: (a) two symlink aliases of one directory must take the
    SAME append lock (abspath kept them distinct, so aliased writers
    could still race the committer); (b) lock entries reap when the last
    holder releases, so a long-lived driver's cert scratch paths don't
    grow the dict unboundedly."""
    import os

    from light_etl_windows_container_poc_spark import sinks
    from light_etl_windows_container_poc_spark.sinks import append_table

    real = tmp_path / "warehouse"
    real.mkdir()
    alias = tmp_path / "alias"
    os.symlink(real, alias)

    order: list[str] = []
    with sinks._path_lock(str(real / "t")):
        order.append("outer")
        # same physical dir through the symlink: acquiring must block,
        # which we can observe without deadlock via the nonblocking
        # probe on the underlying lock object
        key = os.path.realpath(str(alias / "t"))
        lock, refs = sinks._APPEND_LOCKS[key]
        assert refs == 1 and lock.locked(), \
            "alias resolved to a different lock than its target"
    assert key not in sinks._APPEND_LOCKS  # reaped at release

    # end-to-end: appends through BOTH names land in one table
    df = spark.range(5)
    append_table(df, str(real), "t")
    append_table(df, str(alias), "t")
    assert spark.read.parquet(str(real / "t")).count() == 10
    assert not sinks._APPEND_LOCKS  # nothing leaked


def test_failing_table_append_fails_the_batch_without_log(spark, tmp_path,
                                                          monkeypatch):
    """A micro-batch whose append raises for one table still lets the
    other tables' appends finish, then fails the batch (so the stream
    retries it from its checkpoint) and writes no log row for it."""
    from light_etl_windows_container_poc_spark import sinks

    drive = str(tmp_path / "drive")
    wh = str(tmp_path / "warehouse")
    _write_book(f"{drive}/customer_data/c.xlsx", {"S": [["v"], ["ana"]]})
    _write_book(f"{drive}/sales_data/s.xlsx", {"S": [["v"], ["widget"]]})
    real = sinks.append_table

    def flaky(df, warehouse_dir, table, *a, **k):
        if table == "fact_sales":
            raise RuntimeError("disk full")
        return real(df, warehouse_dir, table, *a, **k)

    monkeypatch.setattr(sinks, "append_table", flaky)
    q = start_excel_etl_stream(spark, drive, "v string", wh,
                               str(tmp_path / "ckpt"),
                               batch_ts="2024-06-01 00:00:00")
    try:
        q.awaitTermination(300)
    except Exception:  # the failed micro-batch surfaces here
        pass
    assert q.exception() is not None
    assert "disk full" in str(q.exception())
    assert not os.path.exists(f"{wh}/etl_processing_log")
    assert [r["v"] for r in
            spark.read.parquet(f"{wh}/dim_customers").collect()] == ["ana"]
