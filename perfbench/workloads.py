"""The workloads. Each is one single-process client in a closed loop: the
next op starts only after the previous one returned.

A workload gives the runner its ops pass by pass. An op is a callable
returning an ``OpOutcome``; the runner times it, and the workload's
``check`` and ``verify`` confirm the outputs outside the timed span.
"""

from __future__ import annotations

import os
import random
import time
from dataclasses import dataclass, field

from . import gen

# the curation workload: one job-heavy composite, small enough that
# several warm-up passes fit a run (its latency keeps falling for three
# to five passes while the JIT settles)
CURATION_QUERIES = ("entity_resolution",)
BATCH_TS = "2024-06-01 00:00:00"
# one ingest cycle: 32 CSV files (26 small, 3 large, one unrouted, one
# empty, one header-only; about 110k rows) plus 8 workbooks. Measured warm
# on 4 cores, the CSV ingest takes about 4.3 s with the large files left
# out and grows about 20 us per row, so at this size per-job overhead
# and parsing both show.
DROP_SIZES = dict(n_small=26, n_large=3, large_rows=36000, n_books=8,
                  book_rows=150)


@dataclass
class OpOutcome:
    ok: bool = True
    error: str | None = None
    build_s: float = 0.0        # time inside the query function
    collect_s: float = 0.0      # time in the action
    detail: dict = field(default_factory=dict)


class QueryWorkload:
    """Registered queries over a generated warehouse; every result is
    checked against the query's DuckDB oracle twin."""

    writes = False

    def __init__(self, queries: tuple[str, ...], sf: float,
                 warmup_passes: int = 1):
        self.queries, self.sf = queries, sf
        self.warmup_passes = warmup_passes

    def prepare(self, work: str, seed: int) -> dict:
        self.data_dir = os.path.join(work, "warehouse")
        counts = gen.write_warehouse(self.data_dir, seed, self.sf)
        self.tables = tuple(counts)
        self.rng = random.Random(seed)
        return {"sf": self.sf, "rows": counts}

    def start(self, spark) -> None:
        import __spark_entry__ as ent

        self.spark = spark
        self.registry = ent.queries()

    def pass_ops(self):
        order = list(self.queries)
        self.rng.shuffle(order)
        return [(q, self._op(q)) for q in order]

    def _op(self, qname: str):
        def run() -> OpOutcome:
            t0 = time.time()
            df = self.registry[qname](self.spark, self.data_dir)
            t1 = time.time()
            rows = df.collect()
            t2 = time.time()
            return OpOutcome(build_s=t1 - t0, collect_s=t2 - t1,
                             detail={"cols": df.columns, "rows": rows})
        return run

    def check(self, qname: str, out: OpOutcome) -> None:
        """Fingerprint the result (order-insensitive, the oracle gate's
        hash); the comparison with the oracle happens in ``verify``."""
        from tools.check_oracle import frame_fingerprint

        cols, rows = out.detail.pop("cols"), out.detail.pop("rows")
        out.detail["fp"] = (tuple(sorted(cols)), len(rows),
                            frame_fingerprint(cols, [tuple(r) for r in rows]))

    def verify(self, ops) -> list[str]:
        import duckdb

        import __spark_entry__ as ent
        from light_etl_windows_container_poc_spark.catalog import table_path
        from tools.check_oracle import _pandas_rows, frame_fingerprint

        oracles = ent.oracle_sql()
        con = duckdb.connect()
        for t in self.tables:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{table_path(self.data_dir, t)}')")
        want = {}
        for q in self.queries:
            odf = con.execute(oracles[q]).df()
            cols = list(odf.columns)
            rows = _pandas_rows(odf)
            want[q] = (tuple(sorted(cols)), len(rows),
                       frame_fingerprint(cols, rows))
        con.close()
        bad = []
        for op in ops:
            if op.outcome.ok and op.outcome.detail.get("fp") != want[op.name]:
                op.outcome.ok = False
                op.outcome.error = (f"result {op.outcome.detail.get('fp')} != "
                                    f"oracle {want[op.name]}")
                bad.append(op.name)
        return [f"{n}: differs from its oracle" for n in bad]


class IngestWorkload:
    """The reference flow: a CSV drop through ``ETLPipeline.ingest_csv_dir``
    (with archiving), then the watched Excel drive through one
    ``availableNow`` run of ``start_excel_etl_stream``. The stream keeps
    one checkpoint across cycles, so its seen-file set grows as it would
    in service."""

    writes = True
    warmup_passes = 1

    def __init__(self):
        self.landed: dict[str, int] = {}
        self.log_rows = 0
        self.cycle = 0

    def prepare(self, work: str, seed: int) -> dict:
        self.seed = seed
        self.root = work
        for d in ("drops", "drive", "warehouse", "archive", "checkpoint"):
            os.makedirs(os.path.join(work, d), exist_ok=True)
        self.wh = os.path.join(work, "warehouse")
        self.drive = os.path.join(work, "drive")
        self.ckpt = os.path.join(work, "checkpoint", "excel")
        return dict(DROP_SIZES)

    def start(self, spark) -> None:
        from light_etl_windows_container_poc_spark.pipeline import ETLPipeline

        self.spark = spark
        self.pipe = ETLPipeline(spark, warehouse_dir=self.wh)

    def next_drop(self) -> gen.Drop:
        drop = gen.make_drop(os.path.join(self.root, "drops"), self.drive,
                             self.seed, self.cycle, **DROP_SIZES)
        self.cycle += 1
        return drop

    def pass_ops(self):
        drop = self.next_drop()      # written before the op is timed
        return [("ingest_cycle", self._op(drop))]

    def _op(self, drop: gen.Drop):
        from light_etl_windows_container_poc_spark.streaming.excel_pipeline \
            import start_excel_etl_stream

        def run() -> OpOutcome:
            t0 = time.time()
            results = self.pipe.ingest_csv_dir(
                drop.csv_dir, gen.SCHEMA_DDL, batch_ts=BATCH_TS,
                archive_dir=os.path.join(self.root, "archive",
                                         os.path.basename(drop.csv_dir)))
            t1 = time.time()
            q = start_excel_etl_stream(self.spark, self.drive, gen.SCHEMA_DDL,
                                       self.wh, self.ckpt, batch_ts=BATCH_TS,
                                       available_now=True)
            q.awaitTermination()
            t2 = time.time()
            return OpOutcome(build_s=t1 - t0, collect_s=t2 - t1, detail={
                "drop": drop, "results": results,
                "exception": q.exception()})
        return run

    def check(self, name: str, out: OpOutcome) -> None:
        drop: gen.Drop = out.detail["drop"]
        results = out.detail.pop("results")
        exc = out.detail.pop("exception")
        got = {r.table: r.rows for r in results if r.status == "success"}
        want = {t: n for t, n in drop.csv_rows.items() if n}
        problems = []
        if got != want or len(results) != len(want):
            problems.append(f"csv ingest landed {got}, expected {want}")
        if exc is not None:
            problems.append(f"excel stream failed: {exc}")
        if os.path.exists(drop.csv_dir) and any(
                f.endswith(".csv") for _r, _d, fs in os.walk(drop.csv_dir)
                for f in fs):
            problems.append("drop not archived")
        for t in drop.csv_rows:
            self.landed[t] = (self.landed.get(t, 0) + drop.csv_rows[t]
                              + drop.book_rows[t])
        self.log_rows += drop.log_rows
        if problems:
            out.ok, out.error = False, "; ".join(problems)

    def verify(self, ops) -> list[str]:
        """Warehouse rows per table and processing-log rows must equal the
        generator's totals over every cycle run so far (warm-up included)."""
        problems = []
        for table, n in sorted(self.landed.items()):
            got = self.spark.read.parquet(os.path.join(self.wh, table)).count()
            if got != n:
                problems.append(f"{table}: {got} rows, expected {n}")
        got = self.spark.read.parquet(
            os.path.join(self.wh, gen.LOG_TABLE)).count()
        if got != self.log_rows:
            problems.append(f"{gen.LOG_TABLE}: {got} rows, expected "
                            f"{self.log_rows}")
        return problems


def make(name: str):
    if name == "etl_ingest":
        return IngestWorkload()
    if name == "curation_composites":
        return QueryWorkload(CURATION_QUERIES, 0.01, warmup_passes=3)
    raise SystemExit(f"unknown workload {name!r}")
