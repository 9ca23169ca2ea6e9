"""Seeded input generators for the benchmark workloads.

Everything here is a pure function of its seed: the same seed writes
byte-identical files. Two generators:

- ``write_warehouse``: the ``part`` table the curation composite reads
  (``catalog.TABLES`` layout, one parquet file with one row group),
  shaped like the engine's test warehouse: TPC-H-style names, brands
  and types, so that same-brand near-duplicate names cluster.
- ``make_drop``: one ingest cycle for the reference file-to-warehouse
  flow: CSV files under the pattern directories the router knows plus
  one unrouted directory, and a set of ``.xlsx`` workbooks for the
  watched drive. It returns the row counts the pipeline must land.
"""

from __future__ import annotations

import csv
import io
import os
import random
import zipfile
from dataclasses import dataclass, field

import numpy as np

# --------------------------------------------------------------- warehouse

PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")


def warehouse_tables(seed: int, sf: float) -> dict:
    """{table: pyarrow.Table} at scale factor ``sf`` (sf1 = 200k parts)."""
    import pyarrow as pa

    rng = np.random.default_rng(seed)
    n_part = int(200_000 * sf)
    adj = np.array(PART_ADJ)[rng.integers(0, len(PART_ADJ), n_part)]
    noun = np.array(PART_NOUN)[rng.integers(0, len(PART_NOUN), n_part)]
    return {"part": pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": np.char.add(np.char.add(adj, " "), noun),
        "p_brand": np.char.add("Brand#",
                               rng.integers(1, 26, n_part).astype(str)),
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": (9000 + np.arange(n_part) % 1000) / 10.0})}


def write_warehouse(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write the tables as ``<out_dir>/<name>.parquet``; return row counts."""
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, tbl in warehouse_tables(seed, sf).items():
        # one row group per table, like the engine's test warehouse
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=max(tbl.num_rows, 1),
                       compression="snappy")
        counts[name] = tbl.num_rows
    return counts


# ------------------------------------------------------------ ingest drops

# the reference's pattern directories (operators/routing.py) → table
PATTERN_TABLES = {
    "tel_list": "dim_numbers",
    "customer_data": "dim_customers",
    "product_info": "dim_products",
    "sales_data": "fact_sales",
    "inventory": "dim_inventory",
    "transactions": "fact_transactions",
    "reports": "staging_reports",
}
UNROUTED_DIR = "misc_uploads"
# the large files go to the fact-like tables, the same ones every seed and
# cycle, so that only the file contents vary with the seed
LARGE_DIRS = ("sales_data", "transactions", "inventory")
# two raw headers that collide once sanitized: `Customer Name` and
# `customer-name` both become customer_name (the second gets a suffix)
HEADERS = ("Record ID", "Customer Name", "customer-name", "Order Date",
           "Amount", "Unit Price", "Notes")
SCHEMA_DDL = ", ".join(f"`{h}` string" for h in HEADERS)
ENCODINGS = ("utf-8", "utf-8-sig", "latin1", "cp1252")
# notes text each encoding can represent (cp1252 adds the euro sign)
_NOTES = {"utf-8": ("naïve café", "Zoë's order", "ok"),
          "utf-8-sig": ("crème brûlée", "plain", "ok"),
          "latin1": ("façade", "Müller", "ok"),
          "cp1252": ("5€ rebate", "Œuvre", "ok")}
_JUNK_AMOUNT = ("n/a", "12,5", "--", "TBD", "1.2.3")
_JUNK_DATE = ("2024-13-45", "yesterday", "00/00/0000", "31.02.2024")
LOG_TABLE = "etl_processing_log"


def _pin_zip_times(raw: bytes) -> bytes:
    """Re-pack a zip with fixed member timestamps: the workbook writer
    stamps the current time, which would make equal seeds differ."""
    src = zipfile.ZipFile(io.BytesIO(raw))
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as dst:
        for info in src.infolist():
            dst.writestr(zipfile.ZipInfo(info.filename, (1980, 1, 1, 0, 0, 0)),
                         src.read(info.filename), zipfile.ZIP_DEFLATED)
    return buf.getvalue()


@dataclass
class Drop:
    """One generated ingest cycle and the rows the pipeline must land."""
    csv_dir: str
    csv_files: int
    xlsx_files: int
    input_rows: int                  # data rows written, empty rows included
    input_bytes: int
    csv_rows: dict[str, int] = field(default_factory=dict)   # per table
    book_rows: dict[str, int] = field(default_factory=dict)  # per table
    log_rows: int = 0    # one per routed CSV table + one per routed workbook


def _row(rng: random.Random, rid: int, enc: str) -> list[str]:
    amount = (f"{rng.randint(1, 99999) / 100:.2f}" if rng.random() > 0.1
              else rng.choice(_JUNK_AMOUNT))
    date = (f"2024-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d}"
            if rng.random() > 0.1 else rng.choice(_JUNK_DATE))
    name = f"cust{rng.randint(0, 5000)}"
    return [str(rid), name, name.upper() if rng.random() < 0.5 else "",
            date, amount, f"{rng.randint(1, 9999) / 100:.2f}",
            rng.choice(_NOTES[enc])]


def _rows(rng: random.Random, n: int, rid0: int, enc: str
          ) -> tuple[list[list[str]], int]:
    """n data rows, about 3% of them all-empty; returns (rows, non-empty)."""
    out, kept = [], 0
    for i in range(n):
        if rng.random() < 0.03:
            out.append([""] * len(HEADERS))
        else:
            out.append(_row(rng, rid0 + i, enc))
            kept += 1
    return out, kept


def make_drop(root: str, drive_dir: str, seed: int, cycle: int,
              n_small: int, n_large: int, large_rows: int,
              n_books: int, book_rows: int) -> Drop:
    """Write cycle ``cycle`` of the drop: CSVs under ``root`` and workbooks
    under ``drive_dir``. The small files give every routed table CSV rows,
    so each table logs one row per CSV ingest; each workbook with a
    non-empty row logs one more."""
    from light_etl_windows_container_poc_spark.sources.xlsx import \
        build_xlsx_bytes

    rng = random.Random(f"{seed}:{cycle}")
    csv_dir = os.path.join(root, f"drop_{cycle:04d}")
    patterns = list(PATTERN_TABLES)
    csv_rows = {t: 0 for t in PATTERN_TABLES.values()}
    per_book = dict(csv_rows)
    n_in, n_bytes, rid = 0, 0, cycle * 10_000_000
    files = []
    # small files cover every pattern and every encoding; the large ones
    # and the unrouted/empty files come after
    for i in range(n_small):
        files.append((patterns[i % len(patterns)], rng.randint(5, 60), i))
    for i in range(n_large):
        files.append((LARGE_DIRS[i % len(LARGE_DIRS)], large_rows,
                      n_small + i))
    files.append((UNROUTED_DIR, 20, len(files)))
    for j, (pat, n, idx) in enumerate(files):
        enc = ENCODINGS[idx % len(ENCODINGS)]
        rows, kept = _rows(rng, n, rid, enc)
        rid += n
        buf = io.StringIO()
        csv.writer(buf, lineterminator="\n").writerows([HEADERS, *rows])
        raw = buf.getvalue().encode(enc)
        d = os.path.join(csv_dir, pat)
        os.makedirs(d, exist_ok=True)
        with open(os.path.join(d, f"c{cycle:04d}_{j:03d}.csv"), "wb") as fh:
            fh.write(raw)
        n_in += n
        n_bytes += len(raw)
        if pat in PATTERN_TABLES:
            csv_rows[PATTERN_TABLES[pat]] += kept
    # an empty file and a header-only file: both land nothing
    for j, body in enumerate((b"", (",".join(HEADERS) + "\n").encode())):
        with open(os.path.join(csv_dir, patterns[j], f"c{cycle:04d}_e{j}.csv"),
                  "wb") as fh:
            fh.write(body)
    n_csv = len(files) + 2
    log_rows = sum(1 for v in csv_rows.values() if v)
    for b in range(n_books):
        pat = patterns[b % len(patterns)]
        rows, kept = _rows(rng, book_rows, rid, "utf-8")
        rid += book_rows
        grid = [list(HEADERS)] + [[v if v != "" else None for v in r]
                                  for r in rows]
        raw = _pin_zip_times(build_xlsx_bytes({"Sheet1": grid}))
        d = os.path.join(drive_dir, pat)
        os.makedirs(d, exist_ok=True)
        with open(os.path.join(d, f"b{cycle:04d}_{b:03d}.xlsx"), "wb") as fh:
            fh.write(raw)
        n_in += book_rows
        n_bytes += len(raw)
        per_book[PATTERN_TABLES[pat]] += kept
        log_rows += 1 if kept else 0
    return Drop(csv_dir=csv_dir, csv_files=n_csv, xlsx_files=n_books,
                input_rows=n_in, input_bytes=n_bytes,
                csv_rows=csv_rows, book_rows=per_book, log_rows=log_rows)
