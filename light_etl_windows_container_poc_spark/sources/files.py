"""File ingestion sources — reference parity, executor-side.

The reference reads CSV with an encoding-fallback chain and Excel with
pandas, one file at a time on a single worker
(`pattern_based_cleaner_watcher.py:163-193`, `fileserver.py:201-254`).
Here each FILE decodes on an executor: `binaryFile` source +
`mapInPandas`, so ingesting a million mixed-encoding CSVs scales with the
cluster instead of the driver. The happy path (clean UTF-8 CSV) uses the
native JVM reader — whole-stage codegen, schema pushdown, zero Python.
"""

from __future__ import annotations

import io
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# reference config/pattern_config.yaml:48-52; extension set mirrors
# fileserver.py:41-44 ({csv, xlsx, xls, xlsm, xlsb} — all decodable here)
ENCODING_FALLBACKS = ("utf-8", "utf-8-sig", "latin1", "cp1252")
SUPPORTED_EXTENSIONS = (".csv", ".xlsx", ".xls", ".xlsm", ".xlsb")


def _coerce_to_field(s: "pd.Series", fld) -> "pd.Series":
    """Align a pandas-inferred column with the declared Spark field type
    (pandas.read_csv infers its own dtypes; Arrow needs the declared one)."""
    from pyspark.sql import types as T

    t = fld.dataType
    if isinstance(t, T.StringType):
        # the strings of s.map(lambda v: None if pd.isna(v) else str(v)):
        # one vectorised null mask, then str() on the kept values only
        keep = s.notna().to_numpy()
        out = np.full(len(s), None, dtype=object)
        out[keep] = np.array([str(v) for v in s.to_numpy(dtype=object)[keep]],
                             dtype=object)
        return pd.Series(out, index=s.index)
    if isinstance(t, (T.DoubleType, T.FloatType)):
        return pd.to_numeric(s, errors="coerce")
    if isinstance(t, (T.LongType, T.IntegerType, T.ShortType)):
        return pd.to_numeric(s, errors="coerce").astype("Int64")
    return s


def _decode_bytes(raw: bytes) -> str:
    for enc in ENCODING_FALLBACKS:
        try:
            return raw.decode(enc)
        except UnicodeDecodeError:
            continue
    return raw.decode("utf-8", errors="ignore")


def read_csv_auto(spark: SparkSession, path: str,
                  schema_ddl: str,
                  assume_utf8: bool = False,
                  include_source_path: bool = True,
                  max_file_mb: float | None = None) -> DataFrame:
    """CSV reader with the reference's encoding-fallback chain.

    ``assume_utf8=True`` short-circuits to Spark's native reader (the
    fast, codegen'd path for known-clean data). Otherwise files are
    decoded per-executor with the fallback chain — the schema is explicit
    (``schema_ddl``) because schema inference over 100 TB is a full extra
    scan.
    """
    from ..session import ensure_package_on_executors

    ensure_package_on_executors(spark)
    if assume_utf8:
        df = spark.read.schema(schema_ddl).option("header", True).csv(path)
        return df.withColumn("source_path", F.input_file_name()) if include_source_path else df

    binary = (spark.read.format("binaryFile")
              .option("pathGlobFilter", "*.csv")
              .option("recursiveFileLookup", "true").load(path))
    if max_file_mb is not None:
        # reference data_quality.max_file_size_mb guard — a metadata-only
        # filter on the listing's length column, no bytes read for rejects
        binary = binary.filter(F.col("length") <= int(max_file_mb * 1024 * 1024))
    out_ddl = schema_ddl + (", source_path string" if include_source_path else "")
    target = spark.createDataFrame([], out_ddl).schema

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for _, row in pdf.iterrows():
                text = _decode_bytes(bytes(row["content"]))
                if not text.strip():
                    continue  # reference: skip empty files
                parsed = pd.read_csv(io.StringIO(text))
                out = pd.DataFrame()
                for fld in target.fields:
                    if fld.name == "source_path":
                        out[fld.name] = [row["path"]] * len(parsed)
                    elif fld.name in parsed:
                        out[fld.name] = _coerce_to_field(parsed[fld.name], fld)
                    else:
                        out[fld.name] = None
                yield out

    return binary.select("path", "content").mapInPandas(parse, target)


def _zip_is_biff12(raw: bytes) -> bool:
    """A .xlsb is a zip like .xlsx; the workbook part's extension is the
    only discriminator (binary .bin vs XML)."""
    import io
    import zipfile

    try:
        with zipfile.ZipFile(io.BytesIO(raw)) as zf:
            return "xl/workbook.bin" in zf.namelist()
    except zipfile.BadZipFile:
        return False


def parse_workbook(raw: bytes, path: str = "<bytes>",
                   sheet_name: int | str = 0,
                   skiprows: int | None = None, nrows: int | None = None,
                   usecols: str | None = None) -> pd.DataFrame:
    """Format-sniffing workbook decode: zip magic → SpreadsheetML
    (.xlsx/.xlsm, `sources/xlsx.py`) or BIFF12 (.xlsb,
    `sources/xlsb_biff12.py`, keyed on xl/workbook.bin); OLE2 magic →
    BIFF8 (.xls, `sources/xls_biff.py`); anything else raises naming the
    file. Covers every format the reference accepts (fileserver.py:41-44:
    .xlsx/.xls/.xlsm/.xlsb)."""
    from .xls_biff import CFB_MAGIC, parse_xls
    from .xlsb_biff12 import parse_xlsb
    from .xlsx import parse_xlsx

    if raw[:4] == b"PK\x03\x04":
        if _zip_is_biff12(raw):
            return parse_xlsb(raw, sheet_name=sheet_name, skiprows=skiprows,
                              nrows=nrows, usecols=usecols)
        return parse_xlsx(raw, sheet_name=sheet_name, skiprows=skiprows,
                          nrows=nrows, usecols=usecols)
    if raw[:8] == CFB_MAGIC:
        return parse_xls(raw, sheet_name=sheet_name, skiprows=skiprows,
                         nrows=nrows, usecols=usecols)
    raise ValueError(f"{path}: not an Excel workbook "
                     "(neither zip/.xlsx/.xlsb nor OLE2/.xls magic)")


def read_excel(spark: SparkSession, path: str, schema_ddl: str,
               sheet_name: int | str = 0,
               skiprows: int | None = None,
               nrows: int | None = None,
               usecols: str | None = None,
               include_source_path: bool = True,
               on_error: str = "raise") -> DataFrame:
    """Excel reader (sheet / skiprows / nrows / usecols — the reference
    fileserver's read_excel_with_params surface, `fileserver.py:201-254`).

    Fully functional in-image for every format the reference accepts
    (`fileserver.py:41-44`): .xlsx/.xlsm via the dependency-free
    SpreadsheetML parser (`sources/xlsx.py`), legacy binary .xls via the
    BIFF8 parser (`sources/xls_biff.py`), binary .xlsb via the BIFF12
    parser (`sources/xlsb_biff12.py`) — no openpyxl/xlrd/pyxlsb.
    Distributed shape: binaryFile listing + mapInPandas, one workbook per
    task, Arrow-batched output.

    ``on_error='quarantine'`` drops undecodable files from the output
    instead of failing the job; pair with `excel_ingest_log` for the
    per-file audit trail (the distributed version of the reference
    watcher's per-file try/except logging).
    """
    from ..session import ensure_package_on_executors

    if on_error not in ("raise", "quarantine"):
        raise ValueError(f"on_error must be raise|quarantine, got {on_error}")
    ensure_package_on_executors(spark)
    binary = (spark.read.format("binaryFile")
              .option("pathGlobFilter", "*.xls*")
              .option("recursiveFileLookup", "true").load(path))
    out_ddl = schema_ddl + (", source_path string" if include_source_path else "")
    target = spark.createDataFrame([], out_ddl).schema

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for _, row in pdf.iterrows():
                try:
                    parsed = parse_workbook(bytes(row["content"]),
                                            path=row["path"],
                                            sheet_name=sheet_name,
                                            skiprows=skiprows, nrows=nrows,
                                            usecols=usecols)
                except Exception:
                    if on_error == "raise":
                        raise
                    continue  # quarantined: excel_ingest_log carries why
                out = pd.DataFrame()
                for fld in target.fields:
                    if fld.name == "source_path":
                        out[fld.name] = [row["path"]] * len(parsed)
                    elif fld.name in parsed:
                        out[fld.name] = _coerce_to_field(parsed[fld.name], fld)
                    else:
                        out[fld.name] = None
                yield out

    return binary.select("path", "content").mapInPandas(parse, target)


def excel_ingest_log(spark: SparkSession, path: str,
                     sheet_name: int | str = 0) -> DataFrame:
    """Per-file ingest audit: (path, status, n_rows, error) for every
    workbook under ``path`` — 'ok' or 'quarantined' with the decode error.
    The reference logs this per file in the watcher loop
    (`pattern_based_cleaner_watcher.py` error path); here it is a
    DataFrame a pipeline can sink next to the data."""
    from ..session import ensure_package_on_executors

    ensure_package_on_executors(spark)
    binary = (spark.read.format("binaryFile")
              .option("pathGlobFilter", "*.xls*")
              .option("recursiveFileLookup", "true").load(path))

    def audit(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"path": [], "status": [], "n_rows": [], "error": []}
            for _, row in pdf.iterrows():
                out["path"].append(row["path"])
                try:
                    parsed = parse_workbook(bytes(row["content"]),
                                            path=row["path"],
                                            sheet_name=sheet_name)
                    out["status"].append("ok")
                    out["n_rows"].append(len(parsed))
                    out["error"].append(None)
                except Exception as e:  # noqa: BLE001 — audit must not fail
                    out["status"].append("quarantined")
                    out["n_rows"].append(0)
                    out["error"].append(f"{type(e).__name__}: {e}")
            yield pd.DataFrame(out)

    return binary.select("path", "content").mapInPandas(
        audit, "path string, status string, n_rows long, error string")


def read_json_records(spark: SparkSession, records: list[dict],
                      schema_ddl: str | None = None) -> DataFrame:
    """`process_dataframe` parity (reference `dataframe_tasks.py:26-43`):
    ingest a list of JSON-ish records. Small payloads only — bulk data
    belongs in files; this mirrors the reference's Celery-message input."""
    if schema_ddl:
        return spark.createDataFrame(records, schema_ddl)
    return spark.createDataFrame(records)


def read_format(spark: SparkSession, path: str, fmt: str,
                schema_ddl: str | None = None) -> DataFrame:
    """Format-generic reader (json / csv / orc / parquet). Schema is
    explicit where the format needs inference (json/csv) — inference over
    a large lake is an extra full scan."""
    r = spark.read
    if schema_ddl:
        r = r.schema(schema_ddl)
    if fmt == "csv":
        r = r.option("header", True)
    return r.format(fmt).load(path)


def list_excel_sheets(spark: SparkSession, path: str) -> DataFrame:
    """Sheet-name listing per workbook (reference fileserver
    `/sheets/<filename>`, fileserver.py:256). Distributed like read_excel,
    via the dependency-free SpreadsheetML parser."""
    from ..session import ensure_package_on_executors

    ensure_package_on_executors(spark)
    binary = (spark.read.format("binaryFile")
              .option("pathGlobFilter", "*.xls*")
              .option("recursiveFileLookup", "true").load(path))

    def sheets(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from .xls_biff import CFB_MAGIC, list_xls_sheet_names
        from .xlsb_biff12 import list_xlsb_sheet_names
        from .xlsx import list_sheet_names

        for pdf in batches:
            for _, row in pdf.iterrows():
                raw = bytes(row["content"])
                if raw[:8] == CFB_MAGIC:
                    names = list_xls_sheet_names(raw)
                elif _zip_is_biff12(raw):
                    names = list_xlsb_sheet_names(raw)
                else:
                    names = list_sheet_names(raw)
                yield pd.DataFrame({"path": [row["path"]] * len(names),
                                    "sheet_name": names})

    return binary.select("path", "content").mapInPandas(
        sheets, "path string, sheet_name string")


def read_json_robust(spark: SparkSession, path: str, schema_ddl: str,
                     corrupt_col: str = "_corrupt_record",
                     mode: str = "PERMISSIVE") -> DataFrame:
    """JSON-lines reader that survives malformed rows instead of failing
    the job: PERMISSIVE mode parses what it can and captures the raw bad
    line in ``corrupt_col`` (DROPMALFORMED silently drops instead). The
    bad-record stream can then be routed to a quarantine sink — the
    distributed version of the reference's per-file try/except logging
    (`pattern_based_cleaner_watcher.py` error path)."""
    schema = f"{schema_ddl}, {corrupt_col} STRING" \
        if mode.upper() == "PERMISSIVE" else schema_ddl
    return (spark.read.schema(schema)
            .option("mode", mode)
            .option("columnNameOfCorruptRecord", corrupt_col)
            .json(path))


def read_xml(spark: SparkSession, path: str, row_tag: str,
             schema_ddl: str | None = None,
             mode: str = "PERMISSIVE",
             corrupt_col: str = "_corrupt_record") -> DataFrame:
    """XML reader on Spark 4's built-in xml data source (the spark-xml
    package folded into core): one DataFrame row per ``row_tag``
    element. Schema explicit where known — like json/csv, inference is
    an extra full scan. PERMISSIVE captures malformed fragments in
    ``corrupt_col`` for quarantine routing, mirroring `read_json_robust`
    (the reference's per-file try/except error path, distributed)."""
    schema = schema_ddl
    if schema_ddl and mode.upper() == "PERMISSIVE" \
            and corrupt_col not in schema_ddl:
        schema = f"{schema_ddl}, {corrupt_col} STRING"
    r = (spark.read.format("xml")
         .option("rowTag", row_tag)
         .option("mode", mode)
         .option("columnNameOfCorruptRecord", corrupt_col))
    if schema:
        r = r.schema(schema)
    return r.load(path)


def read_parquet_evolving(spark: SparkSession, path: str) -> DataFrame:
    """Schema-evolution read: union the schemas of every file footer
    (``mergeSchema``) so columns added over time surface as nullable.
    Use at ingest boundaries only — footer merging scans all footers,
    so warehouse tables should land with a registered schema instead."""
    return spark.read.option("mergeSchema", True).parquet(path)
