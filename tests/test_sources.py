from __future__ import annotations

import pytest

from light_etl_windows_container_poc_spark.sources.files import (
    read_csv_auto, read_excel, read_json_records)

CSV_SCHEMA = "name string, city string, amount double"


@pytest.fixture()
def csv_dir(tmp_path):
    d = tmp_path / "in"
    d.mkdir()
    (d / "utf8.csv").write_text("name,city,amount\nAna,Paris,1.5\n", encoding="utf-8")
    (d / "sig.csv").write_bytes("name,city,amount\nBob,Łódź,2.5\n".encode("utf-8-sig"))
    (d / "latin1.csv").write_bytes("name,city,amount\nCé,Niño,3.5\n".encode("latin1"))
    (d / "empty.csv").write_text("", encoding="utf-8")
    return str(d)


def test_read_csv_auto_encoding_fallbacks(spark, csv_dir):
    df = read_csv_auto(spark, csv_dir, CSV_SCHEMA)
    rows = {r.name: (r.city, r.amount) for r in df.collect()}
    assert rows == {"Ana": ("Paris", 1.5), "Bob": ("Łódź", 2.5), "Cé": ("Niño", 3.5)}
    paths = [r.source_path for r in df.select("source_path").collect()]
    assert all(p.endswith(".csv") for p in paths)


def test_read_csv_auto_fast_path(spark, csv_dir):
    df = read_csv_auto(spark, csv_dir + "/utf8.csv", CSV_SCHEMA, assume_utf8=True)
    assert df.collect()[0].name == "Ana"


def _write_book(path, sheets):
    from light_etl_windows_container_poc_spark.sources.xlsx import \
        build_xlsx_bytes
    path.write_bytes(build_xlsx_bytes(sheets))


def test_read_excel_round_trip(spark, tmp_path):
    _write_book(tmp_path / "book.xlsx", {"Sheet1": [
        ["a", "b"], ["Ana", 1.5], ["Bob", 2], ["Łódź", None]]})
    df = read_excel(spark, str(tmp_path), "a string, b double")
    rows = {r.a: r.b for r in df.collect()}
    assert rows == {"Ana": 1.5, "Bob": 2.0, "Łódź": None}
    assert all(r.source_path.endswith("book.xlsx")
               for r in df.select("source_path").collect())


def test_read_excel_sheet_skiprows_nrows_usecols(spark, tmp_path):
    _write_book(tmp_path / "multi.xlsx", {
        "meta": [["junk"]],
        "data": [["title row", None, None],
                 ["a", "drop_me", "b"],
                 ["x", "no", 1], ["y", "no", 2], ["z", "no", 3]]})
    df = read_excel(spark, str(tmp_path), "a string, b double",
                    sheet_name="data", skiprows=1, nrows=2, usecols="A,C",
                    include_source_path=False)
    assert sorted((r.a, r.b) for r in df.collect()) == [("x", 1.0), ("y", 2.0)]


def test_read_excel_unrecognized_magic_raises_clearly(spark, tmp_path):
    # neither zip nor full OLE2 magic (only 4 of 8 bytes match): the
    # format sniffer must name the file and the supported formats.
    # (Valid .xls decode is covered positively in test_xls_biff.py.)
    (tmp_path / "mystery.xls").write_bytes(b"\xd0\xcf\x11\xe0 not a zip")
    df = read_excel(spark, str(tmp_path), "a string, b double")
    with pytest.raises(Exception) as ei:
        df.collect()
    assert "not an Excel workbook" in str(ei.value)


def test_read_json_records(spark):
    df = read_json_records(spark, [{"a": 1, "b": "x"}, {"a": 2, "b": "y"}],
                           "a long, b string")
    assert df.count() == 2
    assert dict(df.dtypes) == {"a": "bigint", "b": "string"}


def test_read_csv_auto_max_file_size_guard(spark, tmp_path):
    d = tmp_path / "sz"
    d.mkdir()
    (d / "small.csv").write_text("name,city,amount\nAna,Paris,1.5\n")
    (d / "big.csv").write_text("name,city,amount\n" + "Bob,Big,9.9\n" * 50000)
    df = read_csv_auto(spark, str(d), CSV_SCHEMA, max_file_mb=0.01)
    names = {r.name for r in df.collect()}
    assert names == {"Ana"}  # oversized file rejected before decode


def test_list_excel_sheets(spark, tmp_path):
    from light_etl_windows_container_poc_spark.sources.files import \
        list_excel_sheets

    _write_book(tmp_path / "wb.xlsx", {"alpha": [["x"]], "beta": [["y"]]})
    df = list_excel_sheets(spark, str(tmp_path))
    assert df.columns == ["path", "sheet_name"]
    assert [r.sheet_name for r in df.collect()] == ["alpha", "beta"]


def test_xlsx_rich_text_runs_unescape_per_run(spark):
    """Adjacent shared-string runs must not form a false _xHHHH_ token
    at the join, and formula string caches decode escapes too."""
    import io
    import zipfile

    from light_etl_windows_container_poc_spark.sources.xlsx import (
        build_xlsx_bytes, parse_xlsx_rows)

    raw = build_xlsx_bytes({"s": [["placeholder"]]})
    with zipfile.ZipFile(io.BytesIO(raw)) as zf:
        parts = {n: zf.read(n) for n in zf.namelist()}
    ns = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
    parts["xl/sharedStrings.xml"] = (
        f'<?xml version="1.0"?><sst xmlns="{ns}" count="1" uniqueCount="1">'
        '<si><r><t>_x00</t></r><r><t>41_</t></r></si></sst>').encode()
    parts["xl/worksheets/sheet1.xml"] = (
        f'<?xml version="1.0"?><worksheet xmlns="{ns}"><sheetData>'
        '<row r="1"><c r="A1" t="s"><v>0</v></c>'
        '<c r="B1" t="str"><v>a_x000D_b</v></c></row>'
        '</sheetData></worksheet>').encode()
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        for n, b in parts.items():
            zf.writestr(n, b)
    got = parse_xlsx_rows(buf.getvalue())
    assert got == [["_x0041_", "a\rb"]]


def test_xlsx_sparse_rows_and_stray_bottom_cell(spark):
    """Real-Excel sparse files place rows by r index; a stray cell at
    the grid bottom refuses loudly instead of materializing ~1M rows."""
    import io
    import zipfile

    import pytest

    from light_etl_windows_container_poc_spark.sources.xlsx import (
        build_xlsx_bytes, parse_xlsx_rows)

    ns = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"

    def with_sheet(xml):
        raw = build_xlsx_bytes({"s": [["x"]]})
        with zipfile.ZipFile(io.BytesIO(raw)) as zf:
            parts = {n: zf.read(n) for n in zf.namelist()}
        parts["xl/worksheets/sheet1.xml"] = xml.encode()
        buf = io.BytesIO()
        with zipfile.ZipFile(buf, "w") as zf:
            for n, b in parts.items():
                zf.writestr(n, b)
        return buf.getvalue()

    sparse = with_sheet(
        f'<?xml version="1.0"?><worksheet xmlns="{ns}"><sheetData>'
        '<row r="1"><c r="A1"><v>1</v></c></row>'
        '<row r="4"><c r="A4"><v>4</v></c></row>'
        '</sheetData></worksheet>')
    assert parse_xlsx_rows(sparse) == [[1], [None], [None], [4]]

    stray = with_sheet(
        f'<?xml version="1.0"?><worksheet xmlns="{ns}"><sheetData>'
        '<row r="1"><c r="A1"><v>1</v></c></row>'
        '<row r="1048576"><c r="A1048576"><v>9</v></c></row>'
        '</sheetData></worksheet>')
    with pytest.raises(ValueError, match="stray bottom-of-grid"):
        parse_xlsx_rows(stray)

    dup = with_sheet(
        f'<?xml version="1.0"?><worksheet xmlns="{ns}"><sheetData>'
        '<row r="1"><c r="A1"><v>1</v></c></row>'
        '<row r="1"><c r="B1"><v>2</v></c></row>'
        '</sheetData></worksheet>')
    assert parse_xlsx_rows(dup) == [[1, 2]]  # merged, nothing lost


def test_string_coercion_matches_per_value_str():
    """The vectorised string branch of `_coerce_to_field` returns exactly
    the strings of the per-value `str()` map it replaced."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    from light_etl_windows_container_poc_spark.sources.files import \
        _coerce_to_field

    def per_value(s):
        return s.map(lambda v: None if pd.isna(v) else str(v))

    fld = T.StructField("x", T.StringType())
    cols = [
        pd.Series([1e16, 0.1 + 0.2, np.nan, 1.0, -0.0, 1e-7, 123456789.123,
                   10000001.0, np.inf]),
        pd.Series([np.nan, np.nan]),
        pd.Series([0, -5, 2**62, 10000001], dtype="int64"),
        pd.Series([True, False, True]),
        pd.Series(["abc", 1, 2.5, None, True, np.nan, "naïve café", pd.NA,
                   "", 1e16], dtype=object),
    ]
    for s in cols:
        got = _coerce_to_field(s, fld)
        assert got.tolist() == per_value(s).tolist(), s.dtype
        assert got.index.equals(s.index)
        assert all(v is None or type(v) is str for v in got)
