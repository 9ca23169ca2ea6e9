"""Column/row cleaning operators — reference parity.

Reference semantics (pandas, driver-side) re-expressed as schema-wide
column expressions resolved at PLAN TIME: zero Python in the row path, so
they cost nothing extra at 100 TB.

- column sanitize/dedup: reference `dataframe_tasks.py:54-62`,
  `tasks_postgres.py:98-101`
- name-heuristic type coercion: reference `enhanced_tasks.py:156-167`
- drop fully-empty rows: reference `enhanced_tasks.py:97-103`
- metadata enrichment: reference `dataframe_tasks.py:64-67`,
  `tasks_postgres.py:109-112`
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_SANITIZE_RE = re.compile(r"[^a-zA-Z0-9_]")


def sanitize_name(name: str) -> str:
    """Postgres-friendly column name: non-alnum → _, strip _, lowercase."""
    return _SANITIZE_RE.sub("_", name).strip("_").lower()


def sanitize_column_names(df: DataFrame) -> DataFrame:
    """Sanitize all column names; de-duplicate collisions with an ``_i``
    positional suffix (first occurrence keeps the bare name), matching the
    reference's dedup rule (`dataframe_tasks.py:60-62`)."""
    cleaned = [sanitize_name(c) or "col" for c in df.columns]
    out, seen = [], set()
    for i, c in enumerate(cleaned):
        name = c if c not in seen else f"{c}_{i}"
        # a positional suffix can itself collide with a literal column
        # (['a','a','a_1'] would emit 'a_1' twice) — re-suffix until unique
        while name in seen:
            name = f"{name}_{i}"
        seen.add(name)
        out.append(name)
    return df.toDF(*out)


def coerce_by_name(df: DataFrame,
                   date_tokens: tuple[str, ...] = ("date",),
                   numeric_tokens: tuple[str, ...] = ("amount", "price")) -> DataFrame:
    """Type coercion by column-name heuristic: `*date*` string columns →
    DATE, `*amount*`/`*price*` string columns → DOUBLE; unparseable values
    become NULL (pandas ``errors='coerce'`` parity) via try_cast — never a
    job-failing ANSI cast."""
    cols = []
    for field in df.schema.fields:
        name, lower = field.name, field.name.lower()
        is_str = field.dataType.simpleString() == "string"
        if is_str and any(t in lower for t in date_tokens):
            cols.append(F.expr(f"try_cast(`{name}` AS DATE)").alias(name))
        elif is_str and any(t in lower for t in numeric_tokens):
            cols.append(F.expr(f"try_cast(`{name}` AS DOUBLE)").alias(name))
        else:
            cols.append(F.col(name))
    return df.select(*cols)


def drop_empty_rows(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """Drop rows where ALL the given columns (default: every column) are
    null — ``dropna(how='all')`` parity."""
    cols = cols or df.columns
    keep = None
    for c in cols:
        cond = F.col(c).isNotNull()
        keep = cond if keep is None else (keep | cond)
    return df.filter(keep) if keep is not None else df


def dedup_rows(df: DataFrame, keys: list[str], keep_min_of: str | None = None) -> DataFrame:
    """Exact de-duplication on business keys, keeping a deterministic
    representative (the min of ``keep_min_of``, or pure distinct on keys).

    Distributed shape: one hash-shuffle on the keys (same as any groupBy);
    at 100 TB AQE handles skewed keys via skew-join/partial aggregation.
    """
    if keep_min_of is None:
        return df.select(*keys).distinct()
    others = [c for c in df.columns if c not in keys]
    agg = [F.min_by(c, keep_min_of).alias(c) for c in others]
    return df.groupBy(*keys).agg(*agg)


def with_etl_metadata(df: DataFrame, source_name: str | Column,
                      batch_ts: str | None = None) -> DataFrame:
    """Append the reference's lineage columns (`source_name`,
    `processed_at`, `processing_batch`). ``source_name`` is a name or a
    per-row Column (the ingest core passes its routed `target_table`).
    ``batch_ts`` is injectable so tests and oracle comparisons stay
    deterministic; production callers omit it and get the session-clock
    value resolved ONCE at plan time (a literal, not a per-row clock
    call)."""
    src = F.lit(source_name) if isinstance(source_name, str) else source_name
    ts = F.lit(batch_ts).cast("timestamp") if batch_ts else F.current_timestamp()
    return (df.withColumn("source_name", src)
            .withColumn("processed_at", ts)
            .withColumn("processing_batch",
                        F.concat(src, F.lit("_"),
                                 F.date_format(ts, "yyyyMMdd_HHmmss"))))


def merge_upsert(dim: DataFrame, updates: DataFrame,
                 keys: list[str], status_col: str = "row_status") -> DataFrame:
    """MERGE INTO emulation without a table format: keep dimension rows not
    matched by the update batch (anti-join), union the updates. Appends a
    status column ('updated'/'unchanged') for auditability.

    Shape at scale: one shuffle on the merge keys for the anti-join; the
    (typically small) update batch broadcast-joins. With Delta/Iceberg on
    the cluster this becomes a real MERGE INTO — semantics identical.
    """
    untouched = dim.join(updates.select(*keys), keys, "left_anti") \
        .withColumn(status_col, F.lit("unchanged"))
    changed = updates.withColumn(status_col, F.lit("updated"))
    return untouched.unionByName(changed)
