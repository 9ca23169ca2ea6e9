"""Event-analytics breadth: funnel conversion, cohort retention,
zero-filled calendar gap-fill, z-score outlier detection, and word-graph
PageRank (the iterative-algorithm showcase).

Engine-parity notes:
- Timestamps compare engine-side; only DATE-cast or formatted values are
  output (see queries/temporal.py `_fmt`).
- z-scores are assembled from exact BIGINT moment sums with an identical
  double expression tree in both engines (see breadth.py agg_stats_moments).
- Week arithmetic stays integral: date_trunc('week') → DATE, day-diff
  div 7 (both engines truncate identically on the non-negative domain).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_tables
from .registry import query
from .tpch import _units


# --------------------------------------------------------------------------
# funnel: view → click → purchase ordered-step conversion counts
# --------------------------------------------------------------------------
@query("funnel", oracle="""
WITH s AS (
  SELECT user_id,
         min(ts) FILTER (WHERE event_type = 'view') AS t_view,
         min(ts) FILTER (WHERE event_type = 'click') AS t_click,
         min(ts) FILTER (WHERE event_type = 'purchase') AS t_purchase
  FROM events GROUP BY user_id
)
SELECT count(*) AS n_users,
       count(*) FILTER (WHERE t_view IS NOT NULL) AS n_view,
       count(*) FILTER (WHERE t_click > t_view) AS n_click_after_view,
       count(*) FILTER (WHERE t_purchase > t_click AND t_click > t_view)
         AS n_full_funnel
FROM s
""")
def funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    step = lambda t: F.min(F.when(F.col("event_type") == t, F.col("ts")))  # noqa: E731
    s = ev.groupBy("user_id").agg(step("view").alias("t_view"),
                                  step("click").alias("t_click"),
                                  step("purchase").alias("t_purchase"))
    c = lambda cond: F.count(F.when(cond, 1))  # noqa: E731
    return s.agg(
        F.count(F.lit(1)).alias("n_users"),
        c(F.col("t_view").isNotNull()).alias("n_view"),
        c(F.col("t_click") > F.col("t_view")).alias("n_click_after_view"),
        c((F.col("t_purchase") > F.col("t_click"))
          & (F.col("t_click") > F.col("t_view"))).alias("n_full_funnel"))


# --------------------------------------------------------------------------
# cohort retention: users cohorted by first-seen week × active week offset
# --------------------------------------------------------------------------
@query("cohort_retention", oracle="""
WITH f AS (
  SELECT user_id, CAST(date_trunc('week', min(ts)) AS DATE) AS cohort_wk
  FROM events GROUP BY user_id
), a AS (
  SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS wk
  FROM events
)
SELECT f.cohort_wk,
       CAST(date_diff('day', f.cohort_wk, a.wk) // 7 AS INT) AS week_n,
       count(*) AS n_active
FROM f JOIN a USING (user_id)
GROUP BY 1, 2
ORDER BY cohort_wk, week_n
""")
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    f = (ev.groupBy("user_id")
         .agg(F.date_trunc("week", F.min("ts")).cast("date")
              .alias("cohort_wk")))
    a = (ev.select("user_id",
                   F.date_trunc("week", F.col("ts")).cast("date").alias("wk"))
         .distinct())
    return (f.join(a, "user_id")
            .groupBy("cohort_wk",
                     F.expr("CAST(datediff(wk, cohort_wk) div 7 AS INT)")
                     .alias("week_n"))
            .agg(F.count(F.lit(1)).alias("n_active"))
            .orderBy("cohort_wk", "week_n"))


# --------------------------------------------------------------------------
# calendar gap-fill: per-(day, event_type) counts with missing combinations
# zero-filled — generated day spine × distinct types, LEFT JOIN, coalesce.
# The spine is tiny (days × types) and broadcast; counts shuffle once.
# --------------------------------------------------------------------------
@query("gap_fill_daily", oracle="""
WITH span AS (
  SELECT min(CAST(ts AS DATE)) AS d0, max(CAST(ts AS DATE)) AS d1 FROM events
), days AS (
  SELECT d0 + CAST(unnest(range(0, CAST(d1 - d0 AS BIGINT) + 1)) AS INT)
    AS day
  FROM span
), types AS (SELECT DISTINCT event_type FROM events),
counts AS (
  SELECT CAST(ts AS DATE) AS day, event_type, count(*) AS n
  FROM events GROUP BY 1, 2
)
SELECT d.day, t.event_type, coalesce(c.n, 0) AS n
FROM days d
CROSS JOIN types t
LEFT JOIN counts c ON c.day = d.day AND c.event_type = t.event_type
ORDER BY d.day, t.event_type
""")
def gap_fill_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    span = ev.agg(F.min(F.col("ts").cast("date")).alias("d0"),
                  F.max(F.col("ts").cast("date")).alias("d1"))
    days = (span.select(
        "d0", F.explode(F.sequence(F.lit(0), F.datediff("d1", "d0")))
        .alias("i"))
        .select(F.date_add("d0", F.col("i")).alias("day")))
    types = ev.select("event_type").distinct()
    counts = (ev.groupBy(F.col("ts").cast("date").alias("day"), "event_type")
              .agg(F.count(F.lit(1)).alias("n")))
    return (F.broadcast(days).crossJoin(F.broadcast(types))
            .join(counts, ["day", "event_type"], "left")
            .select("day", "event_type",
                    F.coalesce(F.col("n"), F.lit(0).cast("long")).alias("n"))
            .orderBy("day", "event_type"))


# --------------------------------------------------------------------------
# z-score outliers: per-type sample mean/std from exact BIGINT moments,
# events with |z| > 2. The 5-row stats side broadcasts back onto the scan.
# --------------------------------------------------------------------------
@query("zscore_outliers", oracle="""
WITH b AS (
  SELECT event_id, event_type,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events
), m AS (
  SELECT event_type, count(*) AS n,
         CAST(sum(cents) AS BIGINT) AS sp,
         CAST(sum(cents * cents) AS BIGINT) AS spp
  FROM b GROUP BY event_type
)
SELECT event_id, b.event_type, cents,
       (CAST(cents AS DOUBLE) - CAST(sp AS DOUBLE) / CAST(n AS DOUBLE))
       / sqrt((CAST(n AS DOUBLE) * CAST(spp AS DOUBLE)
               - CAST(sp AS DOUBLE) * CAST(sp AS DOUBLE))
              / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))) AS z
FROM b JOIN m ON b.event_type = m.event_type
WHERE abs((CAST(cents AS DOUBLE) - CAST(sp AS DOUBLE) / CAST(n AS DOUBLE))
          / sqrt((CAST(n AS DOUBLE) * CAST(spp AS DOUBLE)
                  - CAST(sp AS DOUBLE) * CAST(sp AS DOUBLE))
                 / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)))) > 2
ORDER BY event_id
""")
def zscore_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    b = ev.select("event_id", "event_type",
                  _units(F.col("value"), 100).alias("cents"))
    m = (b.groupBy("event_type")
         .agg(F.count(F.lit(1)).alias("n"),
              F.sum("cents").alias("sp"),
              F.sum(F.col("cents") * F.col("cents")).alias("spp")))
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    z = ((d("cents") - d("sp") / d("n"))
         / F.sqrt((d("n") * d("spp") - d("sp") * d("sp"))
                  / (d("n") * (d("n") - F.lit(1.0)))))
    return (b.join(F.broadcast(m), "event_type")
            .select("event_id", "event_type", "cents", z.alias("z"))
            .filter(F.abs(F.col("z")) > 2)
            .orderBy("event_id"))


def word_cooccur_pairs(docs: DataFrame, top_k: int = 30,
                       min_pairs: int = 20,
                       keep_count: bool = False) -> DataFrame:
    """Unique ordered co-occurrence pairs (w1 < w2) over the corpus's
    ``top_k`` document-frequency words — the undirected-graph form
    `triangle_count` consumes; `word_cooccur_edges` symmetrizes it.

    Two passes over the text total: one TakeOrdered job for the top set
    (embedded as a literal so co-occurrence needs NO self-join — per doc,
    intersect with the ≤top_k-element array and emit ordered pairs,
    map-only until the pair count), then ONE pass for the pair counts.
    Both edge directions come from a single array-explode of the counted
    pairs — a union of two selects would recompute the whole
    explode+aggregate lineage once per branch."""
    from ..functions.texts import words

    w = F.array_distinct(words(F.col("text")))
    top = [r["word"] for r in
           (docs.select(F.explode(w).alias("word"))
            .groupBy("word").agg(F.count(F.lit(1)).alias("df"))
            .orderBy(F.desc("df"), "word").limit(top_k).collect())]
    tw = F.array_sort(F.array_intersect(w, F.array(*[F.lit(t) for t in top])))
    # bind tw as a PROJECTED COLUMN before the nested lambdas: a lambda
    # body that references the tw expression tree re-evaluates the whole
    # split+intersect+sort once per outer array element (~top_k× per doc
    # — measured 6× this pass's cost); a bound attribute evaluates once
    twc = F.col("tw")
    pair_arr = F.flatten(F.transform(
        twc, lambda x: F.filter(F.transform(twc, lambda y: F.struct(
            x.alias("w1"), y.alias("w2"))), lambda s: s.w1 < s.w2)))
    return (docs.select(tw.alias("tw"))
            .select(F.explode(pair_arr).alias("p"))
            .groupBy("p").agg(F.count(F.lit(1)).alias("n_pair"))
            .filter(F.col("n_pair") >= min_pairs)
            .select(F.col("p.w1").alias("a_id"), F.col("p.w2").alias("b_id"),
                    *([F.col("n_pair").cast("long").alias("n_pair")]
                      if keep_count else [])))


def word_cooccur_edges(docs: DataFrame, top_k: int = 30,
                       min_pairs: int = 20) -> DataFrame:
    """Both directions of `word_cooccur_pairs` via one array-explode (a
    union of two selects would recompute the explode+aggregate lineage
    once per branch)."""
    pairs = word_cooccur_pairs(docs, top_k=top_k, min_pairs=min_pairs)
    return (pairs.select(F.explode(F.array(
        F.struct(F.col("a_id").alias("src"), F.col("b_id").alias("dst")),
        F.struct(F.col("b_id").alias("src"), F.col("a_id").alias("dst"))))
        .alias("e"))
        .select("e.src", "e.dst"))


# --------------------------------------------------------------------------
# PageRank over the top-term co-occurrence graph — iterative DataFrame
# joins with lineage cut per round (rows-only: float fixpoint has no SQL
# twin; invariants asserted in tests/test_graph.py and driver-certified
# by pagerank_invariants)
# --------------------------------------------------------------------------
@query("pagerank_words")
def pagerank_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import pagerank

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    edges = word_cooccur_edges(docs)
    return (pagerank(edges, iterations=6, dangling_correction=False)
            .orderBy(F.desc("pr"), "node"))


# SQL replay of `word_cooccur_pairs` (tokenize → top-30 by document
# frequency → co-occurring pairs with support ≥ 20) — interpolated into
# every oracle that certifies the co-occurrence graph so the relational
# twins can never drift apart (graph_triangles here,
# pagerank_invariants in queries/invariants.py).
COOCCUR_PAIRS_CTES = """tok AS (
  SELECT doc_id, unnest(list_distinct(list_filter(
           string_split_regex(trim(text), '\\s+'), x -> x <> ''))) AS word
  FROM documents
), top30 AS (
  SELECT word FROM tok GROUP BY word
  ORDER BY count(*) DESC, word LIMIT 30
), doc_top AS (
  SELECT doc_id, word FROM tok WHERE word IN (SELECT word FROM top30)
), pairs AS (
  SELECT a.word AS w1, b.word AS w2
  FROM doc_top a JOIN doc_top b
    ON a.doc_id = b.doc_id AND a.word < b.word
  GROUP BY a.word, b.word
  HAVING count(*) >= 20
)"""


# --------------------------------------------------------------------------
# exact global triangle count on the co-occurrence graph — the classic
# wedge-close join shape, integer-exact in both engines (the oracle
# replays the edge construction relationally, as pagerank_invariants
# does, then closes wedges with the same two equi-joins)
# --------------------------------------------------------------------------
@query("graph_triangles", oracle=f"""
WITH {COOCCUR_PAIRS_CTES}
SELECT (SELECT CAST(count(*) AS BIGINT) FROM pairs) AS n_edges,
       CAST(count(*) AS BIGINT) AS n_triangles
FROM pairs ab
JOIN pairs bc ON ab.w2 = bc.w1
JOIN pairs ac ON ac.w1 = ab.w1 AND ac.w2 = bc.w2
""")
def graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import triangle_count

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    return triangle_count(word_cooccur_pairs(docs))
