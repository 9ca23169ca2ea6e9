"""Exact variable-length substring dedup — the Lee et al. tier.

"Deduplicating Training Data Makes Language Models Better" (Lee et al.
2022) drops every span of >= N tokens that occurs verbatim anywhere
else in the corpus (including elsewhere in the same document), via a
monolithic suffix array over the concatenated corpus. This module
re-expresses that pass Spark-first, on top of one identity:

    the token set covered by duplicated spans of length >= N
    == the union of all duplicated EXACT-N-token windows,

because every length-L >= N duplicated span contains L-N+1 duplicated
N-windows whose union is exactly the span, and every duplicated
N-window IS a duplicated span. So variable-length semantics reduce to
finding exact-length-N window equality classes with >= 2 members.

Window equality is computed EXACTLY (no hashing, no collision caveat)
by prefix QUADRUPLING over token positions — the suffix-array prefix-
doubling construction with branching factor 4, stopped once ≤ 5 legs
cover N instead of running to log(corpus):

  - level 0: a window of 1 token; its equality class id is the minimum
    (id, pos) struct among equal tokens — deterministic, no
    monotonically_increasing_id (whose values can differ between two
    evaluations of the same plan).
  - level k: class of [p, p+4^k) = canonical id of the 4-TUPLE of
    level-(k-1) classes at shifts (0, s, 2s, 3s), s = 4^{k-1} — three
    inner equi-joins on (id, pos) (all one co-partitioned key) plus one
    groupBy-min plus one join back, all JVM-side.
  - length-N windows: the struct of ≤ 5 level-k classes at shifts
    (0, s, …, N-s) — overlapping legs covering exactly [p, p+N), the
    standard range-equality trick (equality of the tuple ⟺ window
    equality).

Each level is localCheckpoint'ed: level k's plan joins level k-1 with
itself, so an unmaterialized lineage would branch per level (4^k copies
of the scan by level k). Levels are the dominant cost (each checkpoint
is a full job over the token stream), which is why branching 4 beats 2:
N=20 takes 2 materialized levels (tokens, span-4) + one 5-leg key join
vs 5 levels + a 2-leg join (sf0.1 A/B incl. plan build: 6.8-7.5s →
4.5-5.5s for the starts pass, identical output).

Scale shape at 100 TB: ~log4(N) rounds (N=20 -> 1 quadrupling + 1 shift
join) of constant-row-width shuffles over the token stream — each
shuffle row is (id, pos, two 16-byte struct ids), vs the O(T*N)-byte
blowup of shuffling materialized N-gram strings (the dup_span_census
approach at n=5, queries/breadth24.py — right for tiny n, 20x token
bytes at n=20) and vs log(T) rounds for a full suffix sort. Class keys
at level >= 2 are near-unique so the groupBys don't skew; level-0
token skew is absorbed by partial aggregation (min). Island merging and
text rebuild are windowed per doc_id — never a global window.

Reference scope: the reference has no substring dedup (its dedup is
row-exact, dataframe_tasks.py drop_duplicates); this is new surface for
the 100 TB training-data pipeline, SURVEY §2.3.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.texts import words
from .rounds import cut


def token_positions(docs: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text") -> DataFrame:
    """(id, pos, tok) with pos 0-based in document order; empty/null
    text yields no rows (posexplode drops them)."""
    return (docs.select(F.col(id_col).alias("id"),
                        F.posexplode(words(F.col(text_col)))
                        .alias("pos", "tok")))


def _level0(tok: DataFrame) -> DataFrame:
    """Equality class of each single token: min (id, pos) of the class."""
    tab = tok.groupBy("tok").agg(F.min(F.struct("id", "pos")).alias("cls"))
    return tok.join(tab, "tok").select("id", "pos", "cls")


# Max legs in the final window key: bounds key width at _MAX_LEGS 16-byte
# structs while letting each class level QUADRUPLE the span (2 fewer
# materialized levels than doubling for N=20). Each eager level
# checkpoint is a full job over the token stream, so levels dominate the
# pass (sf0.1 A/B incl. plan build: 5-level doubling 6.8-7.5s → 2-level
# quad 4.5-5.5s, identical starts). At 100 TB the same trade reads:
# ~log4(N) constant-width shuffle rounds, final count shuffles ≤ 80 B of
# key per position instead of 32 B — rounds beat bytes for shuffle-bound
# iterative passes (guide §2.2: fewer synchronization rounds, larger
# blocks).
_MAX_LEGS = 5


def _shift_join(cur: DataFrame, span_shifts: list[int],
                prefix: str = "c") -> DataFrame:
    """Join (id, pos, cls) with its shifted copies: one output row per
    pos where EVERY shifted leg exists, columns c0..c{k-1} being the
    class of the span starting at pos + shift_i. The inner equi-join on
    (id, pos) truncates positions whose composite window would cross
    the document end."""
    out = None
    for i, s in enumerate(span_shifts):
        leg = cur.select("id",
                         (F.col("pos") - F.lit(s)).alias("pos") if s
                         else F.col("pos"),
                         F.col("cls").alias(f"{prefix}{i}"))
        out = leg if out is None else out.join(leg, ["id", "pos"])
    return out


def _canonicalize(pair: DataFrame, keys: list[str]) -> DataFrame:
    """cls := min (id, pos) of the equality class keyed by ``keys`` —
    deterministic, no monotonically_increasing_id."""
    tab = pair.groupBy(*keys).agg(F.min(F.struct("id", "pos")).alias("ncls"))
    return (pair.join(tab, keys)
            .select("id", "pos", F.col("ncls").alias("cls")))


def window_classes(docs: DataFrame, n: int, id_col: str = "doc_id",
                   text_col: str = "text") -> DataFrame:
    """(id, pos, cls): the exact-equality key of the N-token window
    starting at pos — two rows share ``cls`` iff their windows are
    token-identical. Only positions whose window fits the document
    (pos + n <= doc tokens) appear.

    Levels QUADRUPLE the span (class of [p, p+4s) = canonical id of the
    4-tuple of span-s classes) while more than _MAX_LEGS legs would be
    needed, then the final key is the struct of ≤ _MAX_LEGS span-s
    classes at shifts (0, s, 2s, …, n-s) — overlapping legs covering
    exactly [p, p+n), the standard range-equality trick. Equality of
    the leg tuple ⟺ window equality: equal windows make every leg
    class equal; equal leg classes make every covered token equal."""
    if n < 1:
        raise ValueError(f"window length must be >= 1, got {n}")
    cur, _ = cut(_level0(token_positions(docs, id_col, text_col)))
    span = 1
    while n > span * _MAX_LEGS:
        quad = _shift_join(cur, [0, span, 2 * span, 3 * span])
        cur, _ = cut(_canonicalize(quad, ["c0", "c1", "c2", "c3"]), cur)
        span *= 4
    k = -(-n // span)  # ceil: legs needed to cover n with span-s classes
    shifts = sorted({i * span for i in range(max(k - 1, 0))} | {n - span})
    key = _shift_join(cur, shifts)
    legs = [f"c{i}" for i in range(len(shifts))]
    return key.select("id", "pos", F.struct(*legs).alias("cls"))


def duplicated_window_starts(docs: DataFrame, n: int,
                             id_col: str = "doc_id",
                             text_col: str = "text") -> DataFrame:
    """(id, pos) of every exact-N-token window occurring >= 2 times
    corpus-wide (same-document repeats count, per Lee et al.). One
    window count over the class key — a single shuffle on near-unique
    keys, no self-join."""
    wins = window_classes(docs, n, id_col, text_col)
    c = F.count(F.lit(1)).over(Window.partitionBy("cls"))
    return (wins.withColumn("c", c).filter(F.col("c") >= 2)
            .select("id", "pos"))


def _merge_islands(starts: DataFrame, n: int) -> DataFrame:
    """Merge overlapping/adjacent [pos, pos+n) windows per id into
    maximal spans — gaps-and-islands with per-id windows."""
    w = Window.partitionBy("id").orderBy("pos")
    prev_end = (F.max(F.col("pos") + F.lit(n))
                .over(w.rowsBetween(Window.unboundedPreceding, -1)))
    flagged = starts.withColumn(
        "new_isl",
        F.when(prev_end.isNull() | (F.col("pos") > prev_end), 1)
        .otherwise(0))
    grouped = flagged.withColumn("isl", F.sum("new_isl").over(w))
    return (grouped.groupBy("id", "isl")
            .agg(F.min("pos").alias("span_start"),
                 (F.max("pos") + F.lit(n)).alias("span_end"))
            .select("id", "span_start", "span_end"))


def duplicated_spans(docs: DataFrame, n: int, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """(id, span_start, span_end) — maximal duplicated spans of
    length >= n per document, end exclusive, 0-based. These are
    exactly the spans the Lee et al. pass would strip."""
    return _merge_islands(
        duplicated_window_starts(docs, n, id_col, text_col), n)


def _strip_spans(docs: DataFrame, spans: DataFrame, id_col: str,
                 text_col: str) -> DataFrame:
    """(id, n_tokens, n_kept, kept_text): every doc minus the tokens
    covered by its spans — kept_text rebuilt from surviving tokens
    single-space-joined (whitespace-normalized on both engines), a
    fully-covered doc keeps ''. Spans are takedown-sized relative to
    the corpus; the anti-join is doc-local (equi on id + pos range)."""
    toks = token_positions(docs, id_col, text_col)
    kept = toks.alias("t").join(
        spans.alias("s"),
        (F.col("t.id") == F.col("s.id"))
        & (F.col("t.pos") >= F.col("s.span_start"))
        & (F.col("t.pos") < F.col("s.span_end")),
        "left_anti")
    per = (kept.groupBy("id")
           .agg(F.count(F.lit(1)).alias("n_kept"),
                F.concat_ws(
                    " ",
                    F.transform(
                        F.array_sort(F.collect_list(
                            F.struct("pos", "tok"))),
                        lambda s: s["tok"])).alias("kept_text")))
    # null text coalesces to '' so n_tokens is 0 on BOTH engines
    # (size(null) is engine-config-dependent; token_positions already
    # yields no rows for null docs, so 0 is the consistent answer)
    return (docs.select(F.col(id_col).alias("id"),
                        F.size(words(F.coalesce(F.col(text_col),
                                                F.lit("")))).cast("long")
                        .alias("n_tokens"))
            .join(per, "id", "left")
            .select("id",
                    "n_tokens",
                    F.coalesce("n_kept", F.lit(0)).cast("long")
                    .alias("n_kept"),
                    F.coalesce("kept_text", F.lit("")).alias("kept_text")))


def strip_duplicated_substrings(docs: DataFrame, n: int,
                                id_col: str = "doc_id",
                                text_col: str = "text") -> DataFrame:
    """Every doc minus its duplicated >= n-token spans:
    (id, n_tokens, n_kept, kept_text)."""
    return _strip_spans(docs, duplicated_spans(docs, n, id_col, text_col),
                        id_col, text_col)


def contaminated_window_starts(corpus: DataFrame, ref: DataFrame, n: int,
                               id_col: str = "doc_id",
                               text_col: str = "text") -> DataFrame:
    """(id, pos) of every corpus window whose exact n-token content
    appears ANYWHERE in the reference corpus — the substring tier of
    benchmark decontamination (strip eval data from training data, the
    cross-corpus companion of duplicated_window_starts: corpus-corpus
    duplication does NOT mark a window here, only corpus∩ref). The
    prefix-doubling classes are built ONCE over the tagged union, so
    cross-corpus equality is exact; the internal union id is a
    (src, orig) struct — type-agnostic (string/negative ids work; an
    id*2/id*2+1 arithmetic encoding would silently null-cast string
    ids and mis-filter negatives under Spark's % semantics) — unmapped
    on output."""
    c = corpus.select(F.struct(F.lit(0).alias("src"),
                               F.col(id_col).alias("orig")).alias("_sd_id"),
                      F.col(text_col).alias("_sd_text"))
    r = ref.select(F.struct(F.lit(1).alias("src"),
                            F.col(id_col).alias("orig")).alias("_sd_id"),
                   F.col(text_col).alias("_sd_text"))
    wins = window_classes(c.unionByName(r), n, "_sd_id", "_sd_text")
    ref_classes = (wins.filter(F.col("id.src") == 1)
                   .select("cls").distinct())
    return (wins.filter(F.col("id.src") == 0)
            .join(ref_classes, ["cls"], "left_semi")
            .select(F.col("id.orig").alias("id"), "pos"))


def contaminated_spans(corpus: DataFrame, ref: DataFrame, n: int,
                       id_col: str = "doc_id",
                       text_col: str = "text") -> DataFrame:
    """(id, span_start, span_end): maximal corpus spans of length >= n
    appearing verbatim in the reference corpus."""
    return _merge_islands(
        contaminated_window_starts(corpus, ref, n, id_col, text_col), n)


def strip_contaminated_substrings(corpus: DataFrame, ref: DataFrame,
                                  n: int, id_col: str = "doc_id",
                                  text_col: str = "text") -> DataFrame:
    """Every corpus doc minus its spans that appear in the reference:
    (id, n_tokens, n_kept, kept_text) — the decontamination strip."""
    return _strip_spans(
        corpus, contaminated_spans(corpus, ref, n, id_col, text_col),
        id_col, text_col)
