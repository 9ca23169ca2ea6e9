"""Deduplication operators for LLM training-data pipelines.

Four escalating strategies, each with the join/shuffle shape that survives
100 TB:

- exact:   hash-groupBy on a content digest. One shuffle on the digest.
- n-gram Jaccard: explode shingles → equi-self-join on shingle → count
  intersections. Only CO-OCCURRING pairs are ever materialized (never the
  O(n²) cross product); a document-frequency cap drops degenerate
  stop-shingles that would otherwise create quadratic hot keys.
- MinHash+LSH: fixed-size signature per doc (no explosion), banded into
  (band, band_hash) keys; candidates come from an equi-self-join on the
  band key. Pair count is tunable via bands×rows; verification uses
  signature agreement (estimated Jaccard) — optionally re-check exact.
- SimHash: 64-bit fingerprint per doc; near-dup candidates via 16-bit
  chunk banding (hamming ≤ 3 within any chunk match), verified by
  bit_count(xor).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from ..functions.texts import (minhash_signature, shingle_hashes,
                               signature_agreement, word_shingles)
from .rounds import release


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Groups of byte-identical texts: representative (min id) + count.

    md5 (not xxhash) so any SQL engine can reproduce the digest.
    """
    return (df.groupBy(F.md5(F.col(text_col)).alias("content_hash"))
            .agg(F.min(id_col).alias("keep_id"),
                 F.count(F.lit(1)).alias("dup_count")))


def ngram_jaccard_pairs(df: DataFrame, id_col: str, text_col: str,
                        n: int = 3, threshold: float = 0.8,
                        max_df: int | None = None,
                        hash_shingles: bool = True,
                        prefilter_hot: bool | None = None) -> DataFrame:
    """Pairs (a_id < b_id) with shingle-set Jaccard ≥ threshold.

    Plan shape (r14 rework, guide §2.3/§2.4 "shuffle fewer bytes / remove
    shuffles"): the exploded (doc, shingle) relation is grouped by shingle
    ONCE (`collect_list`), and co-occurring pairs are generated from each
    group's sorted doc array (all (i, j>i) combinations — the exact
    multiset the previous self-join produced, since a shingle's group in a
    hash-join also lands on a single reducer). The previous formulation
    referenced the exploded relation four times (self-join a/b sides +
    sizes + the hot-df subtree), which Catalyst compiled to FOUR separate
    explode+hash subtrees and four |shingles|-sized exchanges; this one
    explodes once and shuffles the relation once (plan: 40 nodes /
    ~10 Exchange → 24 nodes / 5 Exchange; sf0.1 A/B same-session:
    1.30s → 1.07s median-of-5, identical 256 output rows).

    ``max_df`` drops shingles present in more than that many documents —
    the skew guard for web-scale corpora where a boilerplate shingle can
    appear in millions of docs. ``prefilter_hot=None`` (default) applies
    the guard BOUNDED whenever ``max_df`` is set: a count-then-broadcast-
    anti-join drops hot shingles map-side before the group, so no reduce
    task ever buffers a hot shingle's full doc list (the r14 default was
    a post-group size filter whose `collect_list` transiently held the
    full O(true df) list — ~800 MB in ONE task for a boilerplate shingle
    over 100M docs; guide §5). The bounded guard costs one extra
    aggregate pass over the shingle stream — the price the pre-r14 code
    always paid, and the identical shingle set survives either way (both
    filter on the same per-shingle document frequency, so results are
    unchanged). Pass ``prefilter_hot=False`` explicitly to opt into the
    unbounded single-pass variant where the hottest df provably fits.

    ``hash_shingles`` groups on xxhash64 of the shingle instead of the
    string: the shuffled key drops from ~20-30 bytes to 8, which dominates
    the cost at corpus scale (measured ~10% even at sf0.1 single-node).
    A cross-doc 64-bit collision (P ≈ pairs·shingles/2^64) would inflate
    one intersection count by 1; pass False where exactness is contractual.
    """
    from ..catalog import spread_scan

    if prefilter_hot is None:
        prefilter_hot = max_df is not None
    sh = (spread_scan(df, id_col)
          .select(F.col(id_col).alias("doc"),
                  F.explode(word_shingles(F.col(text_col), n)).alias("s")))
    if hash_shingles:
        sh = sh.select("doc", F.xxhash64("s").alias("s"))
    if prefilter_hot and max_df is not None:
        # bounded-buffer path: the hot set (df > max_df) is tiny by
        # construction — broadcast the anti-join so the shingle stream is
        # filtered map-side before the group. The stream feeds TWO passes
        # (df count + the group) — lazily checkpoint the compact
        # (doc, s-hash) relation so the text scan + shingle explode + hash
        # run once, not once per pass (guide §5; 16 bytes/row,
        # disk-spillable). A checkpoint, not persist(): the result is
        # returned lazily, and the ContextCleaner reclaims the blocks once
        # it is unreferenced, where a cache entry would outlive the query
        sh = sh.localCheckpoint(eager=False)
        hot = (sh.groupBy("s").agg(F.count(F.lit(1)).alias("df_"))
               .filter(F.col("df_") > max_df).select("s"))
        sh = sh.join(F.broadcast(hot), "s", "left_anti")
    g = sh.groupBy("s").agg(F.collect_list("doc").alias("docs"))
    if max_df is not None and not prefilter_hot:
        g = g.filter(F.size("docs") <= max_df)
    sizes = (g.select(F.explode("docs").alias("doc"))
             .groupBy("doc").agg(F.count(F.lit(1)).alias("sz")))
    # pair generation: for the sorted array, every (i, j>i) combination —
    # identical multiset to the old a⋈b self-join with a_id < b_id (within-
    # doc duplicate hashes excluded there by <, here by !=)
    gs = (g.select(F.array_sort("docs").alias("docs"))
          .filter(F.size("docs") >= 2))
    pa = gs.select(F.posexplode("docs").alias("i", "a_id"), "docs")
    pairs = (pa.select("a_id",
                       F.explode(F.slice("docs", F.col("i") + 2,
                                         F.size("docs"))).alias("b_id"))
             .filter(F.col("a_id") != F.col("b_id")))
    inter = pairs.groupBy("a_id", "b_id").agg(F.count(F.lit(1)).alias("inter"))
    sa = sizes.select(F.col("doc").alias("a_id"), F.col("sz").alias("sa"))
    sb = sizes.select(F.col("doc").alias("b_id"), F.col("sz").alias("sb"))
    return (inter.join(sa, "a_id").join(sb, "b_id")
            .withColumn("jaccard",
                        F.col("inter") * 1.0
                        / (F.col("sa") + F.col("sb") - F.col("inter")))
            .filter(F.col("jaccard") >= threshold)
            .select("a_id", "b_id", "jaccard"))


def band_hash_array(bands: int, rows: int, sig_col: str = "sig") -> "F.Column":
    """Array of ``bands`` xxhash64 band keys over a minhash signature
    column — the LSH banding expression shared by the in-corpus self-join
    (`minhash_band_candidates`) and the persisted cross-run index
    (`operators/incremental.py`), so both produce IDENTICAL keys and a
    batch can probe an index built in an earlier run."""
    return F.array(*[
        F.xxhash64(F.concat_ws("_", *[
            F.element_at(sig_col, b * rows + r + 1).cast("string")
            for r in range(rows)]))
        for b in range(bands)])


def minhash_band_candidates(sigs: DataFrame, bands: int,
                            rows: int) -> DataFrame:
    """LSH banding over a (doc, sig) signature table → candidate pairs
    (a_id < b_id): pairs whose signatures agree on EVERY row of at least
    one band (modulo xxhash64 band-key collisions, which can only ADD
    candidates, never drop one — so band-equality ⇒ candidacy is exact).

    Factored out of `minhash_lsh_pairs` so the banding join can be
    cross-checked independently (queries/invariants.py compares it against
    a brute-force all-pairs band-equality scan on a sample)."""
    band_arr = band_hash_array(bands, rows)
    # band join carries ONLY (doc, band, band_hash); shuffling the 128-long
    # signature arrays through the join + dropDuplicates measured ~2× slower
    banded = sigs.select("doc", F.posexplode(band_arr).alias("band", "band_hash"))
    left = banded.withColumnRenamed("doc", "a_id")
    right = banded.withColumnRenamed("doc", "b_id")
    return (left.join(right, ["band", "band_hash"])
            .filter(F.col("a_id") < F.col("b_id"))
            .select("a_id", "b_id")
            .dropDuplicates(["a_id", "b_id"]))


def minhash_lsh_pairs(df: DataFrame, id_col: str, text_col: str,
                      num_hashes: int = 128, bands: int = 32,
                      n: int = 3, threshold: float = 0.8,
                      seed: int = 42) -> DataFrame:
    """Candidate near-dup pairs via MinHash signatures + LSH banding,
    scored by signature agreement (Jaccard estimate) ≥ threshold.

    With r = num_hashes/bands rows per band, a pair with true Jaccard j
    collides with probability 1-(1-j^r)^bands — the standard S-curve; the
    defaults (r=4, b=32) catch j≥0.8 with >0.999 recall.
    """
    from ..catalog import spread_scan

    rows = num_hashes // bands
    # signature computation is CPU-bound per row: spread it across all
    # cores when the source layout cannot (spread_scan fires only below
    # cores input files; at 100 TB the scan itself provides the
    # parallelism and the old unconditional repartition was a full
    # shuffle of the raw text for nothing)
    sigs = (spread_scan(df, id_col)
            .select(F.col(id_col).alias("doc"),
                    minhash_signature(F.col(text_col), num_hashes, n, seed)
                    .alias("sig")))
    # reused: banding + per-pair verification; lazily checkpointed (not
    # persisted) because the pairs are returned lazily, with no point at
    # which this function could unpersist
    sigs = sigs.localCheckpoint(eager=False)
    cand = minhash_band_candidates(sigs, bands, rows)
    sig_a = sigs.select(F.col("doc").alias("a_id"), F.col("sig").alias("sig_a"))
    sig_b = sigs.select(F.col("doc").alias("b_id"), F.col("sig").alias("sig_b"))
    return (cand.join(sig_a, "a_id").join(sig_b, "b_id")
            .withColumn("est_jaccard", signature_agreement("sig_a", "sig_b"))
            .filter(F.col("est_jaccard") >= threshold)
            .select("a_id", "b_id", "est_jaccard"))


def simhash64(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """64-bit SimHash per document: majority vote per bit over the xxhash64
    of each distinct shingle. Explode → 64 literal-shift aggregates →
    pack; one shuffle on the doc id, everything codegen'd."""
    from ..catalog import spread_scan

    tok = (spread_scan(df, id_col)
           .select(F.col(id_col).alias("doc"),
                   F.explode(shingle_hashes(F.col(text_col), n=1)).alias("h")))
    votes = [F.sum(F.shiftright(F.col("h"), j).bitwiseAND(F.lit(1)))
             .alias(f"v{j}") for j in range(64)]
    counted = tok.groupBy("doc").agg(F.count(F.lit(1)).alias("n"), *votes)
    fp = F.lit(0).cast("long")
    for j in range(64):
        bit = (F.col(f"v{j}") * 2 >= F.col("n")).cast("long")
        fp = fp + F.shiftleft(bit, j)
    return counted.select("doc", fp.alias("simhash"))


def simhash_pairs(df: DataFrame, id_col: str, text_col: str,
                  max_hamming: int = 3,
                  allow_partial: bool = False) -> DataFrame:
    """Near-dup pairs with hamming(simhash) ≤ max_hamming, found by 16-bit
    chunk banding (pigeonhole: ≤3 differing bits ⇒ ≥1 of 4 chunks equal)."""
    return hamming_band_pairs(simhash64(df, id_col, text_col),
                              "doc", "simhash", max_hamming, allow_partial)


def hamming_band_pairs(fps: DataFrame, id_col: str, fp_col: str,
                       max_hamming: int = 3,
                       allow_partial: bool = False) -> DataFrame:
    """Pairs with hamming(fp) ≤ max_hamming over ANY 64-bit fingerprint
    relation (simhash, pHash, winnowing digests …), via the same 16-bit
    chunk banding: candidates come only from an equi-join on one of 4
    chunks, complete by pigeonhole for max_hamming ≤ 3 — never an
    all-pairs XOR scan."""
    if max_hamming > 3 and not allow_partial:
        raise ValueError(
            f"max_hamming={max_hamming}: 4x16-bit chunk banding is "
            "pigeonhole-complete only for max_hamming <= 3 — a larger "
            "radius silently drops pairs (use more/narrower bands, or "
            "pass allow_partial=True for a recall-best-effort sweep)")
    chunks = F.array(*[
        F.shiftrightunsigned(F.col(fp_col), 16 * c).bitwiseAND(F.lit(0xFFFF))
        for c in range(4)])
    banded = fps.select(F.col(id_col).alias("doc"),
                        F.col(fp_col).alias("simhash"),
                        F.posexplode(chunks).alias("chunk", "chunk_val"))
    a = banded.select(F.col("doc").alias("a_id"), F.col("simhash").alias("fp_a"),
                      "chunk", "chunk_val")
    b = banded.select(F.col("doc").alias("b_id"), F.col("simhash").alias("fp_b"),
                      "chunk", "chunk_val")
    return (a.join(b, ["chunk", "chunk_val"])
            .filter(F.col("a_id") < F.col("b_id"))
            .dropDuplicates(["a_id", "b_id"])
            .withColumn("hamming",
                        F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b"))))
            .filter(F.col("hamming") <= max_hamming)
            .select("a_id", "b_id", "hamming"))


def connected_components(pairs: DataFrame, max_iterations: int = 20) -> DataFrame:
    """`connected_components_stats` without the round count — see there."""
    return connected_components_stats(pairs, max_iterations)[0]


def connected_components_stats(pairs: DataFrame,
                               max_iterations: int = 20,
                               ) -> tuple[DataFrame, int]:
    """Connected components over a near-dup pair graph (a_id, b_id) →
    ((node, component) where component = min node id, rounds_used).

    ``rounds_used`` counts label-propagation rounds INCLUDING the final
    no-change round that proves convergence — on clique-shaped dup graphs
    it is exactly 2 (labels settle in one hop, one more round detects
    fixpoint), which `cc_convergence` certifies against a relational
    oracle; a value creeping toward ``max_iterations`` is the
    early-warning signal that component diameters (and the round count at
    100 TB) are growing.

    Iterative min-label propagation: each round every node takes the
    minimum label among itself and its neighbors. The label advances one
    hop per round, so convergence takes O(diameter) rounds — fine for
    near-dup graphs (components are tiny cliques, diameter ~2), but a
    path-shaped component longer than ``max_iterations`` would NOT fully
    converge, so non-convergence raises instead of returning silently
    split components. (If long chains are expected, switch to
    large-star/small-star pointer doubling for O(log diameter).)

    Each round is ONE aggregate and ONE action. The candidates are every
    neighbor's label (``own`` NULL) plus the node's current label
    (``own`` = label); one ``groupBy(node)`` yields the new label
    ``min(label)`` and the old one ``max(own)``, and since labels only
    decrease, ``changed = label < own`` is exactly "the label moved". The
    round's ``max(changed)`` is observed (``Observation``) on the eager
    ``localCheckpoint`` that cuts lineage, so the checkpoint's count is
    the round's only action and also yields the convergence flag; no
    second join is planned to compare old and new labels. (``rounds.cut``
    would drop the observation, so the round keeps its eager checkpoint
    and only releases the round it supersedes.) Traced
    `entity_resolution` (sf0.01, 4 rounds): 56 → 25 jobs per query. The
    edge list comes from ONE read of ``pairs`` (a two-row explode, where
    a union would plan the pair join twice) and is persisted for the call
    only.
    """
    edges = (pairs.select(F.explode(F.array(
        F.struct(F.col("a_id").alias("src"), F.col("b_id").alias("dst")),
        F.struct(F.col("b_id").alias("src"), F.col("a_id").alias("dst"))))
        .alias("e")).select("e.src", "e.dst")).persist()
    try:
        # round 1's inputs: every node's label is still the node itself,
        # so the neighbor labels are the edges as they are and no join or
        # distinct node list is needed (duplicate candidate rows cannot
        # change a min or a max)
        nbr = edges.select(F.col("src").alias("node"),
                           F.col("dst").alias("label"))
        cur = edges.select(F.col("src").alias("node"),
                           F.col("src").alias("label"))
        for rounds_used in range(1, max_iterations + 1):
            cand = (nbr.select("node", "label", F.lit(None).alias("own"))
                    .union(cur.select("node", "label",
                                      F.col("label").alias("own"))))
            step = (cand.groupBy("node")
                    .agg(F.min("label").alias("label"),
                         F.max("own").alias("own"))
                    .withColumn("changed", F.col("label") < F.col("own")))
            moved = Observation()
            labels = (step.observe(moved, F.max("changed").alias("any"))
                      .select("node", "label")
                      .localCheckpoint(eager=True))
            release(cur)
            # NULL on an empty graph: nothing moved, so it has converged
            if not moved.get["any"]:
                return (labels.select(F.col("node"),
                                      F.col("label").alias("component")),
                        rounds_used)
            nbr = (edges.join(labels, edges.dst == labels.node)
                   .select(F.col("src").alias("node"), "label"))
            cur = labels
    finally:
        # the returned labels are materialized by the eager checkpoint, so
        # the edge cache is released on every exit, a raise included
        edges.unpersist()
    raise RuntimeError(
        f"connected_components did not converge in {max_iterations} "
        "iterations; components would be silently split. Raise "
        "max_iterations (component diameter exceeds it).")


def dedup_keep_representatives(df: DataFrame, pairs: DataFrame,
                               id_col: str) -> DataFrame:
    """Full near-dup dedup: cluster the pair graph, keep the min-id doc of
    every component, pass through all unpaired docs."""
    comp = connected_components(pairs)
    drop = comp.filter(F.col("node") != F.col("component")) \
        .select(F.col("node").alias(id_col))
    return df.join(drop, id_col, "left_anti")


def jaccard_prefix_pairs(df: DataFrame, id_col: str, text_col: str,
                         n: int = 3, tau_num: int = 4, tau_den: int = 5,
                         max_df: int | None = None) -> DataFrame:
    """EXACT Jaccard >= tau pair join via PREFIX FILTERING (the
    AllPairs/PPJoin family) — the deterministic scale path next to
    minhash's probabilistic one.

    Under any total order on shingles, a pair with J(a,b) >= tau shares
    at least one token among the first |s| - ceil(tau*|s|) + 1 tokens of
    each side (else the remaining suffixes are too short to reach the
    required overlap ceil(tau*max(|a|,|b|))). Ordering by GLOBAL
    document frequency ascending puts the RAREST shingles in the
    prefix, so the candidate self-join runs over the smallest possible
    buckets: sum(bucket^2) over rare keys instead of all keys — and
    unlike LSH the result is exact, no recall tradeoff. Candidates are
    then verified with a full intersection count and the integer
    cross-multiplied threshold inter*tau_den >= tau_num*(|a|+|b|-inter).

    ``max_df`` keeps the dedup_ngram_jaccard contract (drop shingles in
    more than that many docs BEFORE sizing/prefixing — boilerplate
    guard); prefix filtering itself already avoids joining on hot keys.
    tau = tau_num/tau_den stays rational so every comparison is BIGINT.
    """
    from pyspark.sql import Window as W

    from ..functions.texts import word_shingles

    from ..catalog import spread_scan

    # word_shingles returns per-doc DISTINCT shingles — no extra
    # distinct shuffle needed; spread_scan parallelizes the shingle
    # explode when the scan layout cannot (no-op at warehouse scale)
    sh = spread_scan(df, id_col).select(
        F.col(id_col).alias("doc"),
        F.explode(word_shingles(F.col(text_col), n)).alias("s"))
    if max_df is not None:
        hot = (sh.groupBy("s").agg(F.count(F.lit(1)).alias("df_"))
               .filter(F.col("df_") > max_df).select("s"))
        sh = sh.join(F.broadcast(hot), "s", "left_anti")
    # the shingle stream is re-used three times (df ranking, prefix,
    # verification) — one materialization
    sh = sh.localCheckpoint()

    dfreq = sh.groupBy("s").agg(F.count(F.lit(1)).alias("df_"))
    w_doc = W.partitionBy("doc").orderBy("df_", "s")
    ranked = (sh.join(dfreq, "s")
              .select("doc", "s",
                      F.row_number().over(w_doc).alias("pos"),
                      F.count(F.lit(1)).over(
                          W.partitionBy("doc")).alias("sz")))
    # prefix_len = sz - ceil(tau*sz) + 1, ceil via (num*sz + den-1) div den
    plen = (F.col("sz")
            - F.expr(f"({tau_num} * sz + {tau_den} - 1) div {tau_den}")
            + F.lit(1))
    pref = ranked.filter(F.col("pos") <= plen).select("doc", "s")
    cand = (pref.alias("a").join(pref.alias("b"), "s")
            .filter(F.col("a.doc") < F.col("b.doc"))
            .select(F.col("a.doc").alias("a_id"),
                    F.col("b.doc").alias("b_id"))
            .distinct())

    a_sh = sh.select(F.col("doc").alias("a_id"), "s")
    b_sh = sh.select(F.col("doc").alias("b_id"), "s")
    inter = (cand.join(a_sh, "a_id").join(b_sh, ["b_id", "s"])
             .groupBy("a_id", "b_id")
             .agg(F.count(F.lit(1)).alias("inter")))
    sizes = sh.groupBy("doc").agg(F.count(F.lit(1)).alias("n"))
    sa = sizes.select(F.col("doc").alias("a_id"), F.col("n").alias("sa"))
    sb = sizes.select(F.col("doc").alias("b_id"), F.col("n").alias("sb"))
    return (inter.join(sa, "a_id").join(sb, "b_id")
            .filter(F.col("inter") * tau_den
                    >= tau_num * (F.col("sa") + F.col("sb")
                                  - F.col("inter")))
            .select("a_id", "b_id",
                    F.col("inter").cast("long").alias("inter"),
                    F.col("sa").cast("long").alias("sa"),
                    F.col("sb").cast("long").alias("sb")))


def containment_prefix_pairs(df: DataFrame, id_col: str, text_col: str,
                             n: int = 3, tau_num: int = 9,
                             tau_den: int = 10,
                             max_df: int | None = None) -> DataFrame:
    """EXACT set-CONTAINMENT >= tau pair join (ordered pairs: a's
    shingles mostly inside b) via the ASYMMETRIC prefix filter — the
    quote/subset-duplicate detector Jaccard misses (a short doc quoted
    inside a long one scores high containment but low Jaccard, because
    the union is dominated by the long side).

    Prefix theorem, containment form: C(a->b) = |a∩b|/|a| >= tau
    requires inter >= ceil(tau*|a|); if every token of a's
    (|a| - ceil(tau*|a|) + 1)-prefix missed b, the suffix alone
    (ceil(tau*|a|) - 1 tokens) could not reach it. So candidates join
    a's PREFIX against b's FULL posting list — asymmetric: only the
    probing side shrinks, which is also why containment has no
    symmetric size filter. Global-df-ascending order keeps the joined
    keys the rarest ones. Verification is the full intersection count
    with the BIGINT cross-multiplied threshold. ``max_df`` drops
    boilerplate shingles first (the dedup_ngram_jaccard contract).
    Returns ordered (a_id, b_id, inter, sa) pairs, a_id != b_id."""
    from pyspark.sql import Window as W

    from ..catalog import spread_scan
    from ..functions.texts import word_shingles

    sh = spread_scan(df, id_col).select(
        F.col(id_col).alias("doc"),
        F.explode(word_shingles(F.col(text_col), n)).alias("s"))
    if max_df is not None:
        hot = (sh.groupBy("s").agg(F.count(F.lit(1)).alias("df_"))
               .filter(F.col("df_") > max_df).select("s"))
        sh = sh.join(F.broadcast(hot), "s", "left_anti")
    sh = sh.localCheckpoint()

    dfreq = sh.groupBy("s").agg(F.count(F.lit(1)).alias("df_"))
    w_doc = W.partitionBy("doc").orderBy("df_", "s")
    ranked = (sh.join(dfreq, "s")
              .select("doc", "s",
                      F.row_number().over(w_doc).alias("pos"),
                      F.count(F.lit(1)).over(
                          W.partitionBy("doc")).alias("sz")))
    plen = (F.col("sz")
            - F.expr(f"({tau_num} * sz + {tau_den} - 1) div {tau_den}")
            + F.lit(1))
    pref = ranked.filter(F.col("pos") <= plen).select("doc", "s")
    cand = (pref.alias("a")
            .join(sh.alias("b"), "s")
            .filter(F.col("a.doc") != F.col("b.doc"))
            .select(F.col("a.doc").alias("a_id"),
                    F.col("b.doc").alias("b_id"))
            .distinct())

    a_sh = sh.select(F.col("doc").alias("a_id"), "s")
    b_sh = sh.select(F.col("doc").alias("b_id"), "s")
    inter = (cand.join(a_sh, "a_id").join(b_sh, ["b_id", "s"])
             .groupBy("a_id", "b_id")
             .agg(F.count(F.lit(1)).alias("inter")))
    sizes = sh.groupBy("doc").agg(F.count(F.lit(1)).alias("n"))
    sa = sizes.select(F.col("doc").alias("a_id"), F.col("n").alias("sa"))
    return (inter.join(sa, "a_id")
            .filter(F.col("inter") * tau_den >= tau_num * F.col("sa"))
            .select("a_id", "b_id",
                    F.col("inter").cast("long").alias("inter"),
                    F.col("sa").cast("long").alias("sa")))
