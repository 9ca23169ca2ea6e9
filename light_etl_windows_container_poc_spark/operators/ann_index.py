"""Persistent IVF-PQ index: build once, query many, maintain in place.

`ann_ivfpq_topk` (operators/similarity.py) trains its quantizers per
call — right for a one-shot query, wrong for the serving pattern where
one corpus answers many query batches and keeps growing. This module
persists the index as one directory:

    index/
      centroids/            k rows (cluster, centroid vector): the
                            coarse quantizer
      books/                m·ksub rows (subspace, code, centroid
                            array): the PQ codebooks
      codes/                (n_id, codes array<int>) PARTITIONED BY
                            cluster — 8 ints per vector
      anchors/              residual indexes only: (cluster, mean of
                            normalized members)
      _ivfpq_meta.json      {"residual", "m", "ksub"}
      _applied_batches/     the streaming maintainer's applied-batch
                            markers
      _tombstones/          takedown ids, anti-joined out of every scan
      _drift_baseline.json  assign stats recorded after build/refresh

Partitioning the codes by cluster id is the scale move: a query probing
``nprobe`` of k clusters reads ONLY those directories —
`PartitionFilters` at the scan, verified by test — so query cost
follows the probed fraction × 8 bytes/vector, not the corpus size. At
100 TB the same layout holds with more clusters (k scales with corpus
size; `compact_ivfpq_codes` keeps directories file-count-bounded).

One layout covers the degenerate configurations too: ``n_clusters=1``
is a flat PQ index, and a re-rank covering every probed code
(``rerank=1 << 30``) is an IVF index with exact re-scoring.

Determinism: training is `kmeans_lite` plus a lowest-id-sample Lloyd
(seeded, deterministic); the index on disk makes every later query
reproducible by construction, because the quantizers travel with it.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.vectors import dot
from .similarity import _prep, assign_nearest_cluster, kmeans_lite


def _swap_in(staging: str, live_path: str) -> None:
    """Crash-safe directory swap: move the live dir ASIDE (atomic
    rename), rename staging in, then delete the old copy. Every crash
    window leaves either the old or the new tree at ``live_path`` —
    rmtree-before-rename had a window with NOTHING serving. The
    ``.old`` sibling is outside every reader's subpath and is swept on
    the next swap."""
    import shutil

    old = live_path + ".old"
    shutil.rmtree(old, ignore_errors=True)
    if os.path.isdir(live_path):
        os.replace(live_path, old)
    os.replace(staging, live_path)
    shutil.rmtree(old, ignore_errors=True)


def load_centroids(spark: SparkSession,
                   index_path: str) -> list[tuple[int, list[float]]]:
    """The persisted coarse quantizer as the (cluster, vector) list the
    assignment/probe helpers take."""
    cents = spark.read.parquet(os.path.join(index_path, "centroids"))
    return [(int(r["cluster"]), [float(x) for x in r["cv"]])
            for r in cents.collect()]


def load_pq_books(spark: SparkSession,
                  index_path: str) -> list[list[list[float]]]:
    rows = (spark.read.parquet(os.path.join(index_path, "books"))
            .orderBy("subspace", "code").collect())
    m = max(r["subspace"] for r in rows) + 1
    books: list[list[list[float]]] = [[] for _ in range(m)]
    for r in rows:
        books[r["subspace"]].append([float(x) for x in r["centroid"]])
    return books


def build_ivfpq_index(corpus: DataFrame, id_col: str, vec_col: str,
                      index_path: str, n_clusters: int = 8, m: int = 8,
                      ksub: int = 16, sample_limit: int = 4096,
                      train_sample_fraction: float | None = None,
                      centroids: list[tuple[int, list[float]]] | None = None,
                      books: list[list[list[float]]] | None = None,
                      residual: bool = False,
                      anchors: list[tuple[int, list[float]]] | None = None,
                      ) -> int:
    """Train both quantizers (coarse k-means + sampled PQ codebooks),
    then assign AND encode the corpus in ONE map-only pass (the cluster
    id rides `pq_encode`'s passthrough — no corpus-sized join), landing:

        index/
          centroids/  k rows (cluster, centroid vector)
          books/      m·ksub rows (subspace, code, centroid array)
          codes/      (n_id, codes array<int>) PARTITIONED BY cluster

    Codes are RAW-vector PQ (not residual): one shared ADC lookup table
    serves every cluster — see `ann_ivfpq_topk`. Partitioning codes by
    cluster is what turns nprobe into PartitionFilters at the scan
    (plan-asserted in tests): query cost follows probed fraction ×
    8 bytes/vector, the product of both tiers' savings. Builds are
    ATOMIC: every artifact lands in a staging directory next to
    ``index_path`` and swaps in through `_swap_in` (a crash mid-build
    leaves the previous index serving — new centroids against old
    cluster directories would silently mis-prune).

    ``centroids``/``books`` accept pre-trained artifacts (used by the
    append-equality tests to rebuild at FIXED quantizers). Returns the
    number of indexed vectors."""
    import shutil
    import tempfile

    from .similarity import pq_encode, pq_train

    parent = os.path.dirname(os.path.abspath(index_path)) or "."
    os.makedirs(parent, exist_ok=True)
    staging = tempfile.mkdtemp(prefix=".ivfpq_staging_", dir=parent)
    try:
        spark = corpus.sparkSession
        if centroids is None:
            cents = kmeans_lite(corpus, id_col, vec_col, k=n_clusters,
                                sample_fraction=train_sample_fraction)
            centroids = [(int(r["cluster"]), [float(x) for x in r["cv"]])
                         for r in cents.collect()]
        (spark.createDataFrame(centroids, "cluster int, cv array<double>")
         .write.parquet(os.path.join(staging, "centroids")))
        c = _prep(corpus, id_col, vec_col, "n_id", "nv", "nn")
        assigned = assign_nearest_cluster(c, "nv", centroids)
        if residual and anchors is not None:
            # fixed-quantizer rebuild (append-equality contract): reuse
            # the caller's anchors verbatim instead of re-deriving them
            # from this corpus
            (spark.createDataFrame(anchors,
                                   "cluster int, av array<double>")
             .write.parquet(os.path.join(staging, "anchors")))
        elif residual:
            # residual anchors = per-cluster MEANS OF NORMALIZED
            # vectors (one distributed aggregation, k×dim result) —
            # the mean minimizes within-cluster SSE, so residual
            # variance ≤ raw variance by construction (subtracting the
            # unit-norm centroid instead measurably WORSENS it on
            # weakly-clustered data; see similarity.anchor_matrix)
            nx = F.when(F.col("nn") == 0, F.lit(0.0))                 .otherwise(F.col("x") / F.col("nn"))
            anchors_rows = (assigned
                            .select("cluster", "nn",
                                    F.posexplode("nv").alias("pos", "x"))
                            .select("cluster", "pos", nx.alias("xn"))
                            .groupBy("cluster", "pos")
                            .agg(F.avg("xn").alias("m"))
                            .groupBy("cluster")
                            .agg(F.array_sort(F.collect_list(
                                F.struct("pos", "m"))).alias("pm"))
                            .select("cluster",
                                    F.transform("pm",
                                                lambda s: s.getField("m"))
                                    .alias("av")))
            anchors = [(int(r["cluster"]), [float(x) for x in r["av"]])
                       for r in anchors_rows.collect()]
            # an anchor row for EVERY centroid, zero vector where the
            # cluster had no members at build — later appends can
            # assign vectors to such a centroid, and a missing row
            # would silently wrap to the wrong anchor in the encoder's
            # cluster→row map (and zero out its ADC scalar)
            have = {c for c, _ in anchors}
            dim = len(centroids[0][1])
            anchors += [(int(c), [0.0] * dim)
                        for c, _ in centroids if c not in have]
            (spark.createDataFrame(anchors,
                                   "cluster int, av array<double>")
             .write.parquet(os.path.join(staging, "anchors")))
        if books is None:
            if residual:
                from .similarity import pq_train_residual_sample

                books = pq_train_residual_sample(
                    corpus, id_col, vec_col, centroids, anchors,
                    m=m, ksub=ksub, sample_limit=sample_limit)
            else:
                books = pq_train(corpus, id_col, vec_col, m=m, ksub=ksub,
                                 sample_limit=sample_limit)
        rows = [(j, c, books[j][c]) for j in range(len(books))
                for c in range(len(books[j]))]
        (spark.createDataFrame(rows,
                               "subspace int, code int, centroid array<double>")
         .write.parquet(os.path.join(staging, "books")))
        if residual:
            from .similarity import pq_encode_residual

            codes = pq_encode_residual(assigned, "n_id", "nv", books,
                                       anchors)
        else:
            codes = pq_encode(assigned, "n_id", "nv", books,
                              passthrough=("cluster",))
        (codes.write.partitionBy("cluster")
         .parquet(os.path.join(staging, "codes")))
        import json

        with open(os.path.join(staging, "_ivfpq_meta.json"), "w") as f:
            json.dump({"residual": residual, "m": m, "ksub": ksub}, f)
        n = spark.read.parquet(os.path.join(staging, "codes")).count()
    except BaseException:
        shutil.rmtree(staging, ignore_errors=True)
        raise
    _swap_in(staging, index_path)
    return n


def load_anchors(spark: SparkSession,
                 index_path: str) -> list[tuple[int, list[float]]]:
    """The persisted residual anchors (cluster → mean of normalized
    members) of a residual IVF-PQ index."""
    rows = spark.read.parquet(os.path.join(index_path, "anchors")).collect()
    return [(int(r["cluster"]), [float(x) for x in r["av"]]) for r in rows]


def _ivfpq_meta(index_path: str) -> dict:
    """Index metadata ({"residual": bool, ...}); indexes built before
    the residual option default to raw-code semantics."""
    import json

    meta_path = os.path.join(index_path, "_ivfpq_meta.json")
    if not os.path.exists(meta_path):
        return {"residual": False}
    with open(meta_path) as f:
        return json.load(f)


def load_ivfpq_quantizers(spark: SparkSession, index_path: str) -> dict:
    """One round trip for EVERYTHING frozen about an IVF-PQ index:
    {"centroids", "books", "residual", "anchors"}. The append/query
    paths each need all of it, and a streaming maintainer applies one
    micro-batch after another against the SAME artifacts — loading them
    per batch re-paid two parquet reads + collects for bytes that by
    contract cannot change between refreshes (guide §4.5: heavyweight
    init once, amortized over the batches)."""
    residual = bool(_ivfpq_meta(index_path).get("residual"))
    return {"centroids": load_centroids(spark, index_path),
            "books": load_pq_books(spark, index_path),
            "residual": residual,
            "anchors": (load_anchors(spark, index_path)
                        if residual else None)}


def append_to_ivfpq_index(batch: DataFrame, id_col: str, vec_col: str,
                          index_path: str,
                          quantizers: dict | None = None) -> int:
    """Append a batch to an existing IVF-PQ index: assign + encode with
    the PERSISTED quantizers (one map-only pass), append into the
    cluster directories. Query-after-append provably equals a rebuild
    at the same fixed centroids/books (tested), because neither
    quantizer changes — only the code set grows. This is the 100 TB
    serving pattern: daily arrivals land in the index without re-reading
    or re-clustering the corpus. Returns the number of appended vectors.

    Atomicity: a multi-file parquet append is NOT atomic — a crash can
    leave some of the batch's files visible. Queries stay correct
    (extra rows are real vectors, never wrong neighbors, because the
    quantizers are unchanged), and a replayed batch's duplicate code
    rows are result-safe through the candidate dedupe in the re-rank;
    the streaming maintainer's applied-batch markers skip clean
    replays, and `compact_ivfpq_codes` reclaims the duplicates' storage.
    Recall drift: the quantizers age as the corpus grows — appended
    vectors can land in a cluster whose centroid no longer represents
    them, and codebook error grows if the distribution moves, shaving
    nprobe<k recall (the append test's recall floor bounds it).
    `drift_check` monitors it and `refresh_ivfpq_index` re-centers;
    probe-all + rerank ≥ corpus stays exact at ANY drift.

    ``quantizers`` accepts a `load_ivfpq_quantizers` dict so repeated
    appends (the streaming maintainer) skip re-reading the frozen
    artifacts per batch."""
    from .similarity import pq_encode

    spark = batch.sparkSession
    q = quantizers or load_ivfpq_quantizers(spark, index_path)
    c = _prep(batch, id_col, vec_col, "n_id", "nv", "nn")
    assigned = assign_nearest_cluster(c, "nv", q["centroids"])
    if q["residual"]:
        from .similarity import pq_encode_residual

        codes = pq_encode_residual(assigned, "n_id", "nv", q["books"],
                                   q["anchors"])
    else:
        codes = pq_encode(assigned, "n_id", "nv", q["books"],
                          passthrough=("cluster",))
    # the count and the write both need the assigned+encoded batch; an
    # unpersisted plan ran the whole Python assign/encode pipeline TWICE
    # (once per action — guide §5: cache a reused, expensive subtree)
    codes = codes.persist()
    try:
        n = codes.count()
        (codes.write.partitionBy("cluster").mode("append")
         .parquet(os.path.join(index_path, "codes")))
    finally:
        codes.unpersist()
    return n


# the streaming maintainer's applied-batch markers live INSIDE the
# index directory so a refresh can carry them forward atomically with
# the quantizer swap (streaming/ann_maintenance.py imports this name)
APPLIED_SUBDIR = "_applied_batches"


def refresh_ivfpq_index(corpus: DataFrame, id_col: str, vec_col: str,
                        index_path: str, **build_kwargs) -> int:
    """Retrain-and-swap: the index lifecycle step appends cannot cover.

    Appends encode against FROZEN quantizers, so as the data
    distribution drifts the coarse partition and the codebooks go stale
    (recall at fixed nprobe degrades — the documented drift envelope in
    the append docstring). This rebuilds the WHOLE index — fresh
    k-means centroids, fresh PQ codebooks (and residual anchors when
    ``residual=True``), every vector re-assigned and re-encoded — into
    a staging directory and swaps it in with the same crash-safe
    two-rename `_swap_in` the build uses: readers of the old index
    stay correct for the entire rebuild, and a crash at any point
    leaves either the old or the new index fully serving (never
    mixed-generation quantizers/codes, never nothing).

    ``corpus`` must be the FULL current vector set (base build plus
    every appended/streamed batch — at 100 TB that is the upstream
    embeddings table, which is the source of truth; the index is a
    derived artifact). The streaming maintainer's applied-batch
    markers are carried forward into the new index, so a maintainer
    checkpoint survives the refresh: replays of already-applied
    batches keep skipping, and only genuinely new arrivals append —
    against the NEW quantizers. ``build_kwargs`` forward to
    `build_ivfpq_index` (n_clusters, m, ksub, residual, ...). Returns
    the number of indexed vectors."""
    import shutil
    import tempfile

    parent = os.path.dirname(os.path.abspath(index_path)) or "."
    staging_root = tempfile.mkdtemp(prefix=".ivfpq_refresh_", dir=parent)
    new_index = os.path.join(staging_root, "index")
    try:
        n = build_ivfpq_index(corpus, id_col, vec_col, new_index,
                              **build_kwargs)
        markers = os.path.join(index_path, APPLIED_SUBDIR)
        if os.path.isdir(markers):
            shutil.copytree(markers, os.path.join(new_index,
                                                  APPLIED_SUBDIR))
    except BaseException:
        shutil.rmtree(staging_root, ignore_errors=True)
        raise
    _swap_in(new_index, index_path)
    shutil.rmtree(staging_root, ignore_errors=True)
    return n


def query_ivfpq_index(spark: SparkSession, index_path: str,
                      corpus: DataFrame, queries: DataFrame, id_col: str,
                      vec_col: str, k: int = 5, nprobe: int = 3,
                      rerank: int = 128,
                      quantizers: dict | None = None) -> DataFrame:
    """Top-k against the persisted IVF-PQ index: the probed cluster set
    becomes an `isin` filter on the PARTITION column (the codes scan
    prunes to nprobe/k of the directories — PartitionFilters, plan-
    asserted), the ADC scan reads 8 ints/vector with per-query cluster
    masking (a code row scores only for queries that probed its
    cluster), and the exact re-rank runs on candidate ids against the
    corpus vectors. Identical results to `ann_ivfpq_topk` at the same
    quantizers — proven in tests — without re-training or re-encoding.
    Returns (q_id, n_id, sim, rank). ``quantizers`` accepts a
    `load_ivfpq_quantizers` dict so a caller issuing several query
    batches against the same frozen index loads the artifacts once."""
    import numpy as np

    from ..session import ensure_package_on_executors
    from .similarity import (adc_scan_candidates, exact_rerank_topk,
                             nprobe_sets)

    ensure_package_on_executors(spark)
    qz = quantizers or load_ivfpq_quantizers(spark, index_path)
    centroids, books = qz["centroids"], qz["books"]
    q_rows = queries.select(id_col, vec_col).collect()
    q_ids = np.array([r[0] for r in q_rows], dtype=np.int64)
    qm = np.array([[float(x) for x in r[1]] for r in q_rows],
                  dtype=np.float64)
    mask, probe_ids = nprobe_sets(qm, centroids, nprobe)
    cluster_scalar = None
    if qz["residual"]:
        # ADC over residual codes needs the q̂·a_cluster correction:
        # a tiny (nq × k) matrix indexed by cluster id
        from .similarity import _l2_normalize_rows, anchor_matrix

        a_ids, am = anchor_matrix(qz["anchors"])
        qmn = _l2_normalize_rows(np.asarray(qm, dtype=np.float64))
        cluster_scalar = np.zeros((qmn.shape[0], int(a_ids.max()) + 1))
        cluster_scalar[:, a_ids] = qmn @ am.T
    codes = (spark.read.parquet(os.path.join(index_path, "codes"))
             .filter(F.col("cluster").isin(probe_ids)))
    codes = _without_tombstones(spark, index_path, codes)
    cand = adc_scan_candidates(codes, books, q_ids, qm, rerank,
                               probe_mask=mask,
                               cluster_scalar=cluster_scalar)
    return exact_rerank_topk(cand, corpus, queries, id_col, vec_col, k)


def compact_ivfpq_codes(spark: SparkSession, index_path: str) -> int:
    """The storage sweep the append/replay docstrings promise: rewrite
    codes/ with exact duplicates removed (crash-window replays of a
    non-atomic append duplicate whole batches — identical (n_id, codes,
    cluster) rows, since the quantizers are frozen) and the
    accumulated per-append small files coalesced. Queries are already
    RESULT-safe against duplicates (candidate dedupe in the re-rank);
    this reclaims the storage and scan cost. Atomic: the rewrite lands
    in a staging directory and swaps in with one rename, so a crash
    mid-compaction leaves the old codes serving. Returns the row count
    after compaction."""
    import shutil
    import tempfile

    codes_path = os.path.join(index_path, "codes")
    parent = os.path.dirname(os.path.abspath(codes_path))
    staging = tempfile.mkdtemp(prefix=".codes_compact_", dir=parent)
    try:
        codes = spark.read.parquet(codes_path)
        # physical reclaim for takedowns rides the same sweep: drop
        # tombstoned rows here (queries already exclude them)
        codes = _without_tombstones(spark, index_path, codes)
        # repartition BY the cluster column (partition count stays the
        # session's shuffle parallelism): each cluster's rows land in
        # one task, so the partitioned write emits ~one file per
        # cluster directory — never a single task holding the corpus
        deduped = (codes.dropDuplicates(["n_id"])
                   .repartition(F.col("cluster")))
        (deduped.write.partitionBy("cluster")
         .parquet(os.path.join(staging, "codes")))
        n = spark.read.parquet(os.path.join(staging, "codes")).count()
    except BaseException:
        shutil.rmtree(staging, ignore_errors=True)
        raise
    _swap_in(os.path.join(staging, "codes"), codes_path)
    shutil.rmtree(staging, ignore_errors=True)
    return n


# --------------------------------------------------------------------------
# Drift monitoring — the trigger side of the refresh lifecycle.
# Appends encode against frozen quantizers (the documented envelope);
# `refresh_ivfpq_index` is the repair. This is the MONITOR in between:
# a cheap map-only statistic of how well the persisted coarse quantizer
# still covers the corpus, so refresh becomes a measured decision
# instead of a schedule.
# --------------------------------------------------------------------------

def ivfpq_assign_stats(corpus: DataFrame, id_col: str, vec_col: str,
                       index_path: str) -> dict:
    """Coverage of the PERSISTED centroids over ``corpus``: mean and
    p05 of the best-centroid cosine (micro-units). One scan (map-only
    assignment + broadcast centroid join) plus the distributed
    `exact_quantile_cuts` — no data-sized collect at any size."""
    from ..operators.scale import exact_quantile_cuts

    spark = corpus.sparkSession
    centroids = load_centroids(spark, index_path)
    c = _prep(corpus, id_col, vec_col, "n_id", "nv", "nn")
    assigned = assign_nearest_cluster(c, "nv", centroids)
    cent_df = spark.createDataFrame(centroids,
                                    "cluster int, cv array<double>")
    sims = (assigned.join(F.broadcast(cent_df), "cluster")
            .select(F.round(dot(F.col("nv"), F.col("cv")) * 1_000_000)
                    .cast("long").alias("sim_micro")))
    sims = sims.localCheckpoint(eager=True)  # two consumers below
    agg = sims.agg(F.avg("sim_micro").cast("long").alias("mean"),
                   F.count(F.lit(1)).alias("n")).first()
    p05 = exact_quantile_cuts(sims, "sim_micro", {"p05": 0.05}).first()
    return {"mean_sim_micro": int(agg["mean"]), "n": int(agg["n"]),
            "p05_sim_micro": int(p05["p05"])}


_DRIFT_BASELINE = "_drift_baseline.json"


def record_drift_baseline(corpus: DataFrame, id_col: str, vec_col: str,
                          index_path: str) -> dict:
    """Persist the current assign stats as the index's baseline
    (atomic tmp + replace). Call right after build/refresh, on the
    corpus the quantizers were trained on."""
    import json

    stats = ivfpq_assign_stats(corpus, id_col, vec_col, index_path)
    tmp = os.path.join(index_path, _DRIFT_BASELINE + ".tmp")
    with open(tmp, "w") as f:
        json.dump(stats, f)
    os.replace(tmp, os.path.join(index_path, _DRIFT_BASELINE))
    return stats


def drift_check(corpus: DataFrame, id_col: str, vec_col: str,
                index_path: str,
                max_mean_drop_pct: int = 10,
                current: dict | None = None) -> dict:
    """Compare the CURRENT corpus's coverage to the recorded baseline.
    ``needs_refresh`` when the mean best-centroid cosine dropped more
    than ``max_mean_drop_pct`` percent of the baseline mean — RELATIVE,
    because the absolute cosine level is a property of the embedding
    distribution (near-uniform corpora sit near 0; tightly clustered
    ones near 1), while a relative collapse means the same thing
    everywhere: the frozen quantizers no longer represent what the
    appends brought in. The streaming maintainer's operational loop:
    drift_check (cheap, any cadence) → `refresh_ivfpq_index` →
    `record_drift_baseline`.

    ``current`` short-circuits the assign-stats pass with a stats dict
    the caller ALREADY computed for this exact (corpus, index) pair —
    the `record_drift_baseline(...)` return value is the canonical
    source (a check right after a re-baseline would otherwise rescan
    the corpus to recompute the very numbers just persisted; same
    deterministic computation, one fewer corpus pass — guide §2.4)."""
    import json

    base_path = os.path.join(index_path, _DRIFT_BASELINE)
    if not os.path.exists(base_path):
        raise FileNotFoundError(
            "no drift baseline recorded — call record_drift_baseline "
            "after build/refresh")
    with open(base_path) as f:
        baseline = json.load(f)
    if current is None:
        current = ivfpq_assign_stats(corpus, id_col, vec_col, index_path)
    drop = baseline["mean_sim_micro"] - current["mean_sim_micro"]
    # integer cross-multiplication; guard the degenerate zero baseline
    flag = drop * 100 > abs(baseline["mean_sim_micro"]) * max_mean_drop_pct
    return {"baseline": baseline, "current": current,
            "mean_drop_micro": int(drop),
            "needs_refresh": bool(flag)}


# ----------------------------------------------------------------------
# Takedowns for the vector index — the right-to-be-forgotten path
# (streaming/bm25.py's takedown section is the lexical sibling).
# Tombstoned ids live in _tombstones/ INSIDE the index directory; the
# query paths anti-join them out of the candidate scan (the set is
# |deletes| rows — broadcastable at any realistic delete rate), so a
# deleted vector can never be returned as a neighbor while its code
# rows await physical reclaim by compact_ivfpq_codes. A REFRESH drops
# tombstones by design: the rebuild's caller-provided corpus is
# authoritative (exclude deletions there), and the whole-directory swap
# replaces _tombstones with the fresh empty state.
# ----------------------------------------------------------------------

ANN_TOMBSTONES_SUBDIR = "_tombstones"


def tombstone_ann_ids(ids: DataFrame, id_col: str,
                      index_path: str) -> int:
    """Mark ids deleted (append-only; duplicates collapse at read).
    Returns the number of ids in this batch."""
    rows = ids.select(F.col(id_col).cast("long").alias("n_id")).distinct()
    n = rows.count()
    (rows.write.mode("append")
     .parquet(os.path.join(index_path, ANN_TOMBSTONES_SUBDIR)))
    return n


def load_ann_tombstones(spark: SparkSession,
                        index_path: str) -> DataFrame | None:
    """The distinct tombstoned-id relation, or None when no takedown
    has ever been filed (the common case — query paths skip the
    anti-join entirely)."""
    path = os.path.join(index_path, ANN_TOMBSTONES_SUBDIR)
    if not os.path.isdir(path):
        return None
    return spark.read.schema("n_id long").parquet(path).distinct()


def _without_tombstones(spark: SparkSession, index_path: str,
                        rows: DataFrame) -> DataFrame:
    tombs = load_ann_tombstones(spark, index_path)
    if tombs is None:
        return rows
    return rows.join(F.broadcast(tombs), "n_id", "left_anti")
