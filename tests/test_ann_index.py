"""Persistent IVF-PQ index (`operators.ann_index`): build once / query
many, with partition-pruned probes, degenerate-exhaustive exactness,
append at fixed quantizers and residual codes."""

from __future__ import annotations

from pyspark.sql import functions as F

from light_etl_windows_container_poc_spark.catalog import load_tables
from light_etl_windows_container_poc_spark.operators.similarity import \
    ann_bruteforce_topk
from light_etl_windows_container_poc_spark.plans import formatted_plan


def _topk_set(df):
    return sorted((r["q_id"], r["n_id"], r["rank"]) for r in df.collect())


def test_ivfpq_build_query_pruning_and_recall(spark, sf_dir, tmp_path):
    from light_etl_windows_container_poc_spark.operators.ann_index import (
        build_ivfpq_index, query_ivfpq_index)

    emb = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    idx = str(tmp_path / "ivfpq")
    n = build_ivfpq_index(emb, "vec_id", "embedding", idx, n_clusters=8)
    assert n == emb.count()
    queries = emb.filter(F.col("vec_id") < 5)
    res = query_ivfpq_index(spark, idx, emb, queries, "vec_id",
                            "embedding", k=5, nprobe=3, rerank=64)
    # nprobe must reach the CODES scan as directory pruning
    plan = formatted_plan(res)
    assert "PartitionFilters" in plan and "cluster" in plan
    rows = res.collect()
    assert {r["q_id"] for r in rows} == {0, 1, 2, 3, 4}
    exact = ann_bruteforce_topk(emb, queries, "vec_id", "embedding", k=5)
    truth = {(r["q_id"], r["n_id"]) for r in exact.collect()}
    got = {(r["q_id"], r["n_id"]) for r in rows}
    assert len(got & truth) / len(truth) >= 0.6


def test_ivfpq_index_matches_direct_composition(spark, sf_dir, tmp_path):
    """The persisted path (build → pruned scan → masked ADC → re-rank)
    must equal the one-shot `ann_ivfpq_topk` at the SAME quantizers —
    persistence is a layout change, never a semantics change."""
    from light_etl_windows_container_poc_spark.operators.ann_index import (
        build_ivfpq_index, load_centroids, load_pq_books,
        query_ivfpq_index)
    from light_etl_windows_container_poc_spark.operators.similarity import \
        ann_ivfpq_topk

    emb = (load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
           .filter(F.col("vec_id") < 400))
    idx = str(tmp_path / "ivfpq_eq")
    build_ivfpq_index(emb, "vec_id", "embedding", idx, n_clusters=4)
    queries = emb.filter(F.col("vec_id") < 3)
    # rerank covers the probed codes: below that, per-batch local top-t
    # sets depend on file layout, which differs between the two paths
    via_index = query_ivfpq_index(spark, idx, emb, queries, "vec_id",
                                  "embedding", k=4, nprobe=2,
                                  rerank=1 << 30)
    direct = ann_ivfpq_topk(emb, queries, "vec_id", "embedding", k=4,
                            n_clusters=4, nprobe=2, rerank=1 << 30,
                            centroids=load_centroids(spark, idx),
                            books=load_pq_books(spark, idx))
    assert _topk_set(via_index) == _topk_set(direct)


def test_ivfpq_probe_all_rerank_all_equals_bruteforce(spark, sf_dir,
                                                      tmp_path):
    from light_etl_windows_container_poc_spark.operators.ann_index import (
        build_ivfpq_index, query_ivfpq_index)

    emb = (load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
           .filter(F.col("vec_id") < 300))
    idx = str(tmp_path / "ivfpq_all")
    build_ivfpq_index(emb, "vec_id", "embedding", idx, n_clusters=4)
    queries = emb.filter(F.col("vec_id") < 3)
    approx = query_ivfpq_index(spark, idx, emb, queries, "vec_id",
                               "embedding", k=4, nprobe=4, rerank=1 << 30)
    exact = ann_bruteforce_topk(emb, queries, "vec_id", "embedding", k=4)
    assert _topk_set(approx) == _topk_set(exact)


def test_ivfpq_append_equals_rebuild_at_fixed_quantizers(spark, sf_dir,
                                                         tmp_path):
    """query-after-append == query-after-rebuild when centroids AND
    codebooks are held fixed: neither quantizer changes on append, so
    the only difference is WHEN the codes landed — which must not be
    observable. Compared at PARTIAL probe (pruning, masking, and ADC
    all see the appended rows) with rerank ≥ probed codes: below that,
    per-Arrow-batch local top-t candidate sets legitimately depend on
    FILE LAYOUT (append vs rebuild lay codes out differently), which
    is the documented rerank-recall trade, not an append defect."""
    import os

    from light_etl_windows_container_poc_spark.operators.ann_index import (
        append_to_ivfpq_index, build_ivfpq_index, load_centroids,
        load_pq_books, query_ivfpq_index)
    from light_etl_windows_container_poc_spark.operators.similarity import \
        pq_encode

    emb = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    base = emb.filter(F.col("vec_id") < 250)
    batch = emb.filter((F.col("vec_id") >= 250) & (F.col("vec_id") < 350))
    grown = emb.filter(F.col("vec_id") < 350)
    idx_a = str(tmp_path / "ivfpq_app")
    build_ivfpq_index(base, "vec_id", "embedding", idx_a, n_clusters=4)
    n = append_to_ivfpq_index(batch, "vec_id", "embedding", idx_a)
    assert n == batch.count()
    cents = load_centroids(spark, idx_a)
    books = load_pq_books(spark, idx_a)
    # appended rows land in the existing cluster directories, encoded
    # with the PERSISTED codebooks
    stored = spark.read.parquet(os.path.join(idx_a, "codes"))
    assert stored.count() == grown.count()
    assert stored.select("cluster").distinct().count() <= 4
    want_codes = {r.n_id: list(r.codes)
                  for r in pq_encode(grown, "vec_id", "embedding",
                                     books).collect()}
    assert {r.n_id: list(r.codes) for r in stored.collect()} == want_codes
    idx_b = str(tmp_path / "ivfpq_reb")
    build_ivfpq_index(grown, "vec_id", "embedding", idx_b,
                      centroids=cents, books=books)
    queries = emb.filter(F.col("vec_id") < 3)
    appended = query_ivfpq_index(spark, idx_a, grown, queries, "vec_id",
                                 "embedding", k=4, nprobe=2,
                                 rerank=1 << 30)
    rebuilt = query_ivfpq_index(spark, idx_b, grown, queries, "vec_id",
                                "embedding", k=4, nprobe=2,
                                rerank=1 << 30)
    assert _topk_set(appended) == _topk_set(rebuilt)
    # drift bound: partial-probe recall on the grown index stays sane
    exact = ann_bruteforce_topk(grown, queries, "vec_id", "embedding", k=4)
    truth = {(r["q_id"], r["n_id"]) for r in exact.collect()}
    hits = {(r["q_id"], r["n_id"]) for r in appended.collect()} & truth
    assert len(hits) / len(truth) >= 0.5


def test_ivfpq_residual_probe_all_equals_bruteforce_and_recall(
        spark, sf_dir, tmp_path):
    """Residual encoding (the FAISS IVFPQ default): codebooks train on
    x̂ − ĉ_assigned pooled across clusters; ADC adds the q·ĉ_k scalar.
    Degenerate settings must still equal brute force exactly (the
    re-rank is encoding-agnostic), and at serving settings residual
    recall must clear the same floor as raw codes."""
    from light_etl_windows_container_poc_spark.operators.ann_index import (
        build_ivfpq_index, query_ivfpq_index)

    emb = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    idx = str(tmp_path / "ivfpq_res")
    n = build_ivfpq_index(emb, "vec_id", "embedding", idx, n_clusters=8,
                          residual=True)
    assert n == emb.count()
    import json
    import os

    meta = json.load(open(os.path.join(idx, "_ivfpq_meta.json")))
    assert meta["residual"] is True
    queries = emb.filter(F.col("vec_id") < 5)
    exact = ann_bruteforce_topk(emb, queries, "vec_id", "embedding", k=5)
    full = query_ivfpq_index(spark, idx, emb, queries, "vec_id",
                             "embedding", k=5, nprobe=8, rerank=1 << 30)
    assert _topk_set(full) == _topk_set(exact)
    part = query_ivfpq_index(spark, idx, emb, queries, "vec_id",
                             "embedding", k=5, nprobe=3, rerank=64)
    truth = {(r["q_id"], r["n_id"]) for r in exact.collect()}
    got = {(r["q_id"], r["n_id"]) for r in part.collect()}
    assert len(got & truth) / len(truth) >= 0.6


def test_ivfpq_residual_append_equals_rebuild(spark, sf_dir, tmp_path):
    """Appending to a residual index re-encodes with the persisted
    centroids AND residual codebooks (the meta marker routes the
    encode) — query-after-append == rebuild at fixed quantizers."""
    from light_etl_windows_container_poc_spark.operators.ann_index import (
        append_to_ivfpq_index, build_ivfpq_index, load_centroids,
        load_pq_books, query_ivfpq_index)

    emb = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    base = emb.filter(F.col("vec_id") < 250)
    batch = emb.filter((F.col("vec_id") >= 250) & (F.col("vec_id") < 350))
    grown = emb.filter(F.col("vec_id") < 350)
    idx_a = str(tmp_path / "res_app")
    build_ivfpq_index(base, "vec_id", "embedding", idx_a, n_clusters=4,
                      residual=True)
    append_to_ivfpq_index(batch, "vec_id", "embedding", idx_a)
    from light_etl_windows_container_poc_spark.operators.ann_index import \
        load_anchors

    idx_b = str(tmp_path / "res_reb")
    build_ivfpq_index(grown, "vec_id", "embedding", idx_b,
                      centroids=load_centroids(spark, idx_a),
                      books=load_pq_books(spark, idx_a), residual=True,
                      anchors=load_anchors(spark, idx_a))
    queries = emb.filter(F.col("vec_id") < 3)
    appended = query_ivfpq_index(spark, idx_a, grown, queries, "vec_id",
                                 "embedding", k=4, nprobe=2,
                                 rerank=1 << 30)
    rebuilt = query_ivfpq_index(spark, idx_b, grown, queries, "vec_id",
                                "embedding", k=4, nprobe=2,
                                rerank=1 << 30)
    assert _topk_set(appended) == _topk_set(rebuilt)


def test_residual_codes_quantize_tighter_than_raw(spark, sf_dir,
                                                  tmp_path):
    """The reason residual is the FAISS default: with the coarse
    centroid absorbed, the SAME m×ksub code budget reconstructs
    vectors strictly better. Compare mean squared reconstruction
    error of raw-PQ vs residual-PQ decode over the corpus."""
    import numpy as np

    from light_etl_windows_container_poc_spark.operators.ann_index import (
        build_ivfpq_index, load_centroids, load_pq_books)
    from light_etl_windows_container_poc_spark.operators.similarity import (
        _l2_normalize_rows, anchor_matrix, normalized_centroid_matrix)

    emb = (load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
           .filter(F.col("vec_id") < 1000))
    errs = {}
    for tag, residual in (("raw", False), ("res", True)):
        idx = str(tmp_path / f"recon_{tag}")
        build_ivfpq_index(emb, "vec_id", "embedding", idx, n_clusters=8,
                          residual=residual)
        books = [np.array(b) for b in load_pq_books(spark, idx)]
        if residual:
            from light_etl_windows_container_poc_spark.operators.ann_index \
                import load_anchors

            cl_ids, cm = anchor_matrix(load_anchors(spark, idx))
        else:
            cl_ids, cm = normalized_centroid_matrix(
                load_centroids(spark, idx))
        pos = np.full(int(cl_ids.max()) + 1, -1, dtype=np.int64)
        pos[cl_ids] = np.arange(len(cl_ids))
        import os

        rows = (spark.read.parquet(os.path.join(idx, "codes"))
                .join(emb.select(F.col("vec_id").alias("n_id"),
                                 "embedding"), "n_id").collect())
        dsub = books[0].shape[1]
        se, n = 0.0, 0
        for r in rows:
            x = _l2_normalize_rows(np.array([r["embedding"]],
                                            dtype=np.float64))[0]
            rec = np.concatenate([books[j][r["codes"][j]]
                                  for j in range(len(books))])
            if residual:
                rec = rec + cm[pos[r["cluster"]]]
            se += float(((x - rec) ** 2).sum())
            n += 1
        errs[tag] = se / n
    assert errs["res"] < errs["raw"], errs


def test_replayed_append_does_not_corrupt_query_results(spark, sf_dir,
                                                        tmp_path):
    """A crashed-and-replayed non-atomic append duplicates code rows;
    the candidate dedupe in the re-rank must keep query results
    identical to a clean index (duplicates would otherwise occupy two
    consecutive ranks and evict a real neighbor)."""
    from light_etl_windows_container_poc_spark.operators.ann_index import (
        append_to_ivfpq_index, build_ivfpq_index, query_ivfpq_index)

    emb = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    base = emb.filter(F.col("vec_id") < 250)
    batch = emb.filter((F.col("vec_id") >= 250) & (F.col("vec_id") < 300))
    grown = emb.filter(F.col("vec_id") < 300)
    idx_clean = str(tmp_path / "clean")
    idx_replay = str(tmp_path / "replay")
    for idx in (idx_clean, idx_replay):
        build_ivfpq_index(base, "vec_id", "embedding", idx, n_clusters=4)
    append_to_ivfpq_index(batch, "vec_id", "embedding", idx_clean)
    append_to_ivfpq_index(batch, "vec_id", "embedding", idx_replay)
    append_to_ivfpq_index(batch, "vec_id", "embedding", idx_replay)  # replay
    queries = emb.filter(F.col("vec_id") < 3)
    clean = query_ivfpq_index(spark, idx_clean, grown, queries, "vec_id",
                              "embedding", k=4, nprobe=4, rerank=1 << 30)
    replay = query_ivfpq_index(spark, idx_replay, grown, queries,
                               "vec_id", "embedding", k=4, nprobe=4,
                               rerank=1 << 30)
    assert _topk_set(clean) == _topk_set(replay)
    exact = ann_bruteforce_topk(grown, queries, "vec_id", "embedding", k=4)
    assert _topk_set(replay) == _topk_set(exact)
