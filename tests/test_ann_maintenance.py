"""Streaming ANN index maintenance: availableNow appends against the
frozen quantizers, marker-based replay skip, and exactness of the
grown index."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from light_etl_windows_container_poc_spark.catalog import load_tables
from light_etl_windows_container_poc_spark.operators.ann_index import (
    build_ivfpq_index, query_ivfpq_index)
from light_etl_windows_container_poc_spark.operators.similarity import \
    ann_bruteforce_topk
from light_etl_windows_container_poc_spark.streaming.ann_maintenance import (
    ann_append_batch_handler, start_ann_index_maintenance)

SCHEMA = "vec_id long, embedding array<double>"


def _emb(spark, sf_dir):
    return load_tables(spark, sf_dir, ("embeddings",))["embeddings"]


def _write_vec_file(path, rows):
    with open(path, "w") as fh:
        for vid, vec in rows:
            fh.write(json.dumps({"vec_id": vid, "embedding": vec}) + "\n")


def test_stream_appends_grow_index_and_stay_exact(spark, sf_dir,
                                                  tmp_path):
    emb = _emb(spark, sf_dir)
    base = emb.filter(F.col("vec_id") < 200)
    idx = str(tmp_path / "ivfpq")
    build_ivfpq_index(base, "vec_id", "embedding", idx, n_clusters=4)

    arrivals = [(int(r["vec_id"]), [float(x) for x in r["embedding"]])
                for r in emb.filter((F.col("vec_id") >= 200)
                                    & (F.col("vec_id") < 300)).collect()]
    src = tmp_path / "src"
    src.mkdir()
    _write_vec_file(src / "day1.json", arrivals[:len(arrivals) // 2])
    _write_vec_file(src / "day2.json", arrivals[len(arrivals) // 2:])
    os.utime(src / "day1.json", (1_000_000, 1_000_000))
    os.utime(src / "day2.json", (2_000_000, 2_000_000))

    stream = (spark.readStream.schema(SCHEMA)
              .option("maxFilesPerTrigger", 1).json(str(src)))
    q = start_ann_index_maintenance(stream, idx, str(tmp_path / "ckpt"))
    q.awaitTermination(120)

    grown = emb.filter(F.col("vec_id") < 300)
    stored = spark.read.parquet(os.path.join(idx, "codes"))
    assert stored.count() == grown.count()
    # two applied-batch markers, one per micro-batch
    markers = os.listdir(os.path.join(idx, "_applied_batches"))
    assert len(markers) == 2
    queries = emb.filter(F.col("vec_id") < 3)
    got = query_ivfpq_index(spark, idx, grown, queries, "vec_id",
                            "embedding", k=4, nprobe=4, rerank=1 << 30)
    exact = ann_bruteforce_topk(grown, queries, "vec_id", "embedding", k=4)
    assert sorted((r.q_id, r.n_id, r.rank) for r in got.collect()) == \
        sorted((r.q_id, r.n_id, r.rank) for r in exact.collect())


def test_clean_replay_skips_applied_batch(spark, sf_dir, tmp_path):
    emb = _emb(spark, sf_dir)
    base = emb.filter(F.col("vec_id") < 200)
    batch = emb.filter((F.col("vec_id") >= 200) & (F.col("vec_id") < 250))
    idx = str(tmp_path / "ivfpq")
    build_ivfpq_index(base, "vec_id", "embedding", idx, n_clusters=4)
    handler = ann_append_batch_handler(idx)
    handler(batch, 7)
    n_after_first = spark.read.parquet(os.path.join(idx, "codes")).count()
    handler(batch, 7)  # clean replay: marker exists → no-op
    n_after_replay = spark.read.parquet(os.path.join(idx, "codes")).count()
    assert n_after_first == n_after_replay == 250
    # crash-window replay (marker lost): storage duplicates, but the
    # candidate dedupe keeps queries exact — asserted in
    # test_replayed_append_does_not_corrupt_query_results
    os.remove(os.path.join(idx, "_applied_batches", "batch_7"))
    handler(batch, 7)
    assert spark.read.parquet(os.path.join(idx, "codes")).count() == 300


def test_codes_compaction_removes_replay_duplicates(spark, sf_dir,
                                                    tmp_path):
    """The storage sweep: after a crash-window replay duplicated a
    batch's codes, compaction drops the exact-duplicate rows and
    coalesces append small-files — queries identical before and
    after (they already were, via candidate dedupe; compaction
    reclaims the scan)."""
    from light_etl_windows_container_poc_spark.operators.ann_index import \
        compact_ivfpq_codes

    emb = _emb(spark, sf_dir)
    base = emb.filter(F.col("vec_id") < 200)
    batch = emb.filter((F.col("vec_id") >= 200) & (F.col("vec_id") < 250))
    grown = emb.filter(F.col("vec_id") < 250)
    idx = str(tmp_path / "ivfpq")
    build_ivfpq_index(base, "vec_id", "embedding", idx, n_clusters=4)
    handler = ann_append_batch_handler(idx)
    handler(batch, 1)
    os.remove(os.path.join(idx, "_applied_batches", "batch_1"))
    handler(batch, 1)  # crash-window replay → duplicate codes
    codes_path = os.path.join(idx, "codes")
    assert spark.read.parquet(codes_path).count() == 300
    queries = emb.filter(F.col("vec_id") < 3)
    before = sorted((r.q_id, r.n_id, r.rank) for r in
                    query_ivfpq_index(spark, idx, grown, queries,
                                      "vec_id", "embedding", k=4,
                                      nprobe=4, rerank=1 << 30).collect())
    n = compact_ivfpq_codes(spark, idx)
    assert n == 250
    assert spark.read.parquet(codes_path).count() == 250
    after = sorted((r.q_id, r.n_id, r.rank) for r in
                   query_ivfpq_index(spark, idx, grown, queries,
                                     "vec_id", "embedding", k=4,
                                     nprobe=4, rerank=1 << 30).collect())
    assert before == after


def test_refresh_mid_stream_carries_markers_and_stays_exact(
        spark, sf_dir, tmp_path):
    """The lifecycle gap `refresh_ivfpq_index` closes: stream a batch
    in, retrain-and-swap, stream more. The applied-batch markers
    survive the swap (a replay of a pre-refresh batch stays a no-op),
    post-refresh appends encode against the NEW quantizers, and
    probe-all + rerank >= corpus over the final index equals brute
    force on the full corpus."""
    from light_etl_windows_container_poc_spark.operators.ann_index import \
        refresh_ivfpq_index

    emb = _emb(spark, sf_dir)
    base = emb.filter(F.col("vec_id") < 200)
    idx = str(tmp_path / "ivfpq")
    build_ivfpq_index(base, "vec_id", "embedding", idx, n_clusters=4)

    arrivals = [(int(r["vec_id"]), [float(x) for x in r["embedding"]])
                for r in emb.filter((F.col("vec_id") >= 200)
                                    & (F.col("vec_id") < 300)).collect()]
    src = tmp_path / "src"
    src.mkdir()
    _write_vec_file(src / "day1.json", arrivals[:50])
    os.utime(src / "day1.json", (1_000_000, 1_000_000))
    stream = (spark.readStream.schema(SCHEMA)
              .option("maxFilesPerTrigger", 1).json(str(src)))
    start_ann_index_maintenance(
        stream, idx, str(tmp_path / "ckpt")).awaitTermination(120)
    markers_before = set(os.listdir(os.path.join(idx, "_applied_batches")))
    assert markers_before  # batch 0 applied

    # refresh on the FULL current corpus (base + streamed day1)
    current = emb.filter(F.col("vec_id") < 250)
    n = refresh_ivfpq_index(current, "vec_id", "embedding", idx,
                            n_clusters=6)
    assert n == 250
    # markers carried forward through the swap
    assert set(os.listdir(
        os.path.join(idx, "_applied_batches"))) == markers_before
    # retrained coarse quantizer is really the new one (6 clusters)
    cents = spark.read.parquet(os.path.join(idx, "centroids"))
    assert cents.count() == 6

    # a handler replay of the pre-refresh batch id stays a no-op
    handler = ann_append_batch_handler(idx)
    replay = spark.createDataFrame(
        [(v, e) for v, e in arrivals[:50]], SCHEMA)
    handler(replay, 0)
    assert spark.read.parquet(os.path.join(idx, "codes")).count() == 250

    # post-refresh stream continues from the same checkpoint: only the
    # new file lands, encoded against the new quantizers
    _write_vec_file(src / "day2.json", arrivals[50:])
    os.utime(src / "day2.json", (2_000_000, 2_000_000))
    stream2 = (spark.readStream.schema(SCHEMA)
               .option("maxFilesPerTrigger", 1).json(str(src)))
    start_ann_index_maintenance(
        stream2, idx, str(tmp_path / "ckpt")).awaitTermination(120)
    grown = emb.filter(F.col("vec_id") < 300)
    assert spark.read.parquet(
        os.path.join(idx, "codes")).count() == grown.count()

    queries = emb.filter(F.col("vec_id") < 3)
    got = query_ivfpq_index(spark, idx, grown, queries, "vec_id",
                            "embedding", k=4, nprobe=6, rerank=1 << 30)
    exact = ann_bruteforce_topk(grown, queries, "vec_id", "embedding", k=4)
    assert sorted((r.q_id, r.n_id, r.rank) for r in got.collect()) == \
        sorted((r.q_id, r.n_id, r.rank) for r in exact.collect())


def test_refresh_improves_recall_on_drifted_data(spark, sf_dir, tmp_path):
    """Quantizer drift in miniature: append a population the build
    never saw (negated embeddings — unit-sphere antipodes of the
    training set), measure recall@5 for drifted queries at a fixed
    serving budget, refresh, re-measure. The retrained quantizers must
    serve the drifted region at least as well, and clear a floor the
    stale ones miss."""
    from light_etl_windows_container_poc_spark.operators.ann_index import \
        refresh_ivfpq_index

    emb = _emb(spark, sf_dir)
    base = emb.filter(F.col("vec_id") < 250).select("vec_id", "embedding")
    drifted = (base
               .select((F.col("vec_id") + 10_000).alias("vec_id"),
                       F.transform("embedding",
                                   lambda x: -x).alias("embedding")))
    idx = str(tmp_path / "ivfpq")
    build_ivfpq_index(base, "vec_id", "embedding", idx, n_clusters=6)
    handler = ann_append_batch_handler(idx)
    handler(drifted, 0)
    full = base.unionByName(drifted)
    queries = drifted.filter(F.col("vec_id") < 10_005)
    exact = ann_bruteforce_topk(full, queries, "vec_id", "embedding", k=5)
    truth = {(r.q_id, r.n_id) for r in exact.collect()}

    def recall():
        got = query_ivfpq_index(spark, idx, full, queries, "vec_id",
                                "embedding", k=5, nprobe=2, rerank=32)
        hits = {(r.q_id, r.n_id) for r in got.collect()}
        return len(hits & truth) / len(truth)

    # deterministic (seeded k-means, fixed embeddings): measured
    # 0.58 -> 0.68 at these settings; assert the direction + a floor
    before = recall()
    refresh_ivfpq_index(full, "vec_id", "embedding", idx, n_clusters=6)
    after = recall()
    assert after > before, (before, after)
    assert after >= 0.65, (before, after)


def test_drift_monitor_triggers_and_resets(spark, sf_dir, tmp_path):
    """The lifecycle trigger: baseline on the build corpus, no refresh
    needed; append a drifted population, drift_check flags it; refresh
    + new baseline, flag clears."""
    from light_etl_windows_container_poc_spark.operators.ann_index import (
        drift_check, record_drift_baseline, refresh_ivfpq_index)

    emb = _emb(spark, sf_dir)
    base = emb.filter(F.col("vec_id") < 250).select("vec_id", "embedding")
    drifted = base.select((F.col("vec_id") + 10_000).alias("vec_id"),
                          F.transform("embedding",
                                      lambda x: -x).alias("embedding"))
    idx = str(tmp_path / "ivfpq")
    build_ivfpq_index(base, "vec_id", "embedding", idx, n_clusters=6)
    baseline = record_drift_baseline(base, "vec_id", "embedding", idx)
    assert baseline["n"] == 250

    ok = drift_check(base, "vec_id", "embedding", idx)
    assert not ok["needs_refresh"], ok

    handler = ann_append_batch_handler(idx)
    handler(drifted, 0)
    full = base.unionByName(drifted)
    flagged = drift_check(full, "vec_id", "embedding", idx)
    assert flagged["needs_refresh"], flagged
    assert flagged["mean_drop_micro"] * 100 > \
        flagged["baseline"]["mean_sim_micro"] * 10

    refresh_ivfpq_index(full, "vec_id", "embedding", idx, n_clusters=6)
    record_drift_baseline(full, "vec_id", "embedding", idx)
    cleared = drift_check(full, "vec_id", "embedding", idx)
    assert not cleared["needs_refresh"], cleared


def test_quantizer_cache_survives_tombstones_reloads_on_refresh(
        spark, sf_dir, tmp_path, monkeypatch):
    """The handler's quantizer cache keys on what the loader reads: the
    first marker directory and a tombstone write between batches are no
    reason to reload; a refresh swap is, exactly once."""
    from light_etl_windows_container_poc_spark.operators import ann_index

    emb = _emb(spark, sf_dir)
    idx = str(tmp_path / "ivfpq")
    build_ivfpq_index(emb.filter(F.col("vec_id") < 200), "vec_id",
                      "embedding", idx, n_clusters=4)
    loads = []
    real_load = ann_index.load_ivfpq_quantizers

    def counting_load(spark_, path):
        loads.append(path)
        return real_load(spark_, path)

    monkeypatch.setattr(ann_index, "load_ivfpq_quantizers", counting_load)
    handler = ann_append_batch_handler(idx)

    def batch(lo, hi):
        return emb.filter((F.col("vec_id") >= lo) & (F.col("vec_id") < hi))

    handler(batch(200, 220), 0)
    ann_index.tombstone_ann_ids(
        spark.createDataFrame([(5,)], "vec_id long"), "vec_id", idx)
    handler(batch(220, 240), 1)
    assert len(loads) == 1

    ann_index.refresh_ivfpq_index(emb.filter(F.col("vec_id") < 240),
                                  "vec_id", "embedding", idx, n_clusters=4)
    handler(batch(240, 260), 2)
    handler(batch(260, 280), 3)
    assert len(loads) == 2
    assert spark.read.parquet(os.path.join(idx, "codes")).count() == 280
