"""Cache lifecycle: the iterative/graph operators (pagerank,
triangle_count, connected_components, semdedup) must RELEASE every
DataFrame they persist before returning — a long-lived curation session
must not accumulate pinned corpus-sized caches (round-4 verdict, What's
wrong #2). Their results are materialized via an eager final checkpoint
inside the operator, so unpersisting cannot cause downstream recompute.
Operators that return lazily (the n-gram and MinHash pair generators)
reuse a relation through a lazy localCheckpoint instead, which Spark
reclaims once the result is unreferenced, so they persist nothing.
The round loops release every superseded round's checkpoint: only the
checkpoints their returned frame still reads stay persisted.
"""

from __future__ import annotations

import threading

import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from light_etl_windows_container_poc_spark.operators.dedup import (
    connected_components, connected_components_stats, minhash_lsh_pairs,
    ngram_jaccard_pairs)
from light_etl_windows_container_poc_spark.operators.graph import (
    connected_components_star, k_core, label_propagation, pagerank,
    triangle_count)
from light_etl_windows_container_poc_spark.operators.incremental import \
    greedy_keep
from light_etl_windows_container_poc_spark.operators.similarity import semdedup


@pytest.fixture
def persist_tracker(spark, monkeypatch):
    """Spy on DataFrame.persist/unpersist: every persisted frame must be
    unpersisted (by object identity — the operators keep their handles).

    The spy goes on the class the session's frames really have: PySpark
    4 overrides both methods in its classic DataFrame subclass, so a spy
    on the ``pyspark.sql.DataFrame`` base would never be called."""
    live: list[DataFrame] = []
    cls = type(spark.range(0))
    orig_persist = cls.persist
    orig_unpersist = cls.unpersist

    def persist(self, *a, **k):
        live.append(self)
        return orig_persist(self, *a, **k)

    def unpersist(self, *a, **k):
        live[:] = [d for d in live if d is not self]
        return orig_unpersist(self, *a, **k)

    monkeypatch.setattr(cls, "persist", persist)
    monkeypatch.setattr(cls, "unpersist", unpersist)
    return live


def _edges(spark):
    return spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4), (10, 11)],
        "a_id long, b_id long")


def test_triangle_count_releases_caches(spark, persist_tracker):
    out = triangle_count(_edges(spark)).collect()
    assert out[0].n_triangles == 1 and out[0].n_edges == 5
    assert not persist_tracker


def test_pagerank_releases_caches(spark, persist_tracker):
    directed = _edges(spark).toDF("src", "dst")
    pr = pagerank(directed, iterations=2)
    # result is pre-materialized by the operator's final cut; a fresh
    # action must not need the released caches or intermediate rounds
    total = pr.agg({"pr": "sum"}).collect()[0][0]
    assert abs(total - 1.0) < 1e-9
    assert not persist_tracker


def test_connected_components_releases_caches(spark, persist_tracker):
    comp = connected_components(_edges(spark))
    got = {(r.node, r.component) for r in comp.collect()}
    assert (11, 10) in got and (4, 1) in got
    assert not persist_tracker


def test_connected_components_empty_pairs(spark, persist_tracker):
    """No edges: one round proves the (empty) fixpoint. The round's
    observed flag is NULL here, and reading it must not block."""
    pairs = spark.createDataFrame([], "a_id long, b_id long")
    out = {}
    t = threading.Thread(
        target=lambda: out.update(r=connected_components_stats(pairs)),
        daemon=True)
    t.start()
    t.join(120)
    assert not t.is_alive(), "connected_components_stats blocked"
    labels, rounds = out["r"]
    assert rounds == 1 and labels.count() == 0
    assert labels.columns == ["node", "component"]
    assert not persist_tracker


def test_connected_components_nonconvergence_releases_caches(
        spark, persist_tracker):
    """A 6-node path needs 6 rounds; 2 must raise, not return split
    components, and the edge cache must not outlive the raise."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 6)], "a_id long, b_id long")
    with pytest.raises(RuntimeError, match="did not converge in 2"):
        connected_components_stats(pairs, max_iterations=2)
    assert not persist_tracker


def _near_dups(spark):
    rows = [(i, "alpha beta gamma delta epsilon zeta common tail words")
            for i in range(4)]
    rows += [(10 + i, f"unique{i} text body {'x y z ' * 3}common tail words")
             for i in range(6)]
    return spark.createDataFrame(rows, "id long, t string")


def _cache_manager_empty(spark):
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_ngram_jaccard_pairs_persists_nothing(spark, persist_tracker):
    """The bounded hot-shingle guard reads the shingle stream twice; the
    reuse must not leave a cache entry behind the lazily returned pairs."""
    spark.catalog.clearCache()
    got = {(r.a_id, r.b_id) for r in ngram_jaccard_pairs(
        _near_dups(spark), "id", "t", n=3, threshold=0.9,
        max_df=5).collect()}
    assert (0, 1) in got
    assert not persist_tracker
    assert _cache_manager_empty(spark)


def test_minhash_lsh_pairs_persists_nothing(spark, persist_tracker):
    spark.catalog.clearCache()
    got = {(r.a_id, r.b_id) for r in minhash_lsh_pairs(
        _near_dups(spark), "id", "t", threshold=0.9).collect()}
    assert (0, 1) in got
    assert not persist_tracker
    assert _cache_manager_empty(spark)


def test_semdedup_releases_caches(spark, sf_dir, persist_tracker):
    from light_etl_windows_container_poc_spark.catalog import load_tables

    emb = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    out = semdedup(emb, "vec_id", "embedding", threshold=0.45, n_clusters=8)
    assert out.count() == emb.count()
    assert not persist_tracker


def _persistent_ids(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def _checkpoints_read(df: DataFrame) -> set[int]:
    jvm = df.sparkSession._jvm
    leaves = jvm.scala.jdk.javaapi.CollectionConverters.asJava(
        df._jdf.queryExecution().analyzed().collectLeaves())
    return {leaf.rdd().id() for leaf in leaves
            if leaf.nodeName() == "LogicalRDD"}


def _path_and_triangle(spark):
    return spark.createDataFrame(
        [(i, i + 1) for i in range(1, 7)] + [(10, 11), (11, 12), (10, 12)],
        "a_id long, b_id long")


_ROUND_LOOPS = {
    "k_core": lambda p: k_core(p, k=2, rounds=3)[0],
    "label_propagation": lambda p: label_propagation(
        p.select(F.col("a_id").alias("u"), F.col("b_id").alias("v"))
        .union(p.select(F.col("b_id").alias("u"), F.col("a_id").alias("v"))),
        rounds=3),
    "connected_components_star": lambda p: connected_components_star(p)[0],
    "connected_components_stats": lambda p: connected_components_stats(p)[0],
    "greedy_keep": lambda p: greedy_keep(
        p.select(F.col("a_id").alias("doc"))
        .union(p.select(F.col("b_id").alias("doc"))).distinct(), p),
}


@pytest.mark.parametrize("name", sorted(_ROUND_LOOPS))
def test_round_loops_release_superseded_rounds(spark, name):
    """The RDDs that became persistent during the call and still are
    afterwards are only checkpoints the returned frame reads. The
    ContextCleaner can only shrink the leaked set, never grow it."""
    pairs = _path_and_triangle(spark)
    before = _persistent_ids(spark)
    out = _ROUND_LOOPS[name](pairs)
    leaked = _persistent_ids(spark) - before
    assert leaked <= _checkpoints_read(out), name
    assert out.count() > 0
