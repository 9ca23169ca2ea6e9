"""Cross-run (incremental) deduplication against a PERSISTED signature
index — the 100 TB pipeline pattern.

Every in-corpus dedup operator in this package (`operators/dedup.py`) is
corpus-in/corpus-out; a production ingestion pipeline instead sees
new-batch-vs-history: yesterday's 100 TB are already deduped and only
today's arrivals must be checked, without re-reading the corpus. This
module persists the dedup STATE as parquet tables under an index
directory (the `scale_discovery` / `ann_ivfpq` state-table shape):

- ``exact/``  — (content_hash, keep_id): one row per kept document.
- ``sigs/``   — (doc, sig array<bigint>): minhash signatures of KEPT docs.
- ``bands/``  — (doc, band, band_hash): the LSH banding of ``sigs``,
  pre-exploded so a batch probes history with ONE equi-join on the
  band hash — per-batch cost follows batch size + collision volume,
  never history size. Pass ``bucket_bands`` to `build_minhash_index`
  to persist this table HASH-BUCKETED by band_hash: the probe join
  then reads the history side `Bucketed: true` with NO Exchange (only
  the batch shuffles, to the bucket count) — plan-asserted in tests.
  Measured Spark constraint behind the key choice: a join on
  (band, band_hash) DISABLES bucketed scans entirely ("disabled by
  query planner" — join keys must equal the bucket keys), so the
  probe joins on band_hash alone everywhere; a cross-band hash
  collision can only ADD a candidate pair, and candidates are always
  verified against full signatures, so keep decisions are identical
  (tested bucketed-vs-plain). ``exact/`` buckets by content_hash the
  same way (`build_exact_index(bucket_hashes=N)`) — there the probe
  key already equals the bucket key, no relaxation needed.

Semantics — GREEDY-VS-KEPT (order-sequential by id), chosen because it
is the semantics that makes batch processing EXACTLY equivalent to a
one-shot run: a document is dropped iff it is a (near-)duplicate of an
already-KEPT document with a smaller id. Under this rule, splitting an
id-ordered corpus into any sequence of contiguous batches yields
bit-identical keep decisions to processing it in one batch (history
always holds exactly the kept smaller-id docs), which
`tests/test_incremental_dedup.py` replays. Connected-components
keep-min semantics do NOT have this property (a chain a~b~c with a≁c
keeps {a} one-shot but {a, c} batched); greedy keeps {a, c} in both.
For clique-shaped duplicate groups — exact dups always, near-dups
typically — greedy and component-min coincide.

Reference capability: the reference pipeline appends every cleaned file
to the warehouse with no duplicate suppression beyond per-file replay
(`dataframe_tasks.py:78-85`); this is the corpus-scale generalization
its LLM-training successor needs.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.texts import minhash_signature, signature_agreement
from .dedup import band_hash_array
from .rounds import cut, release

EXACT_SUBDIR = "exact"
SIGS_SUBDIR = "sigs"
BANDS_SUBDIR = "bands"


# --------------------------------------------------------------------------
# exact (content-hash) incremental dedup
# --------------------------------------------------------------------------

def _exact_hashes(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    # md5, not xxhash64: any engine (and the DuckDB oracle) reproduces it
    return df.select(F.col(id_col).alias("doc"),
                     F.md5(F.col(text_col)).alias("content_hash"))


def build_exact_index(df: DataFrame, id_col: str, text_col: str,
                      index_dir: str,
                      bucket_hashes: int | None = None) -> None:
    """Initialize ``index_dir``/exact with the kept representative (min
    id) per content hash. One shuffle on the 16-byte digest.

    ``bucket_hashes``: persist exact/ HASH-BUCKETED by content_hash —
    the probe join key IS the bucket key here (no key relaxation
    needed), so later probes read the history side Bucketed: true with
    no Exchange, exactly like the bands/ table."""
    rows = (_exact_hashes(df, id_col, text_col)
            .groupBy("content_hash").agg(F.min("doc").alias("keep_id"))
            .select("content_hash", "keep_id",
                    F.lit(-1).cast("long").alias("batch_tag")))
    _write_state(rows, os.path.join(index_dir, EXACT_SUBDIR),
                 "overwrite", "content_hash", _EXACT_DDL_COLS,
                 bucket_hashes)


def incremental_exact_dedup(batch: DataFrame, id_col: str, text_col: str,
                            index_dir: str,
                            update_index: bool = True,
                            batch_tag: int | None = None) -> DataFrame:
    """Keep decisions for ``batch`` against the persisted exact index:
    keep=0 iff the content hash exists in history OR a smaller-id batch
    doc shares it. Returns (``id_col``, content_hash, dup_of_history,
    keep); with ``update_index`` the kept docs' hashes are appended so
    the next batch sees them. A missing index bootstraps as empty
    history (the first batch's append creates it).

    ``batch_tag`` (a streaming micro-batch id) makes the call
    REPLAY-IDEMPOTENT: appended rows carry the tag, and the history
    probe excludes rows with the CURRENT tag — so re-running a crashed
    micro-batch sees exactly the pre-crash history and reproduces
    identical decisions (the failed attempt's own appends are invisible
    to its retry). Replays can leave duplicate tagged rows in the index;
    probes dedupe on the hash, and `scale_compaction` is the sweep.

    Equi-joins on the digest only — batch text never joins history text,
    and the history side never rewrites (append-only state)."""
    spark = batch.sparkSession
    path = os.path.join(index_dir, EXACT_SUBDIR)
    if os.path.exists(path):
        hist = _read_state(spark, path, _EXACT_DDL_COLS)
        if batch_tag is not None and "batch_tag" in hist.columns:
            hist = hist.filter(F.col("batch_tag") != batch_tag)
        tombs = _dedup_tombstones(spark, index_dir)
        if tombs is not None:
            # taken-down docs are no longer history: a new duplicate of
            # one is new content and must be KEPT (takedown section)
            hist = hist.join(F.broadcast(tombs),
                             F.col("keep_id") == F.col("doc"), "left_anti")
        hist = hist.select("content_hash", F.lit(1).alias("_hist"))
    else:
        hist = spark.createDataFrame([], "content_hash string, _hist int")
    h = _exact_hashes(batch, id_col, text_col)
    batch_min = h.groupBy("content_hash").agg(F.min("doc").alias("bmin"))
    decisions = (h.join(hist.dropDuplicates(["content_hash"]),
                        "content_hash", "left")
                 .join(batch_min, "content_hash")
                 .select(F.col("doc").alias(id_col), "content_hash",
                         F.coalesce("_hist", F.lit(0)).cast("int")
                         .alias("dup_of_history"),
                         ((F.col("_hist").isNull())
                          & (F.col("doc") == F.col("bmin")))
                         .cast("int").alias("keep")))
    if update_index:
        # materialize BEFORE appending: the decisions plan reads the
        # index path it is about to extend
        decisions = decisions.localCheckpoint(eager=True)
        _write_state(
            decisions.filter(F.col("keep") == 1)
            .select("content_hash", F.col(id_col).alias("keep_id"),
                    F.lit(batch_tag if batch_tag is not None else -1)
                    .cast("long").alias("batch_tag")),
            path, "append", "content_hash", _EXACT_DDL_COLS, None)
    return decisions


# --------------------------------------------------------------------------
# minhash/LSH incremental dedup
# --------------------------------------------------------------------------

def _minhash_sigs(df: DataFrame, id_col: str, text_col: str,
                  num_hashes: int, n: int, seed: int,
                  num_parts: int | None = None) -> DataFrame:
    nparts = num_parts or df.sparkSession.sparkContext.defaultParallelism
    return (df.repartition(nparts, F.col(id_col))
            .select(F.col(id_col).alias("doc"),
                    minhash_signature(F.col(text_col), num_hashes, n, seed)
                    .alias("sig")))


def _band_table(sigs: DataFrame, bands: int, rows: int) -> DataFrame:
    return sigs.select("doc", F.posexplode(
        band_hash_array(bands, rows)).alias("band", "band_hash"))


def _state_table_name(path: str) -> str:
    """Deterministic catalog name for a bucketed state table — derived
    from the path so independent indexes never collide and a fresh
    session can re-register the same table."""
    import hashlib

    h = hashlib.md5(os.path.abspath(path).encode()).hexdigest()[:12]
    return f"letl_state_{h}"


def _bucket_spec_path(path: str) -> str:
    # underscore prefix: hidden from parquet file listings, like _SUCCESS
    return os.path.join(path, "_bucket_spec.json")


_BANDS_DDL_COLS = "doc BIGINT, band INT, band_hash BIGINT, batch_tag BIGINT"
_EXACT_DDL_COLS = "content_hash STRING, keep_id BIGINT, batch_tag BIGINT"


def _read_state(spark: SparkSession, path: str, ddl_cols: str) -> DataFrame:
    """A dedup state table, as a BUCKETED catalog table when the index
    was built bucketed (re-registering it in a fresh session from the
    _bucket_spec marker — bucket ids live in the file names, so an
    external CLUSTERED BY table over the same location is exactly the
    written layout), else a plain parquet read."""
    import json

    spec_path = _bucket_spec_path(path)
    if not os.path.exists(spec_path):
        return spark.read.parquet(path)
    with open(spec_path) as f:
        spec = json.load(f)
    name = _state_table_name(path)
    if not spark.catalog.tableExists(name):
        spark.sql(
            f"CREATE TABLE {name} ({ddl_cols}) USING PARQUET "
            f"CLUSTERED BY ({spec['key']}) INTO {spec['num_buckets']} "
            f"BUCKETS LOCATION '{os.path.abspath(path)}'")
    return spark.table(name)


def _write_state(df: DataFrame, path: str, mode: str, key: str,
                 ddl_cols: str, num_buckets: int | None) -> None:
    """Land state rows as plain parquet or as the hash-bucketed catalog
    table the shuffle-free probe reads. Appends to a bucketed table
    re-register it first (a fresh session's catalog is empty) and
    re-declare the same bucket spec."""
    import json

    if num_buckets is None and (mode == "overwrite"
                                or not os.path.exists(
                                    _bucket_spec_path(path))):
        # overwrite honors the CALLER's layout choice: num_buckets=None
        # over a previously-bucketed index rebuilds as plain parquet
        # (drop the stale spec + catalog entry) instead of inheriting
        # the bucketed branch, where bucketBy(None, ...) would raise
        # AFTER the old index was already destroyed
        spark = df.sparkSession
        if os.path.exists(_bucket_spec_path(path)):
            spark.sql(
                f"DROP TABLE IF EXISTS {_state_table_name(path)}")
            os.remove(_bucket_spec_path(path))
        df.write.mode(mode).parquet(path)
        return
    spark = df.sparkSession
    name = _state_table_name(path)
    if mode == "overwrite":
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        if os.path.isdir(path):
            import shutil

            shutil.rmtree(path)
    else:
        with open(_bucket_spec_path(path)) as f:
            num_buckets = json.load(f)["num_buckets"]
        _read_state(spark, path, ddl_cols)  # ensure table is registered
    (df.write.mode(mode).format("parquet")
     .bucketBy(num_buckets, key)
     .option("path", os.path.abspath(path)).saveAsTable(name))
    with open(_bucket_spec_path(path), "w") as f:
        json.dump({"num_buckets": num_buckets, "key": key}, f)


def _read_bands(spark: SparkSession, bands_path: str) -> DataFrame:
    return _read_state(spark, bands_path, _BANDS_DDL_COLS)


def _write_bands(banded: DataFrame, bands_path: str, mode: str,
                 bucket_bands: int | None) -> None:
    _write_state(banded, bands_path, mode, "band_hash", _BANDS_DDL_COLS,
                 bucket_bands)


def build_minhash_index(df: DataFrame, id_col: str, text_col: str,
                        index_dir: str, num_hashes: int = 128,
                        bands: int = 32, n: int = 3,
                        seed: int = 42,
                        num_parts: int | None = None,
                        bucket_bands: int | None = None) -> None:
    """Initialize sigs/ + bands/ from an already-deduplicated corpus.
    Signatures are map-only; the band table is a posexplode of the same
    `band_hash_array` expression the in-corpus LSH join uses, so index
    keys and batch keys are identical across runs (fixed seed).

    ``bucket_bands``: persist bands/ HASH-BUCKETED by band_hash into
    that many buckets — the warehouse-scale layout that deletes the
    history-side shuffle from every later probe join (the history side
    of the probe is the table that grows with the corpus; the batch
    side stays batch-sized). Size buckets so a bucket's rows fit an
    executor's sort memory at full history."""
    # eager checkpoint, not persist: the signature fold is a large
    # generated expression, and checkpointing materializes it ONCE so
    # the band-table plan (and nothing downstream) re-embeds/re-compiles
    # it — measured as the dominant cost of multi-call pipelines
    sigs = _minhash_sigs(df, id_col, text_col, num_hashes, n, seed,
                         num_parts=num_parts).localCheckpoint(eager=True)
    (sigs.withColumn("batch_tag", F.lit(-1).cast("long"))
     .write.mode("overwrite").parquet(os.path.join(index_dir, SIGS_SUBDIR)))
    _write_bands(_band_table(sigs, bands, num_hashes // bands)
                 .withColumn("batch_tag", F.lit(-1).cast("long")),
                 os.path.join(index_dir, BANDS_SUBDIR),
                 "overwrite", bucket_bands)


def greedy_keep(ids: DataFrame, pairs: DataFrame,
                max_rounds: int = 20) -> DataFrame:
    """Greedy-vs-kept (lexicographically-first maximal independent set)
    over a near-dup pair graph: processing docs in id order, a doc is
    dropped iff it neighbors an already-KEPT smaller id. ``ids`` is a
    one-column (doc) relation; ``pairs`` is (a_id, b_id). Returns
    (doc, keep int).

    Each round decides the current frontier — alive docs with no ALIVE
    smaller neighbor are kept, their alive neighbors dropped — so rounds
    consumed equal the longest induced dependency chain (1 for cliques:
    the min keeps, the rest drop). Per round: two equi-joins on the
    PAIR relation (∝ near-dup pairs, not corpus) and an anti-join on the
    alive set; lineage cut per round like `connected_components`."""
    all_ids = ids.select(F.col(ids.columns[0]).alias("doc"))
    edges = (pairs.select(F.col("a_id").alias("lo"), F.col("b_id").alias("hi"))
             .filter(F.col("lo") < F.col("hi"))
             .union(pairs.select(F.col("b_id").alias("lo"),
                                 F.col("a_id").alias("hi"))
                    .filter(F.col("lo") < F.col("hi")))
             .dropDuplicates(["lo", "hi"]))
    # only docs that appear in a pair need rounds — everything else is
    # kept outright, and a pair-free batch (the common case once history
    # absorbs its dups) exits after the single materialization here
    edges, n_edges = cut(edges)
    if n_edges == 0:
        return all_ids.select("doc", F.lit(1).cast("int").alias("keep"))
    paired = (edges.select(F.col("lo").alias("doc"))
              .union(edges.select(F.col("hi").alias("doc")))
              .distinct())
    # the result reads edges and the frontier parts lazily; only the
    # superseded alive sets are released
    alive, n_alive = cut(paired)
    kept_parts: list[DataFrame] = []
    rounds_left = max_rounds
    while n_alive:
        # emptiness is checked BEFORE this guard, so a chain of exactly
        # max_rounds finishes its last working round, drains on the next
        # loop head, and exits cleanly — the error fires only when work
        # genuinely remains (a for/else here raised one round early)
        if rounds_left == 0:
            raise RuntimeError(
                f"greedy_keep did not settle in {max_rounds} rounds — the "
                "near-dup graph has an induced dependency chain longer than "
                "the bound; raise max_rounds")
        rounds_left -= 1
        alive_edges = (edges.join(alive.withColumnRenamed("doc", "lo"), "lo")
                       .join(alive.withColumnRenamed("doc", "hi"), "hi"))
        blocked = alive_edges.select(F.col("hi").alias("doc")).distinct()
        frontier = (alive.join(blocked, "doc", "left_anti")
                    .localCheckpoint(eager=True))
        kept_parts.append(frontier)
        # dropped: alive docs adjacent to a kept frontier doc
        dropped = (alive_edges.join(frontier.withColumnRenamed("doc", "lo"),
                                    "lo")
                   .select(F.col("hi").alias("doc")).distinct())
        alive, n_alive = cut(alive.join(frontier, "doc", "left_anti")
                             .join(dropped, "doc", "left_anti"), alive)
    release(alive)
    kept = paired.limit(0) if not kept_parts else kept_parts[0]
    for p in kept_parts[1:]:
        kept = kept.union(p)
    # unpaired docs keep=1; paired docs keep iff in some frontier
    return (all_ids.join(paired.withColumn("_p", F.lit(1)), "doc", "left")
            .join(kept.withColumn("_k", F.lit(1)), "doc", "left")
            .select("doc",
                    F.when(F.col("_p").isNull(), F.lit(1))
                    .otherwise(F.coalesce("_k", F.lit(0)))
                    .cast("int").alias("keep")))


def incremental_minhash_dedup(batch: DataFrame, id_col: str, text_col: str,
                              index_dir: str, num_hashes: int = 128,
                              bands: int = 32, n: int = 3,
                              threshold: float = 0.8, seed: int = 42,
                              update_index: bool = True,
                              num_parts: int | None = None,
                              batch_tag: int | None = None) -> DataFrame:
    """Near-dup keep decisions for ``batch`` against the persisted
    minhash index, greedy-vs-kept semantics (module docstring). Returns
    (``id_col``, dup_of_history, keep).

    Shape: batch signatures are map-only; history probing is ONE
    equi-join of the batch's (band, band_hash) rows against ``bands/``
    followed by signature verification against ``sigs/`` on the
    candidate doc ids only; within-batch resolution runs `greedy_keep`
    on the batch's own verified pair graph. Kept docs append to the
    index — history is immutable, so decisions never retroactively
    change (the property a training-data pipeline needs).

    ``batch_tag`` (a streaming micro-batch id) makes the call
    replay-idempotent, exactly as in `incremental_exact_dedup`: appends
    carry the tag and the probe excludes the current tag, so a crashed
    micro-batch's retry reproduces identical decisions."""
    spark = batch.sparkSession
    rows = num_hashes // bands
    sigs_path = os.path.join(index_dir, SIGS_SUBDIR)
    bands_path = os.path.join(index_dir, BANDS_SUBDIR)
    # a missing index == empty history: the first batch bootstraps the
    # state table via its kept-docs append (no build step needed), and
    # the empty-history legs skip the probe/verify plans entirely
    has_history = os.path.exists(bands_path) and os.path.exists(sigs_path)
    # checkpoint (not persist) so the signature fold expression is
    # materialized once and every downstream plan — banding, history
    # verification, within-batch candidates, the index append — compiles
    # WITHOUT the fold subtree (one codegen unit instead of five)
    # ``num_parts`` caps the signature fan-out for small certification
    # batches (32-way shuffles of 300 rows are pure scheduler overhead);
    # production batches leave it None = cluster parallelism
    bsigs = _minhash_sigs(batch, id_col, text_col, num_hashes, n, seed,
                          num_parts=num_parts).localCheckpoint(eager=True)
    bbands = _band_table(bsigs, bands, rows)

    # --- history candidates: equi-join on the band hash, verify on sigs.
    # band_hash ALONE is the join key (not (band, band_hash)): bucketed
    # scans require join keys == bucket keys — the composite key plans
    # "Bucketed: false (disabled by query planner)" and shuffles the
    # history side every probe. A cross-band hash collision can only ADD
    # a candidate pair, and every candidate is verified against full
    # signatures below, so keep decisions are unchanged.
    if has_history:
        hist_bands = _read_bands(spark, bands_path)
        hist_sigs = spark.read.parquet(sigs_path)
        if batch_tag is not None:
            if "batch_tag" in hist_bands.columns:
                hist_bands = hist_bands.filter(
                    F.col("batch_tag") != batch_tag)
            if "batch_tag" in hist_sigs.columns:
                hist_sigs = hist_sigs.filter(
                    F.col("batch_tag") != batch_tag)
        tombs = _dedup_tombstones(spark, index_dir)
        if tombs is not None:
            # takedown section: a taken-down doc stops being history
            hist_bands = hist_bands.join(F.broadcast(tombs), "doc",
                                         "left_anti")
            hist_sigs = hist_sigs.join(F.broadcast(tombs), "doc",
                                       "left_anti")
        cand_h = (bbands.join(hist_bands
                              .withColumnRenamed("doc", "h_doc")
                              .select("h_doc", "band_hash"),
                              "band_hash")
                  .select("doc", "h_doc").dropDuplicates(["doc", "h_doc"]))
        hist_sigs = hist_sigs \
            .select(F.col("doc").alias("h_doc"), F.col("sig").alias("h_sig"))
        dup_hist = (cand_h.join(bsigs, "doc").join(hist_sigs, "h_doc")
                    .withColumn("est", signature_agreement("sig", "h_sig"))
                    .filter(F.col("est") >= threshold)
                    .select("doc").distinct()
                    .withColumn("_dh", F.lit(1)))
    else:
        dup_hist = spark.createDataFrame([], "doc bigint, _dh int")

    # --- within-batch pairs among docs that survived the history pass
    from .dedup import minhash_band_candidates

    surv = bsigs.join(dup_hist.select("doc"), "doc", "left_anti")
    sig_a = surv.select(F.col("doc").alias("a_id"),
                        F.col("sig").alias("sig_a"))
    sig_b = surv.select(F.col("doc").alias("b_id"),
                        F.col("sig").alias("sig_b"))
    pairs = (minhash_band_candidates(surv, bands, rows)
             .join(sig_a, "a_id").join(sig_b, "b_id")
             .withColumn("est", signature_agreement("sig_a", "sig_b"))
             .filter(F.col("est") >= threshold)
             .select("a_id", "b_id"))
    surv_keep = greedy_keep(surv.select("doc"), pairs)

    decisions = (bsigs.select("doc")
                 .join(dup_hist, "doc", "left")
                 .join(surv_keep.withColumnRenamed("keep", "_sk"),
                       "doc", "left")
                 .select(F.col("doc").alias(id_col),
                         F.coalesce("_dh", F.lit(0)).cast("int")
                         .alias("dup_of_history"),
                         F.when(F.col("_dh").isNotNull(), F.lit(0))
                         .otherwise(F.coalesce("_sk", F.lit(1)))
                         .cast("int").alias("keep")))
    decisions = decisions.localCheckpoint(eager=True)
    if update_index:
        tag = F.lit(batch_tag if batch_tag is not None else -1).cast("long")
        kept = decisions.filter(F.col("keep") == 1) \
            .select(F.col(id_col).alias("doc"))
        kept_sigs = bsigs.join(kept, "doc")
        kept_sigs.withColumn("batch_tag", tag) \
            .write.mode("append").parquet(sigs_path)
        _write_bands(_band_table(kept_sigs, bands, rows)
                     .withColumn("batch_tag", tag),
                     bands_path, "append", None)
    return decisions


# --------------------------------------------------------------------------
# Takedowns — the dedup-index sibling of the BM25/ANN tombstone paths
# (streaming/bm25.py, operators/ann_index.py). Deleting a document from
# the corpus means future batches must STOP deduplicating against it: a
# later near-duplicate of a taken-down doc is new content now, not a
# dup. Tombstoned ids live in tombstones/ inside the index dir; both
# probe paths anti-join history against the (broadcastable) set, so
# past decisions never change (history stays append-only) while future
# decisions see the post-takedown corpus. A re-ingested duplicate then
# re-enters the index under ITS OWN id and dedup resumes against it —
# the correct post-takedown steady state. `vacuum_dedup_tombstones`
# physically reclaims the tombstoned rows (preserving each state
# table's plain/bucketed layout) and clears the tombstone set.
# --------------------------------------------------------------------------

TOMBS_SUBDIR = "tombstones"


def tombstone_dedup_ids(ids: DataFrame, id_col: str, index_dir: str,
                        subdir: str = TOMBS_SUBDIR) -> int:
    """Mark doc ids taken down (append-only; duplicates collapse at
    read). Returns the batch's id count.

    Tombstones are stored as BIGINT (the state tables' doc type); an id
    that cannot cast to long RAISES a ValueError instead of
    null-casting — a null tombstone matches nothing in the anti-join,
    so the takedown would silently no-op while reporting success (r13
    ADVICE). try_cast keeps the check uniform whether ANSI mode is on
    (plain cast would throw mid-plan) or off (plain cast null-casts)."""
    rows = (ids.select(F.col(id_col).try_cast("long").alias("doc"))
            .distinct().localCheckpoint(eager=True))
    n = rows.count()
    bad = rows.filter(F.col("doc").isNull()).count()
    if bad:
        raise ValueError(
            f"tombstone ids must be castable to BIGINT: {bad} of {n} "
            f"distinct '{id_col}' values null-cast (string/decimal ids "
            "cannot be taken down against a BIGINT-doc index)")
    (rows.write.mode("append")
     .parquet(os.path.join(index_dir, subdir)))
    return n


def _dedup_tombstones(spark: SparkSession, index_dir: str,
                      subdir: str = TOMBS_SUBDIR) -> DataFrame | None:
    path = os.path.join(index_dir, subdir)
    if not os.path.isdir(path):
        return None
    return spark.read.schema("doc long").parquet(path).distinct()


def _staged_state_rewrite(spark: SparkSession, kept: DataFrame, path: str,
                          key: str, ddl_cols: str,
                          num_buckets: int | None) -> None:
    """Stage the rewritten state NEXT TO the target and swap in via
    rename-old-aside + rename-staging-in + delete-old (the
    sinks._staged_rewrite discipline): Spark's overwrite deletes the
    target before writing, so a crash or executor failure mid-rewrite
    would destroy the live index. Crash contract: the target can be
    missing only between the two renames, and at that point BOTH the
    old state (``<staging>.old``) and the staged state sit complete on
    disk — recovery is a single manual rename, never a rebuild from a
    half-written ruin. The staged dir carries its own
    _bucket_spec.json; both catalog entries are dropped before the
    swap so the next _read_state re-registers against the swapped
    files."""
    import shutil
    import tempfile

    parent = os.path.dirname(os.path.abspath(path)) or "."
    staging = tempfile.mkdtemp(prefix=".staging_", dir=parent)
    try:
        _write_state(kept, staging, "overwrite", key, ddl_cols,
                     num_buckets)
    except BaseException:
        spark.sql(f"DROP TABLE IF EXISTS {_state_table_name(staging)}")
        shutil.rmtree(staging, ignore_errors=True)
        raise
    spark.sql(f"DROP TABLE IF EXISTS {_state_table_name(staging)}")
    spark.sql(f"DROP TABLE IF EXISTS {_state_table_name(path)}")
    if os.path.isdir(path):
        old = staging + ".old"  # unique: staging came from mkdtemp
        os.replace(path, old)
        os.replace(staging, path)  # target absent only between renames
        shutil.rmtree(old, ignore_errors=True)
    else:
        os.replace(staging, path)  # same-filesystem rename — atomic


def vacuum_dedup_tombstones(spark: SparkSession, index_dir: str) -> None:
    """Physically remove tombstoned docs' rows from exact/, sigs/ and
    bands/, preserving each table's layout (plain parquet or the
    bucketed catalog shape, re-read from its _bucket_spec), then clear
    the tombstone set. Each table is rebuilt in a staging dir and
    swapped in by rename-old-aside + rename-staging-in — a crash
    mid-vacuum leaves either the old or the staged state complete on
    disk (at worst one manual rename away, never the half-written ruin
    an in-place overwrite risks; see _staged_state_rewrite's crash
    contract). Probe results are unchanged before/after (pytest): the
    anti-join already excluded these rows."""
    import json
    import shutil

    tombs = _dedup_tombstones(spark, index_dir)
    if tombs is None:
        return
    tombs = tombs.localCheckpoint(eager=True)

    def spec(path: str) -> tuple[int | None, str | None]:
        p = _bucket_spec_path(path)
        if not os.path.exists(p):
            return None, None
        with open(p) as f:
            s = json.load(f)
        return s["num_buckets"], s["key"]

    exact_path = os.path.join(index_dir, EXACT_SUBDIR)
    if os.path.exists(exact_path):
        kept = (_read_state(spark, exact_path, _EXACT_DDL_COLS)
                .join(F.broadcast(tombs),
                      F.col("keep_id") == F.col("doc"), "left_anti")
                .localCheckpoint(eager=True))
        nb, key = spec(exact_path)
        _staged_state_rewrite(spark, kept, exact_path,
                              key or "content_hash", _EXACT_DDL_COLS, nb)

    sigs_path = os.path.join(index_dir, SIGS_SUBDIR)
    if os.path.exists(sigs_path):
        kept = (spark.read.parquet(sigs_path)
                .join(F.broadcast(tombs), "doc", "left_anti")
                .localCheckpoint(eager=True))
        _staged_state_rewrite(spark, kept, sigs_path, "doc",
                              "doc BIGINT", None)

    bands_path = os.path.join(index_dir, BANDS_SUBDIR)
    if os.path.exists(bands_path):
        kept = (_read_bands(spark, bands_path)
                .join(F.broadcast(tombs), "doc", "left_anti")
                .localCheckpoint(eager=True))
        nb, key = spec(bands_path)
        _staged_state_rewrite(spark, kept, bands_path,
                              key or "band_hash", _BANDS_DDL_COLS, nb)

    shutil.rmtree(os.path.join(index_dir, TOMBS_SUBDIR),
                  ignore_errors=True)
