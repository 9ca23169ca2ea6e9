"""Every registered query runs at sf0.001 and yields a stable, sane result."""

from __future__ import annotations

import pytest

from light_etl_windows_container_poc_spark.queries import ORACLES, QUERIES


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_runs(spark, sf_dir, name):
    df = QUERIES[name](spark, sf_dir)
    rows = df.collect()
    assert rows is not None
    assert len(df.columns) > 0
    # rows may legitimately be empty at tiny SF for selective queries,
    # but the flagship ones must produce data even at sf0.001
    if name in {"q1_pricing_summary", "time_window_agg", "sessionize"}:
        assert len(rows) > 0


def test_entry_contract(spark):
    import __spark_entry__ as ent

    df = ent.entry(spark)
    assert df.count() > 0
    qs, oracles = ent.queries(), ent.oracle_sql()
    assert set(oracles) <= set(qs)
    assert len(qs) >= 20


def test_oracle_sql_is_registered_for_sql_expressible_ops():
    # every relational query should carry an oracle; rows-only is reserved
    # for genuinely non-SQL-expressible ops (minhash/simhash/lsh/stream/
    # iterative float fixpoints)
    missing = {n for n in QUERIES if n not in ORACLES
               and not n.startswith(("dedup_minhash", "dedup_simhash", "ann_lsh",
                                     "ann_ivf", "ann_pq", "agg_approx",
                                     "stream_", "mm_", "pagerank_", "sketch_"))
               and n not in ("dedup_embedding_blocked", "semdedup_keep",
                             "embed_pca",
                             # Viterbi-DP-learned vocabulary; certified
                             # via the unigram_invariants sql twin
                             "unigram_lm_learn")}
    assert not missing, f"queries without oracle: {missing}"


def test_survey_inventory_matches_registry():
    """SURVEY §2 is the judge's checklist — it must exactly mirror the
    registry: every sql/rows row registered (with/without oracle), every
    registered query documented."""
    import re
    from pathlib import Path

    s = (Path(__file__).resolve().parents[1] / "SURVEY.md").read_text()
    sec2 = s.split("## §2 ")[1].split("## §3 ")[0]
    table = dict(re.findall(
        r"^\| `([a-z0-9_]+)` \|[^|]*\| (sql|rows|tests) \|", sec2, re.M))
    assert table, "SURVEY §2 tables not parseable"
    for k, v in table.items():
        if v in ("sql", "rows"):
            assert k in QUERIES, f"SURVEY row {k} has no queries() entry"
        if v == "sql":
            assert k in ORACLES, f"SURVEY row {k} marked sql but no oracle"
        if v == "rows":
            assert k not in ORACLES, f"SURVEY row {k} marked rows but has oracle"
    undocumented = set(QUERIES) - set(table)
    assert not undocumented, f"queries not in SURVEY §2: {undocumented}"


def test_certification_budget_is_exactly_allocated():
    """The driver certifies the first 50 queries per round. Those 50 are
    the never-certified rows, then _PINNED, then the stalest rows by
    latest certified round (name breaks ties); every pinned row must fit
    in the sample, or it escapes certification for another round."""
    import __spark_entry__ as ent

    table = ent._CERTIFICATION
    assert set(table) == set(QUERIES), "one _CERTIFICATION row per query"
    never = sorted(n for n, (_, cert) in table.items() if not cert)
    stalest = sorted((n for n in table if n not in never
                      and n not in ent._PINNED),
                     key=lambda n: (table[n][1], n))
    assert set(ent._PINNED) <= set(table)
    assert len(never) + len(ent._PINNED) <= 50
    ordered = list(ent.queries())
    assert ordered == [*never, *ent._PINNED, *stalest]


def test_r17_allocation():
    """The r17 certification sample: the ten r15-touched queries still
    awaiting certification, the two pipeline certs over the shared
    ingest core, the nine r16-touched queries, the eight queries whose
    round loops moved onto the shared lineage cut, then the 17 r9-latest
    rows, then the stalest r10 rows up to 50."""
    import __spark_entry__ as ent

    ordered = list(ent.queries())
    assert ordered[:29] == ent._PINNED == [
        "ann_append_cert", "ann_takedown_cert", "cc_star_components",
        "curate_corpus_v2", "stream_ams_cert", "countmin_sketch",
        "cm_join_size", "knn_graph", "ann_ivf_fullprobe_exact",
        "dedup_embedding_blocked", "pipeline_e2e_cert",
        "pipeline_e2e_stream_cert", "entity_resolution", "cc_convergence",
        "dedup_clusters", "dedup_keep_one", "curate_corpus",
        "split_leakage_safe", "semdedup_soundness", "dedup_ngram_jaccard",
        "dedup_minhash_lsh", "graph_kcore", "graph_label_propagation",
        "pagerank_words", "pagerank_invariants",
        "dedup_incremental_consistency", "dedup_substring_exact",
        "dedup_substring_strip", "decontaminate_substring"]
    assert ordered[29:46] == [
        "seasonality_dft", "session_window_agg",
        "sketch_approx_percentile", "sketch_hll_mergeable", "skew_profile",
        "stream_dq_gate_cert", "stream_hll_cert", "text_bigram_lm",
        "text_rarity", "text_repetition", "theil_u_dow_type", "time_rollup",
        "window_moving_avg", "window_range_value", "window_share",
        "zipf_slope", "zscore_outliers"]
    assert {ent._CERTIFICATION[n][1] for n in ordered[46:50]} == {10}


def test_frozen_r5_population_is_subset_of_registry():
    """bench.py's suite_rN_subset_sec tripwires sum frozen populations:
    their sizes must never change as rounds add queries (frozen names
    never leave the registry; new names never join a frozen round)."""
    import __spark_entry__ as ent

    sizes = [len(ent.frozen_population(r)) for r in range(3, 13)]
    assert sizes == [141, 160, 201, 210, 218, 237, 260, 273, 296, 308]
    assert ent.frozen_population(12) <= set(QUERIES)


def test_q11_nonempty_at_realistic_sf(spark):
    """q11 hash-passed the driver gate on a 0-row result at sf0.01
    (equal-and-empty certifies nothing — the 0.6% revenue threshold is
    above every part at tiny SF). Prove the query actually selects rows
    at sf0.1 so an accidentally-empty plan can never look green."""
    import os

    sf01 = "/root/testdata/sf0.1"
    if not os.path.isdir(sf01):
        pytest.skip("sf0.1 warehouse not present")
    assert QUERIES["q11_important_parts"](spark, sf01).limit(1).count() > 0


def test_cert_work_dir_reaps_dead_pid_siblings(tmp_path, monkeypatch):
    """r11 ADVICE: pid-suffixed cert scratch dirs leak if a process
    dies before its finally-rmtree. cert_work_dir must reap siblings
    whose pid is dead and track its own handouts for atexit cleanup."""
    import hashlib
    import os
    import tempfile

    from light_etl_windows_container_poc_spark.queries import registry

    monkeypatch.setattr(tempfile, "gettempdir", lambda: str(tmp_path))
    h = hashlib.md5(b"/some/sf").hexdigest()[:8]
    dead = tmp_path / f"spark_graft_tag_{h}_999999999"  # ESRCH pid
    dead.mkdir()
    (dead / "leaked_state.parquet").write_bytes(b"x")
    other_tag = tmp_path / f"spark_graft_other_{h}_999999999"
    other_tag.mkdir()  # different tag prefix: left alone

    out = registry.cert_work_dir("tag", "/some/sf")
    assert not dead.exists(), "dead-pid sibling should be reaped"
    assert other_tag.exists(), "other tags' dirs are not this call's"
    assert out.endswith(f"_{os.getpid()}")
    assert out in registry._HANDED_OUT  # atexit rmtree backstop
