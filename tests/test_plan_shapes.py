"""Physical-plan shape gates: the properties that make queries survive a
100× scale-up are asserted on explain() output, not just prose —
predicate pushdown reaches the parquet scan, small dims broadcast, the
ANN top-k keeps its salted pre-pass, the crawl schedule's top-k pre-pass
stays in the JVM, and nothing compiles to a non-broadcast cartesian
product. Frames built from Python-side rows are checked for a Python RDD
in their lineage: reading one starts Python workers on every use.
"""

import contextlib
import io
import re

import pandas as pd
import pytest

from cinescrapers_spark.plans import registry


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_pushed_filters_reach_scan(spark, sf_dir):
    """Row-group-skippable predicates must appear as PushedFilters on the
    parquet scan (a scan reading everything for a filtered query is wrong)."""
    reg = registry()
    for name in ("q_count_horizon", "q_pricing_summary", "q_current_window"):
        plan = _plan(reg[name][0](spark, sf_dir))
        pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
        assert any(p.strip() for p in pushed), f"{name}: no pushed filters\n{plan}"


def test_small_dims_broadcast(spark, sf_dir):
    reg = registry()
    plan = _plan(reg["q_broadcast_join_revenue"][0](spark, sf_dir))
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan, plan


def test_ann_topk_keeps_salted_prepass(spark, sf_dir):
    """partitioned_topk's pre-pass must survive optimization: two Window
    nodes, the first partitioned by (q_id, __pid) — the exchange into the
    final window is thereby bounded by k × partitions per query."""
    reg = registry()
    for name in ("q_ann_bruteforce", "q_ann_lsh"):
        plan = _plan(reg[name][0](spark, sf_dir))
        n_windows = plan.count("Window")
        assert "__pid" in plan, f"{name}: salted pre-pass optimized away"
        assert n_windows >= 2, f"{name}: expected pre+final windows\n{plan}"


def test_blocked_selfjoins_are_equijoins(spark, sf_dir):
    """The near-dup ground-truth self-joins must hash/merge on their
    blocking key (source / label / band) — a nested-loop over the corpus
    would be the O(n²)-everywhere plan the blocking exists to avoid."""
    reg = registry()
    for name in ("q_dedup_ngram", "q_dedup_embed_cosine", "q_dedup_jaccard",
                 "q_dedup_minhash_lsh"):
        plan = _plan(reg[name][0](spark, sf_dir))
        assert (
            "SortMergeJoin" in plan
            or "ShuffledHashJoin" in plan
            or "BroadcastHashJoin" in plan
        ), f"{name}: no equi-join in plan\n{plan}"
        assert "BroadcastNestedLoopJoin" not in plan, (
            f"{name}: blocking key not used as join key\n{plan}"
        )


def test_asof_join_compiles_to_pure_window(spark, sf_dir):
    """The distributed as-of must be a single partitioned window — ANY join
    node means the plan regressed to a per-key range product, which is the
    O(clicks × errors)-per-user plan the window formulation exists to
    avoid."""
    reg = registry()
    plan = _plan(reg["q_asof_join"][0](spark, sf_dir))
    assert "Window" in plan, plan
    assert "Join" not in plan, f"as-of regressed to a join plan\n{plan}"


def test_range_join_is_binned_equijoin(spark, sf_dir):
    """The 10-minute range join must hash/merge on (user_id, bin) — a raw
    BETWEEN theta-join compiles to BroadcastNestedLoopJoin and dies at
    100 TB."""
    reg = registry()
    plan = _plan(reg["q_range_join_binned"][0](spark, sf_dir))
    assert (
        "SortMergeJoin" in plan
        or "ShuffledHashJoin" in plan
        or "BroadcastHashJoin" in plan
    ), f"no equi-join in plan\n{plan}"
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_no_unbroadcast_cartesian_anywhere(spark, sf_dir):
    """No registry query may compile to a CartesianProduct (a non-broadcast
    all-pairs shuffle); the documented all-pairs oracles go through
    broadcast nested-loop instead."""
    for name, (fn, _oracle) in registry().items():
        plan = _plan(fn(spark, sf_dir))
        assert "CartesianProduct" not in plan, f"{name} compiles to a cartesian"


def test_lsh_verify_joins_never_shuffle_corpus(spark, sf_dir):
    """The LSH verify stage must join the doc_id-bucketed token-hash
    scratch layout with NO exchange above the corpus-side scans — at
    corpus sizes past the broadcast threshold the only shuffled rows are
    the skinny candidates (VERDICT r2 #3). Asserted with broadcast off to
    force the at-scale plan."""
    from cinescrapers_spark.plans.dedup import q_dedup_minhash_lsh

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        plan = _plan(q_dedup_minhash_lsh(spark, sf_dir))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    scans = plan.count("Bucketed: true")
    assert scans == 2, f"verify-stage scans not bucketed ({scans}/2)\n{plan}"
    # no Exchange may feed off a docs_thash scan: in the formatted tree,
    # every Exchange's child subtree must not be a bucketed table scan
    for m in re.finditer(r"\(\d+\) Scan parquet spark_catalog\.default\.docs_thash", plan):
        # find the tree line that references this scan id and check its parent
        sid = re.search(r"\((\d+)\)", m.group(0)).group(1)
        tree_line = next(
            l for l in plan.splitlines()
            if l.strip().endswith(f"({sid})") and "Scan parquet" in l
        )
        assert "Exchange" not in tree_line
    assert "Exchange" in plan  # the candidate side still shuffles


def _python_rdd_free(df) -> bool:
    return "PythonRDD" not in df._jdf.queryExecution().toRdd().toDebugString()


def test_schedule_topk_prepass_runs_in_jvm(spark, tmp_path):
    """schedule_tick's per-host top-k must plan a ``WindowGroupLimit`` in
    Partial mode below the host exchange (the skew guard) and no Python
    map stage; the host dimension it joins must not be a Python RDD."""
    from cinescrapers_spark.crawl.frontier import (
        init_frontier,
        schedule_tick,
        synthetic_seed_urls,
    )
    from cinescrapers_spark.dims import hosts_df

    hosts = hosts_df(spark, extra_hosts=["megacinema.example.com"])
    seeds = spark.createDataFrame(pd.DataFrame(synthetic_seed_urls(200, seed=3)))
    frontier = init_frontier(spark, seeds, hosts)
    frontier.write.parquet(str(tmp_path / "frontier"))
    frontier = spark.read.parquet(str(tmp_path / "frontier"))
    sched = schedule_tick(
        frontier, 1, max_per_tick=5, robots=hosts.select("host", "robots_disallow")
    )
    per_host = sched.groupBy("host").count().collect()
    assert per_host and max(r["count"] for r in per_host) <= 5
    sched.collect()
    plan = sched._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"WindowGroupLimit .*Partial", plan), plan
    assert "MapInPandas" not in plan, plan
    assert _python_rdd_free(sched)


def test_local_frames_have_no_python_rdd(spark, sf_dir, tmp_path, monkeypatch):
    """Dimensions, empty LSM states and collected results are built in the
    JVM (Arrow, or a typed empty projection), never as a Python RDD — a
    silent fallback from the Arrow path fails here."""
    from cinescrapers_spark.crawl.harvest import ImageHarvester
    from cinescrapers_spark.crawl.seen import SeenSet
    from cinescrapers_spark.crawl.snapshots import SnapshotTable
    from cinescrapers_spark.dims import CINEMA_SITES, cinemas_df, hosts_df, seed_hosts
    from cinescrapers_spark.plans import incremental
    from cinescrapers_spark.plans.incremental_cc import IncrementalComponents

    seen = SeenSet(SnapshotTable(str(tmp_path / "seen")))
    frames = {
        "hosts_df": hosts_df(spark, extra_hosts=["megacinema.example.com"]),
        "cinemas_df": cinemas_df(spark),
        "seen._state_df": seen._state_df(spark),
        "harvest.read": ImageHarvester(str(tmp_path / "harvest")).read(spark),
        "incremental_cc.labels": IncrementalComponents(str(tmp_path / "cc0")).labels(
            spark
        ),
        "q_dedup_incremental": incremental.q_dedup_incremental(spark, sf_dir),
    }
    # add_pairs (no parent roots yet) and compact each commit a roots run
    # built on an empty frame
    cc = IncrementalComponents(str(tmp_path / "cc"))
    commit = cc.roots_table.commit

    def spy(df, tick, **kw):
        frames[f"incremental_cc.roots@{tick}"] = df
        return commit(df, tick, **kw)

    monkeypatch.setattr(cc.roots_table, "commit", spy)
    pairs = spark.createDataFrame(
        pd.DataFrame([(1, 2), (2, 3)], columns=["doc_a", "doc_b"])
    )
    cc.add_pairs(pairs, tick=1)
    cc.compact(spark, tick=2)
    assert {"incremental_cc.roots@1", "incremental_cc.roots@2"} <= set(frames)
    assert frames["hosts_df"].count() == len(seed_hosts()) + 1
    assert frames["cinemas_df"].count() == len(CINEMA_SITES)
    assert frames["q_dedup_incremental"].count() > 0
    bad = [name for name, df in frames.items() if not _python_rdd_free(df)]
    assert not bad, f"Python RDD in the lineage of {bad}"
