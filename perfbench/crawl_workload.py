"""The ``crawl`` workload: the per-tick crawl loop with image harvest on,
checked tick by tick against ``ReferenceCrawl``.

Set-up: build the hosts dimension and the seed DataFrame (the seed list
comes from ``--seed``) and construct a ``CrawlEngine`` on a fresh
workdir. The warm-up (added to ``setup_s``) bootstraps the engine and
runs one budget-2 tick; the measured ticks follow. The reference replays the
same seeds, hosts, robots rules, warm-up tick and measured ticks.
"""

from __future__ import annotations

import os
import time

import numpy as np

from perfbench.checks import compare_records
from perfbench.common import (
    Ctx,
    Outcome,
    Window,
    dir_usage,
    mean,
    n_ops,
    timed,
    traced_engine,
)
from perfbench.stats import Ratio

PARAMS = {
    "n_seeds": 1000,
    "mega_host_frac": 0.3,
    "budget": 2,
    "warmup_budget": 2,
    "num_shards": 4,
    "compact_every": 3,
    "tick_seconds": 60.0,
    "nominal_tick_s": 7.5,
    "min_ticks": 2,
    "max_ticks": 8,
}

CHECKED = ("scheduled", "fetch_failed", "new_unseen", "new_images")
STEPS = {
    "sched_fetch_marks": "crawl.engine.sched_fetch_marks_s",
    "probe_cogroup": "crawl.seen.probe_s",
    "run_and_adds_commit": "crawl.snapshots.commit_s",
    "compaction": "crawl.snapshots.compaction_s",
    "harvest": "crawl.harvest.acquire_s",
}
# fresh keys probed against every live seen segment's Bloom filter
_FPR_PROBES = 4000


def seen_state(table, as_of: int) -> dict[str, float]:
    """Outside-in probe of the committed seen-set LSM: the live segments
    (newest base plus the runs after it, from the manifest), the largest
    per-shard key count, the Bloom false-positive rate measured by probing
    keys known to be absent, and the fill (share of bits set) of the
    fullest filter; with k=4 probes, fill**4 is the filter's expected
    false-positive rate."""
    import pyarrow.parquet as pq

    from cinescrapers_spark.crawl.seen import bloom_maybe, decode_shard

    entries = [e for e in table.manifest() if e["tick"] <= as_of]
    bases = [e for e in entries if e.get("metrics", {}).get("kind") == "base"]
    floor = bases[-1]["tick"] if bases else -1
    live = bases[-1:] + [
        e
        for e in entries
        if e.get("metrics", {}).get("kind") != "base" and e["tick"] > floor
    ]
    rng = np.random.default_rng(12345)
    probes = rng.integers(0, 2**63, size=_FPR_PROBES, dtype=np.uint64)
    per_shard: dict[int, int] = {}
    false_pos = probed = 0
    fill = 0.0
    for e in live:
        snap = table.snapshot_dir(e["snapshot_id"])
        for root, _dirs, names in os.walk(snap):
            for n in sorted(names):
                if not n.endswith(".parquet"):
                    continue
                t = pq.read_table(os.path.join(root, n), columns=["shard_id", "data"])
                for sid, blob in zip(
                    t.column("shard_id").to_pylist(), t.column("data").to_pylist()
                ):
                    keys, bloom = decode_shard(blob)
                    per_shard[sid] = per_shard.get(sid, 0) + len(keys)
                    if not len(keys) or not len(bloom):
                        continue
                    fill = max(fill, float(np.unpackbits(bloom).mean()))
                    absent = probes[~np.isin(probes, keys)]
                    false_pos += int(bloom_maybe(bloom, absent).sum())
                    probed += len(absent)
    return {
        "crawl.seen.segments_live": float(len(live)),
        "crawl.seen.keys_per_shard_max": float(max(per_shard.values(), default=0)),
        "crawl.seen.bloom_fpr": Ratio(false_pos, probed).value,
        "crawl.seen.bloom_fill": fill,
    }


def _probe_schedule_and_fetch(eng, tick: int) -> tuple[float, float]:
    """Traced run only: time the frontier's schedule and the fetch+parse
    kernel over it as separate Spark actions after the tick."""
    from pyspark.sql import functions as F

    from cinescrapers_spark.sources.pages import (
        fetch_parse_expand_udf,
        fetch_parse_harvest_udf,
    )

    kernel = fetch_parse_harvest_udf if eng.harvester is not None else fetch_parse_expand_udf
    sched = eng.scheduled_set(tick).cache()
    try:
        t0 = time.perf_counter()
        sched.write.format("noop").mode("overwrite").save()
        t1 = time.perf_counter()
        sched.select(kernel(F.col("url_norm")).alias("f")).write.format("noop").mode(
            "overwrite"
        ).save()
        t2 = time.perf_counter()
    finally:
        sched.unpersist()
    return t1 - t0, t2 - t1


def reference_ticks(hosts_rows, seeds: list[dict], p: dict, n_measured: int):
    from cinescrapers_spark.crawl.reference_model import ReferenceCrawl

    ref = ReferenceCrawl(
        {r.host: (r.host_rank, r.crawl_delay) for r in hosts_rows},
        tick_seconds=p["tick_seconds"],
        max_per_tick=p["warmup_budget"],
        robots={r.host: list(r.robots_disallow or []) for r in hosts_rows},
        harvest=True,
    )
    seeded = ref.bootstrap([s["url"] for s in seeds])
    ticks = [ref.tick()]
    ref.max_per_tick = p["budget"]
    ticks += [ref.tick() for _ in range(n_measured)]
    return seeded, ticks, len(ref.seen)


def run(ctx: Ctx) -> Outcome:
    import pandas as pd

    from cinescrapers_spark.crawl.engine import CrawlEngine
    from cinescrapers_spark.crawl.frontier import synthetic_seed_urls
    from cinescrapers_spark.dims import hosts_df

    p = PARAMS
    spark, tracer = ctx.spark, ctx.tracer
    seeds = synthetic_seed_urls(
        p["n_seeds"],
        seed=ctx.seed,
        mega_host_frac=p["mega_host_frac"],
    )

    t0 = time.perf_counter()
    workdir = ctx.fresh_dir("crawl")
    hosts = hosts_df(spark, extra_hosts=["megacinema.example.com"])
    raw = spark.createDataFrame(pd.DataFrame(seeds)).repartition(ctx.nproc)
    eng = CrawlEngine(
        spark,
        workdir,
        hosts,
        num_shards=p["num_shards"],
        tick_seconds=p["tick_seconds"],
        max_per_tick=p["budget"],
        light_metrics=True,
        compact_every=p["compact_every"],
        harvest_images=True,
    )
    set_up_s = time.perf_counter() - t0

    n = n_ops(ctx.seconds, p["nominal_tick_s"], p["min_ticks"], p["max_ticks"])
    ticks, walls, cpus, written, probes, states = [], [], [], [], [], []
    with traced_engine(tracer):
        t0 = time.perf_counter()
        boot = eng.bootstrap(raw)
        eng.max_per_tick = p["warmup_budget"]
        warm = eng.tick()
        warmup_s = time.perf_counter() - t0
        eng.max_per_tick = p["budget"]
        window = Window()
        for _ in range(n):
            before = dir_usage(workdir)
            with timed(walls, cpus):
                m = eng.tick()
            after = dir_usage(workdir)
            ticks.append(m)
            written.append((after[0] - before[0], after[1] - before[1]))
            if tracer.enabled:
                probes.append(_probe_schedule_and_fetch(eng, m["tick"]))
                states.append(seen_state(eng.seen.table, m["tick"]))
        window.close()

    # -- checks (untimed) -----------------------------------------------------
    t_check = time.perf_counter()
    hosts_rows = hosts.collect()
    seeded, want, want_seen = reference_ticks(hosts_rows, seeds, p, n)
    if ctx.inject_mismatch:
        want[-1]["scheduled"] += 1
    got = [warm] + ticks
    problems, failed = [], set()
    if boot["seeded"] != seeded:
        problems.append(f"bootstrap: seeded {boot['seeded']} != {seeded}")
        failed.add(0)
    for i, (g, w) in enumerate(zip(got, want)):
        bad = compare_records(f"tick{g['tick']}", [g], [w], CHECKED)
        if bad:
            problems += bad
            failed.add(i)
    got_seen = eng.seen.total_keys_as_of(got[-1]["tick"])
    if got_seen != want_seen:
        problems.append(f"seen total: {got_seen} != {want_seen}")
        failed.add(len(got) - 1)
    check_s = time.perf_counter() - t_check

    out = Outcome(
        set_up_s=set_up_s,
        warmup_s=warmup_s,
        op_walls=walls,
        op_cpus=cpus,
        work_items=float(sum(m["sched_and_dedup_urls"] for m in ticks)),
        work_cpu_s=sum(cpus),
        store_bytes=dir_usage(workdir)[0],
        store_items=ticks[-1]["frontier_rows"],
        attempted=len(got),
        failed_ops=failed,
        problems=problems,
        window=window,
        check_s=check_s,
    )
    if tracer.enabled:
        out.layers = _layers(ticks, written, probes, states)
    return out


def _layers(ticks, written, probes, states) -> dict[str, float]:
    lay: dict[str, float] = {}
    lay["crawl.engine.tick_s"] = mean([m["wall_sec"] for m in ticks])
    for step, name in STEPS.items():
        lay[name] = mean([m["timings"].get(step, 0.0) for m in ticks])
    lay["crawl.engine.overhead_s"] = mean(
        [m["wall_sec"] - sum(m["timings"].values()) for m in ticks]
    )
    lay["crawl.frontier.schedule_s"] = mean([s for s, _ in probes])
    lay["sources.pages.fetch_parse_s"] = mean([f for _, f in probes])
    lay["crawl.frontier.scheduled"] = mean([m["scheduled"] for m in ticks])
    lay["sources.pages.raw_links"] = mean([m["raw_links"] for m in ticks])
    lay["sources.pages.fetch_failed"] = mean([m["fetch_failed"] for m in ticks])
    lay["crawl.seen.new_unseen"] = mean([m["new_unseen"] for m in ticks])
    lay["crawl.seen.dedup_yield"] = Ratio(
        sum(m["new_unseen"] for m in ticks), sum(m["raw_links"] for m in ticks)
    ).value
    # the seen-set LSM after each tick: its worst filter and largest shard
    for name in (
        "crawl.seen.bloom_fpr",
        "crawl.seen.bloom_fill",
        "crawl.seen.keys_per_shard_max",
    ):
        lay[name] = max(st[name] for st in states)
    lay["crawl.seen.segments_live"] = mean([st["crawl.seen.segments_live"] for st in states])
    lay["crawl.harvest.image_candidates"] = mean([m["image_candidates"] for m in ticks])
    lay["crawl.harvest.new_images"] = mean([m["new_images"] for m in ticks])
    lay["crawl.harvest.dedup_factor"] = Ratio(
        sum(m["image_candidates"] for m in ticks), sum(m["new_images"] for m in ticks)
    ).value
    lay["crawl.snapshots.bytes_written"] = mean([b for b, _ in written])
    lay["crawl.snapshots.files_written"] = mean([f for _, f in written])
    return lay
