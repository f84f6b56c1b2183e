"""The ``plans`` workload: the incremental near-dup index and connected
components growing batch by batch, beside the ten report queries, over
the fixed sf0.01 corpus in ``perfbench/data``.

Set-up: a fresh ``IncrementalNearDupIndex`` and ``IncrementalComponents``
on a new workdir. The warm-up (added to ``setup_s``) bootstraps the
index with batch 0 and runs the ten
queries once. Each measured pass then indexes the next batch
(``add_batch``, materialise the pairs, ``add_pairs``) and runs the ten
queries in an order permuted by ``--seed``.

Every query execution is compared with its DuckDB ``oracle_sql()``; the
union of the batch pairs with the exact-Jaccard oracle restricted to the
documents indexed so far; the final labels with a union-find over those
oracle pairs. The seed changes only the batch split and the query order:
the corpus is fixed, so LSH recall is the same on every seed.
"""

from __future__ import annotations

import hashlib
import random
import statistics
import time

from perfbench.checks import compare_frames, components, compare_components
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
from perfbench.metrics import QUERY_LAYERS

PARAMS = {
    "n_batches": 8,
    "nominal_pass_s": 15.0,
    "min_passes": 1,
    "max_passes": 7,
}

QUERIES = list(QUERY_LAYERS)


def batch_split(doc_ids: list[int], seed: int, n_batches: int) -> list[list[int]]:
    """Order documents by a seeded hash and cut the order into
    ``n_batches`` equal slices (sizes differ by at most one)."""
    def key(d: int) -> bytes:
        return hashlib.blake2b(f"{seed}:{d}".encode(), digest_size=8).digest()

    order = sorted(doc_ids, key=key)
    return [order[i::n_batches] for i in range(n_batches)]


def _oracles(data_dir: str, names: list[str]):
    import duckdb

    from tools.check_oracles import TABLES

    from cinescrapers_spark.plans import registry
    from cinescrapers_spark.plans.dedup import _JACCARD_ORACLE

    reg = registry()
    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
        frames = {n: con.execute(reg[n][1]).fetchdf() for n in names}
        jaccard = con.execute(_JACCARD_ORACLE).fetchdf()
    finally:
        con.close()
    return frames, jaccard


def run(ctx: Ctx) -> Outcome:
    import pandas as pd
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from cinescrapers_spark.plans import load, registry
    from cinescrapers_spark.plans.incremental import IncrementalNearDupIndex
    from cinescrapers_spark.plans.incremental_cc import IncrementalComponents

    p = PARAMS
    spark, tracer, sf = ctx.spark, ctx.tracer, ctx.data_dir
    reg = registry()
    doc_ids = pq.read_table(f"{sf}/documents.parquet", columns=["doc_id"]).column(
        "doc_id"
    ).to_pylist()
    batches = batch_split(doc_ids, ctx.seed, p["n_batches"])
    docs = load(spark, sf, "documents").select("doc_id", "source", "text")

    def index_batch(idx, cc, b: int, walls: list[float], cpus: list[float]):
        """Index batch ``b`` as tick ``b + 1``; return its pairs."""
        with timed(walls, cpus):
            pairs = idx.add_batch(
                docs.filter(F.col("doc_id").isin(batches[b])), tick=b + 1
            )
            pairs.count()
            cc.add_pairs(pairs, tick=b + 1)
        pdf = pairs.toPandas()
        pairs.unpersist()
        return pdf

    def run_query(name: str):
        with tracer.span(f"{QUERY_LAYERS[name]}.{name}"):
            t0 = time.perf_counter()
            pdf = reg[name][0](spark, sf).toPandas()
            return pdf, time.perf_counter() - t0

    t0 = time.perf_counter()
    workdir = ctx.fresh_dir("plans")
    idx = IncrementalNearDupIndex(workdir)
    cc = IncrementalComponents(workdir)
    set_up_s = time.perf_counter() - t0

    with traced_engine(tracer):
        # warm-up: bootstrap the index with batch 0, then one query pass
        executions: list[tuple[int, str, object]] = []  # (op index, query, frame)
        t0 = time.perf_counter()
        pair_frames = [index_batch(idx, cc, 0, [], [])]
        for name in QUERIES:
            executions.append((0, name, run_query(name)[0]))
        warmup_s = time.perf_counter() - t0

        n = n_ops(ctx.seconds, p["nominal_pass_s"], p["min_passes"], p["max_passes"])
        pass_walls, pass_cpus, batch_walls, batch_cpus = [], [], [], []
        q_walls: dict[str, list[float]] = {q: [] for q in QUERIES}
        written, runs_read, batch_docs = [], [], 0
        window = Window()
        for i in range(n):
            b = i + 1
            order = list(QUERIES)
            random.Random(f"{ctx.seed}:{i}").shuffle(order)
            runs_read.append(
                sum(
                    1
                    for t in (idx.bands_table, idx.toks_table)
                    for e in t.manifest()
                    if e["tick"] <= b
                )
            )
            before = dir_usage(workdir)
            with tracer.span("plans.pass"), timed(pass_walls, pass_cpus):
                pair_frames.append(index_batch(idx, cc, b, batch_walls, batch_cpus))
                for name in order:
                    frame, qwall = run_query(name)
                    q_walls[name].append(qwall)
                    executions.append((i + 1, name, frame))
            after = dir_usage(workdir)
            written.append((after[0] - before[0], after[1] - before[1]))
            batch_docs += len(batches[b])

        window.close()
        t0 = time.perf_counter()
        labels = cc.labels(spark).toPandas()
        labels_s = time.perf_counter() - t0

    # -- checks (untimed) -----------------------------------------------------
    t_check = time.perf_counter()
    want, jaccard = _oracles(sf, QUERIES)
    if ctx.inject_mismatch:
        want[QUERIES[0]] = want[QUERIES[0]].iloc[1:]
    problems, failed = [], set()
    for op, name, frame in executions:
        bad = compare_frames(f"pass{op}.{name}", frame, want[name])
        if bad:
            problems += bad
            failed.add((op, name))
    indexed = set().union(*(batches[b] for b in range(n + 1)))
    want_pairs = jaccard[jaccard.doc_a.isin(indexed) & jaccard.doc_b.isin(indexed)]
    got_pairs = pd.concat(pair_frames, ignore_index=True)
    bad = compare_frames("index.pairs", got_pairs, want_pairs)
    want_cc = components(zip(want_pairs.doc_a.tolist(), want_pairs.doc_b.tolist()))
    bad += compare_components(labels, want_cc)
    if bad:
        problems += bad
        failed.add("index")
    check_s = time.perf_counter() - t_check

    out = Outcome(
        set_up_s=set_up_s,
        warmup_s=warmup_s,
        op_walls=pass_walls,
        op_cpus=pass_cpus,
        work_items=float(batch_docs),
        work_cpu_s=sum(batch_cpus),
        store_bytes=dir_usage(workdir)[0],
        store_items=len(indexed),
        attempted=len(executions) + n + 1,  # query executions + index batches
        failed_ops=failed,
        problems=problems,
        window=window,
        check_s=check_s,
    )
    if tracer.enabled:
        lay: dict[str, float] = {}
        for name in QUERIES:
            base = f"{QUERY_LAYERS[name]}.{name}"
            lay[base + ".wall_s"] = statistics.median(q_walls[name])
            lay[base + ".rows_out"] = float(
                mean([len(f) for op, q, f in executions if q == name and op > 0])
            )
        add_batch = tracer.named("plans.incremental.add_batch")
        add_pairs = tracer.named("plans.incremental_cc.add_pairs")
        lay["plans.incremental.add_batch_s"] = mean([s.duration for s in add_batch[-n:]])
        lay["plans.incremental.runs_read"] = mean(runs_read)
        lay["plans.incremental.pairs_out"] = mean([len(f) for f in pair_frames[1:]])
        lay["plans.incremental_cc.add_pairs_s"] = mean([s.duration for s in add_pairs[-n:]])
        lay["plans.incremental_cc.labels_s"] = labels_s
        lay["plans.index.batch_s"] = mean(batch_walls)
        lay["crawl.snapshots.bytes_written"] = mean([b for b, _ in written])
        lay["crawl.snapshots.files_written"] = mean([f for _, f in written])
        out.layers = lay
    return out
