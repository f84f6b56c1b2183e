"""Run one benchmark workload and print its result as the last line of
standard output.

    python3 perfbench/run.py --workload crawl --seed 1 --seconds 15 --trace 0

Run it from the root of a checkout. ``--trace 0`` reports the end-to-end
metrics; ``--trace 1`` is a separate run that records spans around the
engine's public calls, enables Spark's event log and reports the
per-layer metrics. ``--inject-mismatch`` corrupts one expected answer to
show that the output checks fail (the command then exits 1).

Exit codes: 0 all outputs matched, 1 a mismatch or an error, 2 the
engine's sources are not in the checkout.
"""

from __future__ import annotations

import argparse
import json
from dataclasses import asdict
import os
import shutil
import statistics
import sys
import time

T_START = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("crawl", "plans")


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--inject-mismatch", action="store_true")
    return ap.parse_args(argv)


def _missing_sources() -> list[str]:
    need = ["cinescrapers_spark/__init__.py", "tools/check_oracles.py"]
    return [p for p in need if not os.path.isfile(os.path.join(ROOT, p))]


def _session(name: str, nproc: int, work: str, trace: bool):
    from cinescrapers_spark.session import get_spark
    from perfbench.eventlog import event_log_conf

    conf = {
        "spark.executorEnv.PYTHONPATH": ROOT,
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf |= event_log_conf(os.path.join(work, "eventlog"))
    spark = get_spark(
        app_name=f"perfbench-{name}",
        master=f"local[{nproc}]",
        shuffle_partitions=nproc,
        extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop(spark) -> None:
    """Stop Spark, then end the JVM it launched and wait for it: the JVM
    exits when its standard input closes."""
    import subprocess

    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def _trace_layers(
    outcome, tracer, log_dir: str, session_s: float, peak_mb: float
) -> dict[str, float]:
    from perfbench.common import mean
    from perfbench.eventlog import COUNTERS, counters_by_span
    from perfbench.metrics import PER_LAYER, SELF_TIMED
    from perfbench.stats import self_times

    lay = dict.fromkeys(PER_LAYER, 0.0)
    lay.update(outcome.layers)
    lay["session.start_s"] = session_s
    lay["session.peak_rss_mb"] = peak_mb
    # self times and Spark counters of the measured operations only
    w = outcome.window
    measured = {s.span_id: s for s in tracer.spans if w.start <= s.start <= w.end}
    own = self_times(tracer.spans)
    for name in SELF_TIMED:
        picked = [own[i] for i, s in measured.items() if s.name.split(":")[0] == name]
        lay[f"{name}.self_s"] = mean(picked)
    by_span = counters_by_span(log_dir, tracer.spans)
    for c in COUNTERS:
        total = sum(v[c] for i, v in by_span.items() if i in measured)
        lay[f"spark.{c}"] = total / len(outcome.op_walls)
    lay["trace.op_s_p50"] = statistics.median(outcome.op_walls)
    lay["trace.bookkeeping_s"] = tracer.bookkeeping_s / outcome.attempted
    return lay


def main(argv=None) -> int:
    args = parse_args(argv)
    missing = _missing_sources()
    if missing:
        print(f"perfbench: engine sources not found: {missing}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    nproc = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(work, exist_ok=True)
    os.makedirs(out_dir, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )

    from perfbench import crawl_workload, plans_workload
    from perfbench.common import Ctx
    from perfbench.env import RssSampler, host_record
    from perfbench.metrics import END_TO_END, PER_LAYER
    from perfbench.stats import Ratio, summarize
    from perfbench.trace import Tracer

    sampler = RssSampler().start()
    tracer = Tracer(enabled=bool(args.trace))
    spark = None
    try:
        try:
            t0 = time.perf_counter()
            spark = _session(args.workload, nproc, work, bool(args.trace))
            session_s = time.perf_counter() - t0
            ctx = Ctx(
                spark=spark,
                tracer=tracer,
                seed=args.seed,
                seconds=args.seconds,
                work_dir=work,
                data_dir=os.path.join(ROOT, "perfbench", "data", "sf0.01"),
                nproc=nproc,
                inject_mismatch=args.inject_mismatch,
            )
            module = {"crawl": crawl_workload, "plans": plans_workload}[args.workload]
            outcome = module.run(ctx)
        finally:
            if spark is not None:
                _stop(spark)
            peak_mb = sampler.stop()
        if args.trace:
            values = _trace_layers(
                outcome, tracer, os.path.join(work, "eventlog"), session_s, peak_mb
            )
            units = PER_LAYER
            tracer.dump(os.path.join(out_dir, f"{args.workload}-seed{args.seed}-spans.jsonl"))
        else:
            values = {
                "setup_s": outcome.setup_s,
                "op_cpu_s": summarize(outcome.op_cpus).p50,
                "work_per_cpu_s": Ratio(outcome.work_items, outcome.work_cpu_s).value,
                "store_bytes_per_item": Ratio(outcome.store_bytes, outcome.store_items).value,
            }
            units = END_TO_END
        if set(values) != set(units):
            raise KeyError(f"reported {sorted(values)} != declared {sorted(units)}")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    failed = len(outcome.failed_ops)
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "host": host_record(),
        "session_s": session_s,
        "peak_rss_mb": peak_mb,
        "set_up_s": outcome.set_up_s,
        "warmup_s": outcome.warmup_s,
        "op_walls": outcome.op_walls,
        "check_s": outcome.check_s,
        "host_steal_share": outcome.window.steal_share,
        "process_s": time.perf_counter() - T_START,
        # every timing with its median, maximum and sample count
        "op_s": asdict(summarize(outcome.op_walls)),
        "op_cpu_s": asdict(summarize(outcome.op_cpus)),
        "error_rate": Ratio(failed, outcome.attempted).value,
        "bases": {
            "error_rate": [failed, outcome.attempted],
            "work_per_cpu_s": [outcome.work_items, outcome.work_cpu_s],
            "store_bytes_per_item": [outcome.store_bytes, outcome.store_items],
        },
        "problems": outcome.problems[:50],
    }
    print(json.dumps(detail))
    result = {
        "correct": failed == 0,
        "attempted": outcome.attempted,
        "failed": failed,
        "metrics": {n: {"value": v, "unit": units[n]} for n, v in values.items()},
    }
    print(json.dumps(result), flush=True)
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
