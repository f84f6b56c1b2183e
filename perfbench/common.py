"""What the workloads share: the run context, the outcome record, the
spans wrapped around the engine's public calls, and on-disk accounting."""

from __future__ import annotations

import contextlib
import os
import shutil
import time
from dataclasses import dataclass, field

from perfbench.env import host_steal_jiffies, tree_cpu_s
from perfbench.stats import Ratio
from perfbench.trace import Tracer


@dataclass
class Ctx:
    spark: object
    tracer: Tracer
    seed: int
    seconds: int
    work_dir: str
    data_dir: str
    nproc: int
    inject_mismatch: bool

    def fresh_dir(self, name: str) -> str:
        path = os.path.join(self.work_dir, name)
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)
        return path


class Window:
    """Wall-clock span of the measured operations and the share of the
    machine's CPU time the hypervisor stole meanwhile."""

    def __init__(self):
        self.start = time.time()
        self.end = self.start
        self.steal_share = 0.0
        self._steal0 = host_steal_jiffies()

    def close(self) -> "Window":
        self.end = time.time()
        steal, total = host_steal_jiffies()
        self.steal_share = Ratio(steal - self._steal0[0], total - self._steal0[1]).value
        return self


@dataclass
class Outcome:
    """One workload run. ``op_walls`` and ``op_cpus`` are the wall and
    process-tree CPU seconds of the measured operations (crawl ticks, or
    index-batch-plus-query passes); ``work_items / work_cpu_s`` is the
    workload's work per CPU second; ``store_bytes / store_items`` the bytes
    its tables keep on disk per stored item (frontier URL, indexed
    document); ``failed_ops`` holds the operations whose output did not
    match the independent check."""

    set_up_s: float
    warmup_s: float
    op_walls: list[float]
    op_cpus: list[float]
    work_items: float
    work_cpu_s: float
    store_bytes: int
    store_items: int
    attempted: int
    window: Window
    failed_ops: set = field(default_factory=set)
    problems: list[str] = field(default_factory=list)
    layers: dict[str, float] = field(default_factory=dict)
    check_s: float = 0.0

    @property
    def setup_s(self) -> float:
        """Set-up plus warm-up."""
        return self.set_up_s + self.warmup_s


@contextlib.contextmanager
def timed(walls: list[float], cpus: list[float]):
    """Append the block's wall and process-tree CPU seconds."""
    c0, t0 = tree_cpu_s(), time.perf_counter()
    yield
    walls.append(time.perf_counter() - t0)
    cpus.append(tree_cpu_s() - c0)


def n_ops(seconds: int, nominal_op_s: float, lo: int, hi: int) -> int:
    """Operations that fill ``seconds`` at the workload's nominal wall on
    a 4-core host. The count depends only on ``--seconds``, so every run
    of a workload measures the same sequence of operations."""
    return max(lo, min(hi, round(seconds / nominal_op_s)))


def dir_usage(path: str) -> tuple[int, int]:
    """(bytes, files) under ``path``."""
    total = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            try:
                total += os.path.getsize(os.path.join(root, n))
            except OSError:
                continue
            files += 1
    return total, files


def mean(values: list[float]) -> float:
    return sum(values) / len(values) if values else 0.0


@contextlib.contextmanager
def traced_engine(tracer: Tracer):
    """Spans around every public engine call the layers are timed by."""
    from cinescrapers_spark.crawl.engine import CrawlEngine
    from cinescrapers_spark.crawl.harvest import ImageHarvester
    from cinescrapers_spark.crawl.seen import SeenSet
    from cinescrapers_spark.crawl.snapshots import SnapshotTable
    from cinescrapers_spark.plans.incremental import IncrementalNearDupIndex
    from cinescrapers_spark.plans.incremental_cc import IncrementalComponents

    wraps = [
        (CrawlEngine, "tick", lambda o, *a, **k: "crawl.engine.tick"),
        (
            SnapshotTable,
            "commit",
            lambda o, *a, **k: "crawl.snapshots.commit:" + os.path.basename(o.path),
        ),
        (SeenSet, "probe_and_add", lambda o, *a, **k: "crawl.seen.probe_and_add"),
        (SeenSet, "commit_shards", lambda o, *a, **k: "crawl.seen.commit_shards"),
        (SeenSet, "compact", lambda o, *a, **k: "crawl.seen.compact"),
        (ImageHarvester, "harvest_tick", lambda o, *a, **k: "crawl.harvest.harvest_tick"),
        (
            IncrementalNearDupIndex,
            "add_batch",
            lambda o, *a, **k: "plans.incremental.add_batch",
        ),
        (
            IncrementalComponents,
            "add_pairs",
            lambda o, *a, **k: "plans.incremental_cc.add_pairs",
        ),
        (IncrementalComponents, "labels", lambda o, *a, **k: "plans.incremental_cc.labels"),
    ]
    with contextlib.ExitStack() as stack:
        for cls, method, name_of in wraps:
            stack.enter_context(tracer.patch(cls, method, name_of))
        yield
