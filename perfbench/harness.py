"""Run hygiene shared by every workload: a private work directory inside the
checkout, the Spark session that lives in it, host witnesses (free disk, load,
a fixed NumPy canary loop, peak RSS) and the stage-metric meter the traced run
reads around each layer call.

Nothing here imports Spark at module load, so `run.py` can refuse to run
(exit code 2) in a directory that has no `kgc/` package before paying for a
JVM.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import time
from contextlib import contextmanager

# A run writes shuffle files, parquet inputs, catalog tables and streaming
# sinks. The largest workload writes well under 1 GB; refuse to start below
# this so a full disk shows as an error, not as a slow run.
MIN_FREE_BYTES = 2 << 30

# Driver heap for the local[N] session. The workloads need far less; a bounded
# heap keeps the JVM's resident set (and its GC behaviour) the same from run
# to run on a shared host.
DRIVER_MEM = "4g"

# Result read-backs per timed iteration: one read is a single short Spark
# job, so read_s is the median over several.
READS_PER_ITER = 3


def median(xs: list[float]) -> float:
    return float(statistics.median(xs))


def canary_s(reps: int = 5) -> float:
    """Median wall of a fixed NumPy loop (same arithmetic every call). It does
    no Spark work, so a change in it between runs is the host, not the code."""
    import numpy as np

    a = np.arange(1 << 20, dtype=np.float64)
    walls = []
    for _ in range(reps):
        t0 = time.perf_counter()
        acc = 0.0
        for _ in range(20):
            acc += float(np.sqrt(a * 1.000001 + 1.0).sum())
        walls.append(time.perf_counter() - t0)
    return median(walls)


def _proc_tree(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        try:
            for task in os.listdir(f"/proc/{p}/task"):
                with open(f"/proc/{p}/task/{task}/children") as f:
                    todo.extend(int(c) for c in f.read().split())
        except OSError:
            continue
    return out


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class Work:
    """One run's private state: work dir, Spark session, set-up clock.

    Everything the run writes lives under `root`; `close()` stops Spark,
    waits for the JVM (and the Python workers it forked) to exit, and deletes
    `root`."""

    def __init__(self, checkout: str, cpus: int):
        self.checkout = checkout
        self.cpus = cpus
        self.root = os.path.join(checkout, ".perfbench_work", str(os.getpid()))
        self.spark = None
        self.jvm_s = 0.0
        self.host: dict[str, float] = {}

    def path(self, *parts: str) -> str:
        return os.path.join(self.root, *parts)

    def open(self) -> None:
        free = shutil.disk_usage(self.checkout).free
        self.host["host.disk_free_gb"] = free / (1 << 30)
        self.host["host.load1"] = os.getloadavg()[0]
        log(f"free disk {free / (1 << 30):.1f} GiB, load1 {self.host['host.load1']:.2f}")
        if free < MIN_FREE_BYTES:
            raise RuntimeError(
                f"only {free / (1 << 30):.1f} GiB free under {self.checkout}; "
                f"the benchmark needs {MIN_FREE_BYTES / (1 << 30):.0f} GiB"
            )
        shutil.rmtree(self.root, ignore_errors=True)
        for d in ("tmp", "local", "warehouse"):
            os.makedirs(self.path(d))
        self.host["host.canary_start_s"] = canary_s()
        log(f"canary {self.host['host.canary_start_s']:.4f}s")

    def start_spark(self):
        """Start local[cpus] with every scratch location inside `root`. The
        clock covers the JVM launch and session configuration."""
        env = os.environ
        env["TMPDIR"] = self.path("tmp")  # pyspark's gateway files, Python workers
        env["SPARK_LOCAL_DIRS"] = self.path("local")  # shuffle + block manager
        env["KGC_WAREHOUSE_DIR"] = self.path("warehouse")
        env["KGC_DRIVER_MEM"] = DRIVER_MEM
        env["PYTHONPATH"] = os.pathsep.join(
            p for p in (self.checkout, env.get("PYTHONPATH")) if p
        )
        t0 = time.perf_counter()
        from kgc.session import get_spark

        self.spark = get_spark(
            app_name="perfbench",
            cpus=self.cpus,
            extra_conf={
                # JVM temp files into the work dir; no hsperfdata under /tmp
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.path('tmp')} -XX:-UsePerfData",
                "spark.ui.showConsoleProgress": "false",
            },
        )
        self.spark.range(1).count()
        self.jvm_s = time.perf_counter() - t0
        return self.spark

    def peak_rss_mb(self) -> float:
        """Σ VmHWM of the driver JVM and every process under it (the Python
        worker daemon and its workers)."""
        from pyspark import SparkContext

        gw = SparkContext._gateway
        if gw is None or getattr(gw, "proc", None) is None:
            return 0.0
        return sum(_vm_hwm_kb(p) for p in _proc_tree(gw.proc.pid)) / 1024.0

    def close(self) -> None:
        if self.spark is not None:
            from pyspark import SparkContext

            for q in self.spark.streams.active:
                q.stop()
            gw = SparkContext._gateway
            proc = getattr(gw, "proc", None) if gw is not None else None
            self.spark.stop()
            if gw is not None:
                gw.shutdown()
            if proc is not None:
                # the JVM exits once its stdin (the gateway's lifeline) closes
                try:
                    proc.stdin.close()
                except OSError:
                    pass
                try:
                    proc.wait(timeout=60)
                except Exception:  # noqa: BLE001 — last resort, then wait again
                    proc.kill()
                    proc.wait(timeout=30)
            SparkContext._gateway = None
            SparkContext._jvm = None
            self.spark = None
        shutil.rmtree(self.root, ignore_errors=True)
        parent = os.path.dirname(self.root)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


class StageMeter:
    """Reads Spark's status store around a call: executor run/CPU time, GC,
    shuffle-write bytes and task counts of every stage that started inside
    the call. Stage ids grow monotonically, so the stages of a call are the
    ids above the snapshot taken before it."""

    FIELDS = {
        "run_s": ("executorRunTime", 1e-3),
        "cpu_s": ("executorCpuTime", 1e-9),
        "gc_s": ("jvmGcTime", 1e-3),
        "shuffle_mb": ("shuffleWriteBytes", 1e-6),
        "tasks": ("numCompleteTasks", 1),
        "failed_tasks": ("numFailedTasks", 1),
    }

    def __init__(self, spark):
        sc = spark.sparkContext
        self._jsc = sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._empty = sc._jvm.java.util.ArrayList()
        self._no_q = sc._gateway.new_array(sc._jvm.double, 0)

    def _stages(self) -> list:
        """StageData of every retained stage (a Scala Seq on the JVM side)."""
        self._jsc.listenerBus().waitUntilEmpty()
        seq = self._store.stageList(self._empty, False, False, self._no_q, self._empty)
        return [seq.apply(i) for i in range(seq.size())]

    def snapshot(self) -> int:
        return max((s.stageId() for s in self._stages()), default=-1)

    def since(self, last_id: int) -> dict[str, float]:
        out = {k: 0.0 for k in self.FIELDS}
        for s in self._stages():
            if s.stageId() <= last_id:
                continue
            for k, (getter, scale) in self.FIELDS.items():
                out[k] += getattr(s, getter)() * scale
        return out


class Tracer:
    """In-memory spans (name, start, end, parent, run id) plus the stage
    metrics measured inside each; written as JSON when the run ends."""

    def __init__(self, run_id: str, meter: StageMeter | None = None):
        self.run_id = run_id
        self.meter = meter  # set once the JVM is up; spans before it carry no stage metrics
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str, **attrs):
        mark = self.meter.snapshot() if self.meter is not None else None
        rec = {
            "name": name,
            "run_id": self.run_id,
            "parent": self.spans[self._stack[-1]]["name"] if self._stack else None,
            "start_s": time.perf_counter() - self._t0,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            rec["end_s"] = time.perf_counter() - self._t0
            rec["wall_s"] = rec["end_s"] - rec["start_s"]
            if mark is not None:
                rec["stages"] = self.meter.since(mark)
            self._stack.pop()

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": self.spans}, f, indent=1)


def noop(df) -> None:
    """Materialize every row and column of `df` without storing it."""
    df.write.format("noop").mode("overwrite").save()


_T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - _T0:6.1f}s] {msg}", file=sys.stderr, flush=True)
