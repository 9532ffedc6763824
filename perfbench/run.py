"""Benchmark entry point: runs one workload and prints one JSON result line.

    python3 perfbench/run.py --workload similarity --seed 1 --seconds 8 --trace 0

Run it from the root of a checkout (it imports `kgc` from the directory above
this one). Flow of one run:

1. `os.sync()`, free-disk check (refuses below 2 GiB), load average, canary.
2. Set-up clock: JVM start + input generation (repeated, median taken) +
   one-time preparation + warm-up iterations → `setup_s`.
3. Timed iterations for `--seconds` seconds.
4. Checks against independent references (outside every timed region);
   an exception or a failed check is a failed operation.
5. Cleanup of everything the run wrote; the JVM is stopped and waited for.

`--trace 0` prints the end-to-end metrics; `--trace 1` alternates untraced
and traced iterations, measures each layer on its own, writes the spans to
.perfbench_traces/<workload>-seed<n>-<pid>.json and prints the per-layer
metrics. See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import traceback
from contextlib import contextmanager

HERE = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.path.dirname(HERE)
sys.path[:0] = [HERE, CHECKOUT]

GEN_REPS = 3  # input generation is repeated; setup_s takes the median
MIN_ITERS = 2  # timed iterations per run, even when --seconds ends sooner

E2E_UNITS = {"wall_s": "s", "read_s": "s", "items_per_s": "1/s", "setup_s": "s"}

# Every per-layer metric, in BENCHMARK.json order. A traced run prints all of
# them; a layer the workload does not exercise reads 0.
LAYER_UNITS = {
    "extract.self_s": "s", "extract.cpu_s": "s", "extract.rows_out": "count", "extract.hit_ratio": "ratio",
    "link.self_s": "s", "link.cpu_s": "s", "link.shuffle_mb": "MB", "link.resolved_ratio": "ratio",
    "canon.self_s": "s", "canon.rows_out": "count",
    "triples.self_s": "s", "triples.shuffle_mb": "MB", "triples.rows_out": "count",
    "catalog.write_s": "s", "catalog.bytes_written": "bytes", "catalog.files_written": "count",
    "run.wall_s": "s", "run.stage_sum_s": "s", "run.overlap_s": "s",
    "similarity.select_s": "s", "similarity.self_s": "s", "similarity.cpu_s": "s",
    "similarity.shuffle_mb": "MB", "similarity.pairs_out": "count",
    "recommend.self_s": "s", "recommend.shuffle_mb": "MB", "recommend.rows_out": "count",
    "attribution.self_s": "s", "attribution.rows_out": "count",
    "stream.first_drain_s": "s", "stream.rows_per_drain": "count", "stream.sink_files": "count",
    "spark.cpu_s": "s", "spark.gc_s": "s", "spark.shuffle_mb": "MB", "spark.tasks": "count",
    "spark.failed_tasks": "count",
    "host.canary_s": "s", "host.load1": "load", "host.disk_free_gb": "GiB",
    "mem.peak_rss_mb": "MB",
    "trace.overhead_s": "s",
}


def _workloads():
    from wl_incremental import Incremental
    from wl_similarity import Similarity

    return {w.name: w for w in (Similarity, Incremental)}


def _args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["similarity", "incremental"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=["bench", "smoke"], default="bench",
                    help="'smoke': tiny inputs for the smoke test")
    return ap.parse_args(argv)


def _measure(wl, seconds: float, tracer) -> tuple[list[dict], list[dict], int]:
    """Iterations until `seconds` have passed and at least MIN_ITERS ran.
    With a tracer, odd iterations run inside a span that reads the status
    store."""
    from harness import log

    untraced, traced, failed = [], [], 0
    t_end = time.perf_counter() + seconds
    k = 0
    while True:
        try:
            if tracer is not None and k % 2 == 1:
                with tracer.span("iteration", index=k) as rec:
                    r = wl.iterate()
                r["stages"] = rec["stages"]
                traced.append(r)
            else:
                untraced.append(wl.iterate())
        except Exception:  # noqa: BLE001 — a failed operation is counted, the run goes on
            failed += 1
            log("iteration failed:\n" + traceback.format_exc())
        k += 1
        done = time.perf_counter() >= t_end and k >= MIN_ITERS
        if done or wl.exhausted():
            break
    return untraced, traced, failed


def run(args) -> dict:
    from harness import StageMeter, Tracer, Work, canary_s, log, median

    os.sync()
    work = Work(CHECKOUT, cpus=len(os.sched_getaffinity(0)))
    work.open()
    tracer = Tracer(f"{args.workload}-seed{args.seed}-{os.getpid()}") if args.trace else None

    def phase(name: str):
        """A span in traced runs; just a clock otherwise."""
        return tracer.span(name) if tracer is not None else _clock()

    try:
        with phase("setup.jvm"):
            work.start_spark()
        if tracer is not None:
            tracer.meter = StageMeter(work.spark)
        wl = _workloads()[args.workload](work, args.seed, args.size)
        with phase("setup.source") as source:
            wl.source()
        gen = []
        for _ in range(GEN_REPS):
            with phase("setup.generate") as g:
                wl.generate()
            gen.append(g["wall_s"])
        with phase("setup.prepare") as prep:
            wl.prepare()
        with phase("setup.warm") as warm:
            warm_walls = wl.warm()
        setup_s = work.jvm_s + source["wall_s"] + median(gen) + prep["wall_s"] + warm["wall_s"]
        log(f"setup {setup_s:.2f}s (jvm {work.jvm_s:.2f}, source {source['wall_s']:.2f}, gen "
            + " ".join(f"{g:.2f}" for g in gen) + f", prepare {prep['wall_s']:.2f}, warm-up "
            + " ".join(f"{w:.3f}" for w in warm_walls) + ")")

        untraced, traced, failed = _measure(wl, args.seconds, tracer)
        samples = untraced + traced
        log(f"{len(samples)} iterations, walls " + " ".join(f"{s['wall']:.3f}" for s in samples))
        with phase("verify"):
            ok, per_iter = wl.verify()
        attempted = len(samples) + failed
        failed += sum(1 for good in per_iter if not good)

        if not args.trace:
            if not samples:
                raise RuntimeError("no iteration completed")
            values = {
                "wall_s": median([s["wall"] for s in samples]),
                "read_s": median([r for s in samples for r in s["reads"]]),
                "items_per_s": median([s["items"] / s["wall"] for s in samples]),
                "setup_s": setup_s,
            }
            metrics = {k: {"value": values[k], "unit": u} for k, u in E2E_UNITS.items()}
        else:
            values = {k: 0.0 for k in LAYER_UNITS}
            values.update(wl.layers(tracer))
            if traced and untraced:
                values["trace.overhead_s"] = (
                    median([s["wall"] for s in traced]) - median([s["wall"] for s in untraced])
                )
            if traced:
                # times: median over traced iterations; counts: the first
                # traced iteration (the same batch/input for a given seed)
                st = [s["stages"] for s in traced]
                values["spark.cpu_s"] = median([s["cpu_s"] for s in st])
                values["spark.gc_s"] = median([s["gc_s"] for s in st])
                values["spark.shuffle_mb"] = st[0]["shuffle_mb"]
                values["spark.tasks"] = st[0]["tasks"]
                values["spark.failed_tasks"] = sum(s["failed_tasks"] for s in st)
            values["mem.peak_rss_mb"] = work.peak_rss_mb()
            values["host.canary_s"] = max(work.host["host.canary_start_s"], canary_s())
            values["host.load1"] = work.host["host.load1"]
            values["host.disk_free_gb"] = work.host["host.disk_free_gb"]
            out = os.path.join(CHECKOUT, ".perfbench_traces", f"{tracer.run_id}.json")
            tracer.write(out)
            log(f"spans written to {out}")
            metrics = {k: {"value": float(values[k]), "unit": u} for k, u in LAYER_UNITS.items()}
        return {
            "correct": bool(ok and failed == 0),
            "attempted": attempted,
            "failed": failed,
            "metrics": metrics,
        }
    finally:
        work.close()
        log("stopped and cleaned up")


@contextmanager
def _clock():
    rec: dict = {}
    t0 = time.perf_counter()
    try:
        yield rec
    finally:
        rec["wall_s"] = time.perf_counter() - t0


def main(argv=None) -> int:
    args = _args(argv)
    if not os.path.isfile(os.path.join(CHECKOUT, "kgc", "__init__.py")):
        print(f"perfbench: no kgc package under {CHECKOUT}; run from the root of a "
              "checkout of the repository", file=sys.stderr)
        return 2
    try:
        result = run(args)
    except Exception:  # noqa: BLE001 — set-up failure: no result line, non-zero exit
        traceback.print_exc()
        return 1
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
