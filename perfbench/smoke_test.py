"""Smoke test of the benchmark itself (not part of the repository's test suite).

    python3 perfbench/smoke_test.py

From the root of a checkout: runs every workload once untraced and once traced
on tiny inputs (`--size smoke`, sf0.001-0.002, one timed iteration) and
asserts that each result line has exactly the four result keys, passed its
correctness checks, and reports exactly the metric names and units listed in
BENCHMARK.json. Also checks that `common.parsed_triples` (the reference the
checks use) equals the generator's closed-form ground truth, and that the
benchmark refuses to run (non-zero exit, no result) without the `kgc` package
beside it. Takes about five minutes on 4 cores.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.path.dirname(HERE)


def _run(workload: str, trace: int, cwd: str = CHECKOUT) -> subprocess.CompletedProcess:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "7",
           "--seconds", "1", "--trace", str(trace), "--size", "smoke"]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


def check_result(workload: str, trace: int, spec: dict) -> None:
    p = _run(workload, trace)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-4000:])
        raise AssertionError(f"{workload} trace={trace}: exit code {p.returncode}")
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, result.keys()
    assert result["correct"] is True and result["failed"] == 0, result
    assert isinstance(result["attempted"], int) and result["attempted"] >= 1, result
    want = {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == want, f"{workload} trace={trace}: metrics {got} != BENCHMARK.json {want}"
    for k, v in result["metrics"].items():
        assert isinstance(v["value"], (int, float)), (k, v)
        if not trace:
            assert v["value"] > 0, (k, v)
    print(f"ok  {workload} trace={trace}: {result['attempted']} iteration(s)")


def check_reference_parser() -> None:
    code = f"""
import sys
sys.path[:0] = [{HERE!r}, {CHECKOUT!r}]
from harness import Work
from common import NATURAL_KEY, fold, parsed_triples
w = Work({CHECKOUT!r}, 2)
w.open()
try:
    spark = w.start_spark()
    from kgc.sources.synth import ground_truth_triples, ind_width, n_individuals_for, synth_documents
    sf = 0.002
    got = fold(parsed_triples(synth_documents(spark, sf), ind_width(n_individuals_for(sf))), NATURAL_KEY)
    want = fold(ground_truth_triples(spark, sf), NATURAL_KEY)
    assert got == want, (got, want)
finally:
    w.close()
"""
    p = subprocess.run([sys.executable, "-c", code], cwd=CHECKOUT, capture_output=True, text=True, timeout=600)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-4000:])
        raise AssertionError("parsed_triples differs from ground_truth_triples")
    print("ok  parsed_triples == ground_truth_triples at sf0.002")


def check_refuses_without_program() -> None:
    bare = os.path.join(CHECKOUT, ".perfbench_work", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    try:
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        shutil.copy(os.path.join(CHECKOUT, "BENCHMARK.json"), bare)
        p = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", "similarity", "--seed", "1",
             "--seconds", "1", "--trace", "0"],
            cwd=bare, capture_output=True, text=True, timeout=180,
        )
        assert p.returncode != 0 and not p.stdout.strip(), (p.returncode, p.stdout)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    print("ok  refuses to run without the kgc package")


def main() -> None:
    with open(os.path.join(CHECKOUT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    check_refuses_without_program()
    check_reference_parser()
    for w in spec["workloads"]:
        for trace in (0, 1):
            check_result(w["name"], trace, spec)


if __name__ == "__main__":
    main()
