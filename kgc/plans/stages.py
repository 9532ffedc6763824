"""The stage protocol both stage DAGs (kgc/plans/run.py, kgc/plans/curate.py)
run through: resume from a matching manifest (op-03) → build → write →
read back → deferred op-05 metrics + manifest finalize.

One ``StageRunner`` is opened per DAG run::

    with StageRunner(spark, workdir, input_fp, force=force) as stages:
        docs = stages.run("ingest", build_docs, bucket_by="doc_id")
        fut = stages.submit("canonicalize", build_canon)  # beside the main thread
        ...

Its ``__exit__`` is the only code that waits on a finalize future. On
success it joins every future, so a completed DAG always leaves manifests on
disk; on failure it settles every future before the error propagates, so
the caller never sees a stage mid-write or a finished upstream stage
without its manifest (→ a resume reuses it instead of recomputing).
"""

from __future__ import annotations

import os
import shutil
import time
from concurrent.futures import Future, ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession

from kgc.plans.metrics import partition_metrics

# Writes go through the module attribute (cat.write_table), never a
# from-import: perfbench's traced pass patches it to time catalog writes.
from kgc.sources import catalog as cat

# Separate pools so a concurrently-running STAGE (which itself submits a
# deferred finalize) can never starve the finalize queue: §2.6's "2-3 jobs
# in flight is plenty". Module-level so every runner shares them.
_STAGE_META_POOL = ThreadPoolExecutor(max_workers=1, thread_name_prefix="kgc-stage-meta")
_STAGE_RUN_POOL = ThreadPoolExecutor(max_workers=1, thread_name_prefix="kgc-stage-run")


def _write_metrics_parquet(mdir: str, rows: list) -> None:
    """Overwrite <mdir> with the collected op-05 metric rows as one parquet
    file — same schema `spark.read.parquet` saw from the old Spark write
    (stage string, partition_id int32, rows_out int64, fingerprint int64)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    shutil.rmtree(mdir, ignore_errors=True)
    os.makedirs(mdir, exist_ok=True)
    table = pa.table(
        {
            "stage": pa.array([r["stage"] for r in rows], pa.string()),
            "partition_id": pa.array([r["partition_id"] for r in rows], pa.int32()),
            "rows_out": pa.array([r["rows_out"] for r in rows], pa.int64()),
            "fingerprint": pa.array([r["fingerprint"] for r in rows], pa.int64()),
        }
    )
    pq.write_table(table, os.path.join(mdir, "part-00000.parquet"))


def _settle(futs: list[Future]) -> BaseException | None:
    """Wait on every future; return the first error instead of raising it.
    Iterates the live list, so a future appended meanwhile (a concurrent
    stage's finalize) is seen."""
    first = None
    for f in futs:
        try:
            f.result()
        except Exception as e:  # noqa: BLE001
            first = first or e
    return first


class StageRunner:
    """Runs the stages of one DAG run against `workdir` under one input
    fingerprint. `stage_sec` maps each stage to its wall seconds (0.0 when
    resumed); a build may add its own keys (e.g. similarity_select)."""

    def __init__(self, spark: SparkSession, workdir: str, input_fp: str, force: bool = False):
        self.spark = spark
        self.workdir = workdir
        self.input_fp = input_fp
        self.force = force
        self.stage_sec: dict[str, float] = {}
        self._concurrent: list[Future] = []
        self._finalizes: list[Future] = []

    def __enter__(self) -> StageRunner:
        os.makedirs(self.workdir, exist_ok=True)
        return self

    def __exit__(self, exc_type, exc, tb) -> None:
        # concurrent stages first: each appends its own finalize meanwhile
        err = _settle(self._concurrent)
        err = _settle(self._finalizes) or err
        if exc_type is None and err is not None:
            raise err

    def run(self, name: str, build, bucket_by: str | None = None) -> DataFrame:
        path = os.path.join(self.workdir, name)
        if not self.force:
            cached = cat.resume(self.spark, path, name, self.input_fp)
            if cached is not None:
                print(f"[kgc] stage {name}: resumed from checkpoint")
                self.stage_sec[name] = 0.0
                return cached
        t0 = time.time()
        df = build()
        cat.write_table(df, path, bucket_by=bucket_by)
        out = cat.read_table(self.spark, path)

        # ONE post-write scan serves both the lineage metrics (op-05) and the
        # manifest row count (op-03). The metric rows are partition-count-sized
        # (one per scan task — bounded, never data-sized), so they are collected
        # once and written driver-side with pyarrow (r6).
        def finalize() -> None:
            self.spark.sparkContext.setJobDescription(f"stage {name}: op-05 metrics")
            metric_rows = partition_metrics(out, name).collect()
            _write_metrics_parquet(os.path.join(self.workdir, "stage_metrics", name), metric_rows)
            n_rows = sum(r["rows_out"] for r in metric_rows)
            cat.write_manifest(path, name, self.input_fp, int(n_rows), df.schema.simpleString())

        # Deferred (r6, guide §2.6 overlap rule): the metrics scan has a long
        # single-task tail relative to its size; from a driver thread its
        # tasks back-fill executors while the NEXT stage's build ramps up.
        # Data is fully written before the future exists and only the
        # manifest is written by it, so a crash at worst drops a manifest
        # (→ that stage recomputes on resume, never reads bad data).
        self._finalizes.append(_STAGE_META_POOL.submit(finalize))
        wall = time.time() - t0
        self.stage_sec[name] = round(wall, 3)
        print(f"[kgc] stage {name}: computed in {wall:.1f}s")
        return out

    def submit(self, name: str, build, bucket_by: str | None = None) -> Future:
        """`run` from a driver thread, beside the caller's own stages; the
        future's result is the stage's DataFrame. Job descriptions and
        locality are thread-local and stage dirs disjoint, so the two
        threads share nothing but `stage_sec` (per-key writes)."""
        fut = _STAGE_RUN_POOL.submit(self.run, name, build, bucket_by)
        self._concurrent.append(fut)
        return fut
