"""Pipeline stage DAG (SURVEY.md §3.2) — the spark-submit entry point.

Stages: ingest → extract → link → canonicalize → attribute → similarity →
recommend. Each stage checkpoints to ``<workdir>/<stage>/`` with a manifest
binding it to its input fingerprint (op-03) and records per-partition
lineage metrics (op-05); a re-run skips stages whose manifests still match
(resumable restarts).

Usage:
    spark-submit --py-files kgc.zip kgc/plans/run.py \
        --sf 0.01 --workdir /tmp/kgc_run [--force] [--stage NAME] [--until triples] \
        [--lsh-sim | --exact-sim] [--profile cluster|local] [--sim-pair-threshold N]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from pyspark.sql import DataFrame, SparkSession

from kgc.operators.attribution import attribute
from kgc.operators.canon import entities_canon_map, salted_dedup
from kgc.operators.extract import extract_mentions
from kgc.operators.link import link_mentions, mentions_to_long
from kgc.operators.recommend import recommend
from kgc.operators.similarity import (
    AUTO_PAIR_THRESHOLD,
    candidate_pairs_lsh,
    hot_activities,
    select_similarity_mode,
    similar_to_exact,
    touch_items,
)
from kgc.operators.spans import explode_spans
from kgc.operators.triples import assemble_triples, canonical_triples
from kgc.sources import catalog as cat
from kgc.sources.synth import alias_catalog, alias_edges, part_of_dim, synth_documents


def _write_metrics_parquet(mdir: str, rows: list) -> None:
    """Overwrite <mdir> with the collected op-05 metric rows as one parquet
    file — same schema `spark.read.parquet` saw from the old Spark write
    (stage string, partition_id int32, rows_out int64, fingerprint int64)."""
    import shutil

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


def _stage(
    spark: SparkSession,
    workdir: str,
    name: str,
    input_fp: str,
    build,
    bucket_by: str | None = None,
    force: bool = False,
    timings: dict[str, float] | None = None,
    deferred: list | None = None,
) -> DataFrame:
    path = os.path.join(workdir, name)
    if not force:
        cached = cat.resume(spark, path, name, input_fp)
        if cached is not None:
            print(f"[kgc] stage {name}: resumed from checkpoint")
            if timings is not None:
                timings[name] = 0.0
            return cached
    t0 = time.time()
    df = build()
    cat.write_table(df, path, bucket_by=bucket_by)
    out = cat.read_table(spark, path)

    # ONE post-write scan serves both the lineage metrics (op-05) and the
    # manifest row count (op-03). The metric rows are partition-count-sized
    # (one per scan task — bounded, never data-sized), so they are collected
    # once and written driver-side with pyarrow (r6): the r5 shape paid a
    # second Spark job just to write ≤#tasks rows and a third to re-read
    # them for the manifest count.
    def _finalize() -> None:
        from kgc.plans.metrics import partition_metrics

        spark.sparkContext.setJobDescription(f"stage {name}: op-05 metrics")
        metric_rows = partition_metrics(out, name).collect()
        mdir = os.path.join(workdir, "stage_metrics", name)
        _write_metrics_parquet(mdir, metric_rows)
        n_rows = sum(r["rows_out"] for r in metric_rows)
        cat.write_manifest(path, name, input_fp, int(n_rows), df.schema.simpleString())

    if deferred is not None:
        # Deferred finalize (r6, guide §2.6 overlap rule): the metrics scan
        # is a Spark job with a long single-task tail relative to its size;
        # submitting it from a driver thread lets its tasks back-fill
        # executors while the NEXT stage's build ramps up. Durability is
        # unchanged — data is fully written before the future is created,
        # the manifest is written by the future, and run_pipeline JOINS all
        # futures before returning, so a completed call always leaves
        # manifests in place and a crash mid-run at worst drops a manifest
        # (→ that stage recomputes on resume, never reads bad data).
        deferred.append(_STAGE_META_POOL.submit(_finalize))
    else:
        _finalize()
    wall = time.time() - t0
    if timings is not None:
        timings[name] = round(wall, 3)
    print(f"[kgc] stage {name}: computed in {wall:.1f}s")
    return out


# Separate pools so a concurrently-running STAGE (which itself submits a
# deferred finalize) can never starve the finalize queue: §2.6's "2-3 jobs
# in flight is plenty". Module-level so run_pipeline/run_curation share them.
from concurrent.futures import ThreadPoolExecutor as _TPE

_STAGE_META_POOL = _TPE(max_workers=1, thread_name_prefix="kgc-stage-meta")
_STAGE_RUN_POOL = _TPE(max_workers=1, thread_name_prefix="kgc-stage-run")


def _settle(futs: list) -> None:
    """Wait on every future, swallowing its error — on a failure path the
    error being re-raised is the primary one. Iterates the live list, so a
    future appended meanwhile (a concurrent stage's finalize) is seen."""
    for f in futs:
        try:
            f.result()
        except Exception:  # noqa: BLE001
            pass


def run_pipeline(
    spark: SparkSession,
    workdir: str,
    sf: float,
    docs: DataFrame | None = None,
    force: bool = False,
    sim_mode: str = "auto",
    sim_pair_threshold: float = AUTO_PAIR_THRESHOLD,
    input_fp: str | None = None,
    until: str = "recommend",
    info: dict | None = None,
) -> dict[str, DataFrame]:
    """Run stages up to and including `until`; returns the tables built.

    sim_mode: 'exact' | 'lsh' | 'auto' (default). Auto predicts the exact
    path's pair-shuffle size (Σ_act C(deg,2), one cheap agg) and switches to
    the banded-LSH candidate generator above `sim_pair_threshold` — the
    10^12-scale plan engages without a manual flag (VERDICT r2 #1).
    `info`, when supplied, receives {'sim_mode', 'sim_predicted_pairs'}
    (only when the similarity stage actually rebuilds — a manifest resume
    skips the decision along with the stage) plus 'stage_sec': per-stage
    wall seconds (0.0 for resumed stages) with the similarity stage's
    auto-select probe broken out as 'similarity_select', so a bench
    reading can attribute e2e wall to stages instead of guessing which
    share is probe cost vs host noise (VERDICT r3 #6)."""
    if sim_mode not in ("auto", "exact", "lsh"):
        # fail BEFORE any stage runs (and even when until='triples' skips
        # the similarity stage) — a typo must not cost minutes of compute
        raise ValueError(f"sim_mode must be 'auto'|'exact'|'lsh', got {sim_mode!r}")
    os.makedirs(workdir, exist_ok=True)
    if docs is not None and input_fp is None:
        # a caller-supplied docs table must carry its own fingerprint:
        # defaulting to the synthetic fp would let a reused workdir resume a
        # stale synthetic-ingest checkpoint and silently ignore `docs`
        from kgc.plans.metrics import table_fingerprint

        input_fp = f"docs-{table_fingerprint(docs)}"
    stage_sec: dict[str, float] = {}
    if info is not None:
        info["stage_sec"] = stage_sec
    fp = input_fp or f"synth-sf{sf}-seed42"
    catalog_df = alias_catalog(spark, sf)
    part_of = part_of_dim(spark)

    # Futures of the stages run beside the main thread, and of every stage's
    # deferred finalize (see _stage). Joined before EVERY return, so a
    # completed run_pipeline always leaves manifests on disk; settled before
    # a failure is re-raised, so the caller never sees a stage mid-write or
    # a finished upstream stage without its manifest.
    concurrent: list = []
    deferred: list = []

    def _join_deferred() -> None:
        for f in deferred:
            f.result()

    try:
        # §2.6 overlap: canonicalize depends only on the (range-derived) alias
        # catalog, not on any document stage — run it from a driver thread so
        # its tasks fill executor capacity the doc chain's stage tails leave
        # idle. Job descriptions/locality are thread-local; stage dirs are
        # disjoint; stage_sec dict writes are per-key. Exceptions surface at
        # .result().
        fut_canon = _STAGE_RUN_POOL.submit(
            _stage, spark, workdir, "canonicalize", fp,
            lambda: entities_canon_map(salted_dedup(alias_edges(catalog_df), ["src", "dst"])),
            None, force, stage_sec, deferred,
        )
        concurrent.append(fut_canon)
        docs_df = _stage(
            spark, workdir, "ingest", fp,
            (lambda: docs) if docs is not None else (lambda: synth_documents(spark, sf)),
            bucket_by="doc_id", force=force, timings=stage_sec, deferred=deferred,
        )
        mentions = _stage(
            spark, workdir, "extract", fp,
            lambda: extract_mentions(explode_spans(docs_df)),
            bucket_by="doc_id", force=force, timings=stage_sec, deferred=deferred,
        )
        linked = _stage(
            spark, workdir, "link", fp,
            lambda: link_mentions(mentions_to_long(mentions), catalog_df),
            bucket_by="doc_id", force=force, timings=stage_sec, deferred=deferred,
        )
        canon_map = fut_canon.result()
        triples = _stage(
            spark, workdir, "triples", fp,
            lambda: canonical_triples(assemble_triples(linked), canon_map),
            bucket_by="subj", force=force, timings=stage_sec, deferred=deferred,
        )
        tables = {
            "documents": docs_df,
            "mentions": mentions,
            "linked": linked,
            "entities_canon": canon_map,
            "triples": triples,
        }
        if until == "triples":
            _join_deferred()
            return tables

        # §2.6 overlap: attribute and similarity both depend only on `triples`
        # — run attribute from the pool while the (heavier) similarity stage
        # builds on the main thread.
        fut_attr = _STAGE_RUN_POOL.submit(
            _stage, spark, workdir, "attribute", fp,
            lambda: attribute(triples, part_of),
            None, force, stage_sec, deferred,
        )
        concurrent.append(fut_attr)

        def build_similar():
            # exact: blocked self-join (blocking key = activity) — the
            # GraphGist's own co-touch semantics, P/R gate target. lsh: the
            # banded candidate generator (10^12-scale path for the kNN
            # consumer; recall tuned for similarity >= 0.5 pairs). Decided
            # INSIDE the stage builder so a manifest resume skips the
            # degree-histogram action along with the stage itself.
            # touch_items is a full dedup SHUFFLE of the touch stream — pay it
            # ONCE (localCheckpoint) and share across the predict probe, the
            # stop-list, and the chosen path's own consumers.
            t_sel = time.time()
            items = touch_items(triples).localCheckpoint(eager=True)
            mode, predicted = sim_mode, None
            if mode == "auto":
                mode, predicted = select_similarity_mode(triples, sim_pair_threshold, items=items)
                stage_sec["similarity_select"] = round(time.time() - t_sel, 3)
                print(
                    f"[kgc] similarity auto-select: predicted {predicted:.4g} exact "
                    f"candidate pairs (threshold {sim_pair_threshold:.4g}) → {mode}"
                )
            if info is not None:
                info["sim_mode"] = mode
                info["sim_predicted_pairs"] = predicted
            if mode == "lsh":
                stop = hot_activities(items)
                return candidate_pairs_lsh(triples, stoplist=stop, items=items)
            # dict_encode: the Σdeg² pair shuffle carries 8-byte codes instead of
            # id strings — measured 18.4s → 10.5s on the sf0.1 similarity stage;
            # output pinned bit-equal to the plain path (tests/test_ops_core.py)
            return similar_to_exact(triples, dict_encode=True, items=items)

        # bucket_by="ind_a" (r6): AQE coalescing can legally shrink the pair
        # table to ONE output file (decode-join exchange ~20 MB), and a 1-file
        # table serializes every downstream scan — recommend's map-side
        # WindowGroupLimit then sorts the whole symmetrized stream in one task
        # (measured 2.2 s → 4.6 s). The bucketed write repartitions 1:1 over
        # n_buckets writers, restoring scan parallelism for every consumer.
        similar = _stage(
            spark, workdir, "similarity", fp, build_similar,
            bucket_by="ind_a", force=force, timings=stage_sec, deferred=deferred,
        )
        attributions = fut_attr.result()
        recs = _stage(
            spark, workdir, "recommend", fp,
            lambda: recommend(triples, similar),
            force=force, timings=stage_sec, deferred=deferred,
        )
        tables.update(
            {"attributions": attributions, "similar_to": similar, "recommendations": recs}
        )
        _join_deferred()
        return tables
    except BaseException:
        # concurrent stages first: each appends its own finalize to deferred
        _settle(concurrent)
        _settle(deferred)
        raise


def build_triples_fused(spark: SparkSession, sf: float, canon_map: DataFrame | None = None) -> DataFrame:
    """The doc-proportional construction work (docs → canonical triples) as
    ONE lazy plan — no intermediate checkpoints. This is the benchmark/
    scaling mode; the staged pipeline (run_pipeline) is the resumable
    production mode. Entity dimensions (alias catalog, canonical map) are
    corpus-independent and can be prebuilt.
    """
    catalog_df = alias_catalog(spark, sf)
    if canon_map is None:
        canon_map = entities_canon_map(salted_dedup(alias_edges(catalog_df), ["src", "dst"]))
    docs = synth_documents(spark, sf)
    # jvm_prefilter=False: docs come straight off the generator here — a
    # Spark filter on the generator-extracted text field defeats
    # GeneratorNestedColumnAliasing (see extract_mentions docstring)
    mentions = extract_mentions(explode_spans(docs), jvm_prefilter=False)
    linked = link_mentions(mentions_to_long(mentions), catalog_df)
    return canonical_triples(assemble_triples(linked), canon_map)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", type=float, default=0.001)
    ap.add_argument("--workdir", default="/tmp/kgc_run")
    ap.add_argument(
        "--stage", default="all",
        help="'all' (default) or a stage name: invalidate that one stage and "
             "re-run the DAG (upstream stages resume from their manifests)",
    )
    ap.add_argument("--force", action="store_true")
    sim = ap.add_mutually_exclusive_group()
    sim.add_argument("--lsh-sim", dest="sim_mode", action="store_const", const="lsh",
                     help="force the banded-LSH similarity path")
    sim.add_argument("--exact-sim", dest="sim_mode", action="store_const", const="exact",
                     help="force the exact inverted-index similarity path")
    ap.set_defaults(sim_mode="auto")
    ap.add_argument("--profile", default="cluster", choices=["cluster", "local"],
                    help="execution profile setting the auto-select threshold: "
                         "'cluster' 2e9 (pair shuffle a 1000-executor cluster absorbs), "
                         "'local' 1e8 (the measured local[32] exact→LSH crossover, "
                         "BENCH/BASELINE.md §1)")
    ap.add_argument("--sim-pair-threshold", type=float, default=None,
                    help="auto mode switches exact→LSH above this predicted pair "
                         "count (overrides --profile)")
    ap.add_argument("--cpus", type=int, default=None)
    ap.add_argument("--until", default="recommend", choices=["triples", "recommend"])
    args = ap.parse_args()

    from kgc.session import get_spark

    spark = get_spark(app_name=f"kgc-sf{args.sf}", cpus=args.cpus)
    if args.stage != "all":
        from kgc.sources.catalog import invalidate

        invalidate(os.path.join(args.workdir, args.stage))
    from kgc.operators.similarity import sim_threshold_for_profile

    threshold = (
        args.sim_pair_threshold
        if args.sim_pair_threshold is not None
        else sim_threshold_for_profile(args.profile)
    )
    t0 = time.time()
    tables = run_pipeline(
        spark, args.workdir, args.sf, force=args.force, sim_mode=args.sim_mode,
        sim_pair_threshold=threshold, until=args.until,
    )
    n_triples = tables["triples"].count()
    wall = time.time() - t0
    print(json.dumps({"sf": args.sf, "triples": n_triples, "wall_sec": round(wall, 2),
                      "triples_per_sec": round(n_triples / wall, 1)}))
    spark.stop()


if __name__ == "__main__":
    main()
