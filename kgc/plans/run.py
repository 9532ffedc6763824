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
from kgc.plans.stages import StageRunner
from kgc.sources.synth import alias_catalog, alias_edges, part_of_dim, synth_documents


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
    if docs is not None and input_fp is None:
        # a caller-supplied docs table must carry its own fingerprint:
        # defaulting to the synthetic fp would let a reused workdir resume a
        # stale synthetic-ingest checkpoint and silently ignore `docs`
        from kgc.plans.metrics import table_fingerprint

        input_fp = f"docs-{table_fingerprint(docs)}"
    fp = input_fp or f"synth-sf{sf}-seed42"
    catalog_df = alias_catalog(spark, sf)
    part_of = part_of_dim(spark)

    with StageRunner(spark, workdir, fp, force=force) as stages:
        if info is not None:
            info["stage_sec"] = stages.stage_sec
        # §2.6 overlap: canonicalize depends only on the (range-derived) alias
        # catalog, not on any document stage — run it beside the main thread
        # so its tasks fill executor capacity the doc chain's stage tails
        # leave idle.
        fut_canon = stages.submit(
            "canonicalize",
            lambda: entities_canon_map(salted_dedup(alias_edges(catalog_df), ["src", "dst"])),
        )
        docs_df = stages.run(
            "ingest",
            (lambda: docs) if docs is not None else (lambda: synth_documents(spark, sf)),
            bucket_by="doc_id",
        )
        mentions = stages.run(
            "extract", lambda: extract_mentions(explode_spans(docs_df)), bucket_by="doc_id"
        )
        linked = stages.run(
            "link",
            lambda: link_mentions(mentions_to_long(mentions), catalog_df),
            bucket_by="doc_id",
        )
        canon_map = fut_canon.result()
        triples = stages.run(
            "triples",
            lambda: canonical_triples(assemble_triples(linked), canon_map),
            bucket_by="subj",
        )
        tables = {
            "documents": docs_df,
            "mentions": mentions,
            "linked": linked,
            "entities_canon": canon_map,
            "triples": triples,
        }
        if until == "triples":
            return tables

        # §2.6 overlap: attribute and similarity both depend only on `triples`
        # — run attribute beside the (heavier) similarity stage.
        fut_attr = stages.submit("attribute", lambda: attribute(triples, part_of))

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
                stages.stage_sec["similarity_select"] = round(time.time() - t_sel, 3)
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
            # the Σdeg² pair shuffle carries 8-byte codes instead of id strings
            # — the materialized step measured 13.35 s → 8.88 s median at
            # sf0.1 (flat at sf0.02); output pinned bit-equal to the raw-id
            # scoring (tests/test_ops_core.py)
            return similar_to_exact(triples, items=items)

        # bucket_by="ind_a" (r6): AQE coalescing can legally shrink the pair
        # table to ONE output file (decode-join exchange ~20 MB), and a 1-file
        # table serializes every downstream scan — recommend's map-side
        # WindowGroupLimit then sorts the whole symmetrized stream in one task
        # (measured 2.2 s → 4.6 s). The bucketed write repartitions 1:1 over
        # n_buckets writers, restoring scan parallelism for every consumer.
        similar = stages.run("similarity", build_similar, bucket_by="ind_a")
        attributions = fut_attr.result()
        recs = stages.run("recommend", lambda: recommend(triples, similar))
        tables.update(
            {"attributions": attributions, "similar_to": similar, "recommendations": recs}
        )
        return tables


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
