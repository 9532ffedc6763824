"""Corpus-curation pipeline — the training-data twin of the KG pipeline
(kgc/plans/run.py), chaining the whole curation family end-to-end:

    quality → exact_dedup → near_dedup → decontam → sample → pack

Each stage checkpoints to ``<workdir>/<stage>/`` with the same
manifest/resume machinery as the KG stages (op-03), emits the SURVIVING
corpus (doc ids + columns the next stage needs), and appends its casualties
to a ``rejects`` ledger (doc_id, stage, reason) — the audit trail a
production curation run ships with its corpus.

Scale shape per stage (each is the gate-tested operator, not a re-derivation):
- quality:     map-only builtin expressions (kgc/operators/curate.py)
- exact_dedup: hash groupBy on md5(text) — bucketed, no skew (content
               hashes are uniform)
- near_dedup:  banded-minhash pairs (hot-bucket capped) → connected
               components → keep min-id per cluster (kgc/operators/dedup.py
               + canon.py — the same CC the entity canonicalizer uses)
- decontam:    benchmark shingles BROADCAST; the corpus side never
               shuffles (kgc/operators/dedup.py contamination_pairs)
- sample:      per-stratum exact-K by md5 rank behind the hash-prefix
               pre-filter (kgc/operators/sample.py quota_sample)
- pack:        one shuffle on hash shard → applyInPandas greedy fold
               (kgc/operators/sample.py pack_greedy)

Usage:
    spark-submit --py-files kgc.zip kgc/plans/curate.py \
        --sf 0.01 --workdir /tmp/kgc_curate [--force] \
        [--min-quality 0.1] [--quota 0] [--budget 256]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kgc.operators.canon import connected_components
from kgc.operators.dedup import contamination_pairs, minhash_banded_pairs
from kgc.operators.sample import pack_greedy, quota_sample
from kgc.plans.stages import StageRunner


def run_curation(
    spark: SparkSession,
    workdir: str,
    docs: DataFrame,
    input_fp: str,
    min_quality: float = 0.1,
    bench_mod: int = 23,
    contam_threshold: float = 0.5,
    quota: int = 0,
    budget: int = 256,
    n_shards: int | None = None,
    max_repetition: float | None = None,
    tokenizer: str = "ws",
    vocab: list[str] | None = None,
    dedup_keep: str = "min_id",
    redact_pii: bool = False,
    force: bool = False,
) -> dict[str, DataFrame]:
    """Run the curation DAG over `docs` (doc_id, text, lang, source, ...).

    `quota`: docs per language stratum kept by the sample stage; 0 disables
    sampling (keep everything that survived the filters). `n_shards=None`
    lets pack_greedy auto-size its shards from a row probe.
    `max_repetition` (r4, default off): when set, the quality stage also
    rejects docs whose Gopher repetition signals exceed it
    (max(dup_line_fraction, top_bigram_fraction) > max_repetition —
    boilerplate/template spam that the ratio features score as natural
    prose; ~0.2 is the Gopher operating point for the bigram rule).
    `tokenizer='subword'` (op-60, r5, default 'ws') packs against the
    greedy longest-match subword count over `vocab` instead of the
    whitespace proxy — the budget a token-budgeted trainer actually pays;
    both the tokenizer name and a vocab digest fold into the shared stage
    fingerprint (the ADVICE-r3 rule: parameter changes must invalidate
    stage manifests, never silently resume stale outputs).
    `dedup_keep='best_quality'` (op-61, r5, default 'min_id') makes the
    near-dedup stage keep each cluster's highest-quality member (6dp
    rank, id tie-break — keep_best_per_cluster) instead of the min-id
    one; exact dedup keeps min_id either way (identical text ⇒ identical
    quality, so 'best' is not defined beyond the tie-break there).
    `redact_pii=True` (op-65, r5, default off) rewrites the corpus text
    through redact_pii BEFORE any stage, so every downstream signal
    (quality, dedup shingles, decontam, packing) sees the redacted text —
    redacting after dedup would let two docs differing only in their PII
    escape the near-dup pass. Map-only, and a fingerprint parameter like
    every other knob.
    Returns the stage tables plus the `rejects` ledger and the funnel
    counts.

    Stage-resume fingerprint = input_fp + EVERY curation parameter
    (ADVICE r3): re-running in the same workdir with a different
    --min-quality/--quota/... must invalidate downstream stage manifests,
    not silently resume outputs computed under the old parameters."""
    shard_tag = "auto" if n_shards is None else str(n_shards)
    rep_tag = "off" if max_repetition is None else f"{max_repetition:g}"
    if tokenizer == "ws":
        tok_tag = "ws"
    else:  # vocab CONTENT is a parameter too: digest it into the fingerprint
        import hashlib

        tok_tag = f"{tokenizer}-{hashlib.md5(chr(10).join(vocab or []).encode()).hexdigest()[:8]}"
    input_fp = (
        f"{input_fp}-q{min_quality:g}-bm{bench_mod}-ct{contam_threshold:g}"
        f"-k{quota}-b{budget}-s{shard_tag}-r{rep_tag}-t{tok_tag}-d{dedup_keep}"
        f"-p{'on' if redact_pii else 'off'}"
    )
    with StageRunner(spark, workdir, input_fp, force=force) as stages:
        if redact_pii:
            from kgc.operators.pii import redact_pii as _redact

            # materialized as its OWN checkpointed stage, not a lazy transform:
            # six downstream stages re-derive `docs`, and re-running the 3-regex
            # rewrite per consumer cost +39% wall on the 1M-doc probe; one
            # materialized pass restores the map-only price (BENCH §2)
            _in = docs
            docs = stages.run("redact", lambda: _redact(_in), bucket_by="doc_id")
        rejects: list[DataFrame] = []

        def reject(ids: DataFrame, stage: str, reason_col):
            rejects.append(
                ids.select(
                    F.col("doc_id"), F.lit(stage).alias("stage"), reason_col.alias("reason")
                )
            )

        # -- quality: score every doc, keep quality_score >= min_quality ----
        def build_quality():
            # quality_score is computed MAP-ONLY on every row (r6): the guarded
            # quality_score_col expression scores empty/null-text docs 0.0
            # inline (ANSI-safe — the `when` branch guards the divisions), so
            # the r5 shape's score-the-non-empty-slice + left-join-back (a
            # sort-merge self-join: two full-corpus exchanges + sorts inside
            # the heaviest curation stage) collapses into a projection. Same
            # rows, same schema/order (doc_id is docs' leading column).
            from kgc.operators.curate import quality_score_col

            out = docs.select(
                "doc_id", *[c for c in docs.columns if c != "doc_id"]
            ).withColumn("quality_score", quality_score_col("text"))
            if max_repetition is not None:
                from kgc.operators.curate import repetition_features

                rep = repetition_features(docs).select(
                    "doc_id",
                    F.greatest("dup_line_fraction", "top_bigram_fraction").alias("rep_score"),
                )
                out = out.join(rep, "doc_id", "left").withColumn(
                    "rep_score", F.coalesce("rep_score", F.lit(0.0))
                )
            return out

        scored = stages.run("quality", build_quality, bucket_by="doc_id")
        keep_pred = F.col("quality_score") >= min_quality
        if max_repetition is not None:
            keep_pred = keep_pred & (F.col("rep_score") <= max_repetition)
        kept_q = scored.filter(keep_pred)
        rep_score = F.col("rep_score") if max_repetition is not None else F.lit(0.0)
        reject(
            scored.filter(~keep_pred),
            "quality",
            F.when(
                F.col("quality_score") < min_quality,
                F.concat(F.lit("quality_score="), F.col("quality_score").cast("string")),
            ).otherwise(F.concat(F.lit("rep_score="), rep_score.cast("string"))),
        )

        # -- exact_dedup: keep the min doc_id of each identical-content group
        def build_exact():
            keep = (
                kept_q.groupBy(F.md5("text").alias("_h"))
                .agg(F.min("doc_id").alias("doc_id"))
                .drop("_h")
            )
            return kept_q.join(keep, "doc_id", "left_semi")

        kept_e = stages.run("exact_dedup", build_exact, bucket_by="doc_id")
        reject(kept_q.join(kept_e, "doc_id", "left_anti"), "exact_dedup",
               F.lit("exact_duplicate"))

        # -- near_dedup: banded-minhash pairs -> CC -> keep one per cluster
        def build_near():
            pairs = minhash_banded_pairs(kept_e, threshold=0.5)
            edges = pairs.select(
                F.col("id_a").alias("src"), F.col("id_b").alias("dst")
            ).localCheckpoint(eager=True)  # CC iterates; don't re-derive shingles per round
            cc = connected_components(edges)
            if dedup_keep == "best_quality":
                from kgc.operators.dedup import keep_best_per_cluster

                # kept_e still carries quality_score from the quality stage
                keep = (
                    keep_best_per_cluster(
                        kept_e, cc, kept_e.select("doc_id", "quality_score")
                    )
                    .filter(F.col("doc_id") == F.col("keep_doc_id"))
                    .select("doc_id")
                )
            elif dedup_keep == "min_id":
                keep = (
                    kept_e.select(F.col("doc_id").alias("node"))
                    .join(cc, "node", "left")
                    .filter(F.col("component").isNull() | (F.col("component") == F.col("node")))
                    .select(F.col("node").alias("doc_id"))
                )
            else:
                raise ValueError(
                    f"unknown dedup_keep {dedup_keep!r} (expected 'min_id' or 'best_quality')"
                )
            return kept_e.join(keep, "doc_id", "left_semi")

        kept_n = stages.run("near_dedup", build_near, bucket_by="doc_id")
        reject(kept_e.join(kept_n, "doc_id", "left_anti"), "near_dedup",
               F.lit("near_duplicate_cluster_member"))

        # -- decontam: drop docs containing too much benchmark material -----
        def build_decontam():
            is_bench = F.pmod(F.col("doc_id"), F.lit(bench_mod)) == 0
            contaminated = (
                contamination_pairs(kept_n.filter(~is_bench), kept_n.filter(is_bench))
                .filter(F.col("containment") >= contam_threshold)
                .select(F.col("train_id").alias("doc_id"))
                .distinct()
            )
            # benchmark docs themselves leave the training corpus too
            return (
                kept_n.filter(~is_bench).join(contaminated, "doc_id", "left_anti")
            )

        kept_d = stages.run("decontam", build_decontam, bucket_by="doc_id")
        reject(kept_n.join(kept_d, "doc_id", "left_anti"), "decontam",
               F.when(F.pmod(F.col("doc_id"), F.lit(bench_mod)) == 0,
                      "benchmark_slice").otherwise("contaminated"))

        # -- sample: per-language quota (optional) --------------------------
        if quota > 0:
            def build_sample():
                keep = quota_sample(kept_d, "lang", k=quota).select(
                    F.col("id").alias("doc_id")
                )
                return kept_d.join(keep, "doc_id", "left_semi")

            kept_s = stages.run("sample", build_sample, bucket_by="doc_id")
            reject(kept_d.join(kept_s, "doc_id", "left_anti"), "sample",
                   F.lit("over_stratum_quota"))
        else:
            kept_s = kept_d

        # -- pack: token-budget bin assignment over the survivors -----------
        def build_pack():
            return pack_greedy(
                kept_s, budget=budget, n_shards=n_shards,
                tokenizer=tokenizer, vocab=vocab,
            ).select("shard_id", F.col("id").alias("doc_id"), "n_tokens", "bin_id")

        packs = stages.run("pack", build_pack)

        def build_rejects():
            out = rejects[0]
            for r in rejects[1:]:
                out = out.unionByName(r)
            return out

        rejects_df = stages.run("rejects", build_rejects)

        return {
            "scored": scored,
            "corpus": kept_s,
            "packs": packs,
            "rejects": rejects_df,
        }


def synth_curation_docs(spark: SparkSession, sf: float) -> DataFrame:
    """A documents-table-shaped corpus at ANY sf from the deterministic kgc
    generator (the dedup_recall_eval recipe): spans flattened to text,
    numeric doc_id parsed from the generator id, lang derived by hash —
    no external data, so the 1M-doc robustness evidence reproduces with
    one command (--synth)."""
    from kgc.sources.synth import synth_documents

    langs = "array('en','zh','es','de','fr')"
    return synth_documents(spark, sf).select(
        F.regexp_extract("doc_id", r"(\d+)", 1).cast("long").alias("doc_id"),
        F.array_join(
            F.expr("transform(spans, s -> coalesce(s.text, ''))"), " "
        ).alias("text"),
        F.expr(f"element_at({langs}, cast(pmod(xxhash64(42, doc_id), 5) as int) + 1)").alias("lang"),
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", type=float, default=0.01)
    ap.add_argument("--sf-dir", default=None,
                    help="documents.parquet directory (default /root/testdata/sf<sf>)")
    ap.add_argument("--synth", action="store_true",
                    help="synthesize the corpus at --sf instead of reading --sf-dir "
                         "(scale probes beyond the driver tables)")
    ap.add_argument("--workdir", default="/tmp/kgc_curate")
    ap.add_argument("--force", action="store_true")
    ap.add_argument("--min-quality", type=float, default=0.1)
    ap.add_argument("--quota", type=int, default=0,
                    help="docs kept per language (0 = no sampling stage)")
    ap.add_argument("--budget", type=int, default=256)
    ap.add_argument("--bench-mod", type=int, default=23,
                    help="doc_id %% N == 0 marks the benchmark slice")
    ap.add_argument("--contam-threshold", type=float, default=0.5,
                    help="drop training docs at/above this benchmark containment")
    ap.add_argument("--shards", type=int, default=None,
                    help="pack_greedy shard count (default: auto-sized from a row probe)")
    ap.add_argument("--max-repetition", type=float, default=None,
                    help="also reject docs whose Gopher repetition score "
                         "(max of dup-line and top-bigram fraction) exceeds this "
                         "(off by default; ~0.2 is the Gopher operating point)")
    ap.add_argument("--tokenizer", choices=("ws", "subword"), default="ws",
                    help="pack-stage token counter: whitespace proxy (default) "
                         "or op-60 longest-match subword over --vocab")
    ap.add_argument("--vocab", default=None,
                    help="subword vocab file (default: the committed "
                         "data/vocab/subword_vocab_v1.txt next to this repo)")
    ap.add_argument("--dedup-keep", choices=("min_id", "best_quality"),
                    default="min_id",
                    help="near-dedup cluster keep rule: min doc id (default) "
                         "or op-61 highest-quality member")
    ap.add_argument("--redact-pii", action="store_true",
                    help="op-65: redact emails/IPv4s/phone digit runs from "
                         "text before any stage (typed placeholders)")
    ap.add_argument("--cpus", type=int, default=None)
    args = ap.parse_args()

    vocab = None
    if args.tokenizer == "subword":
        # resolve from THIS file's real path, not the kgc package location —
        # under spark-submit the package may import from the --py-files zip,
        # but the main script always runs from the repo checkout
        from kgc.operators.tokenize import load_vocab

        vocab_path = args.vocab or os.path.join(
            os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
            "data", "vocab", "subword_vocab_v1.txt",
        )
        vocab = load_vocab(vocab_path)

    from kgc.session import get_spark

    spark = get_spark(app_name=f"kgc-curate-sf{args.sf}", cpus=args.cpus)
    if args.synth:
        import tempfile

        # materialize once so every stage reads parquet, not the generator
        synth_dir = os.path.join(tempfile.gettempdir(), f"kgc_curate_synth_sf{args.sf:g}")
        if not os.path.isdir(synth_dir):
            synth_curation_docs(spark, args.sf).write.mode("overwrite").parquet(synth_dir)
        docs = spark.read.parquet(synth_dir)
        fp = f"synth-curate-sf{args.sf:g}"
    else:
        sf_dir = args.sf_dir or f"/root/testdata/sf{args.sf:g}"
        docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        # CONTENT fingerprint, not the path string (ADVICE r3): if the
        # parquet under the same path changes, stage manifests invalidate
        # (run.py's established pattern).
        from kgc.plans.metrics import table_fingerprint

        fp = f"docs-{table_fingerprint(docs)}"
    t0 = time.time()
    tables = run_curation(
        spark, args.workdir, docs, input_fp=fp,
        min_quality=args.min_quality, quota=args.quota, budget=args.budget,
        bench_mod=args.bench_mod, contam_threshold=args.contam_threshold,
        n_shards=args.shards, max_repetition=args.max_repetition,
        tokenizer=args.tokenizer, vocab=vocab, dedup_keep=args.dedup_keep,
        redact_pii=args.redact_pii, force=args.force,
    )
    n_in = docs.count()
    n_out = tables["corpus"].count()
    n_bins = tables["packs"].select("shard_id", "bin_id").distinct().count()
    funnel = {
        r["stage"]: r["n"]
        for r in tables["rejects"].groupBy("stage").agg(F.count("*").alias("n")).collect()
    }
    wall = time.time() - t0
    print(json.dumps({
        "docs_in": n_in, "docs_out": n_out, "bins": n_bins,
        "rejected_per_stage": funnel,
        "wall_sec": round(wall, 2), "docs_per_sec": round(n_in / wall, 1),
    }))
    spark.stop()


if __name__ == "__main__":
    main()
