"""Noop-sink isolation bench (guide §1.4) + plan capture (guide §7.2).

NOT the driver metric — bench.py stays the frozen measurement. This harness
times individual operators against a noop sink so the computation is measured
without the parquet sink, labels each job (guide §1.5), and dumps
`.explain("formatted")` for every timed query to plans/r06/.

Usage:
    python bench_extra.py [--sf-dir /root/testdata/sf0.1] [--plans-dir plans/r06]
        [--tag before|after] [--only similarity_exact,...] [--repeats 2]

Prints one JSON line {"queries": {name: [secs...]}, ...}.
"""

from __future__ import annotations

import argparse
import io
import json
import os
import sys
import tempfile
import time
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def noop(df):
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--plans-dir", default=None, help="dump explain('formatted') per query here")
    ap.add_argument("--tag", default=None, help="suffix for plan files, e.g. before/after")
    ap.add_argument("--only", default=None, help="comma-separated query names")
    ap.add_argument("--repeats", type=int, default=2)
    args = ap.parse_args()

    import re

    m = re.search(r"sf([0-9.]+)", args.sf_dir)
    sf = float(m.group(1)) if m else 0.1
    only = set(args.only.split(",")) if args.only else None

    from pyspark.sql import functions as F

    from kgc.session import get_spark

    spark = get_spark(app_name=f"kgc-bench-extra-sf{sf}")
    sc = spark.sparkContext

    timings: dict[str, list[float]] = {}

    def plan_of(df) -> str:
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        return buf.getvalue()

    def timed(name: str, build, action=noop):
        """build() -> DataFrame; timed over `repeats` runs against noop.

        The plan dump is taken from the LAST executed DataFrame object, so
        with AQE it is the FINAL adaptive plan (isFinalPlan=true — runtime
        join conversions and coalesced reads visible), not the initial one."""
        if only is not None and name not in only:
            return
        runs = []
        df = None
        for i in range(args.repeats):
            sc.setJobDescription(f"{name} [{i}]")
            # build() INSIDE the timed region: eager localCheckpoints and
            # driver-side iteration (CC) execute at build time and are part
            # of the operator's honest cost
            t0 = time.time()
            df = build()
            action(df)
            runs.append(round(time.time() - t0, 3))
        sc.setJobDescription(None)
        if args.plans_dir and df is not None:
            os.makedirs(args.plans_dir, exist_ok=True)
            suffix = f"_{args.tag}" if args.tag else ""
            with open(os.path.join(args.plans_dir, f"{name}{suffix}.txt"), "w") as f:
                f.write(plan_of(df))
        timings[name] = runs
        print(f"[bench_extra] {name}: {runs}", file=sys.stderr)

    # ---- triples input: materialize once, cache (mirrors bench.py) ---------
    from kgc.plans.run import build_triples_fused

    tdir = tempfile.mkdtemp(prefix="kgc_bx_triples_")
    build_triples_fused(spark, sf).write.mode("overwrite").parquet(tdir)
    triples = spark.read.parquet(tdir).cache()
    triples.count()

    from kgc.operators.attribution import attribute
    from kgc.operators.recommend import recommend
    from kgc.operators.similarity import (
        build_profiles_bitmask,
        candidate_pairs_lsh,
        hot_activities,
        rescore_pairs_bitmask,
        similar_to_exact,
        touch_items,
    )
    from kgc.sources.synth import part_of_dim, synth_documents

    part_of = part_of_dim(spark)
    timed("attribution", lambda: attribute(triples, part_of))
    timed("similarity_exact", lambda: similar_to_exact(triples))
    stop = hot_activities(touch_items(triples))
    timed("similarity_lsh", lambda: candidate_pairs_lsh(triples, stoplist=stop))

    def _lsh_bitmask():
        items = touch_items(triples)
        n_bits = items.agg(F.max("act")).collect()[0][0] + 1
        cand = candidate_pairs_lsh(triples, stoplist=stop).select("ind_a", "ind_b")
        return rescore_pairs_bitmask(cand, build_profiles_bitmask(items, n_bits))

    timed("similarity_lsh_bitmask", _lsh_bitmask)

    def _recommend():
        sim = similar_to_exact(triples)
        return recommend(triples, sim)

    timed("recommend_fresh", _recommend)

    # ---- pipeline building blocks (untimed inputs from parquet) ------------
    timed("synth_documents_gen", lambda: synth_documents(spark, sf))

    ddir = tempfile.mkdtemp(prefix="kgc_bx_docs_")
    synth_documents(spark, sf).write.mode("overwrite").parquet(ddir)
    docs = spark.read.parquet(ddir)

    from kgc.operators.extract import extract_mentions
    from kgc.operators.link import link_mentions, mentions_to_long
    from kgc.operators.spans import explode_spans

    timed("extract_mentions", lambda: extract_mentions(explode_spans(docs)))

    mdir = tempfile.mkdtemp(prefix="kgc_bx_mentions_")
    extract_mentions(explode_spans(docs)).write.mode("overwrite").parquet(mdir)
    mentions = spark.read.parquet(mdir)

    from kgc.sources.synth import alias_catalog

    cat = alias_catalog(spark, sf)
    timed("link_mentions", lambda: link_mentions(mentions_to_long(mentions), cat))

    from kgc.operators.canon import entities_canon_map, salted_dedup
    from kgc.sources.synth import alias_edges

    def _canon():
        return entities_canon_map(salted_dedup(alias_edges(cat), ["src", "dst"]))

    timed("canonicalize", _canon)

    # ---- bench.py operator-family keys, same call shape --------------------
    import __spark_entry__ as E

    sf_dir = args.sf_dir
    for key, fn in [
        ("rel_revenue_by_nation", E.q_rel_revenue_by_nation),
        ("rel_topk_window", E.q_rel_topk_orders_per_cust),
        ("ann_cosine_topk", E.q_ann_cosine_topk),
        ("ann_ivf_topk", E.q_ann_ivf_topk),
        ("dd_minhash_buckets", E.q_dd_minhash_buckets),
        ("dd_minhash_banded", E.q_dd_minhash_banded),
        ("dd_jaccard_pairs", E.q_dd_jaccard_pairs),
        ("ts_text_stats", E.q_ts_text_stats),
        ("ts_subword_tokens", E.q_ts_subword_tokens),
        ("cur_decontaminate", E.q_cur_decontaminate),
        ("cur_quota_sample", E.q_cur_quota_sample),
        ("cur_pack_greedy", E.q_cur_pack_greedy),
        ("cur_diversity_sample", E.q_cur_diversity_sample),
    ]:
        timed(key, lambda fn=fn: fn(spark, sf_dir))

    print(json.dumps({"sf": sf, "queries": timings}))
    spark.stop()


if __name__ == "__main__":
    main()
