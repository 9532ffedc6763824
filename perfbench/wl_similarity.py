"""`similarity` workload: the paper's core on triples already built.

One timed iteration is the similarity stage's calls as `run_pipeline` makes
them on its exact path — touch_items (materialized), the auto-select probe,
similar_to_exact(dict_encode=True) (materialized) — then recommend, folded to
a checksum so every row is computed, and the attribution models (the other
consumer of the triples), folded the same way. Extraction, linking and
catalog writes do no work inside the timed region. The three are bundled
because each alone is a call of 1-2 s whose run-to-run spread is wider than
the bundle's.

Input: the sampled generated documents (parquet) and their triples, read off
the span templates by `common.parsed_triples`, written through
`kgc.sources.catalog` bucketed by subject (the layout the pipeline's triples
stage stores) and cached. `read_s` is one read of that stored table.
"""

from __future__ import annotations

import glob
import os
import time

import reference
from common import (
    ATTRIBUTION_COLS,
    NATURAL_KEY,
    RECOMMEND_COLS,
    SIMILAR_COLS,
    doc_bucket,
    fold,
    parsed_triples,
)
from harness import READS_PER_ITER, log, median, noop

# sf: synthetic corpus scale (1e6 docs per unit, 2e4 individuals per unit).
# A seed keeps docs with doc_bucket(seed, 4) < 3.
SIZES = {
    "bench": {"sf": 0.02, "warm": 2, "pipeline_sf": 0.002, "layer_reps": 2},
    "smoke": {"sf": 0.001, "warm": 1, "pipeline_sf": 0.001, "layer_reps": 1},
}
KEEP_OF = 4


class Similarity:
    name = "similarity"

    def __init__(self, work, seed: int, size: str):
        self.work = work
        self.spark = work.spark
        self.seed = seed
        self.cfg = SIZES[size]
        self.sf = self.cfg["sf"]
        self.docs_path = work.path("docs")
        self.path = work.path("triples")
        self.folds: list[dict] = []

    # --- set-up -----------------------------------------------------------
    def _write_docs(self, sf: float, path: str):
        from kgc.sources.synth import synth_documents

        docs = synth_documents(self.spark, sf).filter(doc_bucket(self.seed, KEEP_OF) < KEEP_OF - 1)
        docs.write.mode("overwrite").parquet(path)
        return self.spark.read.parquet(path)

    def _reference_triples(self):
        from kgc.sources.synth import ind_width, n_individuals_for

        docs = self.spark.read.parquet(self.docs_path)
        return parsed_triples(docs, ind_width(n_individuals_for(self.sf)))

    def source(self) -> None:
        self._write_docs(self.sf, self.docs_path)
        self.parsed = self._reference_triples().cache()
        self.parsed.count()

    def generate(self) -> None:
        from kgc.sources import catalog as cat

        cat.write_table(self.parsed, self.path, bucket_by="subj")

    def prepare(self) -> None:
        from kgc.sources import catalog as cat
        from kgc.sources.synth import part_of_dim

        self.parsed.unpersist()
        self.triples = cat.read_table(self.spark, self.path).cache()
        n = self.triples.count()
        self.part_of = part_of_dim(self.spark)
        log(f"similarity: {n} input triples at sf{self.sf}")

    def warm(self) -> list[float]:
        walls = []
        for _ in range(self.cfg["warm"]):
            t0 = time.perf_counter()
            _, recs, attr = self._outputs()
            fold(recs, RECOMMEND_COLS)
            fold(attr, ATTRIBUTION_COLS)
            walls.append(time.perf_counter() - t0)
        return walls

    # --- timed ------------------------------------------------------------
    def _outputs(self):
        """SIMILAR_TO (materialized, as the stage stores it before recommend
        reads it), RECOMMEND and the attribution models."""
        from kgc.operators.attribution import attribute
        from kgc.operators.recommend import recommend
        from kgc.operators.similarity import (
            AUTO_PAIR_THRESHOLD,
            select_similarity_mode,
            similar_to_exact,
            touch_items,
        )

        items = touch_items(self.triples).localCheckpoint(eager=True)
        mode, _ = select_similarity_mode(self.triples, AUTO_PAIR_THRESHOLD, items=items)
        if mode != "exact":
            raise RuntimeError(f"auto-select chose {mode}; the workload is sized for the exact path")
        sim = similar_to_exact(self.triples, dict_encode=True, items=items).localCheckpoint(eager=True)
        return sim, recommend(self.triples, sim), attribute(self.triples, self.part_of)

    def exhausted(self) -> bool:
        return False

    def iterate(self) -> dict:
        from kgc.sources import catalog as cat

        t0 = time.perf_counter()
        sim, recs, attr = self._outputs()
        out = {"rec": fold(recs, RECOMMEND_COLS), "attr": fold(attr, ATTRIBUTION_COLS)}
        wall = time.perf_counter() - t0
        self.last_outputs = (sim, recs, attr)
        out["sim"] = fold(sim, SIMILAR_COLS)  # already materialized: a check, not work
        reads, inputs = [], set()
        for _ in range(READS_PER_ITER):
            t1 = time.perf_counter()
            inputs.add(fold(cat.read_table(self.spark, self.path), NATURAL_KEY))
            reads.append(time.perf_counter() - t1)
        out["input"] = inputs.pop() if len(inputs) == 1 else None  # reads that disagree fail the check
        self.folds.append(out)
        return {"wall": wall, "reads": reads, "items": out["sim"][0]}

    # --- checks (outside every timed region) --------------------------------
    def verify(self) -> tuple[bool, list[bool]]:
        """Compare the last timed iteration's outputs against the NumPy/pandas
        references in full, then require every timed iteration to have
        produced the same checksums as those verified outputs."""
        gt = self._reference_triples()
        gt_pdf = gt.select("subj", "pred", "obj", "ts").toPandas()
        ref_sim = reference.similar_to(reference.touch_items(gt_pdf))
        sim, recs, attr = self.last_outputs
        problems = {
            "SIMILAR_TO": reference.diff(sim.toPandas(), ref_sim, ["ind_a", "ind_b"]),
            "RECOMMEND": reference.diff(
                recs.toPandas(), reference.recommend(ref_sim, gt_pdf), ["individual", "rank"]
            ),
            "ATTRIBUTION": reference.diff(
                attr.toPandas(), reference.attribution(gt_pdf),
                ["model", "individual", "campaign", "activity", "ts"],
            ),
        }
        ok = True
        for table, why in problems.items():
            if why is not None:
                ok = False
                log(f"similarity: {table} differs from the reference: {why}")
        want = {
            "rec": fold(recs, RECOMMEND_COLS),
            "attr": fold(attr, ATTRIBUTION_COLS),
            "sim": fold(sim, SIMILAR_COLS),
            "input": fold(gt, NATURAL_KEY),
        }
        log(f"similarity: {want['sim'][0]} pairs, {want['rec'][0]} recommendations, "
            f"{want['attr'][0]} attribution rows")
        per_iter = [ok and f == want for f in self.folds]
        return ok, per_iter

    # --- traced-only layer measurements ------------------------------------
    def layers(self, tracer) -> dict[str, float]:
        from kgc.operators.attribution import attribute
        from kgc.operators.recommend import recommend
        from kgc.operators.similarity import (
            AUTO_PAIR_THRESHOLD,
            select_similarity_mode,
            similar_to_exact,
            touch_items,
        )

        spans: dict[str, list[dict]] = {}

        def layer(name, fn):
            with tracer.span(f"layer:{name}") as rec:
                out = fn()
            spans.setdefault(name, []).append(rec)
            return out

        for _ in range(self.cfg["layer_reps"]):
            def select():
                items = touch_items(self.triples).localCheckpoint(eager=True)
                select_similarity_mode(self.triples, AUTO_PAIR_THRESHOLD, items=items)
                return items

            items = layer("similarity.select", select)
            sim = layer(
                "similarity",
                lambda: similar_to_exact(self.triples, dict_encode=True, items=items).localCheckpoint(eager=True),
            )
            layer("recommend", lambda: noop(recommend(self.triples, sim)))
            layer("attribution", lambda: noop(attribute(self.triples, self.part_of)))

        def wall(name):
            return median([s["wall_s"] for s in spans[name]])

        def first(name, key):
            return spans[name][0]["stages"][key]

        m = {
            "similarity.select_s": wall("similarity.select"),
            "similarity.self_s": wall("similarity"),
            "similarity.cpu_s": median([s["stages"]["cpu_s"] for s in spans["similarity"]]),
            "similarity.shuffle_mb": first("similarity", "shuffle_mb"),
            "similarity.pairs_out": float(sim.count()),
            "recommend.self_s": wall("recommend"),
            "recommend.shuffle_mb": first("recommend", "shuffle_mb"),
            "recommend.rows_out": float(recommend(self.triples, sim).count()),
            "attribution.self_s": wall("attribution"),
            "attribution.rows_out": float(attribute(self.triples, self.part_of).count()),
        }
        m.update(self._pipeline_pass(tracer))
        return m

    def _pipeline_pass(self, tracer) -> dict[str, float]:
        """One `run_pipeline` pass (the process's first, so JIT-cold) over a
        small sample of generated docs gives the plans.run and
        sources.catalog layer numbers. A pass is too long for the
        benchmark's per-run budget to be timed as a workload of its own
        (see README)."""
        from kgc.plans.run import run_pipeline
        from kgc.sources import catalog as cat

        sf = self.cfg["pipeline_sf"]
        docs = self._write_docs(sf, self.work.path("pipeline_docs"))
        writes: list[float] = []
        real_write = cat.write_table

        def timed_write(*a, **k):
            t0 = time.perf_counter()
            try:
                return real_write(*a, **k)
            finally:
                writes.append(time.perf_counter() - t0)

        cat.write_table = timed_write
        try:
            wd = self.work.path("pipeline")
            info: dict = {}
            with tracer.span("run_pipeline") as rec:
                run_pipeline(self.spark, wd, sf, docs=docs, force=True, info=info)
        finally:
            cat.write_table = real_write
        stage_sum = sum(v for k, v in info["stage_sec"].items() if k != "similarity_select")
        files = [
            f for f in glob.glob(os.path.join(wd, "*", "**", "*.parquet"), recursive=True)
            if os.sep + "stage_metrics" + os.sep not in f
        ]
        return {
            "run.wall_s": rec["wall_s"],
            "run.stage_sum_s": stage_sum,
            "run.overlap_s": stage_sum - rec["wall_s"],
            "catalog.write_s": sum(writes),
            "catalog.bytes_written": float(sum(os.path.getsize(f) for f in files)),
            "catalog.files_written": float(len(files)),
        }
