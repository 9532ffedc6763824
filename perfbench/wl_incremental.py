"""`incremental` workload: streaming construction, one landed batch at a time.

Set-up generates the corpus once (cached), writes it split into batches
(doc_bucket(seed, B)) to a staging area and bootstraps the two dimensions the stream probes
(`kgc.streaming.construct.bootstrap_dims`). One timed iteration lands the next
batch's files in the watched directory and drains it with
`streaming_construct` (`wall_s`: batch landed → its triples committed to the
sink); `read_s` is the sink read-back after that drain. Similarity does no
work here.
"""

from __future__ import annotations

import glob
import os
import time

from pyspark.sql import functions as F

from common import NATURAL_KEY, doc_bucket, fold, parsed_triples
from harness import READS_PER_ITER, log, median, noop

# sf: corpus scale (1e6 docs per unit); the corpus is split into `batches`
# landings, the first `warm` of which are drained during set-up.
SIZES = {
    "bench": {"sf": 0.016, "batches": 16, "warm": 6, "layer_reps": 3},
    "smoke": {"sf": 0.002, "batches": 4, "warm": 1, "layer_reps": 1},
}


class Incremental:
    name = "incremental"

    def __init__(self, work, seed: int, size: str):
        self.work = work
        self.spark = work.spark
        self.seed = seed
        self.cfg = SIZES[size]
        self.sf = self.cfg["sf"]
        self.n_batches = self.cfg["batches"]
        self.staging = work.path("staging")
        self.docs_dir = work.path("docs")
        self.sink = work.path("sink")
        self.ckpt = work.path("checkpoint")
        self.landed: list[list[str]] = []
        self.drains: list[dict] = []  # per drain: batch, rows after, fold
        self.first_drain_s = 0.0

    # --- set-up -----------------------------------------------------------
    def source(self) -> None:
        from kgc.sources.synth import synth_documents

        self.corpus = synth_documents(self.spark, self.sf).withColumn(
            "batch", doc_bucket(self.seed, self.n_batches)
        ).cache()
        self.corpus.count()

    def generate(self) -> None:
        self.corpus.write.mode("overwrite").partitionBy("batch").parquet(self.staging)

    def prepare(self) -> None:
        from kgc.schemas import DOCS
        from kgc.streaming.construct import bootstrap_dims

        self.corpus.unpersist()
        all_docs = self.spark.read.schema(DOCS).parquet(self.staging)
        self.res, self.canon = bootstrap_dims(self.spark, all_docs, self.sf)
        self.batch_files = [
            sorted(glob.glob(os.path.join(self.staging, f"batch={b}", "*.parquet")))
            for b in range(self.n_batches)
        ]
        os.makedirs(self.docs_dir)
        log(f"incremental: {self.n_batches} batches at sf{self.sf}")

    def warm(self) -> list[float]:
        walls = [self._drain_next()["wall"] for _ in range(self.cfg["warm"])]
        self.first_drain_s = walls[0]
        return walls

    # --- timed ------------------------------------------------------------
    def _land(self, b: int) -> list[str]:
        moved = []
        for f in self.batch_files[b]:
            dst = os.path.join(self.docs_dir, f"b{b:03d}-{os.path.basename(f)}")
            os.rename(f, dst)
            moved.append(dst)
        self.landed.append(moved)
        return moved

    def _drain_next(self) -> dict:
        from kgc.streaming.construct import streaming_construct

        b = len(self.landed)
        self._land(b)
        t0 = time.perf_counter()
        sink = streaming_construct(self.spark, self.docs_dir, self.res, self.canon, self.sink, self.ckpt)
        wall = time.perf_counter() - t0
        reads, folds = [], set()
        for _ in range(READS_PER_ITER):
            # a fresh DataFrame per read: a consumer's read lists the sink
            t1 = time.perf_counter()
            folds.add(fold(self.spark.read.schema(sink.schema).parquet(self.sink), NATURAL_KEY))
            reads.append(time.perf_counter() - t1)
        f = folds.pop() if len(folds) == 1 else (-1, 0)  # reads that disagree fail the check
        prev = self.drains[-1]["fold"][0] if self.drains else 0
        self.drains.append({"batch": b, "fold": f})
        return {"wall": wall, "reads": reads, "items": f[0] - prev}

    def exhausted(self) -> bool:
        return len(self.landed) >= self.n_batches

    def iterate(self) -> dict:
        return self._drain_next()

    # --- checks (outside every timed region) --------------------------------
    def verify(self) -> tuple[bool, list[bool]]:
        """After each drain the sink must hold exactly the ground-truth
        triples of the batches landed so far (count + checksum); at the end
        no natural key may repeat."""
        from kgc.schemas import DOCS
        from kgc.sources.synth import ind_width, n_individuals_for

        docs = self.spark.read.schema(DOCS).parquet(self.docs_dir)
        gt = parsed_triples(docs, ind_width(n_individuals_for(self.sf))).withColumn(
            "batch", doc_bucket(self.seed, self.n_batches)
        )
        per_batch = {
            r["batch"]: (int(r["n"]), int(r["x"] or 0))
            for r in gt.groupBy("batch")
            .agg(F.count(F.lit(1)).alias("n"), F.bit_xor(F.xxhash64(*NATURAL_KEY)).alias("x"))
            .collect()
        }
        n, x, ok_after = 0, 0, []
        for d in self.drains:
            bn, bx = per_batch.get(d["batch"], (0, 0))
            n, x = n + bn, x ^ bx
            ok_after.append(d["fold"] == (n, x))
        sink = self.spark.read.parquet(self.sink)
        total = sink.count()
        distinct = sink.dropDuplicates(NATURAL_KEY).count()
        ok = total == distinct
        if not ok:
            log(f"incremental: sink holds {total} rows but {distinct} natural keys")
        for d, good in zip(self.drains, ok_after):
            if not good:
                log(f"incremental: sink after batch {d['batch']} differs from the ground truth")
        log(f"incremental: sink holds {total} triples after {len(self.drains)} drains")
        warm = self.cfg["warm"]
        return ok and all(ok_after[:warm]), [ok and g for g in ok_after[warm:]]

    # --- traced-only layer measurements ------------------------------------
    def layers(self, tracer) -> dict[str, float]:
        """Growing prefixes of the stream's per-batch plan, run as a batch job
        on the first landed batch: spans → +extract → +link → +canonical
        rewrite. A layer's self time (and CPU, shuffle) is the difference
        between consecutive prefixes."""
        from kgc.operators.canon import entities_canon_map, salted_dedup
        from kgc.operators.extract import extract_mentions
        from kgc.operators.link import link_triples_wide_with_dim
        from kgc.operators.spans import explode_spans
        from kgc.operators.triples import canonical_rewrite
        from kgc.schemas import DOCS
        from kgc.sources.synth import alias_catalog, alias_edges

        docs = self.spark.read.schema(DOCS).parquet(*self.landed[0])
        plans = {
            "spans": lambda: explode_spans(docs),
            "extract": lambda: extract_mentions(explode_spans(docs)),
            "link": lambda: link_triples_wide_with_dim(extract_mentions(explode_spans(docs)), self.res),
            "triples": lambda: canonical_rewrite(
                link_triples_wide_with_dim(extract_mentions(explode_spans(docs)), self.res), self.canon
            ),
            "canon": lambda: entities_canon_map(
                salted_dedup(alias_edges(alias_catalog(self.spark, self.sf)), ["src", "dst"])
            ),
        }
        spans: dict[str, list[dict]] = {}
        for _ in range(self.cfg["layer_reps"]):
            for name, plan in plans.items():
                with tracer.span(f"prefix:{name}") as rec:
                    noop(plan())
                spans.setdefault(name, []).append(rec)
        rows = {name: plan().count() for name, plan in plans.items()}

        def wall(name):
            return median([s["wall_s"] for s in spans[name]])

        def stage(name, key):
            return median([s["stages"][key] for s in spans[name]])

        def self_of(name, parent, key=None):
            if key is None:
                return max(0.0, wall(name) - wall(parent))
            return max(0.0, stage(name, key) - stage(parent, key))

        def exact(name, key):
            return spans[name][0]["stages"][key]

        sink_files = glob.glob(os.path.join(self.sink, "*.parquet"))
        timed_rows = [
            d["fold"][0] - p["fold"][0]
            for p, d in zip(self.drains[:-1], self.drains[1:])
        ][self.cfg["warm"] - 1:]
        return {
            "extract.self_s": self_of("extract", "spans"),
            "extract.cpu_s": self_of("extract", "spans", "cpu_s"),
            "extract.rows_out": float(rows["extract"]),
            "extract.hit_ratio": rows["extract"] / max(rows["spans"], 1),
            "link.self_s": self_of("link", "extract"),
            "link.cpu_s": self_of("link", "extract", "cpu_s"),
            "link.shuffle_mb": max(0.0, exact("link", "shuffle_mb") - exact("extract", "shuffle_mb")),
            "link.resolved_ratio": rows["link"] / max(rows["extract"], 1),
            "triples.self_s": self_of("triples", "link"),
            "triples.shuffle_mb": max(0.0, exact("triples", "shuffle_mb") - exact("link", "shuffle_mb")),
            "triples.rows_out": float(rows["triples"]),
            "canon.self_s": wall("canon"),
            "canon.rows_out": float(rows["canon"]),
            "stream.first_drain_s": self.first_drain_s,
            "stream.rows_per_drain": median(timed_rows) if timed_rows else 0.0,
            "stream.sink_files": float(len(sink_files)),
        }
