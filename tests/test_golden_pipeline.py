"""T2/T3/T4: golden end-to-end vs closed-form oracle, invariants, resume."""

import glob
import json
import os

import pytest
from pyspark.sql import functions as F

from kgc.operators.recommend import recommend
from kgc.operators.similarity import (
    candidate_pairs_lsh,
    hot_activities,
    pr_eval,
    similar_to_exact,
    touch_items,
)
from kgc.operators.spans import span_sequence_fingerprint
from kgc.plans.run import run_pipeline
from kgc.sources.synth import ground_truth_triples, synth_documents

SF = 0.001


@pytest.fixture(scope="module")
def pipeline(spark, tmp_path_factory):
    workdir = str(tmp_path_factory.mktemp("kgc_golden"))
    tables = run_pipeline(spark, workdir, SF, force=True)
    return workdir, tables


class TestGolden:
    def test_triples_pr_is_perfect(self, spark, pipeline):
        _, tables = pipeline
        gt = ground_truth_triples(spark, SF)
        keys = ["subj", "pred", "obj", "ts", "doc_id", "span_idx"]
        pr = pr_eval(tables["triples"].select(*keys), gt.select(*keys), keys)
        assert pr["precision"] >= 0.95 and pr["recall"] >= 0.95, pr

    def test_span_sequence_invariant(self, spark, pipeline):
        workdir, tables = pipeline
        original = synth_documents(spark, SF)
        stored = tables["documents"]
        a = span_sequence_fingerprint(original).withColumnRenamed("span_fp", "fp_a")
        b = span_sequence_fingerprint(stored).withColumnRenamed("span_fp", "fp_b")
        joined = a.join(b, "doc_id", "full")
        mismatches = joined.filter(
            F.col("fp_a").isNull() | F.col("fp_b").isNull() | (F.col("fp_a") != F.col("fp_b"))
        ).count()
        assert mismatches == 0

    def test_linear_weights_sum_to_one(self, pipeline):
        _, tables = pipeline
        sums = (
            tables["attributions"].filter("model = 'linear'")
            .groupBy("individual", "campaign").agg(F.sum("weight").alias("s"))
            .filter(F.abs(F.col("s") - 1.0) > 1e-9)
        )
        assert sums.count() == 0

    def test_first_last_one_row_per_conversion(self, pipeline):
        _, tables = pipeline
        for model in ("firstTouch", "lastTouch"):
            dupes = (
                tables["attributions"].filter(F.col("model") == model)
                .groupBy("individual", "campaign").count().filter("count > 1")
            )
            assert dupes.count() == 0, model

    def test_similarity_range_and_uniqueness(self, pipeline):
        _, tables = pipeline
        sim = tables["similar_to"]
        assert sim.filter((F.col("similarity") <= 0) | (F.col("similarity") > 1.0 + 1e-12)).count() == 0
        assert sim.filter(F.col("ind_a") >= F.col("ind_b")).count() == 0
        assert sim.groupBy("ind_a", "ind_b").count().filter("count > 1").count() == 0

    def test_recommendations_shape(self, pipeline):
        _, tables = pipeline
        recs = tables["recommendations"]
        assert recs.filter("rank < 1 or rank > 5").count() == 0
        assert recs.groupBy("individual").count().filter("count > 5").count() == 0
        # never recommend an owned product
        owned = tables["triples"].filter("pred = 'PURCHASED'").select(
            F.col("subj").alias("individual"), F.col("obj").alias("product")
        )
        assert recs.join(owned, ["individual", "product"], "left_semi").count() == 0


class TestLSH:
    # The P/R bar is pinned at sf0.01 (SURVEY.md §4.3) — at sf0.001 profiles
    # are too sparse for a meaningful high-similarity population (5 pairs).
    def test_lsh_recall_on_high_similarity_pairs(self, spark):
        gt = ground_truth_triples(spark, 0.01).cache()
        exact = similar_to_exact(gt).cache()
        stop = hot_activities(touch_items(gt))
        # only the planted near-universal hot key is stop-listed
        assert [r["act"] for r in stop.collect()] == [0]
        lsh = candidate_pairs_lsh(gt, stoplist=stop).cache()
        high = exact.filter("similarity >= 0.5")
        pr = pr_eval(lsh, high, ["ind_a", "ind_b"])
        assert pr["recall"] >= 0.95, pr
        # emitted similarity values are exact on every pair LSH finds
        j = lsh.withColumnRenamed("similarity", "s2").join(exact, ["ind_a", "ind_b"])
        assert j.filter(F.abs(F.col("similarity") - F.col("s2")) > 1e-12).count() == 0
        # and kNN recommendations from LSH edges match exact-edge recommendations
        r_exact = recommend(gt, exact)
        r_lsh = recommend(gt, lsh)
        pr_rec = pr_eval(r_lsh, r_exact, ["individual", "product"])
        assert pr_rec["recall"] >= 0.95 and pr_rec["precision"] >= 0.95, pr_rec


class TestAutoSimilaritySelect:
    def test_auto_engages_lsh_above_threshold(self, spark, tmp_path):
        """VERDICT r2 #1 pipeline-level: with a threshold below the corpus's
        predicted Σ C(deg,2) the auto mode must build the similarity stage
        through the LSH path — no manual --lsh-sim — and its edges must
        still recall the exact path's high-similarity pairs."""
        info = {}
        tables = run_pipeline(
            spark, str(tmp_path / "auto_lsh"), SF, force=True,
            sim_pair_threshold=10.0, info=info,
        )
        assert info["sim_mode"] == "lsh"
        assert info["sim_predicted_pairs"] > 10.0
        exact_high = similar_to_exact(tables["triples"]).filter("similarity >= 0.5")
        pr = pr_eval(tables["similar_to"], exact_high, ["ind_a", "ind_b"])
        assert pr["recall"] >= 0.95, pr

    def test_auto_stays_exact_below_threshold(self, spark, tmp_path):
        info = {}
        run_pipeline(
            spark, str(tmp_path / "auto_exact"), SF, force=True,
            sim_pair_threshold=1e12, info=info,
        )
        assert info["sim_mode"] == "exact"
        assert 0 < info["sim_predicted_pairs"] < 1e12


class TestResume:
    def test_resume_skips_and_reproduces(self, spark, pipeline, capsys):
        workdir, tables = pipeline
        before = {r["doc_id"]: r for r in tables["triples"].collect()}
        tables2 = run_pipeline(spark, workdir, SF)  # no force → all stages resume
        out = capsys.readouterr().out
        assert out.count("resumed from checkpoint") >= 8
        after = {r["doc_id"]: r for r in tables2["triples"].collect()}
        assert before == after

    def test_corrupt_manifest_forces_recompute(self, spark, pipeline, capsys):
        workdir, _ = pipeline
        mpath = os.path.join(workdir, "attribute", "_MANIFEST.json")
        with open(mpath) as f:
            manifest = json.load(f)
        manifest["input_fingerprint"] = "corrupted"
        with open(mpath, "w") as f:
            json.dump(manifest, f)
        run_pipeline(spark, workdir, SF)
        out = capsys.readouterr().out
        assert "stage attribute: computed" in out

    def test_stage_metrics_written(self, pipeline):
        workdir, _ = pipeline
        stages = glob.glob(os.path.join(workdir, "stage_metrics", "*"))
        assert len(stages) >= 8


class TestCrashRecovery:
    def test_mid_pipeline_crash_then_resume(self, spark, tmp_path, monkeypatch):
        """Simulate a crash during the similarity stage: the run dies, a
        fresh run resumes every completed stage and recomputes only the
        rest, and the final triples equal an uninterrupted run's."""
        import kgc.operators.similarity as sim
        from kgc.sources.synth import ground_truth_triples

        workdir = str(tmp_path / "crash")
        real = sim.similar_to_exact

        def boom(*a, **k):
            raise RuntimeError("injected crash")

        monkeypatch.setattr(sim, "similar_to_exact", boom)
        import kgc.plans.run as runmod

        monkeypatch.setattr(runmod, "similar_to_exact", boom)
        with pytest.raises(RuntimeError, match="injected crash"):
            run_pipeline(spark, workdir, SF, force=True)
        monkeypatch.setattr(runmod, "similar_to_exact", real)
        tables = run_pipeline(spark, workdir, SF)  # resume
        gt = ground_truth_triples(spark, SF)
        keys = ["subj", "pred", "obj", "ts", "doc_id", "span_idx"]
        pr = pr_eval(tables["triples"].select(*keys), gt.select(*keys), keys)
        assert pr["precision"] == 1.0 and pr["recall"] == 1.0
        assert tables["recommendations"].count() > 0

    @pytest.mark.parametrize(
        "builder, upstream",
        [
            # doc chain: link raises while ingest/extract finalizes are deferred
            ("link_mentions", ["ingest", "extract", "canonicalize"]),
            # similarity raises while attribute runs beside it
            ("similar_to_exact", ["ingest", "extract", "link", "canonicalize", "triples", "attribute"]),
        ],
    )
    def test_failed_stage_leaves_upstream_manifests(self, spark, tmp_path, monkeypatch, builder, upstream):
        """A stage that raises reaches the caller only after every upstream
        stage's deferred finalize has written its manifest, so a resume
        reuses all of them."""
        import kgc.plans.run as runmod

        def boom(*a, **k):
            raise RuntimeError("injected crash")

        monkeypatch.setattr(runmod, builder, boom)
        workdir = str(tmp_path / "fail")
        with pytest.raises(RuntimeError, match="injected crash"):
            run_pipeline(spark, workdir, SF, force=True)
        missing = [s for s in upstream if not os.path.exists(os.path.join(workdir, s, "_MANIFEST.json"))]
        assert not missing, missing
