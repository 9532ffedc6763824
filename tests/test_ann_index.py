"""op-63: incremental IVF index maintenance — the VERDICT r4 #3
done-criteria: append+maintain ≡ batch rebuild on the same corpus, a
planted growth test crossing split_threshold, and probe pruning intact
(the plan half lives in tests/test_plans.py)."""

import pytest
from pyspark.sql import functions as F

from kgc.operators.ann_index import (
    ivf_index_append,
    ivf_index_build,
    ivf_index_maintain,
    ivf_index_query,
    read_index_data,
    read_index_subbooks,
)
from kgc.plans.ann_eval import skewed_corpus


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _centroids(spark, n: int = 8):
    """A fixed explicit codebook both the incremental and the batch path
    share — the codebook is part of the index identity, so equality is
    defined AT a codebook (refresh = explicit rebuild). Centroid 0 sits at
    the skewed corpus's hot cone center so the ~70% cone vectors all land
    in ONE cell (the md5-sampled codebook would scatter them over several
    near-identical cone centroids and nothing would cross the
    threshold); the rest are md5-sampled from the tail."""
    from kgc.operators.dedup import ivf_codebook

    tail = skewed_corpus(spark, 400).filter(F.pmod(F.col("vec_id"), F.lit(10)) >= 7)
    sampled = [
        list(r["cv"]) for r in ivf_codebook(tail, n_cells=n - 1).collect()
    ]
    cone = [100.0] + [11.0] * 7  # e0-dominant, near the cone's center
    return [(0, cone)] + [(i + 1, cv) for i, cv in enumerate(sampled)]


class TestIncrementalIvf:
    THRESH, N_SUB = 120, 8

    def test_unsplit_query_equals_base_operator(self, spark, tmp_path):
        """On the gate corpus (no hot cells) the stored index must answer
        exactly like ann_topk_ivf over the same vectors and codebook."""
        from kgc.operators.dedup import ann_topk_ivf

        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        path = str(tmp_path / "idx")
        ivf_index_build(emb, path, n_cells=8)
        assert ivf_index_maintain(spark, path, split_threshold=10**6) == []
        got = ivf_index_query(spark, path, k=5, nprobe=3)
        want = ann_topk_ivf(emb, k=5, n_cells=8, nprobe=3)
        assert _rows(got) == _rows(want)

    def test_append_maintain_equals_batch_build(self, spark, tmp_path):
        """build(chunk1) → append(chunk2) → maintain ≡ build(full) →
        maintain: the md5 sub-sampling is arrival-order-free, so the
        stored state is a pure function of (codebook, member set)."""
        cents = _centroids(spark)
        emb = skewed_corpus(spark, 400).localCheckpoint(eager=True)
        c1 = emb.filter(F.col("vec_id") < 150)
        c2 = emb.filter(F.col("vec_id") >= 150)

        inc = str(tmp_path / "inc")
        ivf_index_build(c1, inc, centroids=cents)
        ivf_index_append(spark, inc, c2)
        split_inc = ivf_index_maintain(spark, inc, self.THRESH, self.N_SUB)

        bat = str(tmp_path / "bat")
        ivf_index_build(emb, bat, centroids=cents)
        split_bat = ivf_index_maintain(spark, bat, self.THRESH, self.N_SUB)

        assert split_inc == split_bat != []
        assert _rows(read_index_data(spark, inc)) == _rows(read_index_data(spark, bat))
        assert _rows(read_index_subbooks(spark, inc)) == _rows(read_index_subbooks(spark, bat))
        assert _rows(ivf_index_query(spark, inc, k=3, nprobe=2, nprobe_sub=3)) == _rows(
            ivf_index_query(spark, bat, k=3, nprobe=2, nprobe_sub=3)
        )

    def test_growth_crosses_threshold_and_resplit(self, spark, tmp_path):
        """Planted growth: below threshold nothing splits; the append
        pushes the hot cone past it; maintain splits with bounded
        sub-buckets; appending MORE into the split cell routes straight to
        sub-buckets, and the follow-up maintain (re-split over all
        members) still equals the batch build."""
        cents = _centroids(spark)
        emb = skewed_corpus(spark, 400).localCheckpoint(eager=True)
        c1 = emb.filter(F.col("vec_id") < 120)   # hot cone ~84 < THRESH
        c2 = emb.filter((F.col("vec_id") >= 120) & (F.col("vec_id") < 300))
        c3 = emb.filter(F.col("vec_id") >= 300)

        path = str(tmp_path / "grow")
        ivf_index_build(c1, path, centroids=cents)
        assert ivf_index_maintain(spark, path, self.THRESH, self.N_SUB) == []
        assert all("#" not in r["skey"] for r in read_index_data(spark, path).collect())

        ivf_index_append(spark, path, c2)
        split = ivf_index_maintain(spark, path, self.THRESH, self.N_SUB)
        assert len(split) >= 1
        data = read_index_data(spark, path)
        hot = split[0]
        buckets = (
            data.filter(F.split("skey", "#")[0] == str(hot))
            .groupBy("skey").agg(F.count("*").alias("n")).collect()
        )
        assert len(buckets) > 1  # genuinely spread
        cell_total = sum(r["n"] for r in buckets)
        assert max(r["n"] for r in buckets) < cell_total  # bounded below |cell|

        # post-split appends land in sub-buckets without a rewrite
        ivf_index_append(spark, path, c3)
        appended = read_index_data(spark, path).filter(F.col("vec_id") >= 300)
        hot_appended = appended.filter(F.split("skey", "#")[0] == str(hot))
        assert hot_appended.filter(~F.col("skey").contains("#")).count() == 0

        # final maintain re-splits over ALL members -> batch equality
        ivf_index_maintain(spark, path, self.THRESH, self.N_SUB)
        bat = str(tmp_path / "bat")
        ivf_index_build(emb, bat, centroids=cents)
        ivf_index_maintain(spark, bat, self.THRESH, self.N_SUB)
        assert _rows(read_index_data(spark, path)) == _rows(read_index_data(spark, bat))

    def test_maintain_idempotent(self, spark, tmp_path):
        cents = _centroids(spark)
        emb = skewed_corpus(spark, 300)
        path = str(tmp_path / "idem")
        ivf_index_build(emb, path, centroids=cents)
        first = ivf_index_maintain(spark, path, self.THRESH, self.N_SUB)
        d1 = _rows(read_index_data(spark, path))
        s1 = _rows(read_index_subbooks(spark, path))
        second = ivf_index_maintain(spark, path, self.THRESH, self.N_SUB)
        assert second == first
        assert _rows(read_index_data(spark, path)) == d1
        assert _rows(read_index_subbooks(spark, path)) == s1

    def test_crash_mid_maintain_recovers(self, spark, tmp_path):
        """r6 (ADVICE r5): a crash between maintain's dynamic partition
        overwrite and its stale-dir sweep leaves a hot cell's rows in BOTH
        the bare 'skey=<cell>' dir and the new 'skey=<cell>#<sub>' dirs.
        Reads must refuse that layout while the `_maintaining` marker is
        present (never heal it themselves), and a re-run of maintain must
        heal it through the dedup-first rewrite."""
        import json
        import os
        import shutil

        from kgc.operators.ann_index import _maintain_marker

        cents = _centroids(spark)
        emb = skewed_corpus(spark, 300).localCheckpoint(eager=True)

        clean = str(tmp_path / "clean")
        ivf_index_build(emb, clean, centroids=cents)
        split = ivf_index_maintain(spark, clean, self.THRESH, self.N_SUB)
        assert split, "corpus must plant a hot cell"
        hot = split[0]
        want = _rows(read_index_data(spark, clean))
        want_subs = _rows(read_index_subbooks(spark, clean))

        # the final post-maintain layout PLUS the resurrected pre-sweep
        # bare dir of the hot cell (duplicate rows) and the marker
        a = str(tmp_path / "crash")
        ivf_index_build(emb, a, centroids=cents)
        pre_hot = str(tmp_path / "crash_prehot")
        shutil.copytree(os.path.join(a, "data", f"skey={hot}"), pre_hot)
        ivf_index_maintain(spark, a, self.THRESH, self.N_SUB)
        shutil.copytree(pre_hot, os.path.join(a, "data", f"skey={hot}"))
        with open(_maintain_marker(a), "w") as f:
            json.dump({"cells": [hot], "n_sub": self.N_SUB}, f)

        # READ refuses and mutates nothing; a re-run of maintain heals
        with pytest.raises(ValueError, match="ivf_index_maintain"):
            read_index_data(spark, a)
        assert os.path.exists(_maintain_marker(a))
        ivf_index_maintain(spark, a, self.THRESH, self.N_SUB)
        data_a = read_index_data(spark, a)
        assert _rows(data_a) == want
        assert data_a.count() == data_a.select("vec_id").distinct().count()
        assert not os.path.exists(_maintain_marker(a))
        assert _rows(read_index_subbooks(spark, a)) == want_subs

    def test_maintain_refuses_unflushed_delta(self, spark, tmp_path):
        """r6 (ADVICE r5): maintain must refuse while the streaming delta
        tier holds rows — their ingest-time skeys would go stale under the
        rewrite and a later plain flush would resurrect swept partitions."""
        from kgc.streaming.ann_index import _ingest_batch, ivf_index_flush

        cents = _centroids(spark)
        emb = skewed_corpus(spark, 300).localCheckpoint(eager=True)
        path = str(tmp_path / "guard")
        ivf_index_build(emb.filter(F.col("vec_id") < 200), path, centroids=cents)
        _ingest_batch(spark, emb.filter(F.col("vec_id") >= 200), 0, path)
        with pytest.raises(ValueError, match="un-flushed"):
            ivf_index_maintain(spark, path, self.THRESH, self.N_SUB)
        ivf_index_flush(spark, path)
        ivf_index_maintain(spark, path, self.THRESH, self.N_SUB)  # now fine

    @pytest.mark.parametrize(
        "nprobe,nprobe_sub,max_cell", [(2, 3, 256), (1, 4, None), (3, 2, 20)]
    )
    def test_split_operator_equals_stored_index(
        self, spark, tmp_path, nprobe, nprobe_sub, max_cell
    ):
        """The query-time hot-cell split (ann_topk_ivf_split) and the stored
        index (build → maintain → query) are one IVF computation: same
        sub-codebook, same refined keys, same search — equal row for row on
        the planted hot cell."""
        from kgc.operators.dedup import ann_topk_ivf_split

        cents = _centroids(spark)
        emb = skewed_corpus(spark, 300).localCheckpoint(eager=True)
        path = str(tmp_path / "idx")
        ivf_index_build(emb, path, centroids=cents)
        assert ivf_index_maintain(spark, path, self.THRESH, self.N_SUB) != []
        got = _rows(ivf_index_query(
            spark, path, k=5, nprobe=nprobe, nprobe_sub=nprobe_sub, max_cell=max_cell,
        ))
        want = _rows(ann_topk_ivf_split(
            emb, k=5, nprobe=nprobe, split_threshold=self.THRESH, n_sub=self.N_SUB,
            nprobe_sub=nprobe_sub, centroids=cents, max_cell=max_cell,
        ))
        assert got == want and len(want) > 0

    def test_refused_maintain_leaves_index_untouched(self, spark, tmp_path):
        """A maintain marker left by a crash before any mutation, then
        un-flushed streaming rows: maintain must refuse WITHOUT running the
        recovery rewrite (a rewrite now would split the cell, and the flush
        would then resurrect a bare 'skey=<cell>' dir that split-cell
        probes never read). Reads refuse while the marker is present; the
        next maintain heals to the clean batch build."""
        import json
        import os

        from kgc.operators.ann_index import _maintain_marker, _read_data_raw
        from kgc.streaming.ann_index import _ingest_batch, ivf_index_flush

        cents = _centroids(spark)
        emb = skewed_corpus(spark, 300).localCheckpoint(eager=True)
        clean = str(tmp_path / "clean")
        ivf_index_build(emb, clean, centroids=cents)
        split = ivf_index_maintain(spark, clean, self.THRESH, self.N_SUB)
        assert split, "corpus must plant a hot cell"
        want = _rows(read_index_data(spark, clean))
        want_subs = _rows(read_index_subbooks(spark, clean))

        path = str(tmp_path / "idx")
        ivf_index_build(emb.filter(F.col("vec_id") < 200), path, centroids=cents)
        before = _rows(_read_data_raw(spark, path))
        with open(_maintain_marker(path), "w") as f:
            json.dump({"cells": [split[0]], "n_sub": self.N_SUB}, f)
        _ingest_batch(spark, emb.filter(F.col("vec_id") >= 200), 0, path)
        with pytest.raises(ValueError, match="un-flushed"):
            ivf_index_maintain(spark, path, self.THRESH, self.N_SUB)
        assert os.path.exists(_maintain_marker(path)), "refusal must not run the rewrite"
        assert _rows(_read_data_raw(spark, path)) == before

        ivf_index_flush(spark, path)
        with pytest.raises(ValueError, match="ivf_index_maintain"):
            ivf_index_query(spark, path, k=5, nprobe=2)
        ivf_index_maintain(spark, path, self.THRESH, self.N_SUB)
        assert not os.path.exists(_maintain_marker(path))
        assert _rows(read_index_data(spark, path)) == want
        assert _rows(read_index_subbooks(spark, path)) == want_subs

    def test_external_query_batch(self, spark, tmp_path):
        """Queries that are NOT in the index probe it without being
        indexed: every result id is a stored vector, none a query id."""
        emb = skewed_corpus(spark, 300)
        stored = emb.filter(F.col("vec_id") < 250)
        extern = emb.filter(F.col("vec_id") >= 250).select(
            (F.col("vec_id") + 10_000).alias("vec_id"), "embedding"
        )
        path = str(tmp_path / "ext")
        ivf_index_build(stored, path, n_cells=8)
        got = ivf_index_query(spark, path, queries=extern, k=3, nprobe=2)
        ids = {r["vec_id"] for r in got.collect()}
        qids = {r["q_id"] for r in got.collect()}
        assert ids and all(i < 10_000 for i in ids)
        assert qids and all(q >= 10_000 for q in qids)


class TestStreamingIndexIngest:
    """op-64 (r5): streaming ANN ingestion — delta-tier drains must equal
    the op-63 batch append path bit-for-bit (live AND post-flush), replays
    must heal on read, a crash mid-flush must recover to the clean state,
    and a stream-fed hot cell must sub-quantize on flush."""

    THRESH, N_SUB = 120, 8

    @staticmethod
    def _emb(spark):
        return spark.read.parquet(
            "/root/testdata/sf0.001/embeddings.parquet"
        ).localCheckpoint(eager=True)

    def test_two_drain_live_query_equals_append_path(self, spark, tmp_path):
        from kgc.streaming.ann_index import (
            ivf_index_query_live,
            streaming_index_ingest,
        )

        emb = self._emb(spark)
        base = emb.filter(F.col("vec_id") < 300)
        d1 = emb.filter((F.col("vec_id") >= 300) & (F.col("vec_id") < 400))
        d2 = emb.filter(F.col("vec_id") >= 400)

        live = str(tmp_path / "live")
        ivf_index_build(base, live, n_cells=8)
        want = str(tmp_path / "want")
        ivf_index_build(base, want, n_cells=8)

        sd, ck = str(tmp_path / "stream"), str(tmp_path / "ckpt")
        d1.write.mode("append").parquet(sd)
        streaming_index_ingest(spark, sd, live, ck)
        ivf_index_append(spark, want, d1)
        assert _rows(ivf_index_query_live(spark, live, k=3, nprobe=2)) == _rows(
            ivf_index_query(spark, want, k=3, nprobe=2)
        )

        d2.write.mode("append").parquet(sd)
        streaming_index_ingest(spark, sd, live, ck)
        ivf_index_append(spark, want, d2)
        assert _rows(ivf_index_query_live(spark, live, k=3, nprobe=2)) == _rows(
            ivf_index_query(spark, want, k=3, nprobe=2)
        )

    def test_flush_folds_delta_and_is_idempotent(self, spark, tmp_path):
        import os

        from kgc.streaming.ann_index import (
            ivf_index_flush,
            ivf_index_query_live,
            streaming_index_ingest,
        )

        emb = self._emb(spark)
        base, delta = emb.filter(F.col("vec_id") < 350), emb.filter(F.col("vec_id") >= 350)
        live = str(tmp_path / "live")
        ivf_index_build(base, live, n_cells=8)
        sd, ck = str(tmp_path / "stream"), str(tmp_path / "ckpt")
        delta.write.mode("append").parquet(sd)
        streaming_index_ingest(spark, sd, live, ck)
        before = _rows(ivf_index_query_live(spark, live, k=3, nprobe=2))

        assert ivf_index_flush(spark, live) > 0
        assert not os.path.isdir(os.path.join(live, "delta"))
        assert not os.path.isdir(os.path.join(live, "delta.flushing"))
        assert _rows(ivf_index_query(spark, live, k=3, nprobe=2)) == before

        want = str(tmp_path / "want")
        ivf_index_build(base, want, n_cells=8)
        ivf_index_append(spark, want, delta)
        assert _rows(read_index_data(spark, live)) == _rows(read_index_data(spark, want))

        assert ivf_index_flush(spark, live) == 0  # idempotent no-op
        assert _rows(ivf_index_query(spark, live, k=3, nprobe=2)) == before

    def test_replayed_batch_heals_on_read(self, spark, tmp_path):
        import os

        from kgc.streaming.ann_index import (
            _ingest_batch,
            ivf_index_query_live,
            read_index_delta,
        )

        emb = self._emb(spark)
        base, delta = emb.filter(F.col("vec_id") < 400), emb.filter(F.col("vec_id") >= 400)
        path = str(tmp_path / "idx")
        ivf_index_build(base, path, n_cells=8)

        _ingest_batch(spark, delta, 0, path)
        once_delta = _rows(read_index_delta(spark, path))
        once_q = _rows(ivf_index_query_live(spark, path, k=3, nprobe=2))
        _ingest_batch(spark, delta, 0, path)  # at-least-once replay
        raw = spark.read.parquet(os.path.join(path, "delta")).count()
        assert raw == 2 * len(once_delta)  # the log really appended
        assert _rows(read_index_delta(spark, path)) == once_delta
        assert _rows(ivf_index_query_live(spark, path, k=3, nprobe=2)) == once_q

    def test_crash_mid_flush_recovers(self, spark, tmp_path):
        import os

        from kgc.streaming.ann_index import (
            _ingest_batch,
            _merge_flushing_into_data,
            ivf_index_flush,
            ivf_index_query_live,
        )

        emb = self._emb(spark)
        base, delta = emb.filter(F.col("vec_id") < 400), emb.filter(F.col("vec_id") >= 400)

        def fresh(name):
            p = str(tmp_path / name)
            ivf_index_build(base, p, n_cells=8)
            _ingest_batch(spark, delta, 0, p)
            return p

        clean = fresh("clean")
        ivf_index_flush(spark, clean)
        want_data = _rows(read_index_data(spark, clean))

        # crash A: after the atomic rename, before any merge
        a = fresh("crash_a")
        os.rename(os.path.join(a, "delta"), os.path.join(a, "delta.flushing"))
        got = ivf_index_query_live(spark, a, k=3, nprobe=2)  # triggers recovery
        assert _rows(got) == _rows(ivf_index_query(spark, clean, k=3, nprobe=2))
        assert _rows(read_index_data(spark, a)) == want_data
        assert not os.path.isdir(os.path.join(a, "delta.flushing"))

        # crash B: merge done, flushing dir left behind (rows in BOTH tiers)
        b = fresh("crash_b")
        os.rename(os.path.join(b, "delta"), os.path.join(b, "delta.flushing"))
        _merge_flushing_into_data(spark, b)
        assert ivf_index_flush(spark, b) == 0  # recovery completes, nothing new
        data_b = read_index_data(spark, b)
        assert _rows(data_b) == want_data  # no duplicated vec_ids
        assert data_b.count() == data_b.select("vec_id").distinct().count()

    def test_stream_fed_hot_cell_splits_on_flush(self, spark, tmp_path):
        from kgc.streaming.ann_index import streaming_index_ingest

        cents = _centroids(spark)
        emb = skewed_corpus(spark, 300).localCheckpoint(eager=True)
        c1 = emb.filter(F.col("vec_id") < 120)
        c2 = emb.filter(F.col("vec_id") >= 120)

        live = str(tmp_path / "live")
        ivf_index_build(c1, live, centroids=cents)
        sd, ck = str(tmp_path / "stream"), str(tmp_path / "ckpt")
        c2.write.mode("append").parquet(sd)
        streaming_index_ingest(
            spark, sd, live, ck, flush=True,
            split_threshold=self.THRESH, n_sub=self.N_SUB,
        )

        bat = str(tmp_path / "bat")
        ivf_index_build(emb, bat, centroids=cents)
        ivf_index_maintain(spark, bat, self.THRESH, self.N_SUB)
        assert read_index_subbooks(spark, live).count() > 0  # it really split
        assert _rows(read_index_data(spark, live)) == _rows(read_index_data(spark, bat))
        assert _rows(read_index_subbooks(spark, live)) == _rows(
            read_index_subbooks(spark, bat)
        )
        assert _rows(
            ivf_index_query(spark, live, k=3, nprobe=2, nprobe_sub=3)
        ) == _rows(ivf_index_query(spark, bat, k=3, nprobe=2, nprobe_sub=3))
