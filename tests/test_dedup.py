"""Tests for the training-data dedup / similarity-search operators."""


from pyspark.sql import functions as F

from kgc.operators.dedup import (
    _simhash64,
    ann_topk_lsh,
    doc_shingles,
    embedding_near_dup,
    jaccard_pairs_bruteforce,
    minhash_banded_pairs,
    shingle_table_bytes,
    simhash_pairs,
)

SF_DIR = "/root/testdata/sf0.001"


class TestMinHashBanded:
    def _planted_docs(self, spark):
        """40 disjoint-vocabulary base docs + 12 planted near-dups (one word
        edited every `spacing` positions; k=3 shingles → shingle-Jaccard
        ≈ (s-3)/(s+3) for spacing s, i.e. ~0.33..0.72 across the plants).
        Deterministic — no rand(); md5-based minhash makes every assertion
        below reproducible bit-for-bit."""
        base = [
            (f"doc-{i:03d}", " ".join(f"t{i}w{j}" for j in range(60)))
            for i in range(40)
        ]
        dups = []
        for i in range(12):
            words = base[i][1].split()
            spacing = 6 + (i % 6) * 2  # 6, 8, 10, 12, 14, 16
            for p in range(0, len(words), spacing):
                words[p] = f"edit{i}x{p}"
            dups.append((f"dup-{i:03d}", " ".join(words)))
        return spark.createDataFrame(base + dups, "doc_id string, text string")

    def test_recall_vs_bruteforce_on_planted_near_dups(self, spark):
        """VERDICT r2 #4: banded b×r recall measured against all-pairs
        Jaccard ground truth. At b=8, r=2 expected recall is ≥0.90 for
        j≥0.5 pairs (1-(1-j²)^8); assert ≥0.8 to absorb hash luck."""
        docs = self._planted_docs(spark)
        gt = {
            (r["id_a"], r["id_b"])
            for r in jaccard_pairs_bruteforce(docs, threshold=0.5).collect()
        }
        got = {
            (r["id_a"], r["id_b"])
            for r in minhash_banded_pairs(docs, bands=8, rows=2, threshold=0.5).collect()
        }
        assert len(gt) >= 8, f"fixture must plant >=8 true pairs, got {len(gt)}"
        recall = len(gt & got) / len(gt)
        assert recall >= 0.8, (recall, len(gt))
        # emitted Jaccards are exact: every banded pair is in the brute set
        assert got <= gt

    def test_single_sig_is_weaker_than_banded(self, spark):
        """The r2 single-signature blocker (b=1, r=1) must recall strictly
        fewer planted ~0.7-Jaccard pairs than b=8, r=2 — the reason banding
        exists."""
        docs = self._planted_docs(spark)
        gt = {
            (r["id_a"], r["id_b"])
            for r in jaccard_pairs_bruteforce(docs, threshold=0.5).collect()
        }
        single = {
            (r["id_a"], r["id_b"])
            for r in minhash_banded_pairs(docs, bands=1, rows=1, threshold=0.5).collect()
        }
        banded = {
            (r["id_a"], r["id_b"])
            for r in minhash_banded_pairs(docs, bands=8, rows=2, threshold=0.5).collect()
        }
        assert len(banded & gt) > len(single & gt)


    def test_shingle_table_bytes_counts_unsafe_row_layout(self, spark):
        """"a b c d" at k=3 → shingles "a b c", "b c d" (5 bytes, one word
        each): 32 row words + 8 array null bits + 2×8 offsets + 2×8 data."""
        docs = spark.createDataFrame([("d1", "a b c d")], "doc_id string, text string")
        assert shingle_table_bytes(doc_shingles(docs)) == 72

    def test_verify_join_shape_follows_byte_cap(self, spark, monkeypatch):
        """Under the cap the shingle table is the broadcast build side of the
        verify join; over it the sort-merge shape stands. Same pairs both
        ways."""
        import kgc.operators.dedup as dd

        docs = self._planted_docs(spark)

        def run():
            df = minhash_banded_pairs(docs, threshold=0.5)
            plan = df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "simple")
            verify = [ln for ln in plan.splitlines() if "Join [id_" in ln]
            return sorted(tuple(r) for r in df.collect()), verify

        small, small_joins = run()
        monkeypatch.setattr(dd, "VERIFY_BROADCAST_BYTES", -1)
        big, big_joins = run()
        assert small_joins and all("BroadcastHashJoin" in ln for ln in small_joins), small_joins
        assert big_joins and all("SortMergeJoin" in ln for ln in big_joins), big_joins
        assert small == big and len(small) >= 8


class TestSimHash:
    def test_identical_and_near_identical(self, spark):
        docs = spark.createDataFrame(
            [
                ("a", "the quick brown fox jumps over the lazy dog"),
                ("b", "the quick brown fox jumps over the lazy dog"),  # identical
                ("c", "the quick brown fox leaps over the lazy dog"),  # 1-word diff
                ("d", "completely different content about spark query engines"),
            ],
            "doc_id string, text string",
        )
        pairs = {(r["id_a"], r["id_b"]): r["hamming"] for r in simhash_pairs(docs, max_hamming=12).collect()}
        assert pairs[("a", "b")] == 0
        assert ("a", "c") in pairs and pairs[("a", "c")] <= 12
        assert not any("d" in p for p in pairs)

    def test_fingerprint_deterministic(self):
        assert _simhash64("hello world") == _simhash64("hello world")
        assert _simhash64("hello world") != _simhash64("goodbye world")

    def test_band_recall_guarantee(self):
        # Hamming <= 3 flips touch at most 3 of the 4 bands → at least one
        # 16-bit band stays identical (pigeonhole): band-equality blocking
        # has exact recall at the threshold
        base = 0x1A2B3C4D5E6F0718
        flipped = base ^ 0b111  # Hamming 3
        bands_equal = sum(
            ((base >> (b * 16)) & 0xFFFF) == ((flipped >> (b * 16)) & 0xFFFF) for b in range(4)
        )
        assert bin(base ^ flipped).count("1") == 3 and bands_equal >= 1


class TestEmbeddingNearDup:
    def test_candidates_are_verified_exact(self, spark):
        emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        nd = embedding_near_dup(emb, threshold=0.8)
        rows = nd.collect()
        # every emitted pair respects the threshold and ordering invariant
        assert all(r["cosine"] >= 0.8 for r in rows)
        assert all(r["id_a"] < r["id_b"] for r in rows)

    def test_ann_lsh_recall_vs_brute_force(self, spark):
        import __spark_entry__ as E

        emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        brute = E.q_ann_cosine_topk(spark, SF_DIR)  # exact top-5 for vec_id<20
        approx = ann_topk_lsh(emb, k=5).filter(F.col("q_id") < 20)
        hits = brute.select("q_id", "vec_id").intersect(approx.select("q_id", "vec_id")).count()
        total = brute.count()
        assert total > 0
        recall = hits / total
        assert recall >= 0.5, recall  # banded LSH catches most true neighbors


class TestAnnIvf:
    def test_cells_are_disjoint_and_probes_lead_with_own_cell(self, spark):
        from kgc.operators.dedup import ivf_cells

        emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        cells = ivf_cells(emb, n_cells=8, nprobe=3).collect()
        assert len({r["id"] for r in cells}) == len(cells)  # one cell per vector
        for r in cells:
            assert r["probes"][0] == r["cell"]
            assert len(r["probes"]) == 3

    def test_ann_ivf_recall_vs_brute_force(self, spark):
        import __spark_entry__ as E
        from kgc.operators.dedup import ann_topk_ivf

        emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        brute = E.q_ann_cosine_topk(spark, SF_DIR)  # exact top-5 for vec_id<20
        approx = ann_topk_ivf(emb, k=5, n_cells=8, nprobe=4).filter(F.col("q_id") < 20)
        hits = brute.select("q_id", "vec_id").intersect(approx.select("q_id", "vec_id")).count()
        total = brute.count()
        assert total > 0
        recall = hits / total
        assert recall >= 0.5, recall  # nprobe=4 of 8 cells; tunable, see docstring

    def test_candidate_join_is_cell_equi_join(self, spark):
        """The IVF candidate join must be an equi-join on `cell` — never a
        cartesian between the two vector-sized sides. The only
        nested-loop join allowed is the 1-row broadcast codebook append."""
        from kgc.operators.dedup import ann_topk_ivf

        emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        df = ann_topk_ivf(emb, k=5, n_cells=8, nprobe=3)
        plan = df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "simple")
        assert "CartesianProduct" not in plan, plan
        assert "cell" in plan

    def test_hot_cell_cap_bounds_degenerate_codebook(self, spark):
        """VERDICT r3 #3: a degenerate codebook (all vectors ~identical →
        every row lands in ONE cell) must not send the cell equi-join
        quadratic. With max_cell=m only the m smallest-md5-rank members
        stay on the data side; every query still gets neighbors, drawn
        only from the kept members (the rank rule is re-derived here —
        the oracle-mirror proof at unit scale)."""
        import hashlib

        from kgc.operators.dedup import ann_topk_ivf

        n, m = 200, 16
        # near-identical vectors: cosine to every md5-sampled centroid
        # rounds to the same 9dp key, so (csim DESC, c_id ASC) sends all
        # rows to the min-c_id cell — the planted degenerate quantizer
        rows = [(i, [1.0, 1.0, 1.0, 1e-9 * i]) for i in range(n)]
        emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        res = ann_topk_ivf(emb, k=5, n_cells=8, nprobe=2, max_cell=m).collect()
        kept = set(
            sorted(range(n), key=lambda i: (hashlib.md5(f"ivf:{i}".encode()).hexdigest(), i))[:m]
        )
        assert {r["q_id"] for r in res} == set(range(n))  # overflow still queries
        assert {r["vec_id"] for r in res} <= kept  # candidates only from kept members
        per_q = {}
        for r in res:
            per_q.setdefault(r["q_id"], []).append(r)
        for q, rs in per_q.items():
            expect = len(kept) - (1 if q in kept else 0)
            assert len(rs) == min(5, expect)


class TestIvfSplit:
    """Hot-cell sub-quantization (ivf_split_hot_cells / ann_topk_ivf_split)."""

    def test_no_hot_cells_identical_to_base_operator(self, spark):
        """With no cell above split_threshold every key is the bare cell,
        so the split operator must equal ann_topk_ivf row-for-row."""
        from kgc.operators.dedup import ann_topk_ivf, ann_topk_ivf_split

        emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        base = ann_topk_ivf(emb, k=5, n_cells=8, nprobe=3)
        split = ann_topk_ivf_split(emb, k=5, n_cells=8, nprobe=3, split_threshold=10**6)
        assert sorted(map(tuple, split.collect())) == sorted(map(tuple, base.collect()))

    def _cone(self, spark, n=240):
        """All vectors inside a narrow cone around e0 (everyone lands in the
        planted hot cell) but angularly DIVERSE inside it, so sub-centroids
        discriminate. Deterministic integer-derived components."""
        rows = [
            (i, [100.0, float((i * 37) % 23), float((i * 53) % 29), float((i * 71) % 31)])
            for i in range(n)
        ]
        emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        # explicit codebook: c0 inside the cone, others orthogonal and far
        cents = [(0, [100.0, 10.0, 10.0, 10.0]), (1, [0.0, -100.0, 0.0, 0.0]),
                 (2, [0.0, 0.0, -100.0, 0.0]), (3, [0.0, 0.0, 0.0, -100.0])]
        return emb, cents

    def test_split_spreads_hot_cell_and_bounds_buckets(self, spark):
        from kgc.operators.dedup import ivf_cells, ivf_split_hot_cells

        emb, cents = self._cone(spark)
        cells = ivf_cells(emb, nprobe=1, centroids=cents)
        assert cells.select("cell").distinct().count() == 1  # planted: all hot
        data, probes = ivf_split_hot_cells(cells, split_threshold=50, n_sub=8, nprobe_sub=3)
        sizes = {r["skey"]: r["n"] for r in data.groupBy("skey").agg(F.count("*").alias("n")).collect()}
        assert len(sizes) > 1, sizes  # the hot cell actually split
        assert max(sizes.values()) < 240  # no bucket holds the whole cell
        assert all("#" in k for k in sizes)  # refined keys
        # every query probes exactly nprobe_sub sub-buckets of the hot cell
        per_q = probes.groupBy("q_id").agg(F.count("*").alias("n")).select("n").distinct().collect()
        assert [r["n"] for r in per_q] == [3]

    def test_split_recall_floor_vs_brute(self, spark):
        """Graceful degradation: probing 4-of-8 sub-buckets of the planted
        hot cell keeps most true top-5 neighbors (vs the cap, which drops
        overflow members from the index entirely)."""
        from pyspark.sql import Window

        from kgc.operators.dedup import _exact_cosine, ann_topk_ivf_split

        emb, cents = self._cone(spark)
        vec = F.transform("embedding", lambda x: x.cast("double"))
        e = emb.select(F.col("vec_id").alias("id"), vec.alias("v"))
        pairs = e.select(F.col("id").alias("q_id"), F.col("v").alias("qv")).crossJoin(
            e.select(F.col("id").alias("vec_id"), F.col("v").alias("dv"))
        ).filter(F.col("q_id") != F.col("vec_id"))
        scored = pairs.select(
            "q_id", "vec_id", F.round(_exact_cosine("qv", "dv"), 6).alias("c")
        )
        wb = Window.partitionBy("q_id").orderBy(F.col("c").desc(), F.col("vec_id").asc())
        brute = (
            scored.withColumn("rk", F.row_number().over(wb))
            .filter(F.col("rk") <= 5)
            .select("q_id", "vec_id")
        )
        approx = ann_topk_ivf_split(
            emb, k=5, nprobe=1, centroids=cents,
            split_threshold=50, n_sub=8, nprobe_sub=4, max_cell=None,
        ).select("q_id", "vec_id")
        total = brute.count()
        hits = brute.intersect(approx).count()
        assert total == 240 * 5
        assert hits / total >= 0.5, hits / total

    def test_split_plan_broadcasts_subbook_no_cartesian(self, spark):
        """Plan pin (the repo's test_plans.py culture applied here): the
        sub-codebook joins must be broadcast (per-cell dims, never a
        shuffle of the vector table onto them) and the candidate join must
        stay an equi-join on the refined key — no CartesianProduct beyond
        the 1-row coarse-codebook append."""
        from kgc.operators.dedup import ann_topk_ivf_split

        emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        df = ann_topk_ivf_split(emb, k=5, n_cells=8, nprobe=3, split_threshold=4)
        plan = df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "simple")
        assert "CartesianProduct" not in plan, plan
        assert "skey" in plan
        assert plan.count("BroadcastExchange") >= 2, plan  # hot dim + subbook
