"""Plan-shape tests (SURVEY.md §4): assert the physical plans Catalyst
produces are the ones the 100TB design needs — pushdown reaching the scan,
nested-schema pruning, broadcast joins on dimensions, no shuffle on the
mention stream in the wide link path."""

import pytest
from pyspark.sql import functions as F

from kgc.operators.extract import extract_mentions
from kgc.operators.link import link_triples_wide
from kgc.operators.spans import explode_spans, filter_kind
from kgc.sources.synth import alias_catalog, synth_documents


def plan_of(df, mode: str = "formatted") -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), mode)


@pytest.fixture(scope="module")
def docs_path(spark, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("plans") / "docs")
    synth_documents(spark, 0.001).write.parquet(p)
    return p


class TestScanQuality:
    def test_filter_pushdown_reaches_parquet(self, spark, docs_path):
        df = spark.read.parquet(docs_path).filter(F.col("doc_id") == "doc-0000000001")
        plan = plan_of(df)
        assert "PushedFilters: [IsNotNull(doc_id), EqualTo(doc_id,doc-0000000001)]" in plan

    def test_nested_schema_pruning_in_extraction(self, spark, docs_path):
        # the prefilter-off hot path must read ONLY spans.text at the scan —
        # media_ref/kind/offset bytes pruned (GeneratorNestedColumnAliasing)
        docs = spark.read.parquet(docs_path)
        plan = plan_of(extract_mentions(explode_spans(docs), jvm_prefilter=False))
        read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
        assert "spans:array<struct<text:string>>" in read_schema, read_schema

    def test_extract_prefilter_drops_rows_before_python(self, spark, docs_path):
        # r6 default: the JVM contains-disjunction must sit BELOW the Python
        # node so never-matching spans are dropped before the Arrow transpose.
        # Documented trade-off: the Filter over the Generate defeats
        # GeneratorNestedColumnAliasing, so the scan reads the full span
        # struct — measured net-cheaper (the Python boundary is the
        # expensive side; extract noop 0.76 s → 0.66 s median at sf0.1 with
        # the widened scan included).
        docs = spark.read.parquet(docs_path)
        plan = plan_of(extract_mentions(explode_spans(docs)), "simple")
        # filter must be a JVM Filter below the Python evaluation node
        # (simple mode prints parent-first: child Filter on a LATER line)
        lines = plan.splitlines()
        py_line = min(i for i, ln in enumerate(lines) if "InPandas" in ln or "EvalPython" in ln)
        filt_line = min(
            i for i, ln in enumerate(lines) if "Filter" in ln and "opened email" in ln
        )
        assert filt_line > py_line  # deeper in the tree = executed earlier

    def test_kind_filter_is_predicate_not_shuffle(self, spark, docs_path):
        df = filter_kind(explode_spans(spark.read.parquet(docs_path)), ["text"])
        plan = plan_of(df)
        assert "Exchange" not in plan  # pure narrow pipeline


class TestJoinQuality:
    def test_wide_link_path_has_no_stream_shuffle(self, spark, docs_path):
        """The mention stream must reach the output through broadcast joins
        only — every Exchange in the plan is a broadcast exchange or lives
        in the (tiny) resolution-dimension subtree."""
        docs = spark.read.parquet(docs_path)
        cat = alias_catalog(spark, 0.001)
        triples = link_triples_wide(extract_mentions(explode_spans(docs)), cat)
        plan = plan_of(triples, "simple")
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan
        # stream side: scan → explode → mapInPandas → project → 2 broadcast
        # joins; the only hash exchanges allowed are in the vocab subtree
        # (distinct + argmax over ~40k rows), i.e. downstream of the UDF-
        # scored resolution, which feeds BroadcastExchange
        assert plan.count("BroadcastExchange") >= 2

    def test_link_sort_merge_fallback_plan_and_equality(self, spark, docs_path):
        """broadcast_resolution=False (the 10^9+-entity broadcast-ceiling
        seam, SCALE.md) must plan the stream rewrite as a SortMergeJoin and
        emit the bit-identical row set as the broadcast path."""
        from kgc.operators.link import link_mentions, mentions_to_long

        docs = spark.read.parquet(docs_path)
        cat = alias_catalog(spark, 0.001)
        ml = mentions_to_long(extract_mentions(explode_spans(docs)))
        smj = link_mentions(ml, cat, broadcast_resolution=False)
        plan = plan_of(smj, "simple")
        assert "SortMergeJoin" in plan, plan
        bc = link_mentions(ml, cat)
        a = sorted(tuple(r) for r in bc.collect())
        b = sorted(tuple(r) for r in smj.collect())
        assert a == b and len(a) > 0

    def test_dimension_joins_are_broadcast(self, spark):
        from kgc.operators.attribution import qualifying_touches
        from kgc.sources.synth import part_of_dim
        from kgc.schemas import TRIPLES

        t = spark.createDataFrame([], TRIPLES)
        q = qualifying_touches(t, part_of_dim(spark))
        assert "BroadcastHashJoin" in plan_of(q, "simple")


class TestBucketedCatalog:
    """op-02's co-located-join seam, proven without the Iceberg jar:
    Spark-native bucketBy managed tables give the planner bucket metadata,
    so co-bucketed joins drop the shuffle and bucket-key filters prune the
    scan — the two properties the 10^12-doc layout story rests on."""

    @pytest.fixture(scope="class")
    def bucketed_tables(self, spark):
        from kgc.sources.catalog import write_bucketed_managed

        a = spark.range(0, 5000).select(
            F.col("id").alias("subj"), (F.col("id") * 2).alias("va"))
        b = spark.range(0, 5000).select(
            F.col("id").alias("subj"), (F.col("id") * 3).alias("vb"))
        write_bucketed_managed(a, "t_bucket_a", "subj", n_buckets=8)
        write_bucketed_managed(b, "t_bucket_b", "subj", n_buckets=8)
        yield "t_bucket_a", "t_bucket_b"
        spark.sql("DROP TABLE IF EXISTS t_bucket_a")
        spark.sql("DROP TABLE IF EXISTS t_bucket_b")

    def test_cobucketed_join_has_no_exchange(self, spark, bucketed_tables):
        ta, tb = bucketed_tables
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        try:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            j = spark.table(ta).join(spark.table(tb), "subj")
            plan = plan_of(j, "simple")
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        assert "SortMergeJoin" in plan, plan
        assert "Exchange" not in plan, plan
        assert plan.count("Bucketed: true") == 2, plan

    def test_bucket_key_filter_prunes_buckets(self, spark, bucketed_tables):
        """autoBucketedScan (default on) DISABLES the bucketed scan when no
        operator consumes the distribution — which also forfeits bucket
        pruning on a point lookup. With it off, an equality filter on the
        bucket key reads 1/N of the files (the layout's point-lookup
        claim)."""
        ta, _ = bucketed_tables
        key = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
        old = spark.conf.get(key)
        try:
            spark.conf.set(key, "false")
            plan = plan_of(spark.table(ta).filter(F.col("subj") == 1234), "simple")
        finally:
            spark.conf.set(key, old)
        assert "SelectedBucketsCount: 1 out of 8" in plan, plan


class TestBlockingKeys:
    def test_events_similar_users_blocks_on_profile_not_event_type(self, spark):
        """Round-2 scale fix: the identical-profile self-join must key on the
        full-profile fingerprint (output-sized pair generation), never on the
        5-distinct-value event_type column (a near-cartesian ~N²/5 stage)."""
        import __spark_entry__ as E

        df = E.q_kg_events_similar_users(spark, "/root/testdata/sf0.01")
        plan = plan_of(df, "simple")
        join_lines = [ln for ln in plan.splitlines()
                      if "Join" in ln and "event_type" in ln]
        assert not join_lines, join_lines
        assert "pk" in plan  # the md5 profile key IS the join key

    def test_jaccard_pairs_blocks_on_band_keys_not_source(self, spark):
        """Round-3 scale fix (VERDICT r2 wrong #1): the Jaccard verify's
        candidate join must key on (band_idx, band_key) — output-bounded
        banded-minhash buckets — never on the ~20-distinct-value `source`
        column (~N²/20 pairs per block at 100×)."""
        import __spark_entry__ as E

        df = E.q_dd_jaccard_pairs(spark, "/root/testdata/sf0.01")
        plan = plan_of(df, "simple")
        join_lines = [ln for ln in plan.splitlines()
                      if "Join" in ln and "source" in ln]
        assert not join_lines, join_lines
        assert "band_key" in plan  # banded blocking is the join key


class TestCuration:
    def test_decontaminate_broadcasts_benchmark_side(self, spark):
        """The 100-TB side (train shingles) must stream through a map-side
        hash join: the exploded benchmark shingles are the broadcast build
        side, and no sort-merge join appears anywhere in the plan (a SMJ on
        `shingle` would shuffle the whole training corpus by shingle)."""
        import __spark_entry__ as E

        df = E.q_cur_decontaminate(spark, "/root/testdata/sf0.01")
        plan = plan_of(df, "simple")
        assert "BroadcastHashJoin" in plan, plan
        assert "SortMergeJoin" not in plan, plan
        # explode_outer keeps the inferred size(sh)>0 filter OUT of the plan:
        # plain explode re-derived the whole shingle construction inside the
        # Filter node (measured 3× the warm wall). Exactly ONE construction
        # in the plan — the train side; the bench side is materialized once
        # by bench_shingles_exploded's localCheckpoint (r6 — it used to run
        # twice, for the stop-shingle df agg and the semi-join probe), so it
        # appears as a checkpoint scan, not a re-derivation. NONE inside a
        # Filter.
        assert plan.count("array_distinct") == 1, plan
        filt = [ln for ln in plan.splitlines() if "Filter" in ln]
        assert sum(ln.count("array_distinct") for ln in filt) == 0, filt

    def test_quota_sample_prefilters_before_window(self, spark):
        """The per-stratum rank window must consume the hash-prefix-filtered
        set (O(oversample·K) rows per stratum), never the raw table — in the
        printed plan tree children appear BELOW their parent, so the
        substring pre-filter must sit strictly below the Window node."""
        import __spark_entry__ as E

        df = E.q_cur_quota_sample(spark, "/root/testdata/sf0.01")
        lines = plan_of(df, "simple").splitlines()
        widx = [i for i, ln in enumerate(lines) if "Window [" in ln]
        # Catalyst folds the prefix filter into the broadcast-join condition
        # (no standalone Filter node) — pin it wherever it lands, below the
        # Window
        fidx = [i for i, ln in enumerate(lines) if "substring(_key" in ln]
        assert widx and fidx, lines
        assert min(fidx) > min(widx), (widx, fidx)
        # Spark 4 rank-limit pushdown: top-K is pre-trimmed map-side before
        # the stratum shuffle — the second half of the O(K)-window design
        assert any("WindowGroupLimit" in ln and "Partial" in ln for ln in lines), lines

    def test_diversity_sample_map_only_assignment(self, spark):
        """Cell assignment must be the map-only broadcast-codebook ranking
        (zero shuffle); the ONLY hash exchange in the plan is the per-cell
        rank window's, and Spark 4's partial WindowGroupLimit trims to K
        map-side before it."""
        import __spark_entry__ as E

        plan = plan_of(E.q_cur_diversity_sample(spark, "/root/testdata/sf0.01"), "simple")
        assert plan.count("BroadcastExchange") == 1, plan
        assert plan.count("Exchange") == 2, plan  # broadcast + the window's
        assert "WindowGroupLimit" in plan and "Partial" in plan, plan

    def test_pack_greedy_single_shuffle_pruned_scan(self, spark):
        """Packing = ONE shuffle (hash by shard_id into the grouped pandas
        fold); tokenization stays JVM-side so the scan reads only
        (doc_id, text)."""
        import __spark_entry__ as E

        df = E.q_cur_pack_greedy(spark, "/root/testdata/sf0.01")
        assert plan_of(df, "simple").count("Exchange") == 1, plan_of(df, "simple")
        plan = plan_of(df)
        assert "FlatMapGroupsInPandas" in plan, plan
        read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
        assert "doc_id" in read_schema and "text" in read_schema, read_schema
        assert "lang" not in read_schema and "source" not in read_schema, read_schema


class TestExpressionReuse:
    def test_shingle_construction_not_duplicated(self, spark):
        """r3 plan audit: (a) filtering on a derived column re-derives the
        whole shingle construction inside the Filter node; (b) a
        single-referenced shingle column gets inlined into the 16-seed
        signature transform, whose lambda re-evaluates the loop-invariant
        construction per seed (~16× CPU). Pin: array_distinct appears
        EXACTLY once in the optimized plan, and the signature transform
        iterates over the materialized `sh` attribute."""
        import re

        from kgc.operators.dedup import doc_shingles, minhash_band_keys

        docs = spark.createDataFrame([("d1", "a b c d e")], "doc_id string, text string")
        bk = minhash_band_keys(doc_shingles(docs), 8, 2)
        full = plan_of(bk, "extended")
        opt = full.split("== Optimized Logical Plan ==")[1].split("== Physical Plan ==")[0]
        assert opt.count("array_distinct") == 1, opt
        assert re.search(r"transform\(sh#\d+", opt), opt  # sig reads the attr


class TestAggQuality:
    def test_profile_agg_is_partial_final(self, spark):
        from kgc.operators.similarity import profile_degree, touch_items
        from kgc.schemas import TRIPLES

        t = spark.createDataFrame([], TRIPLES)
        plan = plan_of(profile_degree(touch_items(t)), "simple")
        # partial+final hash aggregation (map-side combine before shuffle)
        assert plan.count("HashAggregate") >= 2

    def test_generator_is_map_only(self, spark):
        docs = synth_documents(spark, 0.001)
        plan = plan_of(docs, "simple")
        assert "Exchange" not in plan, "generation must stay embarrassingly parallel"

    def test_topk_is_window_not_global_sort(self, spark):
        from kgc.operators.recommend import topk_neighbors
        from kgc.schemas import SIMILAR_TO

        s = spark.createDataFrame([], SIMILAR_TO)
        plan = plan_of(topk_neighbors(s), "simple")
        assert "WindowGroupLimit" in plan or "Window" in plan
        assert "TakeOrderedAndProject" not in plan  # per-group, not global


class TestCodegen:
    def test_similarity_scoring_is_codegen(self, spark):
        from kgc.operators.similarity import similar_to_exact
        from kgc.schemas import TRIPLES

        t = spark.createDataFrame([], TRIPLES)
        # AQE wraps the plan pre-execution and hides codegen subtrees from
        # explain; disable it just for the inspection
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        try:
            plan = plan_of(similar_to_exact(t), "codegen")
        finally:
            spark.conf.set("spark.sql.adaptive.enabled", "true")
        # "Found N WholeStageCodegen subtrees" with N >= 1
        assert "WholeStageCodegen subtrees" in plan and "Found 0" not in plan

    def test_warm_similarity_chain_reuses_generated_classes(self, spark):
        """A warm pass of the similarity chain must find its generated
        classes in the codegen cache. With a cache smaller than the chain's
        working set the LRU evicts cyclically and every pass recompiles
        every class (Spark's default cap of 100 vs ~150-160 classes)."""
        from kgc.operators.attribution import attribute
        from kgc.operators.recommend import recommend
        from kgc.operators.similarity import (
            AUTO_PAIR_THRESHOLD,
            select_similarity_mode,
            similar_to_exact,
            touch_items,
        )
        from kgc.session import codegen_compile_count
        from kgc.sources.synth import ground_truth_triples, part_of_dim

        # distinct generated classes one warm pass of this chain needs,
        # measured at the similarity benchmark's size (152-159 by seed)
        working_set = 159
        assert int(spark.conf.get("spark.sql.codegen.cache.maxEntries")) >= working_set

        triples = ground_truth_triples(spark, 0.001).cache()
        part_of = part_of_dim(spark)
        triples.count()

        def materialize(df):
            df.write.format("noop").mode("overwrite").save()

        def one_pass():
            items = touch_items(triples).localCheckpoint(eager=True)
            mode, _ = select_similarity_mode(triples, AUTO_PAIR_THRESHOLD, items=items)
            assert mode == "exact"
            sim = similar_to_exact(triples, dict_encode=True, items=items).localCheckpoint(eager=True)
            materialize(recommend(triples, sim))
            materialize(attribute(triples, part_of))

        try:
            one_pass()
            before = codegen_compile_count(spark)
            one_pass()
            recompiled = codegen_compile_count(spark) - before
        finally:
            triples.unpersist()
        # Not exactly 0: AQE numbers whole-stage codegen ids in the order its
        # query stages are created, which follows stage completion order, so
        # a warm pass can meet a cached class under a new id (seen: 0 or 4
        # per pass at the benchmark's size). A cache blow-out recompiles the
        # whole working set.
        assert recompiled <= 8, recompiled


class TestIvfStorage:
    def test_probe_scan_is_partition_pruned(self, spark, tmp_path):
        """The stored IVF index is partitioned by cell, so fetching
        candidates for a probe list must prune to the probed cell
        directories — the scan's PartitionFilters carry the cell
        predicate and unprobed cells are never read."""
        from kgc.operators.dedup import ivf_cells, ivf_store

        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        path = str(tmp_path / "ivf_index")
        cells = ivf_cells(emb, n_cells=8, nprobe=3)
        ivf_store(cells, path)
        stored = spark.read.parquet(path)
        # cells are keyed by their centroid's vector id — probe three real ones
        probe_ids = [r["cell"] for r in stored.select("cell").distinct().limit(3).collect()]
        probe = stored.filter(F.col("cell").isin(probe_ids))
        plan = plan_of(probe, "formatted")
        assert "PartitionFilters" in plan and "cell" in plan.split("PartitionFilters")[1][:120], plan
        # and the pruned read returns exactly the probed cells' members
        expect = cells.filter(F.col("cell").isin(probe_ids)).count()
        assert probe.count() == expect > 0

    def test_incremental_index_query_is_probe_pruned(self, spark, tmp_path):
        """op-63: ivf_index_query collects the probe skeys and pushes them
        as an isin — the data scan must carry them as PartitionFilters so
        unprobed skey directories are never read."""
        from kgc.operators.ann_index import ivf_index_build, ivf_index_query

        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        path = str(tmp_path / "inc_idx")
        ivf_index_build(emb, path, n_cells=8)
        one_query = emb.limit(1)
        got = ivf_index_query(spark, path, queries=one_query, k=3, nprobe=2)
        plan = plan_of(got, "formatted")
        scans = [seg for seg in plan.split("PartitionFilters") if "skey" in seg[:160]]
        assert scans, plan  # at least one skey-pruned scan
        assert got.count() == 3


class TestLiveIndexQuery:
    def test_live_query_keeps_stored_side_partition_pruning(self, spark, tmp_path):
        """op-64: ivf_index_query_live unions the delta tier into the
        searched data; the probe-key isin must still reach the STORED
        child as PartitionFilters (Catalyst pushes the filter through the
        Union), so the big tier never reads unprobed skey directories."""
        from kgc.operators.ann_index import ivf_index_build
        from kgc.streaming.ann_index import _ingest_batch, ivf_index_query_live

        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        path = str(tmp_path / "live_idx")
        ivf_index_build(emb.filter(F.col("vec_id") < 400), path, n_cells=8)
        _ingest_batch(spark, emb.filter(F.col("vec_id") >= 400), 0, path)
        got = ivf_index_query_live(spark, path, queries=emb.limit(1), k=3, nprobe=2)
        plan = plan_of(got, "formatted")
        scans = [seg for seg in plan.split("PartitionFilters") if "skey" in seg[:160]]
        assert scans, plan  # the stored child is still skey-pruned
        assert got.count() == 3
