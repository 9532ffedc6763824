"""T1: per-operator unit tests on hand-written micro-fixtures (SURVEY.md §5.1)."""

import datetime

import pytest
from pyspark.sql import functions as F

from kgc.functions.text import block_key, normalize_surface
from kgc.operators.attribution import attribute
from kgc.operators.canon import connected_components, salted_dedup
from kgc.operators.extract import detect_mentions_udf, extract_media_mentions, extract_mentions
from kgc.operators.recommend import recommend
from kgc.operators.similarity import similar_to_exact
from kgc.operators.spans import explode_spans, reassemble_spans, span_sequence_fingerprint
from kgc.schemas import DOCS, TRIPLES

TS = datetime.datetime


def mk_docs(spark, rows):
    return spark.createDataFrame(rows, DOCS)


DOC_ROWS = [
    ("d1", [("text", "I-0001 opened email act-003 of campaign cmp-00 at 2025-01-05T10:00:00Z.", None, 0),
            ("image", None, "s3://media/img_ab.png", 80),
            ("text", "campaign cmp-00 converted ind_0001 at 2025-02-01T00:00:00Z.", None, 120)]),
    ("d2", [("video", "photo of Individual #2 at webinar act-010.", "s3://media/vid_cd_act-010.mp4", 0)]),
    ("d3", []),
]


class TestSpans:
    def test_explode_reassemble_roundtrip(self, spark):
        docs = mk_docs(spark, DOC_ROWS)
        flat = explode_spans(docs)
        assert flat.count() == 4
        back = reassemble_spans(flat, all_docs=docs)
        a = {r["doc_id"]: r["span_fp"] for r in span_sequence_fingerprint(docs).collect()}
        b = {r["doc_id"]: r["span_fp"] for r in span_sequence_fingerprint(back).collect()}
        assert a == b  # span-sequence invariant: kind, text, media_ref, order

    def test_empty_doc_preserved(self, spark):
        docs = mk_docs(spark, DOC_ROWS)
        back = reassemble_spans(explode_spans(docs), all_docs=docs)
        row = back.filter("doc_id = 'd3'").collect()[0]
        assert row["spans"] == []


class TestExtract:
    def test_map_in_pandas_extraction(self, spark):
        m = extract_mentions(explode_spans(mk_docs(spark, DOC_ROWS)))
        rows = {(r["doc_id"], r["mention_type"]): r for r in m.collect()}
        assert rows[("d1", "touch")]["ind_surface"] == "I-0001"
        assert rows[("d1", "touch")]["act_surface"] == "act-003"
        assert rows[("d1", "conversion")]["ind_surface"] == "ind_0001"
        assert rows[("d2", "media_touch")]["ind_surface"] == "Individual #2"
        assert rows[("d2", "media_touch")]["ts_str"] is None
        # provenance offsets: text[char_start:char_end] is exactly the match
        t = rows[("d1", "touch")]
        assert t["char_start"] == 0 and t["char_end"] == 70
        assert 0 <= t["char_start"] < t["char_end"]

    def test_scalar_udf_matches(self, spark):
        df = spark.createDataFrame(
            [("I-0001 opened email act-003 of campaign cmp-00 at 2025-01-05T10:00:00Z.",), (None,), ("no mentions here",)],
            "text string",
        )
        out = df.select(detect_mentions_udf("text").alias("m")).collect()
        assert len(out[0]["m"]) == 1 and out[0]["m"][0]["mention_type"] == "touch"
        assert out[1]["m"] == [] and out[2]["m"] == []

    def test_media_ref_mentions(self, spark):
        m = extract_media_mentions(explode_spans(mk_docs(spark, DOC_ROWS)))
        assert [r["act_surface"] for r in m.collect()] == ["act-010"]


class TestNormalize:
    def test_surface_forms_collide(self, spark):
        df = spark.createDataFrame([("I-0423",), ("ind_0423",), ("Individual #423",)], "s string")
        keys = [r[0] for r in df.select(block_key("s")).collect()]
        assert keys == ["i423", "i423", "i423"]
        norm = [r[0] for r in df.select(normalize_surface("s")).collect()]
        assert norm == ["i 0423", "ind 0423", "individual 423"]


class TestCC:
    def test_two_components_and_chain(self, spark):
        edges = spark.createDataFrame(
            [("a", "b"), ("b", "c"), ("x", "y")], "src string, dst string"
        )
        cc = {r["node"]: r["component"] for r in connected_components(edges).collect()}
        assert cc == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}

    def test_idempotent_and_permutation_invariant(self, spark):
        e1 = spark.createDataFrame([("n3", "n1"), ("n2", "n3")], "src string, dst string")
        e2 = spark.createDataFrame([("n2", "n3"), ("n3", "n1")], "src string, dst string")
        c1 = sorted(map(tuple, connected_components(e1).collect()))
        c2 = sorted(map(tuple, connected_components(e2).collect()))
        assert c1 == c2
        assert all(comp == "n1" for _, comp in c1)

    def test_star_variant_matches_minlabel_on_small_graphs(self, spark):
        from kgc.operators.canon import connected_components_star

        edges = spark.createDataFrame(
            [("a", "b"), ("b", "c"), ("x", "y"), ("q", "a")], "src string, dst string"
        )
        ml = sorted(map(tuple, connected_components(edges).collect()))
        st = sorted(map(tuple, connected_components_star(edges).collect()))
        assert ml == st

    def test_star_variant_keeps_self_loop_only_nodes(self, spark):
        """r2 review: a node whose only edge is (n, n) must not vanish —
        the min-label loop keeps it via bidir, so parity requires it."""
        from kgc.operators.canon import connected_components_star

        edges = spark.createDataFrame(
            [("s", "s"), ("a", "b")], "src string, dst string"
        )
        ml = sorted(map(tuple, connected_components(edges).collect()))
        st = sorted(map(tuple, connected_components_star(edges).collect()))
        assert ml == st
        assert ("s", "s") in st

    def test_star_variant_adversarial_chain(self, spark):
        """4096-node chain — the worst case for label propagation. Star
        contraction must produce identical labels within O(log n) rounds
        (measured: 13 = log2(4096)+1, same round count as the pointer-
        doubled min-label loop; its scale advantage is that the edge set
        SHRINKS every round, which rounds don't capture — see the
        star-edges-shrink test below)."""
        from kgc.operators.canon import connected_components_star

        n = 4096
        edges = spark.createDataFrame(
            [(f"n{i:05d}", f"n{i + 1:05d}") for i in range(n - 1)],
            "src string, dst string",
        ).repartition(8)
        star_stats: dict = {}
        st = connected_components_star(edges, stats=star_stats)
        rows = st.collect()
        assert len(rows) == n
        assert all(r["component"] == "n00000" for r in rows)
        ml_stats: dict = {}
        ml = connected_components(edges, stats=ml_stats)
        assert sorted(map(tuple, ml.collect())) == sorted(map(tuple, rows))
        import math

        assert star_stats["iterations"] <= math.ceil(math.log2(n)) + 2, star_stats
        assert ml_stats["iterations"] <= math.ceil(math.log2(n)) + 2, ml_stats

    def test_star_variant_shrinks_dense_edge_set(self, spark):
        """The star variant's scale property: on a dense component (m ≫ n
        edges) the working edge set contracts to the n-1 star edges, so each
        round's shuffle shrinks — min-label re-shuffles all m edges every
        round. Deterministic dense graph: 500 nodes, ~4000 modular edges."""
        from kgc.operators.canon import connected_components_star

        n = 500
        pairs = [
            (f"v{i:04d}", f"v{(i * k + 7) % n:04d}")
            for i in range(n)
            for k in (3, 11, 17, 29, 41, 53, 71, 89)
        ]
        edges = spark.createDataFrame(pairs, "src string, dst string")
        stats: dict = {}
        st = connected_components_star(edges, stats=stats)
        counts = stats["edge_counts"]
        assert counts[-1] < len(set(map(frozenset, pairs))) / 4
        # single component (k=3 with n=500: gcd walk reaches everything)
        comps = {r["component"] for r in st.collect()}
        assert len(comps) == 1

    def test_auto_dispatch_engages_star_above_threshold(self, spark):
        """VERDICT r2 #8: the pipeline CC surface (entities_canon_map) must
        engage star contraction above the edge threshold — here forced low
        so the 4096-chain routes through star — with labels identical to
        the min-label default."""
        from kgc.operators.canon import entities_canon_map

        n = 4096
        edges = spark.createDataFrame(
            [(f"n{i:05d}", f"n{i + 1:05d}") for i in range(n - 1)],
            "src string, dst string",
        ).repartition(8)
        stats: dict = {}
        got = entities_canon_map(edges, stats=stats, star_edge_threshold=1000)
        assert stats["variant"] == "star" and stats["probe_edges"] == n - 1
        rows = got.collect()
        assert len(rows) == n and all(r["canonical_id"] == "n00000" for r in rows)

    def test_auto_dispatch_defaults_to_min_label_on_alias_graph(self, spark):
        from kgc.operators.canon import entities_canon_map, salted_dedup
        from kgc.sources.synth import alias_catalog, alias_edges

        stats: dict = {}
        got = entities_canon_map(
            salted_dedup(alias_edges(alias_catalog(spark, 0.001)), ["src", "dst"]),
            stats=stats,
        )
        assert stats["variant"] == "min_label"
        # every alias maps to the lexicographic component min (no '#' suffix)
        assert got.filter(F.col("canonical_id").contains("#")).count() == 0

    def test_salted_dedup(self, spark):
        df = spark.createDataFrame([("k1", 1), ("k1", 1), ("k1", 2), ("k2", 9)], "k string, v int")
        assert salted_dedup(df, ["k", "v"], n_salt=4).count() == 3
        assert salted_dedup(df, ["k"], n_salt=4).count() == 2


def mk_triples(spark, rows):
    return spark.createDataFrame(rows, TRIPLES)


class TestAttribution:
    def test_pinned_semantics(self, spark):
        t = mk_triples(spark, [
            # ind A: touches act-000 (cmp-00) at t1, act-001 (cmp-00) at t2, converts cmp-00 at t3
            ("A", "TOUCHED", "act-000", TS(2025, 1, 1), "d", 0),
            ("A", "TOUCHED", "act-001", TS(2025, 1, 2), "d", 1),
            ("A", "TOUCHED", "act-002", TS(2025, 3, 1), "d", 2),  # after conv — not qualifying
            ("A", "CONVERTED_BY", "cmp-00", TS(2025, 2, 1), "d", 3),
            ("A", "CONVERTED_BY", "cmp-00", TS(2025, 4, 1), "d", 4),  # later conv ignored (earliest wins)
            # ind B: converts but zero qualifying touches
            ("B", "CONVERTED_BY", "cmp-01", TS(2025, 1, 1), "d", 5),
            # ind C: touches but never converts
            ("C", "TOUCHED", "act-000", TS(2025, 1, 1), "d", 6),
            # media touch with NULL ts never qualifies
            ("A", "TOUCHED", "act-003", None, "d", 7),
        ])
        part_of = spark.createDataFrame(
            [("act-000", "cmp-00"), ("act-001", "cmp-00"), ("act-002", "cmp-00"), ("act-003", "cmp-00")],
            "activity string, campaign string",
        )
        att = attribute(t, part_of).collect()
        by_model = {}
        for r in att:
            by_model.setdefault(r["model"], []).append(r)
        assert {r["activity"] for r in by_model["firstTouch"]} == {"act-000"}
        assert {r["activity"] for r in by_model["lastTouch"]} == {"act-001"}
        linear = {r["activity"]: r["weight"] for r in by_model["linear"]}
        assert linear == {"act-000": 0.5, "act-001": 0.5}
        assert all(r["individual"] == "A" for r in att)  # B: no qualifying; C: no conversion

    def test_tie_break_on_equal_ts(self, spark):
        t = mk_triples(spark, [
            ("A", "TOUCHED", "act-001", TS(2025, 1, 1), "d", 0),
            ("A", "TOUCHED", "act-000", TS(2025, 1, 1), "d", 1),
            ("A", "CONVERTED_BY", "cmp-00", TS(2025, 2, 1), "d", 2),
        ])
        part_of = spark.createDataFrame(
            [("act-000", "cmp-00"), ("act-001", "cmp-00")], "activity string, campaign string"
        )
        att = {
            r["model"]: r["activity"]
            for r in attribute(t, part_of).collect()
            if r["model"] in ("firstTouch", "lastTouch")
        }
        assert att == {"firstTouch": "act-000", "lastTouch": "act-001"}  # id ASC / id DESC


class TestXxh64Sql:
    def test_duckdb_xxh64_matches_spark(self, spark):
        """kgc/functions/xxh64_sql.py generates DuckDB SQL that must equal
        Spark's xxhash64 bit-for-bit across the shapes the LSH oracle uses:
        int chains (minhash) and int+long chains (band hashes)."""
        import duckdb
        from pyspark.sql import functions as F

        from kgc.functions.xxh64_sql import hash_int_sql, hash_long_sql, to_signed_sql

        con = duckdb.connect()
        cases = [(0, 0), (3, 123), (31, 499), (1, 2**31 - 1), (63, 7)]
        for i, a in cases:
            want = spark.range(1).select(F.xxhash64(F.lit(i), F.lit(a))).collect()[0][0]
            got = con.sql(
                "SELECT " + to_signed_sql(
                    hash_int_sql(f"{a}::HUGEINT", hash_int_sql(f"{i}::HUGEINT", "42::HUGEINT"))
                )
            ).fetchone()[0]
            assert got == want, (i, a, got, want)
        # int + two longs (the band-hash shape), incl. negative longs
        for j, (l1, l2) in [(0, (5, -9)), (7, (-(2**62), 2**61)), (31, (-1, 0))]:
            want = spark.range(1).select(
                F.xxhash64(F.lit(j), F.array(F.lit(l1).cast("long"), F.lit(l2).cast("long")))
            ).collect()[0][0]
            u1 = f"(({l1}::HUGEINT + 18446744073709551616) % 18446744073709551616)"
            u2 = f"(({l2}::HUGEINT + 18446744073709551616) % 18446744073709551616)"
            got = con.sql(
                "SELECT " + to_signed_sql(
                    hash_long_sql(u2, hash_long_sql(u1, hash_int_sql(f"{j}::HUGEINT", "42::HUGEINT")))
                )
            ).fetchone()[0]
            assert got == want, (j, l1, l2, got, want)


class TestSimilarity:
    def test_bitmask_rescore_matches_array_intersect(self, spark):
        """op-39 packed variant: bit_count(a & b) intersection over
        array<long> masks must reproduce the exact path's similarities
        pair-for-pair on the committed corpus."""
        import os

        from pyspark.sql import functions as F

        from kgc.operators.similarity import (
            build_profiles_bitmask,
            candidate_pairs_exact,
            rescore_pairs_bitmask,
            score_pairs,
            touch_items,
        )

        repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        t = spark.read.parquet(os.path.join(repo, "data", "oracle", "sf0.01", "triples.parquet"))
        items = touch_items(t)
        exact = score_pairs(candidate_pairs_exact(items))
        n_bits = items.agg(F.max("act")).collect()[0][0] + 1
        masks = build_profiles_bitmask(items, n_bits)
        got = rescore_pairs_bitmask(exact.select("ind_a", "ind_b"), masks)
        a = sorted((r["ind_a"], r["ind_b"], round(r["similarity"], 9)) for r in exact.collect())
        b = sorted((r["ind_a"], r["ind_b"], round(r["similarity"], 9)) for r in got.collect())
        assert a == b and len(a) > 0

    def test_dict_encoded_similarity_matches_plain(self, spark):
        """The dictionary-encoded pair shuffle (8-byte codes) must emit the
        SIMILAR_TO row set that scoring raw ids gives, including the
        (ind_a, ind_b) string-order canonicalization."""
        import os

        from kgc.operators.similarity import candidate_pairs_exact, score_pairs, touch_items

        repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        t = spark.read.parquet(os.path.join(repo, "data", "oracle", "sf0.01", "triples.parquet"))
        plain = sorted(
            (r["ind_a"], r["ind_b"], round(r["similarity"], 9))
            for r in score_pairs(candidate_pairs_exact(touch_items(t))).collect()
        )
        enc = sorted(
            (r["ind_a"], r["ind_b"], round(r["similarity"], 9))
            for r in similar_to_exact(t).collect()
        )
        assert plain == enc and len(plain) > 0
        assert all(a < b for a, b, _ in enc)

    def test_otsuka_ochiai_values(self, spark):
        t = mk_triples(spark, [
            ("A", "TOUCHED", "act-000", TS(2025, 1, 1), "d", 0),
            ("A", "TOUCHED", "act-001", TS(2025, 1, 2), "d", 1),
            ("B", "TOUCHED", "act-000", TS(2025, 1, 3), "d", 2),
            ("B", "TOUCHED", "act-002", TS(2025, 1, 4), "d", 3),
            ("C", "TOUCHED", "act-000", None, "d", 4),  # NULL-ts counts for profiles
            ("C", "TOUCHED", "act-001", TS(2025, 1, 5), "d", 5),
            ("D", "TOUCHED", "act-009", TS(2025, 1, 6), "d", 6),  # shares nothing
            ("A", "TOUCHED", "act-000", TS(2025, 6, 1), "d", 7),  # dup act, distinct profile bit
        ])
        sim = {(r["ind_a"], r["ind_b"]): r["similarity"] for r in similar_to_exact(t).collect()}
        assert sim[("A", "C")] == pytest.approx(1.0)  # identical profiles
        assert sim[("A", "B")] == pytest.approx(1 / 2)
        assert sim[("B", "C")] == pytest.approx(1 / 2)
        assert len(sim) == 3  # D appears nowhere; pairs emitted once (a<b)

    def test_predict_pair_count_is_exact(self, spark):
        """Σ_act C(deg,2): acts with deg 3, 2, 1 → 3 + 1 + 0 = 4 — and it
        must equal the actual exact-path pair-generation output size."""
        from kgc.operators.similarity import candidate_pairs_exact, predict_pair_count, touch_items

        t = mk_triples(spark, [
            ("A", "TOUCHED", "act-000", TS(2025, 1, 1), "d", 0),
            ("B", "TOUCHED", "act-000", TS(2025, 1, 2), "d", 1),
            ("C", "TOUCHED", "act-000", TS(2025, 1, 3), "d", 2),
            ("A", "TOUCHED", "act-001", TS(2025, 1, 4), "d", 3),
            ("B", "TOUCHED", "act-001", TS(2025, 1, 5), "d", 4),
            ("D", "TOUCHED", "act-002", TS(2025, 1, 6), "d", 5),
        ])
        items = touch_items(t)
        assert predict_pair_count(items) == 4.0
        generated = candidate_pairs_exact(items).agg(F.sum("inter")).collect()[0][0]
        assert generated == 4  # Σinter counts each (act, pair) row exactly once

    def test_auto_select_skew_vs_uniform(self, spark):
        """VERDICT r2 #1: a skew-planted corpus (hot activity touched by
        everyone — Σdeg² quadratic) must select LSH; a uniform one (every
        activity deg≤2 — output linear) must select exact, at the same
        threshold."""
        from kgc.operators.similarity import select_similarity_mode

        n = 40
        hot = mk_triples(spark, [
            (f"i{j:02d}", "TOUCHED", "act-000", TS(2025, 1, 1), "d", j) for j in range(n)
        ])
        uniform = mk_triples(spark, [
            (f"i{j:02d}", "TOUCHED", f"act-{j // 2:03d}", TS(2025, 1, 1), "d", j)
            for j in range(n)
        ])
        threshold = 100.0  # hot: C(40,2)=780 pairs; uniform: 20 acts × C(2,2)=20
        mode_hot, pred_hot = select_similarity_mode(hot, threshold)
        mode_uni, pred_uni = select_similarity_mode(uniform, threshold)
        assert (mode_hot, pred_hot) == ("lsh", 780.0)
        assert (mode_uni, pred_uni) == ("exact", 20.0)

    def test_auto_select_profiles(self, spark):
        """VERDICT r3 #5: the two documented execution profiles resolve to
        their calibrated thresholds, an unknown profile fails fast, and a
        workload between the two crossovers selects exact under the
        cluster profile but LSH under the local one."""
        import pytest

        from kgc.operators.similarity import (
            AUTO_PAIR_THRESHOLD,
            LOCAL_PAIR_THRESHOLD,
            predict_pair_count,
            select_similarity_mode,
            sim_threshold_for_profile,
            touch_items,
        )

        assert sim_threshold_for_profile("cluster") == AUTO_PAIR_THRESHOLD == 2e9
        assert sim_threshold_for_profile("local") == LOCAL_PAIR_THRESHOLD == 1e8
        with pytest.raises(ValueError, match="profile"):
            sim_threshold_for_profile("laptop")

        n = 40
        hot = mk_triples(spark, [
            (f"i{j:02d}", "TOUCHED", "act-000", TS(2025, 1, 1), "d", j) for j in range(n)
        ])
        # scale the real thresholds down by the same ratio so the fixture's
        # 780 predicted pairs sits BETWEEN them (cluster' = 1000, local' = 50)
        scale = predict_pair_count(touch_items(hot)) / 780.0  # == 1.0, self-doc
        assert scale == 1.0
        mode_cluster, _ = select_similarity_mode(hot, 1000.0)
        mode_local, _ = select_similarity_mode(hot, 50.0)
        assert (mode_cluster, mode_local) == ("exact", "lsh")


class TestRecommend:
    def test_pinned_knn(self, spark):
        t = mk_triples(spark, [
            ("B", "PURCHASED", "prd-0002", TS(2025, 1, 1), "d", 0),
            ("B", "PURCHASED", "prd-0001", TS(2025, 1, 1), "d", 1),
            ("C", "PURCHASED", "prd-0001", TS(2025, 1, 1), "d", 2),
            ("A", "PURCHASED", "prd-0002", TS(2025, 1, 1), "d", 3),  # A owns prd-0002
        ])
        sim = spark.createDataFrame(
            [("A", "B", 0.9), ("A", "C", 0.5)], "ind_a string, ind_b string, similarity double"
        )
        recs = recommend(t, sim).filter("individual = 'A'").collect()
        assert [(r["product"], r["rank"]) for r in recs] == [("prd-0001", 1)]
        assert recs[0]["score"] == pytest.approx(1.4)  # 0.9 + 0.5, own product anti-joined away


class TestTimeDecay:
    def test_harmonic_decay_weights(self, spark):
        from kgc.operators.attribution import qualifying_touches, time_decay_weights
        from kgc.sources.synth import part_of_dim  # noqa: F401

        t = mk_triples(spark, [
            ("A", "TOUCHED", "act-000", TS(2025, 1, 10), "d", 0),  # 0 days before conv → d=1
            ("A", "TOUCHED", "act-001", TS(2025, 1, 9), "d", 1),   # 1 day  before       → d=1/2
            ("A", "TOUCHED", "act-002", TS(2025, 1, 7), "d", 2),   # 3 days before       → d=1/4
            ("A", "CONVERTED_BY", "cmp-00", TS(2025, 1, 10), "d", 3),
        ])
        part_of = spark.createDataFrame(
            [("act-000", "cmp-00"), ("act-001", "cmp-00"), ("act-002", "cmp-00")],
            "activity string, campaign string",
        )
        q = qualifying_touches(t, part_of)
        w = {r["activity"]: r["weight"] for r in time_decay_weights(q).collect()}
        total = 1 + 0.5 + 0.25
        assert w["act-000"] == pytest.approx(1 / total)
        assert w["act-001"] == pytest.approx(0.5 / total)
        assert w["act-002"] == pytest.approx(0.25 / total)
        assert sum(w.values()) == pytest.approx(1.0)


class TestIndWidth:
    """r3 sf10 finding: lpad TRUNCATES beyond its width, so a fixed 4-digit
    individual format collapsed every id >= 10000 — 200k intended
    individuals became exactly 10,000 canonical ids and the similarity
    stop-list (correctly) stopped all 500 activities. ind_width grows the
    format with the id space and stays 4 for every committed fixture."""

    def test_width_function(self):
        from kgc.sources.synth import ind_width

        assert ind_width(200) == 4
        assert ind_width(2_000) == 4
        assert ind_width(10_000) == 4      # max id 9999 — fixture width
        assert ind_width(10_001) == 5
        assert ind_width(200_000) == 6

    def test_catalog_id_space_scales_past_10k(self, spark):
        from pyspark.sql import functions as F

        from kgc.sources.synth import alias_catalog, n_individuals_for

        sf = 0.6  # n_ind = 12,000 — the first size the old format collapsed
        n_ind = n_individuals_for(sf)
        assert n_ind == 12_000
        cat = alias_catalog(spark, sf).filter(F.col("entity_type") == "individual")
        n_canon = (
            cat.select(F.regexp_replace("entity_id", "#a[12]$", "").alias("c"))
            .distinct().count()
        )
        assert n_canon == n_ind, n_canon
        # surfaces stay injective too (no two individuals share a surface)
        assert cat.select("surface_key").distinct().count() == 3 * n_ind

    def test_gate_scale_formats_unchanged(self, spark):
        from pyspark.sql import functions as F

        from kgc.sources.synth import alias_catalog

        cat = alias_catalog(spark, 0.01).filter(F.col("entity_type") == "individual")
        row = cat.filter(F.col("surface_key") == "i 0042").collect()
        assert row and row[0]["entity_id"] == "ind-0042"  # width-4 as committed


class TestRepetitionFeatures:
    """Gopher-style repetition quality signals (kgc/operators/curate.py,
    r4): planted-value checks plus a full DuckDB mirror — gate-grade
    cross-engine rigor without spending a slot in the 57-query registry."""

    def _docs(self, spark):
        rows = [
            (1, "a b c\na b c\na b c\nd e f"),        # 4 lines, 2 distinct
            (2, "x y x y x y x y"),                     # 'x y' dominates bigrams
            (3, "all distinct words here now"),         # no repetition
            (4, "single"),                              # <2 words: no bigrams
            (5, "  "),                                  # whitespace-only: dropped
            (6, "Mixed CASE mixed case\nMixed CASE mixed case"),
        ]
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_planted_values(self, spark):
        from kgc.operators.curate import repetition_features

        got = {r["doc_id"]: r for r in repetition_features(self._docs(spark)).collect()}
        assert set(got) == {1, 2, 3, 4, 6}  # 5 dropped
        assert got[1]["dup_line_fraction"] == 0.5
        # doc 2 bigrams: x y, y x, x y, y x, x y, y x, x y -> 4/7
        assert got[2]["top_bigram_fraction"] == round(4 / 7, 6)
        assert got[3]["dup_line_fraction"] == 0.0
        assert got[3]["top_bigram_fraction"] == 0.25  # 4 distinct bigrams of 4
        assert got[4]["top_bigram_fraction"] == 0.0
        # lines compare VERBATIM (case-sensitive), bigrams lowercased:
        assert got[6]["dup_line_fraction"] == 0.5
        # \s+ also splits the newline: 8 words -> 7 bigrams, 'mixed case' x4
        assert got[6]["top_bigram_fraction"] == round(4 / 7, 6)

    def test_matches_duckdb_mirror(self, spark, tmp_path):
        import duckdb

        from kgc.operators.curate import repetition_features

        pq = str(tmp_path / "docs.parquet")
        self._docs(spark).write.parquet(pq)
        got = sorted(map(tuple, repetition_features(spark.read.parquet(pq)).collect()))
        want = sorted(
            tuple(r)
            for r in duckdb.sql(f"""
        WITH d AS (SELECT doc_id, text FROM read_parquet('{pq}/*.parquet')
                   WHERE length(trim(text)) > 0),
        w AS (SELECT doc_id, text, string_split_regex(lower(trim(text)), '\\s+') AS ws FROM d),
        bg AS (
          SELECT doc_id, ws[i] || ' ' || ws[i+1] AS g
          FROM (SELECT doc_id, ws, generate_subscripts(ws, 1) AS i FROM w)
          WHERE i < len(ws)
        ),
        counts AS (SELECT doc_id, g, count(*) AS c FROM bg GROUP BY doc_id, g),
        agg AS (SELECT doc_id, max(c) AS mx, sum(c) AS tot FROM counts GROUP BY doc_id),
        lines AS (
          SELECT doc_id,
                 len(string_split(text, chr(10))) AS nl,
                 len(list_distinct(string_split(text, chr(10)))) AS nd
          FROM d
        )
        SELECT l.doc_id,
               round(1.0 - CAST(nd AS DOUBLE) / nl, 6) AS dup_line_fraction,
               round(coalesce(CAST(a.mx AS DOUBLE) / a.tot, 0.0), 6) AS top_bigram_fraction
        FROM lines l LEFT JOIN agg a USING (doc_id)
        """).fetchall()
        )
        assert got == want

    def test_driver_corpus_cross_engine(self, spark):
        """Same mirror over the committed sf0.001 documents table — the
        realistic-text regression net."""
        import duckdb

        from kgc.operators.curate import repetition_features

        pq = "/root/testdata/sf0.001/documents.parquet"
        got = sorted(map(tuple, repetition_features(spark.read.parquet(pq)).collect()))
        want = sorted(
            tuple(r)
            for r in duckdb.sql(f"""
        WITH d AS (SELECT doc_id, text FROM read_parquet('{pq}')
                   WHERE length(trim(text)) > 0),
        w AS (SELECT doc_id, text, string_split_regex(lower(trim(text)), '\\s+') AS ws FROM d),
        bg AS (
          SELECT doc_id, ws[i] || ' ' || ws[i+1] AS g
          FROM (SELECT doc_id, ws, generate_subscripts(ws, 1) AS i FROM w)
          WHERE i < len(ws)
        ),
        counts AS (SELECT doc_id, g, count(*) AS c FROM bg GROUP BY doc_id, g),
        agg AS (SELECT doc_id, max(c) AS mx, sum(c) AS tot FROM counts GROUP BY doc_id),
        lines AS (
          SELECT doc_id,
                 len(string_split(text, chr(10))) AS nl,
                 len(list_distinct(string_split(text, chr(10)))) AS nd
          FROM d
        )
        SELECT l.doc_id,
               round(1.0 - CAST(nd AS DOUBLE) / nl, 6) AS dup_line_fraction,
               round(coalesce(CAST(a.mx AS DOUBLE) / a.tot, 0.0), 6) AS top_bigram_fraction
        FROM lines l LEFT JOIN agg a USING (doc_id)
        """).fetchall()
        )
        assert len(got) > 0
        assert got == want
