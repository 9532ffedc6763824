"""Curation-pipeline integration (kgc/plans/curate.py): a small corpus with
one planted casualty per stage must come out partitioned exactly between the
final corpus and the rejects ledger, with each plant rejected at its stage."""

import pytest
from pyspark.sql import functions as F

from kgc.plans.curate import run_curation

def _filler(d: int) -> str:
    """Stopword-rich text whose content tokens are unique to doc `d`, so
    distinct docs share almost no 3-shingles (only the pure-stopword
    window 'the is of')."""
    return " ".join(f"tok{d}x{i} the is of" for i in range(7))


def _mk_docs(spark):
    """doc_ids chosen so none is divisible by 23 except the benchmark doc.

    Plants: 201/202 exact dups; 301/302 near-dups (one word differs);
    23 = benchmark slice; 401 contains a chunk of 23's text (containment
    high vs its own small shingle set, Jaccard vs the long bench doc low);
    501 punctuation soup (quality 0)."""
    bench_text = " ".join(
        f"w{i} the of and to in is that it for a b{i % 7}" for i in range(6)
    )  # 72 words -> stopword-rich, ~70 shingles
    chunk = " ".join(bench_text.split()[:14])  # 12 shingles of bench material
    rows = [
        (101, _filler(101), "en"),
        (102, _filler(102), "fr"),
        (103, _filler(103), "en"),
        (104, _filler(104), "fr"),
        (105, _filler(105), "en"),
        (106, _filler(106), "en"),
        (201, _filler(201), "en"),
        (202, _filler(201), "en"),  # exact dup of 201
        (301, _filler(301) + " omega", "en"),
        (302, _filler(301) + " sigma", "en"),  # near-dup of 301 (1 word differs)
        (23, bench_text, "en"),  # benchmark slice (23 % 23 == 0)
        (401, chunk + " unique tail words here now", "en"),  # contaminated
        (501, "!!! ??? *** ((( ))) %%% &&&", "en"),  # quality 0
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


@pytest.fixture(scope="module")
def tables(spark, tmp_path_factory):
    docs = _mk_docs(spark)
    wd = str(tmp_path_factory.mktemp("curate"))
    return docs, run_curation(spark, wd, docs, input_fp="test-fixture", quota=3)


def test_corpus_and_rejects_partition_the_input(spark, tables):
    docs, t = tables
    kept = {r["doc_id"] for r in t["corpus"].select("doc_id").collect()}
    rej = [tuple(r) for r in t["rejects"].collect()]
    rej_ids = {r[0] for r in rej}
    assert kept.isdisjoint(rej_ids), kept & rej_ids
    assert len(rej) == len(rej_ids)  # each doc rejected at most once
    all_ids = {r["doc_id"] for r in docs.collect()}
    assert kept | rej_ids == all_ids


def test_each_plant_rejected_at_its_stage(tables):
    _, t = tables
    stage_of = {r["doc_id"]: (r["stage"], r["reason"]) for r in t["rejects"].collect()}
    assert stage_of[501][0] == "quality"
    assert stage_of[202] == ("exact_dedup", "exact_duplicate")  # 201 (min id) kept
    assert 201 not in stage_of
    assert stage_of[302][0] == "near_dedup"  # 301 (min id) kept
    assert 301 not in stage_of
    assert stage_of[23] == ("decontam", "benchmark_slice")
    assert stage_of[401] == ("decontam", "contaminated")


def test_quota_respected_per_lang(tables):
    _, t = tables
    counts = dict(
        t["corpus"].groupBy("lang").agg(F.count("*").alias("n")).collect()
    )
    assert all(n <= 3 for n in counts.values()), counts


def test_packs_cover_corpus_within_budget(tables):
    _, t = tables
    kept = {r["doc_id"] for r in t["corpus"].select("doc_id").collect()}
    packs = t["packs"].collect()
    assert {r["doc_id"] for r in packs} == kept
    assert len(packs) == len(kept)  # each doc packed exactly once
    fills = (
        t["packs"]
        .groupBy("shard_id", "bin_id")
        .agg(F.sum(F.least("n_tokens", F.lit(256))).alias("fill"))
        .collect()
    )
    assert all(r["fill"] <= 256 for r in fills), fills

def test_pack_null_text_counts_zero_tokens(spark):
    """ADVICE r3: NULL text must fold as 0 tokens (coalesce both engines),
    not crash the pandas fold with int(NaN)."""
    from kgc.operators.sample import pack_greedy

    docs = spark.createDataFrame(
        [(1, "a b c"), (2, None), (3, "d e")], "doc_id long, text string"
    )
    rows = {r["id"]: r for r in pack_greedy(docs, budget=4, n_shards=1).collect()}
    assert rows[2]["n_tokens"] == 0
    # 0-token doc never opens a new bin: 1(3 tok) + 2(0) + 3(2 tok>budget-3) => bins 0,0,1
    assert [rows[i]["bin_id"] for i in (1, 2, 3)] == [0, 0, 1]


def test_pack_auto_shards_matches_explicit(spark):
    """VERDICT r3 #2: n_shards=None derives ceil(rows/target) from a row
    probe; the auto-sized run must equal the explicit-shard run bit-for-bit
    and each shard's fold must equal the pure-function reference."""
    from kgc.operators.sample import greedy_bins, pack_greedy

    docs = spark.createDataFrame(
        [(i, " ".join(["t"] * (1 + i % 7))) for i in range(13)],
        "doc_id long, text string",
    )
    auto = pack_greedy(docs, budget=8, n_shards=None, target_rows_per_shard=4)
    explicit = pack_greedy(docs, budget=8, n_shards=4)  # ceil(13/4) == 4
    a = sorted(map(tuple, auto.collect()))
    assert a == sorted(map(tuple, explicit.collect()))
    # per-shard fold equals the property-tested pure function
    import collections

    by_shard = collections.defaultdict(list)
    for shard, i, n, b in a:
        by_shard[shard].append((i, n, b))
    for shard, rows in by_shard.items():
        rows.sort()
        assert [b for _, _, b in rows] == greedy_bins([n for _, n, _ in rows], 8)


def test_param_change_invalidates_stage_resume(spark, tmp_path_factory):
    """ADVICE r3 (medium): same workdir + different curation params must NOT
    resume stale stage outputs — the param tuple is folded into input_fp."""
    docs = _mk_docs(spark)
    wd = str(tmp_path_factory.mktemp("curate_params"))
    t1 = run_curation(spark, wd, docs, input_fp="fp", quota=3)
    n1 = t1["corpus"].count()
    # tightening the per-language quota shrinks the corpus; a stale resume
    # of the sample stage would return the quota=3 output instead
    t2 = run_curation(spark, wd, docs, input_fp="fp", quota=1)
    n2 = t2["corpus"].count()
    n_langs = t2["corpus"].select("lang").distinct().count()
    assert n2 == n_langs < n1
    # and re-running with the ORIGINAL params resumes the original outputs
    t3 = run_curation(spark, wd, docs, input_fp="fp", quota=3)
    assert t3["corpus"].count() == n1


def test_keep_best_per_cluster_unit(spark):
    """op-61 planted clusters: max-quality wins, quality ties fall to min
    id, unclustered docs keep themselves, missing quality scores 0.0."""
    from kgc.operators.dedup import keep_best_per_cluster

    docs = spark.createDataFrame([(i,) for i in (1, 2, 3, 4, 5, 6, 7)], "doc_id long")
    cc = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (5, 5), (6, 5)], "node long, component long"
    )
    quality = spark.createDataFrame(
        [(1, 0.3), (2, 0.9), (3, 0.9), (4, 0.1), (6, 0.2)],
        "doc_id long, quality_score double",
    )  # doc 5 has NO quality row -> 0.0
    got = {r["doc_id"]: r["keep_doc_id"]
           for r in keep_best_per_cluster(docs, cc, quality).collect()}
    assert got == {
        1: 2, 2: 2, 3: 2,   # cluster {1,2,3}: 0.9 tie between 2,3 -> min id 2
        4: 4, 7: 7,          # unclustered keep themselves
        5: 6, 6: 6,          # cluster {5,6}: 5 scores 0.0 < 0.2
    }


def test_dedup_keep_best_quality_keeps_max_quality_member(spark, tmp_path_factory):
    """op-61 wired into the DAG: a planted near-dup cluster where the
    HIGHER id has the higher quality — min_id keeps the low-quality copy,
    best_quality keeps the best one (the VERDICT r4 #4 done-criterion)."""
    from kgc.operators.curate import quality_features

    plants = [
        (601, _filler(601) + " ;;; ;;;", "en"),  # punctuation drags quality down
        (602, _filler(601) + " zeta wau", "en"),  # clean near-dup, higher quality
    ]
    docs = _mk_docs(spark).unionByName(
        spark.createDataFrame(plants, "doc_id long, text string, lang string")
    )
    q = {r["doc_id"]: r["quality_score"]
         for r in quality_features(docs).filter(F.col("doc_id").isin(601, 602)).collect()}
    assert q[602] > q[601]  # the premise the plant is built on

    wd_min = str(tmp_path_factory.mktemp("keep_min"))
    t_min = run_curation(spark, wd_min, docs, input_fp="fp")
    kept_min = {r["doc_id"] for r in t_min["corpus"].select("doc_id").collect()}
    assert 601 in kept_min and 602 not in kept_min

    wd_best = str(tmp_path_factory.mktemp("keep_best"))
    t_best = run_curation(spark, wd_best, docs, input_fp="fp",
                          dedup_keep="best_quality")
    kept_best = {r["doc_id"] for r in t_best["corpus"].select("doc_id").collect()}
    assert 602 in kept_best and 601 not in kept_best
    # everything else is keep-rule-invariant on this corpus (301 outranks
    # 302 on quality ties via the id tie-break, like min_id)
    assert kept_min - {601} == kept_best - {602}
    reason = {r["doc_id"]: r["stage"] for r in t_best["rejects"].collect()}
    assert reason[601] == "near_dedup"


def test_subword_tokenizer_packs_against_subword_counts(spark, tmp_path_factory):
    """op-60 wired into the DAG (r5): tokenizer='subword' re-counts the
    pack stage with the longest-match vocab counter (same fold), and the
    tokenizer + vocab digest fold into the fingerprint — same workdir,
    different counter, different (not stale-resumed) pack output."""
    from kgc.operators.tokenize import subword_token_counts

    docs = _mk_docs(spark)
    vocab = ["th", "the", "is", "of", "cat", "do", "er"]
    wd = str(tmp_path_factory.mktemp("curate_tok"))
    t_ws = run_curation(spark, wd, docs, input_fp="fp")
    # collect BEFORE the param change: a fingerprint miss recomputes the
    # stage dir in place, so the lazy t_ws frames would read the new files
    ws_counts = {r["doc_id"]: r["n_tokens"] for r in t_ws["packs"].collect()}
    t_sub = run_curation(spark, wd, docs, input_fp="fp",
                         tokenizer="subword", vocab=vocab)
    want = {
        r["doc_id"]: r["n_subword_tokens"]
        for r in subword_token_counts(t_sub["corpus"], vocab).collect()
    }
    got = {r["doc_id"]: r["n_tokens"] for r in t_sub["packs"].collect()}
    assert got == want
    # the two counters disagree somewhere on this corpus, so a stale
    # resume of the ws pack would be visible
    assert ws_counts != got
    # original-params re-run still resumes the ws output byte-for-byte
    t_ws2 = run_curation(spark, wd, docs, input_fp="fp")
    assert {r["doc_id"]: r["n_tokens"] for r in t_ws2["packs"].collect()} == ws_counts


def test_repetition_gate_rejects_template_spam(spark, tmp_path_factory):
    """r4 op-59 wired into the DAG: with max_repetition set, a planted
    template-spam doc (high top-bigram fraction, fine ratio features)
    falls at the quality stage with a rep_score reason; with the gate off
    (default) it survives — and the default path is byte-stable vs r3."""
    spam = (901, "the cat the cat the cat the cat the cat the cat the cat", "en")
    docs = _mk_docs(spark).unionByName(
        spark.createDataFrame([spam], "doc_id long, text string, lang string")
    )
    wd_off = str(tmp_path_factory.mktemp("rep_off"))
    t_off = run_curation(spark, wd_off, docs, input_fp="fp")
    assert 901 in {r["doc_id"] for r in t_off["corpus"].select("doc_id").collect()}

    # 0.4 sits between the stopword-rich fixture fillers ("the is of" x7
    # gives top-bigram 7/27 ≈ 0.26) and the spam plant ("the cat" x7 of 13
    # bigrams ≈ 0.54) — only the plant falls
    wd_on = str(tmp_path_factory.mktemp("rep_on"))
    t_on = run_curation(spark, wd_on, docs, input_fp="fp", max_repetition=0.4)
    stage_of = {r["doc_id"]: (r["stage"], r["reason"]) for r in t_on["rejects"].collect()}
    assert stage_of[901][0] == "quality"
    assert stage_of[901][1].startswith("rep_score=")
    # the planted-corpus survivors are otherwise unchanged
    assert {r["doc_id"] for r in t_on["corpus"].select("doc_id").collect()} == {
        r["doc_id"] for r in t_off["corpus"].select("doc_id").collect()
    } - {901}


def test_failed_stage_leaves_upstream_manifests(spark, tmp_path_factory, monkeypatch):
    """A stage that raises reaches the caller only after every upstream
    stage's deferred finalize has written its manifest, so a resume reuses
    all of them."""
    import os

    import kgc.plans.curate as curmod

    def boom(*a, **k):
        raise RuntimeError("injected crash")

    monkeypatch.setattr(curmod, "pack_greedy", boom)
    wd = str(tmp_path_factory.mktemp("curate_fail"))
    with pytest.raises(RuntimeError, match="injected crash"):
        run_curation(spark, wd, _mk_docs(spark), input_fp="fp", quota=3, force=True)
    upstream = ["quality", "exact_dedup", "near_dedup", "decontam", "sample"]
    missing = [s for s in upstream if not os.path.exists(os.path.join(wd, s, "_MANIFEST.json"))]
    assert not missing, missing


def test_empty_stage_output_is_readable_and_resumable(spark, tmp_path_factory):
    """r4: a stage that filters EVERYTHING (min_quality above every score)
    must produce a readable empty table and resume cleanly — previously the
    bucketed dynamic-partition write of zero rows emitted no schema-bearing
    file and the next read threw UNABLE_TO_INFER_SCHEMA."""
    docs = _mk_docs(spark)
    wd = str(tmp_path_factory.mktemp("curate_empty"))
    t = run_curation(spark, wd, docs, input_fp="fp", min_quality=99.0)
    assert t["corpus"].count() == 0
    assert t["packs"].count() == 0
    assert t["rejects"].count() == docs.count()  # everything ledgered
    # resume over the empty checkpoints works too
    t2 = run_curation(spark, wd, docs, input_fp="fp", min_quality=99.0)
    assert t2["corpus"].count() == 0
