"""op-16/17/22/23/24/26/37: Otsuka–Ochiai binary cosine similarity.

The reference GraphGist's headline computation: for individuals with binary
touch profiles A, B over the activity universe, the OTU contingency table's
`a = |A∩B|` and the Otsuka–Ochiai coefficient

    similarity(A, B) = |A∩B| / sqrt(|A|·|B|)

(Choi/Cha/Tappert 2010 taxonomy; equals cosine similarity of the 0/1
vectors). Its Cypher does the full
`MATCH (i1)-[:TOUCHED]->(x)<-[:TOUCHED]-(i2)` expansion — an inverted-index
self-join. At 10^12-doc scale that join's output is Σ_act deg(act)², so this
module ships three cooperating pieces:

- **exact path (op-16/24)**: inverted-index self-join → one hash agg. Ground
  truth for P/R; used outright at small scale.
- **LSH path (op-17)**: minhash signatures (b bands × r rows, builtin
  higher-order functions — hashes never leave the JVM) → banded self-join →
  exact re-scoring of surviving candidate pairs with `array_intersect` on the
  full profiles. Emitted similarities are EXACT; only the candidate set is
  approximate. Tuned so pair P/R ≥ 0.95 vs op-16 (SURVEY.md §4.3).
- **hot-activity stop-list (op-26)**: an activity touched by >f% of
  individuals contributes O((f·n)²) candidate pairs and ~no ranking signal
  (a near-universal bit barely affects Otsuka–Ochiai ordering); such
  activities are excluded from *blocking* (pair generation) but ALWAYS kept
  in profiles/degrees, so scored similarities stay exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Banding tuned for the kNN use case: recall ≥0.95 on pairs with
# Otsuka–Ochiai ≥ 0.5 (≈ Jaccard ≥ 1/3). P[candidate] = 1-(1-j^r)^b:
# r=2, b=16 → 0.94 at j=0.4, 0.99 at j=0.5. The EXACT path is the emitted
# SIMILAR_TO table (P/R gate); LSH is the 10^12-scale candidate generator.
DEFAULT_BANDS = 32
DEFAULT_ROWS = 2
# Stop-list only near-universal activities: a bit shared by >50% of profiles
# is ~uninformative for Otsuka–Ochiai ranking but quadratic for blocking.
HOT_FRACTION = 0.50
# Broadcast the (vocabulary-sized) profile table into the candidate-pair
# re-score joins when it has at most this many individuals (~2 KB/profile →
# ≲200 MB built, far under the 8 GB broadcast cap): the sort-merge
# alternative shuffles + sorts the CANDIDATE table twice just to attach
# profiles. Above the threshold (the true 10^12-doc regime) the planner's
# sort-merge join is the right call and is left alone. The profiles table
# is always localCheckpointed first, so the deciding count() is a
# metadata-cheap job over materialized partitions, not a recompute.
BROADCAST_PROFILE_MAX = 100_000


def touch_items(triples: DataFrame) -> DataFrame:
    """Distinct (individual, act_ord) pairs — the inverted-index base.
    NULL-ts (media) touches count: the profile is *whether* A touched x."""
    return _touch_items_raw(triples).dropDuplicates(["individual", "act"])


def _touch_items_raw(triples: DataFrame) -> DataFrame:
    """touch_items WITHOUT the distinct shuffle — for consumers whose first
    aggregation dedups anyway (collect_set in _items_with_deg), so the
    (individual, act) dedup exchange is not paid twice (r6)."""
    return triples.filter(F.col("pred") == "TOUCHED").select(
        F.col("subj").alias("individual"),
        F.regexp_extract("obj", r"act-(\d+)", 1).cast("int").alias("act"),
    )


def build_profiles(items: DataFrame) -> DataFrame:
    """op-23: sorted distinct activity ordinals per individual + degree.

    deg = size of the collected distinct set (identical to countDistinct,
    without the expand/two-phase distinct-agg plan the r1 form paid — r6)."""
    return (
        items.groupBy("individual")
        .agg(F.array_sort(F.collect_set("act")).alias("acts"))
        .withColumn("deg", F.size("acts").cast("int"))
    )


def profile_degree(items: DataFrame) -> DataFrame:
    """op-22: |A| per individual."""
    return items.groupBy("individual").agg(F.countDistinct("act").cast("int").alias("deg"))


def hot_activities(items: DataFrame, fraction: float = HOT_FRACTION) -> DataFrame:
    """op-26: heavy-hitter activities (touched by > fraction of individuals).
    Exact counts here; the documented 10^12-scale variant samples with
    TABLESAMPLE — the stop-list only needs approximate membership."""
    n_ind = items.select("individual").distinct().count()
    return (
        items.groupBy("act")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") > fraction * n_ind)
        .select("act")
    )


def predict_pair_count(items: DataFrame) -> float:
    """Exact output size of the inverted-index self-join: Σ_act C(deg(act), 2).

    One O(items) aggregation over the degree histogram op-26 already scans —
    cheap relative to the similarity stage it sizes. Float (not int) because
    at 10^12 docs the sum can pass 2^63 — it's a plan-selection signal, not
    data."""
    r = (
        items.groupBy("act")
        .agg(F.count("*").alias("n"))
        .agg(F.sum(F.col("n").cast("double") * (F.col("n") - 1) / 2.0).alias("pairs"))
        .collect()[0]
    )
    return float(r["pairs"] or 0.0)


# Above this many candidate pairs the exact inverted-index self-join's
# OUTPUT (not any skew) is the bottleneck — Σdeg² rows through one shuffle.
# 2e9 pairs ≈ 50 GB of (code, code, deg, deg) shuffle at 24 B/row: fine on a
# cluster, already hours on one box; past it the banded-LSH candidate
# generator (recall 0.9973 at sim≥0.5, sf1 harness) is strictly better.
AUTO_PAIR_THRESHOLD = 2e9
LOCAL_PAIR_THRESHOLD = 1e8  # measured local[32] exact→LSH crossover (BENCH §1)

_PROFILE_THRESHOLDS = {"cluster": AUTO_PAIR_THRESHOLD, "local": LOCAL_PAIR_THRESHOLD}


def sim_threshold_for_profile(profile: str) -> float:
    """Auto-select threshold for an execution profile (VERDICT r3 #5).

    'cluster' (default): 2e9 predicted pairs ≈ a 50 GB pair shuffle — the
    point where the exact inverted-index path stops being worth its
    perfect recall on a 1000-executor cluster. 'local': 1e8, the crossover
    MEASURED on this box (BENCH/BASELINE.md §1: LSH already wins near
    1e8–1e9 predicted pairs at local[32]) — a laptop user running the CLI
    without a cluster should flip to LSH ~20× earlier. An explicit
    --sim-pair-threshold always overrides the profile."""
    try:
        return _PROFILE_THRESHOLDS[profile]
    except KeyError:
        raise ValueError(
            f"profile must be one of {sorted(_PROFILE_THRESHOLDS)}, got {profile!r}"
        ) from None


def select_similarity_mode(
    triples: DataFrame,
    threshold: float = AUTO_PAIR_THRESHOLD,
    items: DataFrame | None = None,
) -> tuple[str, float]:
    """('exact'|'lsh', predicted_pairs) — the run_pipeline auto-switch
    (VERDICT r2 missing #1: a user who forgets --lsh-sim at 100× must not
    get a job that cannot finish). Pass a prebuilt/materialized `items` to
    avoid re-running the touch-dedup shuffle the chosen path needs anyway."""
    predicted = predict_pair_count(touch_items(triples) if items is None else items)
    return ("lsh" if predicted > threshold else "exact"), predicted


def _salted_self_pairs(items_hot: DataFrame, n_salt: int) -> DataFrame:
    """op-21 applied to SELF-join pair generation on hot blocking keys.

    Plain self-join puts every pair of a hot activity's deg² output on one
    reducer. Salting for a self-join needs the triangular replication trick:
    give each row a deterministic salt g = pmod(xxhash64(ind), G); the left
    copy of a row fans out to join keys (act, g, g2) for g2 in [g, G),
    the right copy to (act, g1, g) for g1 in [0, g] — every unordered salt
    pair (g1 <= g2) meets on exactly one reducer, so the hot key's work
    spreads over G(G+1)/2 reducers. Output = the plain self-join exactly.
    """
    g = F.pmod(F.xxhash64(F.col("individual")), F.lit(n_salt)).cast("int")
    it = items_hot.withColumn("_g", g)
    a = it.select(
        F.col("individual").alias("_ia"), "act", F.col("deg").alias("_da"),
        F.col("_g").alias("_g1"),
        F.explode(F.sequence(F.col("_g"), F.lit(n_salt - 1))).alias("_g2"),
    )
    b = it.select(
        F.col("individual").alias("_ib"), "act", F.col("deg").alias("_db"),
        F.explode(F.sequence(F.lit(0), F.col("_g"))).alias("_g1"),
        F.col("_g").alias("_g2"),
    )
    joined = a.join(b, ["act", "_g1", "_g2"])
    # off-diagonal salt pairs meet exactly once (A = lower-salt row) in
    # arbitrary id order → canonicalize ids; the diagonal block meets in
    # BOTH orders → keep only _ia < _ib there
    joined = joined.filter((F.col("_g1") != F.col("_g2")) | (F.col("_ia") < F.col("_ib"))).filter(
        F.col("_ia") != F.col("_ib")
    )
    swap = F.col("_ia") > F.col("_ib")
    return joined.select(
        "act",
        F.when(swap, F.col("_ib")).otherwise(F.col("_ia")).alias("ind_a"),
        F.when(swap, F.col("_db")).otherwise(F.col("_da")).alias("deg_a"),
        F.when(swap, F.col("_ia")).otherwise(F.col("_ib")).alias("ind_b"),
        F.when(swap, F.col("_da")).otherwise(F.col("_db")).alias("deg_b"),
    )


def _items_with_deg(items: DataFrame) -> DataFrame:
    """Distinct (individual, deg, act) rows in ONE exchange (r6): groupBy
    collect_set (dedups AND collects per-individual in one partial+final
    agg) then a map-side explode re-attaches `deg` to every item row.

    Replaces the r1 shape — dropDuplicates exchange + countDistinct
    expand-agg + items⋈deg join (3 exchanges + a broadcast build) — with a
    single hash-partition by individual; output rows are identical
    (measured 17.6s → 9.9s on the sf0.1 similarity_exact noop bench, and
    the bimodal 9–18 s swings of the old plan disappear). Input need not
    be distinct: collect_set dedups."""
    prof = items.groupBy("individual").agg(F.array_sort(F.collect_set("act")).alias("_acts"))
    return prof.select(
        "individual",
        F.size("_acts").cast("int").alias("deg"),
        F.explode("_acts").alias("act"),
    )


def candidate_pairs_exact(items: DataFrame, hot_acts: DataFrame | None = None, n_salt: int = 8) -> DataFrame:
    """op-16 + op-24: exact co-touch pairs with intersection counts.

    Carrying `deg` on the item rows means the pair aggregation yields
    |A∩B|, |A|, |B| in ONE shuffle — no join back to profiles (the
    reference's `size((i)-[:TOUCHED]->())` degree-lookup trick, columnar).

    With `hot_acts` (op-26 output), pair generation for those activities
    goes through the salted triangular self-join (op-21) so a planted hot
    key spreads over n_salt(n_salt+1)/2 reducers — results are EXACTLY
    equal either way (tests/test_skew.py); AQE skew-join is the backstop
    when no explicit hot list is supplied.

    `it` is localCheckpointed (r6): it feeds BOTH self-join branches under
    different aliases, which defeats exchange reuse, so the un-materialized
    plan ran the collect_set+explode aggregation subtree once per branch —
    the candidate_pairs_lsh rationale; the table is O(items), linear at any
    scale, and the checkpoint additionally gives the planner true runtime
    sizes so the deg-carrying side can be broadcast when it fits.
    """
    it = _items_with_deg(items).localCheckpoint(eager=True)
    if hot_acts is not None:
        cold = it.join(hot_acts, "act", "left_anti")
        hot = it.join(F.broadcast(hot_acts), "act", "left_semi")
        a = cold.select(F.col("individual").alias("ind_a"), "act", F.col("deg").alias("deg_a"))
        b = cold.select(F.col("individual").alias("ind_b"), "act", F.col("deg").alias("deg_b"))
        joined = (
            a.join(b, "act")
            .filter(F.col("ind_a") < F.col("ind_b"))
            .select("act", "ind_a", "deg_a", "ind_b", "deg_b")
            .unionByName(_salted_self_pairs(hot, n_salt))
        )
    else:
        a = it.select(F.col("individual").alias("ind_a"), "act", F.col("deg").alias("deg_a"))
        b = it.select(F.col("individual").alias("ind_b"), "act", F.col("deg").alias("deg_b"))
        joined = a.join(b, "act").filter(F.col("ind_a") < F.col("ind_b"))
    return joined.groupBy("ind_a", "ind_b").agg(
        F.count("*").alias("inter"), F.max("deg_a").alias("deg_a"), F.max("deg_b").alias("deg_b")
    )


def score_pairs(pairs: DataFrame) -> DataFrame:
    """R11: similarity = |A∩B| / sqrt(|A|·|B|) — SIMILAR_TO edges."""
    return pairs.select(
        "ind_a",
        "ind_b",
        (F.col("inter") / F.sqrt(F.col("deg_a").cast("double") * F.col("deg_b"))).alias("similarity"),
    )


def similar_to_exact(
    triples: DataFrame, dict_encode: bool = False, items: DataFrame | None = None
) -> DataFrame:
    """SIMILAR_TO edges. The Σdeg² pair shuffle carries 8-byte codes instead
    of id strings (see encode_individuals); the output is the row set
    scoring raw ids gives (tests pin equality). `dict_encode` is accepted
    and ignored: every call takes the encoded path (the raw-id one measured
    13.35 s vs 8.88 s at sf0.1, flat at sf0.02). `items` supplies a prebuilt
    (ideally materialized) touch_items table so callers that already paid
    the dedup shuffle don't pay it again."""
    if items is None:
        # raw (non-distinct) on purpose: _items_with_deg's collect_set dedups,
        # so the standalone call pays ONE shuffle instead of dedup + groupBy (r6)
        items = _touch_items_raw(triples)
    enc, dic = encode_individuals(items)
    pairs = candidate_pairs_exact(enc)
    da = dic.select(F.col("code").alias("ind_a"), F.col("individual").alias("_sa"))
    db = dic.select(F.col("code").alias("ind_b"), F.col("individual").alias("_sb"))
    # Explicit broadcast (r6): the dictionary is vocabulary-sized (two 8-byte
    # cols + id string) while `pairs` is the Σdeg² table — the planner's
    # default-sized view of the checkpointed dic picked sort-merge, paying
    # two full exchanges + sorts OF THE PAIR TABLE just to decode ids
    # (measured 11.7 s → 6.6 s median on the sf0.1 noop bench). The exact
    # path is only auto-selected below the pair threshold, where the
    # individual vocabulary is far under any broadcast cap.
    decoded = pairs.join(F.broadcast(da), "ind_a").join(F.broadcast(db), "ind_b")
    # code order != string order: re-canonicalize so ind_a < ind_b as strings
    swap = F.col("_sa") > F.col("_sb")
    reoriented = decoded.select(
        F.when(swap, F.col("_sb")).otherwise(F.col("_sa")).alias("ind_a"),
        F.when(swap, F.col("_sa")).otherwise(F.col("_sb")).alias("ind_b"),
        "inter",
        F.when(swap, F.col("deg_b")).otherwise(F.col("deg_a")).alias("deg_a"),
        F.when(swap, F.col("deg_a")).otherwise(F.col("deg_b")).alias("deg_b"),
    )
    return score_pairs(reoriented)


def encode_individuals(items: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Dictionary-encode individual ids to dense 8-byte codes for the pair
    shuffle (VERDICT r1 #5): the Σdeg² join+agg rows then carry two longs
    instead of two strings — narrower shuffle, cheaper hash-agg compares.

    Codes are xxhash64(id) with a collision AUDIT (one vocabulary-sized agg;
    count == countDistinct(code) or we refuse): deterministic, no global
    sort and no zipWithIndex lineage, exact by construction once audited.
    Decode is a dictionary join, never a re-hash.

    `dic` is localCheckpointed (r6): the r5 shape recomputed the vocabulary
    distinct-shuffle once per consumer (the audit, then each decode-join
    branch — 3× total in similar_to_exact), and the un-sized lazy plan made
    the planner sort-merge the decode joins, shuffling the Σdeg² pair table
    twice. Materialized once, the dictionary is O(individuals) with a known
    (tiny) size, so the decode joins broadcast and the pair table never
    shuffles again. The audit agg now reads the checkpoint instead of
    re-scanning items."""
    dic = (
        items.select("individual").distinct()
        .select(F.xxhash64("individual").alias("code"), "individual")
        .localCheckpoint(eager=True)
    )
    audit = dic.agg(
        F.count("*").alias("n"), F.countDistinct("code").alias("d")
    ).collect()[0]
    if audit["n"] != audit["d"]:  # ~2^-65 per pair; refuse rather than corrupt
        raise ValueError(
            "xxhash64 collision in individual vocabulary — encoded SIMILAR_TO "
            "would merge two individuals; refusing"
        )
    return items.withColumn("individual", F.xxhash64("individual")), dic


# ---------------------------------------------------------------------------
# LSH path
# ---------------------------------------------------------------------------


def minhash_signatures(profiles: DataFrame, bands: int = DEFAULT_BANDS, rows: int = DEFAULT_ROWS) -> DataFrame:
    """Minhash signature per profile, entirely in builtin higher-order
    functions: sig[i] = min over acts of xxhash64(seed=i, act)."""
    n = bands * rows
    sig = F.transform(
        F.sequence(F.lit(0), F.lit(n - 1)),
        lambda i: F.array_min(F.transform(F.col("acts"), lambda a: F.xxhash64(i, a))),
    )
    return profiles.withColumn("minhash", sig)


def band_keys(signed: DataFrame, bands: int = DEFAULT_BANDS, rows: int = DEFAULT_ROWS) -> DataFrame:
    """Explode signatures into (band_idx, band_hash) blocking keys."""
    bands_col = F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda j: F.xxhash64(j, F.slice(F.col("minhash"), j * rows + 1, rows)),
    )
    return signed.select(
        "individual", "acts", "deg", F.posexplode(bands_col).alias("band_idx", "band_hash")
    )


def candidate_pairs_lsh(
    triples: DataFrame,
    bands: int = DEFAULT_BANDS,
    rows: int = DEFAULT_ROWS,
    stoplist: DataFrame | None = None,
    items: DataFrame | None = None,
) -> DataFrame:
    """op-17: banded self-join candidates, exact re-score (§2.4-B: emitted
    similarity values are exact; only pair recall is probabilistic).

    Blocking profiles exclude stop-listed hot activities; full profiles are
    used for scoring so values match the exact path on every emitted pair.
    `items` supplies a prebuilt touch_items table (see similar_to_exact).

    Both `profiles` and `banded` are localCheckpointed (r6): each feeds TWO
    differently-aliased join branches, and differently-keyed consumers defeat
    exchange reuse, so the un-materialized plan ran the whole signature
    subtree (items dedup → anti-join → collect_set → b·r minhash transform)
    once per branch — measured 9.5–11.6 s → 5.2–5.7 s on the sf0.1 noop
    bench. Same rationale (and precedent) as minhash_banded_pairs' `sh`
    checkpoint; both tables are O(individuals), linear at any scale.
    """
    if items is None:
        items = touch_items(triples)
    profiles = build_profiles(items).localCheckpoint(eager=True)
    block_items = items if stoplist is None else items.join(stoplist, "act", "left_anti")
    block_profiles = (
        block_items.groupBy("individual").agg(F.array_sort(F.collect_set("act")).alias("acts"))
        .withColumn("deg", F.size("acts"))
    )
    banded = band_keys(
        minhash_signatures(block_profiles, bands, rows), bands, rows
    ).localCheckpoint(eager=True)
    a = banded.select(F.col("individual").alias("ind_a"), F.col("band_idx"), F.col("band_hash"))
    b = banded.select(F.col("individual").alias("ind_b"), F.col("band_idx"), F.col("band_hash"))
    cand = (
        a.join(b, ["band_idx", "band_hash"])
        .filter(F.col("ind_a") < F.col("ind_b"))
        .select("ind_a", "ind_b")
        .dropDuplicates(["ind_a", "ind_b"])
    )
    pa = profiles.select(F.col("individual").alias("ind_a"), F.col("acts").alias("acts_a"), F.col("deg").alias("deg_a"))
    pb = profiles.select(F.col("individual").alias("ind_b"), F.col("acts").alias("acts_b"), F.col("deg").alias("deg_b"))
    if profiles.count() <= BROADCAST_PROFILE_MAX:
        # guide §3.1: broadcast the side that fits — otherwise the planner's
        # default-sized view of the checkpoint sort-merges, shuffling the
        # candidate table twice to attach profiles (see BROADCAST_PROFILE_MAX)
        pa, pb = F.broadcast(pa), F.broadcast(pb)
    scored = (
        cand.join(pa, "ind_a")
        .join(pb, "ind_b")
        .withColumn("inter", F.size(F.array_intersect("acts_a", "acts_b")))
        .filter(F.col("inter") >= 1)
    )
    return score_pairs(scored.select("ind_a", "ind_b", "inter", "deg_a", "deg_b"))


# ---------------------------------------------------------------------------
# Packed-bitmask profiles (op-39 variant)
# ---------------------------------------------------------------------------


def build_profiles_bitmask(items: DataFrame, n_bits: int) -> DataFrame:
    """op-39 packed variant: profile as array<long> bitmask over the activity
    universe (act ordinals < n_bits). |A∩B| becomes Σ bit_count(word_a &
    word_b) — ⌈n_bits/64⌉ AND+popcount words per pair instead of an O(deg)
    element-wise array_intersect, a win for dense profiles. All builtin
    higher-order functions (JVM-side, codegen)."""
    n_words = (n_bits + 63) // 64
    mask = F.expr(
        f"transform(sequence(0, {n_words - 1}),"
        " w -> aggregate(filter(acts, a -> a div 64 = w), 0L,"
        "                (acc, a) -> acc | shiftleft(1L, a % 64)))"
    )
    return (
        items.groupBy("individual")
        .agg(F.array_sort(F.collect_set("act")).alias("acts"))
        .select(
            "individual",
            mask.alias("mask"),
            F.size("acts").cast("int").alias("deg"),
        )
    )


_BITMASK_INTER = (
    "aggregate(zip_with(mask_a, mask_b, (x, y) -> bit_count(x & y)), 0, (acc, c) -> acc + c)"
)


def rescore_pairs_bitmask(cand: DataFrame, mask_profiles: DataFrame) -> DataFrame:
    """Exact Otsuka–Ochiai re-score of candidate (ind_a, ind_b) pairs using
    packed bitmask profiles — same contract as the array_intersect stage in
    candidate_pairs_lsh (emitted similarities exact; inter=0 pairs dropped).

    mask_profiles is localCheckpointed (r6): it feeds both join branches
    under different aliases, so the un-materialized mask-construction
    subtree (collect_set + n_words-fold pack) ran twice — the
    candidate_pairs_lsh rationale; the table is O(individuals)."""
    mask_profiles = mask_profiles.localCheckpoint(eager=True)
    pa = mask_profiles.select(
        F.col("individual").alias("ind_a"), F.col("mask").alias("mask_a"), F.col("deg").alias("deg_a")
    )
    pb = mask_profiles.select(
        F.col("individual").alias("ind_b"), F.col("mask").alias("mask_b"), F.col("deg").alias("deg_b")
    )
    if mask_profiles.count() <= BROADCAST_PROFILE_MAX:
        # guide §3.1 — same rule as candidate_pairs_lsh's profile attach
        # (masks are even narrower: ⌈n_bits/64⌉ longs per row)
        pa, pb = F.broadcast(pa), F.broadcast(pb)
    scored = (
        cand.join(pa, "ind_a")
        .join(pb, "ind_b")
        .withColumn("inter", F.expr(_BITMASK_INTER))
        .filter(F.col("inter") >= 1)
    )
    return score_pairs(scored.select("ind_a", "ind_b", "inter", "deg_a", "deg_b"))


def pr_eval(got: DataFrame, want: DataFrame, keys: list[str]) -> dict[str, float]:
    """op-37: precision/recall of `got` vs `want` on `keys`."""
    g = got.select(*keys).distinct()
    w = want.select(*keys).distinct()
    tp = g.intersect(w).count()
    n_got = g.count()
    n_want = w.count()
    return {
        "precision": tp / n_got if n_got else 1.0,
        "recall": tp / n_want if n_want else 1.0,
        "tp": float(tp),
        "got": float(n_got),
        "want": float(n_want),
    }
