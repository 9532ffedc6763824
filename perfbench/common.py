"""Pieces both workloads use: the seeded document sample and the
order-independent checksum every output is folded to."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# §2.4-D natural key of a triple (kgc.operators.triples.NATURAL_KEY), restated
# here so a change to the program's key cannot silently change the check.
NATURAL_KEY = ["subj", "pred", "obj", "ts", "doc_id", "span_idx"]
SIMILAR_COLS = ["ind_a", "ind_b", "similarity"]
RECOMMEND_COLS = ["individual", "product", "score", "rank"]
ATTRIBUTION_COLS = ["individual", "campaign", "activity", "model", "weight", "ts"]


def doc_bucket(seed: int, n: int, doc_id: str = "doc_id") -> Column:
    """pmod(xxhash64(seed, doc_id), n): the seed's deterministic split of the
    corpus (which docs are sampled, which batch a doc lands in)."""
    return F.pmod(F.xxhash64(F.lit(seed), F.col(doc_id)), F.lit(n))


def fold(df: DataFrame, cols: list[str]) -> tuple[int, int]:
    """(row count, bit_xor of xxhash64 over `cols`) — computes every row of
    `df`; ANSI-safe (no overflowing sum)."""
    r = df.agg(
        F.count(F.lit(1)).alias("n"), F.bit_xor(F.xxhash64(*cols)).alias("x")
    ).collect()[0]
    return int(r["n"]), int(r["x"] or 0)


_IND = r"(I-\d+|ind_\d+|Individual #\d+)"
_TS = r"(\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}Z)"
# span template → (regex over the whole span text, predicate, group of the
# individual, group of the object, group of the timestamp or None)
_TEMPLATES = [
    (rf"^{_IND} opened email (act-\d{{3}}) of campaign cmp-\d{{2}} at {_TS}\.$", "TOUCHED", 1, 2, 3),
    (rf"^campaign (cmp-\d{{2}}) converted {_IND} at {_TS}\.$", "CONVERTED_BY", 2, 1, 3),
    (rf"^{_IND} purchased (prd-\d{{4}}) at {_TS}\.$", "PURCHASED", 1, 2, 3),
    (rf"^photo of {_IND} at webinar (act-\d{{3}})\.$", "TOUCHED", 1, 2, None),
]


def parsed_triples(docs: DataFrame, ind_width: int) -> DataFrame:
    """The triples a correct construction must produce from `docs`, read off
    the generator's fixed span templates with JVM regexes: one triple per
    templated span, subject = canonical individual id `ind-<n, zero-padded to
    ind_width>`. Shares no code with kgc's extraction, linking or
    canonicalization; equal to `ground_truth_triples` on the generated
    corpus (checked by smoke_test.py) and far cheaper to compute."""
    sp = docs.select("doc_id", F.posexplode("spans").alias("span_idx", "s")).select(
        "doc_id", F.col("span_idx").cast("int"), F.col("s.text").alias("text")
    )
    t = F.col("text")
    pick = lambda i: (lambda k: F.regexp_extract(t, _TEMPLATES[i][0], k))  # noqa: E731
    subj = obj = ts = pred = None
    for i, (pat, p, g_ind, g_obj, g_ts) in enumerate(_TEMPLATES):
        hit = t.rlike(pat)
        ind_num = F.regexp_extract(pick(i)(g_ind), r"(\d+)$", 1).cast("long")
        cases = [
            (F.lit(p), "pred"),
            (F.format_string(f"ind-%0{ind_width}d", ind_num), "subj"),
            (pick(i)(g_obj), "obj"),
            (F.to_timestamp(pick(i)(g_ts), "yyyy-MM-dd'T'HH:mm:ss'Z'") if g_ts else F.lit(None).cast("timestamp"), "ts"),
        ]
        vals = dict((name, col) for col, name in cases)
        pred = F.when(hit, vals["pred"]) if pred is None else pred.when(hit, vals["pred"])
        subj = F.when(hit, vals["subj"]) if subj is None else subj.when(hit, vals["subj"])
        obj = F.when(hit, vals["obj"]) if obj is None else obj.when(hit, vals["obj"])
        ts = F.when(hit, vals["ts"]) if ts is None else ts.when(hit, vals["ts"])
    return sp.select(
        subj.alias("subj"), pred.alias("pred"), obj.alias("obj"), ts.alias("ts"), "doc_id", "span_idx"
    ).filter(F.col("pred").isNotNull())
