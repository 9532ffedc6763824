"""op-12/14/46: entity linking — candidate generation + batched link scoring.

The reference GraphGist never links (its notebook writes entity ids straight
into Neo4j); here every surface form extracted from text must be resolved
against an entity catalog:

1. candidate generation (op-14): normalize the surface (op-11) and equi-join
   on a blocking key against the **broadcast** catalog — the catalog is a
   dimension (O(entities)), the mentions side is O(docs); broadcasting removes
   the shuffle entirely.
2. scoring (op-12): an **iterator-form pandas UDF** (op-46) scores each
   (surface_key, candidate_key) pair with a blend of normalized Levenshtein
   similarity and token-set Jaccard. Iterator form so per-worker setup happens
   once per Python worker, not once per batch.
3. resolution: argmax candidate per mention via a struct-min hash agg with
   a pinned tie-break (score DESC, entity_id ASC) — SURVEY.md §2.4.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kgc.functions.text import block_key, normalize_surface

LINK_THRESHOLD = 0.3  # candidates scoring below are dropped (no link)


def _lev(a: str, b: str) -> int:
    """Plain Levenshtein distance (no external deps; called per candidate
    pair inside the vectorized batch — pair count is bounded by blocking)."""
    if a == b:
        return 0
    if len(a) < len(b):
        a, b = b, a
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def _score_pair(s: str | None, c: str | None) -> float:
    if s is None or c is None:
        return 0.0
    s, c = str(s), str(c)
    maxlen = max(len(s), len(c)) or 1
    lev_sim = 1.0 - _lev(s, c) / maxlen
    st, ct = set(s.split()), set(c.split())
    jac = len(st & ct) / (len(st | ct) or 1)
    return 0.5 * lev_sim + 0.5 * jac


@F.pandas_udf(T.DoubleType())
def score_links_udf(surface: Iterator[tuple[pd.Series, pd.Series]]) -> Iterator[pd.Series]:
    """op-12/46: blend = 0.5·(1 − lev/maxlen) + 0.5·token-Jaccard.

    The surface/candidate vocabulary is tiny relative to the mention stream
    (O(entities·alias_forms) distinct pairs vs O(docs) rows), so each batch
    is deduplicated to its unique pairs and scored once, with a cache
    carried across batches — the reason this is the ITERATOR form: the
    cache (like a model or catalog) lives once per Python worker."""
    cache: dict[tuple, float] = {}
    for surf, cand in surface:
        keys = pd.Series(list(zip(surf.fillna("\0"), cand.fillna("\0"))), index=surf.index)
        for k in keys.unique():
            if k not in cache:
                s, c = k
                cache[k] = _score_pair(None if s == "\0" else s, None if c == "\0" else c)
        yield keys.map(cache).astype("float64")


def link_mentions(
    mentions_long: DataFrame, catalog: DataFrame, broadcast_resolution: bool = True
) -> DataFrame:
    """Resolve (mention_role, surface) rows to catalog entity ids.

    mentions_long columns: doc_id, span_idx, match_idx, mention_type, role
    ('individual'|'activity'|'campaign'|'product'), surface.
    Returns those + entity_id, link_score (best candidate above threshold).

    Scale shape: the best candidate is a pure function of (role,
    surface_key), so resolution happens on the DISTINCT VOCABULARY —
    O(entities·alias_forms) rows — where the UDF scoring and the argmax are
    trivially cheap; the resulting resolution dimension is then
    broadcast-joined onto the mention stream. Per-mention cost at 10^12
    docs: one broadcast hash-join probe, zero shuffles of the stream, and
    the Python-side work is constant in the corpus size.

    ``broadcast_resolution=False`` is the 10^9+-entity fallback (SCALE.md:
    past ~a few GB the resolution dim no longer fits an executor broadcast):
    both sides shuffle on (role, surface_key) into a sort-merge join —
    one shuffle of the mention stream, none of it through the driver. Output
    is bit-identical either way (pinned in tests/test_plans.py +
    test_ops_core.py)."""
    m = mentions_long.withColumn("surface_key", normalize_surface("surface"))
    resolution = link_resolution_dim(mentions_long, catalog)
    # --- stream rewrite (one broadcast hash join; sort-merge fallback) --
    if broadcast_resolution:
        joined = m.join(F.broadcast(resolution), ["role", "surface_key"])
    else:
        joined = m.join(resolution.hint("merge"), ["role", "surface_key"])
    return joined.select(
        "doc_id", "span_idx", "match_idx", "mention_type", "ts_str", "role",
        "surface", "surface_key", "entity_id", "link_score",
    )


def link_resolution_dim(mentions_long: DataFrame, catalog: DataFrame) -> DataFrame:
    """The (role, surface_key) → (entity_id, link_score) resolution dimension
    alone — the vocabulary-sized part of link_mentions."""
    m = mentions_long.withColumn("surface_key", normalize_surface("surface"))
    vocab = m.select("role", "surface_key").distinct().withColumn(
        "bkey", block_key(F.col("surface_key"))
    )
    cat = catalog.withColumn("bkey", block_key(F.col("surface_key")))
    cands = vocab.join(
        F.broadcast(cat),
        (vocab["bkey"] == cat["bkey"]) & (vocab["role"] == cat["entity_type"]),
        "inner",
    ).select(
        vocab["role"], vocab["surface_key"],
        cat["surface_key"].alias("cand_key"), cat["entity_id"],
    )
    scored = cands.withColumn(
        "link_score", score_links_udf(F.col("surface_key"), F.col("cand_key"))
    ).filter(F.col("link_score") >= LINK_THRESHOLD)
    return (
        scored.groupBy("role", "surface_key")
        .agg(F.min(F.struct((-F.col("link_score")).alias("ns"), F.col("entity_id").alias("e"))).alias("b"))
        .select("role", "surface_key", F.col("b.e").alias("entity_id"), (-F.col("b.ns")).alias("link_score"))
    )


_ROLE_OF_OBJ = {"touch": "activity", "media_touch": "activity", "conversion": "campaign", "purchase": "product"}


def link_triples_wide(mentions: DataFrame, catalog: DataFrame) -> DataFrame:
    """Fused wide-form link + triple assembly: the mention stream is never
    unpivoted or re-aggregated — each surface column is resolved by a
    broadcast hash-join against the (tiny) resolution dimension, so the
    per-mention cost is two broadcast probes and ZERO shuffles of the
    stream. Semantically identical to
    assemble_triples(link_mentions(mentions_to_long(m), catalog)).

    `mentions` is localCheckpointed (r6): the resolution dimension derives
    its vocabulary FROM the mention stream, so the un-materialized plan ran
    the Python extraction subtree twice — once to build the broadcast dim,
    once for the probe side (measured 5.2 s → 3.5 s warm on the sf0.1
    fused-construction bench). Batch-only by construction (the streaming
    carrier is link_triples_wide_with_dim, which takes a prebuilt dim).
    """
    mentions = mentions.localCheckpoint(eager=True)
    res = link_resolution_dim(mentions_to_long(mentions), catalog)
    return link_triples_wide_with_dim(mentions, res)


def link_triples_wide_with_dim(mentions: DataFrame, res: DataFrame) -> DataFrame:
    """The stateless half of link_triples_wide: resolve + assemble against a
    PRECOMPUTED resolution dimension. This is the streaming-construction
    carrier (kgc/streaming/construct.py): `mentions` may be a streaming
    DataFrame — every op here is a narrow projection or a stream-static
    broadcast join, no aggregation — while `res` is the slowly-changing
    dimension the batch pipeline refreshes.

    Implemented as the fully-matched slice of link_triples_wide_outer (one
    source of truth for the resolve+assemble semantics, r3 review finding);
    the subj/obj null-rejecting filter lets Catalyst's EliminateOuterJoin
    turn both LEFT probes back into the inner broadcast hash joins the r2
    plan had — pinned by tests/test_plans.py (no stream shuffle, no SMJ)."""
    out = link_triples_wide_outer(mentions, res)
    return (
        out.filter(F.col("subj").isNotNull() & F.col("obj").isNotNull())
        .select("subj", "pred", "obj", "ts", "doc_id", F.col("span_idx").cast("int"))
    )


def link_triples_wide_outer(mentions: DataFrame, res: DataFrame) -> DataFrame:
    """link_triples_wide_with_dim with LEFT probes: a mention whose surface
    the resolution dimension cannot resolve survives with NULL subj/obj and
    a `miss` marker instead of silently vanishing (VERDICT r2 missing #2 —
    a production incremental KG grows its entity set between dim
    refreshes).

    Output = every MENTIONS column + (subj, pred, obj, ts, miss) where miss
    ∈ (NULL, 'individual', 'object', 'both'). Rows with miss IS NULL are
    exactly the link_triples_wide_with_dim rows; miss-bearing rows carry the
    full original mention so a later drain_pending() can re-link them
    against a refreshed dimension. Still a stateless plan of narrow
    projections + stream-static broadcast joins — a valid streaming carrier
    with zero state."""
    from kgc.functions.text import parse_ts

    res_ind = res.filter(F.col("role") == "individual").select(
        F.col("surface_key").alias("_ind_key"), F.col("entity_id").alias("subj")
    )
    res_obj = res.filter(F.col("role") != "individual").select(
        F.col("role").alias("_res_role"), F.col("surface_key").alias("_res_key"),
        F.col("entity_id").alias("obj"),
    )
    obj_role = F.element_at(
        F.map_from_arrays(
            F.array(*[F.lit(k) for k in _ROLE_OF_OBJ]),
            F.array(*[F.lit(v) for v in _ROLE_OF_OBJ.values()]),
        ),
        F.col("mention_type"),
    )
    obj_surface = F.coalesce("act_surface", "cmp_surface", "prd_surface")
    m = mentions.withColumn("_ind_key", normalize_surface("ind_surface")).withColumn(
        "_obj_key", normalize_surface(obj_surface)
    ).withColumn("_obj_role", obj_role)
    miss = (
        F.when(F.col("subj").isNull() & F.col("obj").isNull(), F.lit("both"))
        .when(F.col("subj").isNull(), F.lit("individual"))
        .when(F.col("obj").isNull(), F.lit("object"))
    )
    return (
        m.join(F.broadcast(res_ind), "_ind_key", "left")
        .join(
            F.broadcast(res_obj),
            (F.col("_obj_key") == F.col("_res_key")) & (F.col("_obj_role") == F.col("_res_role")),
            "left",
        )
        .select(
            *mentions.columns,
            "subj",
            F.when(F.col("mention_type").isin("touch", "media_touch"), F.lit("TOUCHED"))
            .when(F.col("mention_type") == "conversion", F.lit("CONVERTED_BY"))
            .otherwise(F.lit("PURCHASED"))
            .alias("pred"),
            "obj",
            parse_ts("ts_str").alias("ts"),
            miss.alias("miss"),
        )
    )


def mentions_to_long(mentions: DataFrame) -> DataFrame:
    """Unpivot MENTIONS (one row per mention, surface columns by role) into
    (role, surface) rows — stack() stays JVM-side."""
    return mentions.select(
        "doc_id", "span_idx", "match_idx", "mention_type", "ts_str",
        F.expr(
            "stack(4, 'individual', ind_surface, 'activity', act_surface, "
            "'campaign', cmp_surface, 'product', prd_surface) AS (role, surface)"
        ),
    ).filter(F.col("surface").isNotNull())
