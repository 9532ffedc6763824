"""op-15/36: assemble linked mentions into raw triples + provenance.

Each extracted mention carries one subject role (individual) and one object
role (activity | campaign | product). Re-pivoting the linked long-form rows
back to one row per mention is a two-branch conditional aggregation — a
single partial+final hash agg, no join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kgc.functions.text import parse_ts

PRED_OF = {"touch": "TOUCHED", "media_touch": "TOUCHED", "conversion": "CONVERTED_BY", "purchase": "PURCHASED"}

# §2.4-D natural key — the MERGE-dedup identity of a triple. Shared by the
# batch dedup, the streaming-sink compaction, and the contract query so the
# contract cannot drift piecewise.
NATURAL_KEY = ["subj", "pred", "obj", "ts", "doc_id", "span_idx"]


def assemble_triples(linked: DataFrame) -> DataFrame:
    """linked (from kgc.operators.link.link_mentions) → TRIPLES rows with
    alias-level subjects (canonicalization happens downstream, op-28/29).

    media_touch mentions have no timestamp in the source span → ts NULL;
    pinned semantics: NULL-ts touches count toward similarity profiles but
    never qualify for attribution.
    """
    pred = (
        F.when(F.col("mention_type").isin("touch", "media_touch"), F.lit("TOUCHED"))
        .when(F.col("mention_type") == "conversion", F.lit("CONVERTED_BY"))
        .otherwise(F.lit("PURCHASED"))
    )
    per_mention = (
        linked.groupBy("doc_id", "span_idx", "match_idx", "mention_type", "ts_str")
        .agg(
            F.max(F.when(F.col("role") == "individual", F.col("entity_id"))).alias("subj_alias"),
            F.max(
                F.when(
                    F.col("role") == F.element_at(
                        F.map_from_arrays(
                            F.array(F.lit("touch"), F.lit("media_touch"), F.lit("conversion"), F.lit("purchase")),
                            F.array(F.lit("activity"), F.lit("activity"), F.lit("campaign"), F.lit("product")),
                        ),
                        F.col("mention_type"),
                    ),
                    F.col("entity_id"),
                )
            ).alias("obj_id"),
        )
        .filter(F.col("subj_alias").isNotNull() & F.col("obj_id").isNotNull())
    )
    return per_mention.select(
        F.col("subj_alias").alias("subj"),
        pred.alias("pred"),
        F.col("obj_id").alias("obj"),
        parse_ts("ts_str").alias("ts"),
        "doc_id",
        F.col("span_idx").cast("int"),
    )


def canonical_rewrite(triples_raw: DataFrame, entities_canon: DataFrame) -> DataFrame:
    """The stateless half of canonical_triples: broadcast alias→canonical
    rewrite only, NO dedup — safe on a streaming DataFrame (the MERGE dedup
    is a bounded-state batch/compaction concern, not a per-row one)."""
    return triples_raw.join(
        F.broadcast(entities_canon), triples_raw["subj"] == entities_canon["alias_id"], "left"
    ).select(
        F.coalesce(entities_canon["canonical_id"], triples_raw["subj"]).alias("subj"),
        "pred", "obj", "ts", "doc_id", "span_idx",
    )


def canonical_triples(triples_raw: DataFrame, entities_canon: DataFrame) -> DataFrame:
    """§2.4-F: rewrite alias-level subjects through the canonical map, then
    MERGE-idempotent dedup on the natural key (§2.4-D).

    entities_canon is O(entities) — broadcast; the rewrite is shuffle-free.
    """
    return canonical_rewrite(triples_raw, entities_canon).dropDuplicates(NATURAL_KEY)
