"""op-05: per-partition lineage + metrics.

After each stage checkpoint, one cheap scan over the materialized table
records (stage, partition_id, rows_out, fingerprint) where fingerprint is an
order-independent sum of per-row xxhash64 — equal fingerprints across a
resume prove the stage reproduced byte-identical content partition by
partition (determinism §2.4-E makes this meaningful).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _row_hash(df: DataFrame):
    # direct multi-column xxhash64 — stays in whole-stage codegen; to_json
    # would build a string per row (~4× slower on wide/large tables)
    return F.xxhash64(*[F.col(c) for c in df.columns])


def partition_metrics(df: DataFrame, stage: str) -> DataFrame:
    row_hash = _row_hash(df)
    return (
        df.select(F.spark_partition_id().alias("partition_id"), row_hash.alias("h"))
        .groupBy("partition_id")
        .agg(F.count("*").alias("rows_out"), F.expr("bit_xor(h)").alias("fingerprint"))
        .select(F.lit(stage).alias("stage"), "partition_id", "rows_out", "fingerprint")
    )


def partition_metrics_arrow(df: DataFrame, stage: str) -> DataFrame:
    """op-48 surface carrier: the same (stage, partition_id, rows_out,
    fingerprint) contract as partition_metrics, with the per-batch combine
    running in ``mapInArrow``.

    The per-row hash stays JVM-side (builtin xxhash64 — identical bytes to
    the builtin path); Arrow batches carry only (partition_id, h) and are
    pre-reduced to ONE row per batch in Python (count + running XOR over a
    zero-copy numpy view), so the final shuffle moves O(batches) rows. XOR
    is associative/commutative, making the batch partials exact.

    The production default remains partition_metrics: the all-builtin agg
    is codegen-resident and strictly cheaper (SURVEY.md §8 r2 drift note).
    This carrier keeps the mapInArrow surface exercised and is pinned
    bit-equal in tests/test_properties.py."""
    import pyarrow as pa

    hashed = df.select(F.spark_partition_id().alias("partition_id"), _row_hash(df).alias("h"))

    def combine(batches):
        for batch in batches:
            if batch.num_rows == 0:
                continue
            import numpy as np

            pid = batch.column(0)[0].as_py()  # constant within a task
            h = batch.column(1).to_numpy(zero_copy_only=False).astype(np.int64)
            fp = np.bitwise_xor.reduce(h)
            yield pa.RecordBatch.from_pydict(
                {
                    "partition_id": pa.array([pid], pa.int32()),
                    "rows_out": pa.array([batch.num_rows], pa.int64()),
                    "fingerprint": pa.array([int(fp)], pa.int64()),
                }
            )

    partials = hashed.mapInArrow(combine, "partition_id int, rows_out long, fingerprint long")
    return (
        partials.groupBy("partition_id")
        .agg(F.sum("rows_out").alias("rows_out"), F.expr("bit_xor(fingerprint)").alias("fingerprint"))
        .select(F.lit(stage).alias("stage"), "partition_id", "rows_out", "fingerprint")
    )


def table_fingerprint(df: DataFrame) -> int:
    """Order/partitioning-independent whole-table fingerprint."""
    r = df.select(_row_hash(df).alias("h")).agg(F.expr("bit_xor(h)").alias("fp"), F.count("*").alias("n")).collect()[0]
    return hash((r["fp"], r["n"]))
