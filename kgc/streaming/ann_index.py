"""op-64 (r5): streaming ANN index ingestion — the streaming twin of
op-63's incremental IVF maintenance, closing the last asymmetry between
the dedup family (batch operators + streaming sinks + compaction) and the
ANN family (batch lifecycle only).

Two-tier index, the LSM shape every serving-side vector store uses:

- `<index>/delta` — an append log of streamed arrivals. foreachBatch
  assigns each micro-batch against the STORED codebook and stored
  sub-codebooks (the op-63 invariant: the codebook is part of the index
  identity and is never re-derived) and appends
  (batch_id, vec_id, dv, dn, skey). Replayed batches (foreachBatch is
  at-least-once) append byte-identical rows — assignment is a pure
  function of (codebook, subbooks, vector) — so the read side heals with
  distinct, exactly like the dedup registries.
- `ivf_index_query_live` — answers over stored-data ∪ distinct(delta).
  The probe-key isin filter is applied to the UNION, and Catalyst pushes
  it through to the stored child, so partition pruning on the big tier
  survives (the delta tier is a plain filtered scan — small by design
  between flushes). The max_cell guard ranks on md5(vec_id) within skey,
  a pure row-content rule, so capping is independent of which tier a row
  sits in — live answers are bit-equal to post-flush answers.
- `ivf_index_flush` — folds delta into the partitioned store as a
  crash-safe distinct-merge: (1) atomically rename delta →
  delta.flushing; (2) merge flushing rows with the EXISTING rows of only
  the touched skey partitions (dropDuplicates on vec_id — duplicates are
  byte-identical by the purity argument) and dynamic-partition-overwrite
  just those partitions; (3) remove flushing. The merge is idempotent
  (existing ∪ delta re-merged is a fixed point), so `_recover_flush`
  re-runs it on entry whenever a crash left delta.flushing behind —
  the ADVICE-r4 orphan-recovery discipline, not a comment-level claim.
  Flush can then hand grown cells to op-63's ivf_index_maintain
  (split_threshold=), so a hot cell fed by the stream gets the op-58
  sub-quantization exactly as a batch-appended one would.

Quiesced-index precondition for flush/maintain (single writer), like
every compactor in kgc/streaming/dedup.py; reads are safe concurrently
with ingest because delta appends are new files only.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kgc.operators.ann_index import (
    _dirs,
    _index_rows,
    _read_data_raw,
    ivf_index_maintain,
    ivf_index_query,
)

_DELTA_SCHEMA = "batch_id long, vec_id long, dv array<double>, dn double, skey string"


def _delta_dir(path: str) -> str:
    return os.path.join(path, "delta")


def _flushing_dir(path: str) -> str:
    return os.path.join(path, "delta.flushing")


def _read_delta_rows(spark: SparkSession, d: str) -> DataFrame:
    if not os.path.isdir(d):
        return spark.createDataFrame([], _DELTA_SCHEMA).drop("batch_id")
    return (
        spark.read.schema(_DELTA_SCHEMA).parquet(d)
        .select("vec_id", "dv", "dn", "skey")
        .distinct()
    )


def _merge_flushing_into_data(spark: SparkSession, path: str) -> int:
    """Fold delta.flushing into the partitioned store. Idempotent: the
    existing rows of the touched partitions are read back, unioned with
    the delta rows, and de-duplicated on vec_id before a dynamic
    partition overwrite of ONLY those partitions — re-running after any
    crash point yields the same partition contents."""
    data_dir = _dirs(path)[0]
    delta = _read_delta_rows(spark, _flushing_dir(path)).localCheckpoint(eager=True)
    touched = [r["skey"] for r in delta.select("skey").distinct().collect()]
    if not touched:
        return 0
    existing = _read_data_raw(spark, path).filter(F.col("skey").isin(touched))
    merged = (
        existing.unionByName(delta)
        .dropDuplicates(["vec_id"])
        .localCheckpoint(eager=True)  # materialize BEFORE overwriting source dirs
    )
    n = merged.count()
    (
        merged.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("skey")
        .parquet(data_dir)
    )
    return n


def _recover_flush(spark: SparkSession, path: str) -> None:
    """If a crash left delta.flushing behind, complete the flush: re-run
    the idempotent merge, then drop the flushing dir. Never touches a
    healthy index (no flushing dir → no-op)."""
    if os.path.isdir(_flushing_dir(path)):
        _merge_flushing_into_data(spark, path)
        shutil.rmtree(_flushing_dir(path), ignore_errors=True)


def read_index_delta(spark: SparkSession, path: str) -> DataFrame:
    """Distinct streamed arrivals not yet folded into the store:
    (vec_id, dv, dn, skey)."""
    _recover_flush(spark, path)
    return _read_delta_rows(spark, _delta_dir(path))


def _ingest_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    batch_id: int,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Assign one micro-batch against the stored codebook + sub-codebooks
    and append to the delta log. Pure in (index state, batch rows), so a
    replayed batch appends byte-identical rows."""
    (
        _index_rows(spark, path, batch_df, id_col, vec_col)
        .withColumn("batch_id", F.lit(batch_id).cast("long"))
        .select("batch_id", "vec_id", "dv", "dn", "skey")
        .write.mode("append")
        .parquet(_delta_dir(path))
    )


def streaming_index_ingest(
    spark: SparkSession,
    emb_path: str,
    index_path: str,
    checkpoint_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_name: str = "kgc_stream_ann_ingest",
    flush: bool = False,
    split_threshold: int | None = None,
    n_sub: int = 16,
) -> DataFrame:
    """Drain all currently-available embedding files into the index delta
    tier and return the accumulated delta. Incremental via the checkpoint
    (new files only on re-drain). `flush=True` folds the delta into the
    partitioned store right after the drain (quiesced + committed by
    construction — the streaming_exact_dedup compact=True pattern), and
    with `split_threshold` also runs op-63's maintain so stream-fed hot
    cells sub-quantize."""
    from kgc.streaming.touches import _read_stream

    _recover_flush(spark, index_path)
    emb = _read_stream(spark, emb_path).select(id_col, vec_col)
    for q in spark.streams.active:
        if q.name == query_name:
            q.stop()

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        _ingest_batch(spark, batch_df, batch_id, index_path, id_col, vec_col)

    q = (
        emb.writeStream.foreachBatch(merge)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .queryName(query_name)
        .start()
    )
    q.awaitTermination()
    if flush:
        ivf_index_flush(spark, index_path, split_threshold=split_threshold, n_sub=n_sub)
    return read_index_delta(spark, index_path)


def ivf_index_flush(
    spark: SparkSession,
    path: str,
    split_threshold: int | None = None,
    n_sub: int = 16,
) -> int:
    """Fold the delta tier into the partitioned store; returns the number
    of rows now in the touched partitions (0 = nothing to flush). With
    `split_threshold`, cells grown past it are handed to op-63's
    maintain (re-split + compaction-style rewrite) afterwards."""
    _recover_flush(spark, path)
    d = _delta_dir(path)
    if not os.path.isdir(d):
        return 0
    os.rename(d, _flushing_dir(path))
    n = _merge_flushing_into_data(spark, path)
    shutil.rmtree(_flushing_dir(path), ignore_errors=True)
    if split_threshold is not None:
        ivf_index_maintain(spark, path, split_threshold=split_threshold, n_sub=n_sub)
    return n


def ivf_index_query_live(
    spark: SparkSession,
    path: str,
    queries: DataFrame | None = None,
    **kwargs,
) -> DataFrame:
    """Top-k over stored ∪ delta. Answers are bit-equal to flushing first
    and querying the store (pinned in tests/test_ann_index.py): the skey
    assignment, the max_cell md5 rank, and the cosine rounding are all
    pure row-content rules, independent of tier."""
    _recover_flush(spark, path)
    delta = _read_delta_rows(spark, _delta_dir(path))
    return ivf_index_query(spark, path, queries=queries, extra_rows=delta, **kwargs)
