"""op-63 (r5): incremental IVF index maintenance — append, re-split,
query over a PERSISTED index (VERDICT r4 #3).

ivf_store (kgc/operators/dedup.py) writes a partition-pruned index but
nothing could append to it against its existing codebook, and nothing
triggered op-58's hot-cell sub-quantization when an appended cell grew
past split_threshold. This module is that lifecycle — the ANN rendering
of the streaming-dedup sink + compaction treatment:

- ivf_index_build: coarse-assign a corpus and persist
  ``<path>/data`` partitioned by `skey` ('cell' or 'cell#sub' — the
  op-58 refined key, initially unsplit), ``<path>/codebook`` (c_id, cv,
  cn), and ``<path>/subbooks`` (cell, sub_id, scv, scn — empty at build).
- ivf_index_append: assign NEW vectors against the STORED codebook
  (never re-derived — re-deriving would silently shift every prior
  assignment) and the stored sub-codebooks, then append only the touched
  skey partitions.
- ivf_index_maintain: cells whose TOTAL size crossed split_threshold get
  the op-58 sub-quantization as a compaction-style rewrite. The
  sub-codebook is recomputed from ALL current members under the
  arrival-order-free md5 rank, which makes the WHOLE index state a pure
  function of (codebook, member set): build+append+maintain ≡ one
  batch build over the final corpus, bit-for-bit (pinned in
  tests/test_ann_index.py). Re-maintaining is idempotent; a grown
  already-split cell re-splits against its refreshed sub-codebook.
- ivf_index_query: probe-pruned top-k — probe skeys are collected
  (bounded: ≤ |queries|·nprobe·nprobe_sub keys) and pushed as an isin
  partition filter, so unprobed cell directories are never read (plan
  pinned in tests/test_plans.py).

Reads never mutate the index. Recovery from an interrupted maintain (its
`_maintaining.json` marker) runs only from ivf_index_maintain — directly
or through ivf_index_flush(split_threshold=...) — and read_index_data
(so every query) raises while the marker is present.

Like the streaming sink compactors, maintain/append assume a QUIESCED
index (no concurrent writer); an atomic-snapshot table format
(Iceberg/Delta) would replace the partition-overwrite + stale-dir sweep
with one metadata commit (kgc/sources/catalog.py documents that seam).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kgc.operators.dedup import (
    _ivf_topk,
    _members,
    _probe_skeys,
    _sub_codebooks,
    _with_skey,
    ivf_assign,
    ivf_codebook,
)

_SUBBOOK_SCHEMA = "cell long, sub_id int, scv array<double>, scn double"


def _dirs(path: str) -> tuple[str, str, str]:
    return (
        os.path.join(path, "data"),
        os.path.join(path, "codebook"),
        os.path.join(path, "subbooks"),
    )


def read_index_codebook(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(_dirs(path)[1])


def read_index_subbooks(spark: SparkSession, path: str) -> DataFrame:
    sub_dir = _dirs(path)[2]
    if not os.path.isdir(sub_dir):
        return spark.createDataFrame([], _SUBBOOK_SCHEMA)
    return spark.read.schema(_SUBBOOK_SCHEMA).parquet(sub_dir)


def _read_data_raw(spark: SparkSession, path: str) -> DataFrame:
    """The data scan WITHOUT the maintain-marker check — for the writers
    (the maintain rewrite, the streaming flush merge), which must read the
    layout an interrupted maintain left behind."""
    return spark.read.schema(
        "vec_id long, dv array<double>, dn double, skey string"
    ).parquet(_dirs(path)[0]).select("vec_id", "dv", "dn", "skey")


def read_index_data(spark: SparkSession, path: str) -> DataFrame:
    """(vec_id, dv, dn, skey) — skey is the partition column. The schema
    is explicit so skey is ALWAYS string: an all-unsplit index would
    otherwise infer it as int (every value a bare cell id), and the
    query-side isin would need a cast that blocks partition pruning.

    Reads never mutate the index: while a `_maintaining` marker names an
    interrupted maintain, the layout may hold a hot cell's rows twice
    (old and new partitions), so the read raises instead of answering
    from it. ivf_index_maintain runs the recovery."""
    if os.path.exists(_maintain_marker(path)):
        raise ValueError(
            f"read_index_data: {path} has an interrupted maintain "
            f"({_maintain_marker(path)}) — run ivf_index_maintain to recover it"
        )
    return _read_data_raw(spark, path)


def _index_rows(
    spark: SparkSession, path: str, emb: DataFrame, id_col: str, vec_col: str
) -> DataFrame:
    """(vec_id, dv, dn, skey) rows for `emb` under the STORED codebook and
    sub-codebooks — what append and the streaming ingest write."""
    cb = read_index_codebook(spark, path)
    assigned = _members(ivf_assign(emb, cb, nprobe=1, id_col=id_col, vec_col=vec_col))
    return _with_skey(assigned, read_index_subbooks(spark, path))


def ivf_index_build(
    emb: DataFrame,
    path: str,
    n_cells: int = 16,
    centroids: list | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Create the index: persist codebook + coarse-assigned data (unsplit
    skeys). The codebook is sampled/trained ONCE here; every later append
    assigns against this stored copy (codebook refresh = explicit
    rebuild, exactly like retraining)."""
    data_dir, cb_dir, _ = _dirs(path)
    cb = ivf_codebook(emb, n_cells, id_col, vec_col, centroids)
    cb.write.mode("overwrite").parquet(cb_dir)
    stored_cb = emb.sparkSession.read.parquet(cb_dir)
    rows = _members(ivf_assign(emb, stored_cb, nprobe=1, id_col=id_col, vec_col=vec_col)).select(
        "vec_id", "dv", "dn", F.col("cell").cast("string").alias("skey"),
    )
    rows.write.mode("overwrite").partitionBy("skey").parquet(data_dir)


def ivf_index_append(
    spark: SparkSession,
    path: str,
    new_emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Append new vectors: coarse-assign against the STORED codebook,
    refine through the stored sub-codebooks (a vector landing in an
    already-split cell goes straight to its sub-bucket), append only the
    touched skey partitions. No existing row is read or rewritten —
    appends are O(new vectors)."""
    rows = _index_rows(spark, path, new_emb, id_col, vec_col)
    rows.write.mode("append").partitionBy("skey").parquet(_dirs(path)[0])


def _maintain_marker(path: str) -> str:
    return os.path.join(path, "_maintaining.json")


def _cell_dirs_on_disk(data_dir: str, cell: int) -> list[str]:
    """Every skey partition dir currently on disk belonging to `cell` —
    the bare 'skey=<cell>' dir plus any 'skey=<cell>#<sub>' refinement
    (both the raw and the %23-escaped encodings writers may produce)."""
    import glob as _glob

    pats = [
        os.path.join(data_dir, f"skey={cell}"),
        os.path.join(data_dir, f"skey={cell}#*"),
        os.path.join(data_dir, f"skey={cell}%23*"),
    ]
    return sorted({d for p in pats for d in _glob.glob(p) if os.path.isdir(d)})


def _skey_of_dir(d: str) -> str:
    return os.path.basename(d)[len("skey="):].replace("%23", "#")


def _rewrite_cells(spark: SparkSession, path: str, cells: list[int], n_sub: int) -> None:
    """The maintain rewrite core for an explicit cell list — converges to
    the same state from ANY starting layout of those cells (including the
    duplicated old+new dirs a crash between overwrite and sweep leaves):
    members are deduplicated on vec_id before the rank, the sub-codebook
    is a pure function of the member SET, and stale dirs are recomputed
    from the filesystem rather than from pre-crash bookkeeping."""
    data_dir, _, sub_dir = _dirs(path)
    members = (
        _read_data_raw(spark, path)
        .withColumn("cell", F.split("skey", "#")[0].cast("long"))
        .filter(F.col("cell").isin(cells))
        .dropDuplicates(["vec_id"])  # heal post-crash double reads (ADVICE r5)
        .localCheckpoint(eager=True)
    )
    new_subs = _sub_codebooks(members, n_sub)  # over ALL current members
    # subbooks dim rewrite: keep other cells' entries, replace hot cells'
    kept_subs = read_index_subbooks(spark, path).filter(~F.col("cell").isin(cells))
    merged_subs = kept_subs.unionByName(new_subs)
    from kgc.streaming.dedup import _swap_rewrite

    if os.path.isdir(sub_dir):
        _swap_rewrite(merged_subs, sub_dir)
    else:
        merged_subs.write.mode("overwrite").parquet(sub_dir)

    # rewrite hot-cell rows under their refined skeys (dynamic overwrite
    # touches only the partitions this write produces); stale dirs are
    # whatever the FILESYSTEM holds for these cells minus the new keys
    old_dirs = [d for c in cells for d in _cell_dirs_on_disk(data_dir, c)]
    new_rows = _with_skey(
        members, spark.read.schema(_SUBBOOK_SCHEMA).parquet(sub_dir)
    ).localCheckpoint(eager=True)  # materialize BEFORE overwriting source dirs
    new_keys = {r["skey"] for r in new_rows.select("skey").distinct().collect()}
    (
        new_rows.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("skey")
        .parquet(data_dir)
    )
    for d in old_dirs:
        if _skey_of_dir(d) not in new_keys:
            shutil.rmtree(d, ignore_errors=True)


def _recover_maintain(spark: SparkSession, path: str) -> None:
    """If a crash interrupted ivf_index_maintain, its marker names the
    cells mid-rewrite; re-running the (idempotent, dedup-first) rewrite
    for exactly those cells converges the index, after which the marker
    drops. No marker → no-op (ADVICE r5: the _recover_flush discipline,
    applied to the batch compactor)."""
    import json as _json

    marker = _maintain_marker(path)
    if not os.path.exists(marker):
        return
    with open(marker) as f:
        state = _json.load(f)
    if state["cells"]:
        _rewrite_cells(spark, path, state["cells"], int(state["n_sub"]))
    os.remove(marker)


def ivf_index_maintain(
    spark: SparkSession,
    path: str,
    split_threshold: int = 4096,
    n_sub: int = 16,
) -> list[int]:
    """Sub-quantize every cell whose TOTAL member count exceeds
    split_threshold (op-58's rule as a stored rewrite). The sub-codebook
    is recomputed from ALL current members — the md5('sub:'||cell||':'||id)
    rank is arrival-order-free, so the post-maintain state is a pure
    function of the member set and build+append+maintain ≡ a fresh batch
    build (the equality the tests pin). Cells already split that grew
    further re-split against the refreshed sub-codebook; idempotent when
    nothing grew. Returns the list of (re)split cell ids.

    Rewrite mechanics: hot-cell rows are rewritten via dynamic partition
    overwrite (only their skey dirs), then stale dirs of those cells that
    the new assignment no longer produces (e.g. the unsplit 'cell' dir)
    are swept. Crash-safe (r6, ADVICE r5): a `_maintaining.json` marker
    written before any mutation names the cells in flight; the next
    maintain first re-runs the idempotent per-cell rewrite for them
    (members deduped on vec_id, stale dirs recomputed from the
    filesystem), so a crash at ANY point — including between the
    overwrite and the sweep — heals there. Until then read_index_data
    refuses. Quiesced-index precondition otherwise, like every compactor.

    Refuses while the STREAMING delta tier holds un-flushed rows (ADVICE
    r5): delta rows carry ingest-time skeys; flushing them after this
    rewrite would resurrect bare 'cell' partitions that pruned queries of
    a split cell never probe. Flush (with split_threshold) first. The
    check runs BEFORE the recovery rewrite, so a refusal changes nothing.
    """
    import json as _json

    for pending in ("delta", "delta.flushing"):
        d = os.path.join(path, pending)
        if os.path.isdir(d) and any(
            f.endswith(".parquet") for f in os.listdir(d)
        ):
            raise ValueError(
                f"ivf_index_maintain: un-flushed streaming rows in {d} — "
                "run ivf_index_flush(split_threshold=...) first (their "
                "ingest-time skeys would go stale under this rewrite)"
            )
    _recover_maintain(spark, path)
    data = read_index_data(spark, path).withColumn(
        "cell", F.split("skey", "#")[0].cast("long")
    )
    sizes = data.groupBy("cell").agg(F.count("*").alias("_m"))
    hot = [r["cell"] for r in sizes.filter(F.col("_m") > split_threshold).collect()]
    if not hot:
        return []

    marker = _maintain_marker(path)
    with open(marker, "w") as f:
        _json.dump({"cells": hot, "n_sub": n_sub}, f)
    _rewrite_cells(spark, path, hot, n_sub)
    os.remove(marker)
    return sorted(hot)


def ivf_index_query(
    spark: SparkSession,
    path: str,
    queries: DataFrame | None = None,
    k: int = 5,
    nprobe: int = 4,
    nprobe_sub: int = 4,
    max_cell: int | None = 256,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    extra_rows: DataFrame | None = None,
) -> DataFrame:
    """Top-k cosine neighbors from the stored index. `queries` defaults to
    the indexed vectors themselves (the ann_topk_ivf self-join contract,
    q_id != vec_id); an external query batch probes without being indexed.

    The distinct probe skeys are collected (bounded by
    |queries|·nprobe·nprobe_sub — a driver-side dim, not data) and pushed
    as an isin filter so the scan partition-prunes to probed dirs.

    `extra_rows` (op-64) unions a not-yet-flushed delta tier — already in
    (vec_id, dv, dn, skey) shape — into the searched data; the probe-key
    filter is applied to the union and Catalyst pushes it through to the
    stored child, so the big tier keeps its partition pruning."""
    indexed = read_index_data(spark, path)
    if extra_rows is not None:
        indexed = indexed.unionByName(extra_rows)
    if queries is None:
        queries = indexed.select(F.col("vec_id").alias(id_col), F.col("dv").alias(vec_col))
    qcells = ivf_assign(queries, read_index_codebook(spark, path), nprobe, id_col, vec_col)
    qs = _probe_skeys(qcells, read_index_subbooks(spark, path), nprobe_sub)
    probe_keys = [r["skey"] for r in qs.select("skey").distinct().collect()]
    return _ivf_topk(qs, indexed.filter(F.col("skey").isin(probe_keys)), "skey", k, max_cell)
