"""op-01/02/03: table layer — Iceberg when the runtime jar is present,
bucketed-parquet fallback otherwise (SURVEY.md §0.3, §4.5).

The north rule names Iceberg tables partitioned by doc_id hash buckets. This
sandbox has no Iceberg runtime jar, so the layer is a seam:

- Iceberg mode (jar present): ``df.writeTo(tbl).partitionedBy(bucket(N, col))``
  → real hidden-partition bucketing; storage-partitioned joins between
  co-bucketed tables drop the shuffle.
- Fallback mode: a computed ``bucket = pmod(xxhash64(col), N)`` partition
  column + ``partitionBy('bucket')`` parquet dirs — identical pruning
  semantics (a point lookup on doc_id prunes to 1/N of files), identical
  layout story for the 10^12-doc design.

op-03 checkpoints write a ``_MANIFEST.json`` (input fingerprint + row count +
schema) beside the data; resume skips a stage when its manifest matches
(the stage protocol itself lives in kgc/plans/stages.py).
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

N_BUCKETS_DEFAULT = 32  # cluster target: 256 (documented, conf-driven)


def iceberg_available(spark: SparkSession) -> bool:
    try:
        spark._jvm.java.lang.Class.forName("org.apache.iceberg.spark.SparkCatalog")
        return True
    except Exception:
        return False


def bucket_col(col: str, n_buckets: int) -> F.Column:
    return F.pmod(F.xxhash64(F.col(col)), F.lit(n_buckets)).cast("int")


# (n_buckets) -> remap values v[i] with pmod(murmur3(v[i]), n) == i, cached per
# process (the probe is one tiny job; the mapping is pure math, session-free).
_BUCKET_REMAP: dict[int, list[int]] = {}


def _bucket_remap(spark: SparkSession, n: int) -> list[int]:
    """Values that make `repartition(n, value)` place bucket i in partition i.

    DataFrame.repartition(n, col) hash-partitions by pmod(murmur3(col), n) —
    with exactly n distinct bucket values that mapping collides: measured
    20/32 partitions used, up to 3 buckets serialized through one write task
    (guide §2.5's too-few-distinct-keys trap). Remapping bucket i to a probe
    value v[i] whose murmur3 lands in class i makes the placement 1:1 — all
    n writers busy, no multi-bucket stragglers, at every n."""
    if n not in _BUCKET_REMAP:
        span = 64 * n
        while True:
            rows = (
                spark.range(span)
                .select(F.col("id"), F.pmod(F.hash(F.col("id")), F.lit(n)).alias("p"))
                .groupBy("p")
                .agg(F.min("id").alias("v"))
                .collect()
            )
            m = {r["p"]: r["v"] for r in rows}
            if len(m) == n:  # P(miss) ≈ n·e^-64 per doubling — effectively never loops
                break
            span *= 2
        _BUCKET_REMAP[n] = [int(m[i]) for i in range(n)]
    return _BUCKET_REMAP[n]


def write_table_iceberg(
    df: DataFrame, table: str, bucket_by: str | None = None, n_buckets: int = N_BUCKETS_DEFAULT
) -> None:
    """op-02 Iceberg mode: real hidden-partition bucketing via the bucket()
    transform — co-bucketed tables get storage-partitioned joins (no
    shuffle). Requires the Iceberg runtime jar + a configured catalog;
    absent in this sandbox (gated by iceberg_available), byte-equivalent
    fallback below.

    Cluster session conf this pairs with:
      spark.sql.catalog.kgc=org.apache.iceberg.spark.SparkCatalog
      spark.sql.catalog.kgc.type=hive|glue|rest
      spark.sql.sources.v2.bucketing.enabled=true
    """
    writer = df.writeTo(table).using("iceberg")
    if bucket_by is not None:
        writer = writer.partitionedBy(F.bucket(n_buckets, F.col(bucket_by)))
    writer.createOrReplace()


def write_bucketed_managed(
    df: DataFrame,
    name: str,
    bucket_by: str,
    n_buckets: int = N_BUCKETS_DEFAULT,
    sort: bool = True,
) -> None:
    """op-02: the CO-LOCATED-JOIN half of the Iceberg seam, demonstrable
    without the jar: Spark-native ``bucketBy`` managed tables carry
    bucketing metadata the planner consumes, so a join between two tables
    co-bucketed on the join key runs as a SortMergeJoin with ZERO Exchange
    (``Bucketed: true`` scans; with ``sort=True`` the per-bucket files are
    pre-sorted so even the Sort is cheap), and an equality filter on the
    bucket key prunes the scan to 1/N of the files
    (``SelectedBucketsCount: 1 out of N``). Both pinned in
    tests/test_plans.py::TestBucketedCatalog.

    This is the session-catalog rendering of what Iceberg's
    ``PARTITIONED BY (bucket(N, c))`` + storage-partitioned joins give a
    multi-session lake (write_table_iceberg above); write_table's
    partition-dir fallback keeps the same FILE layout but plain parquet
    reads cannot expose bucket metadata to the planner, so only this
    managed form proves the no-shuffle join."""
    w = df.write.bucketBy(n_buckets, bucket_by).format("parquet").mode("overwrite")
    if sort:
        w = w.sortBy(bucket_by)
    w.saveAsTable(name)


def write_table(
    df: DataFrame,
    path: str,
    bucket_by: str | None = None,
    n_buckets: int = N_BUCKETS_DEFAULT,
    mode: str = "overwrite",
    sorted_files: bool = False,
) -> None:
    """op-02: write a table, hash-bucketed by `bucket_by` when given.

    Parquet-fallback rendering of Iceberg's ``PARTITIONED BY (bucket(N, c))``:
    the bucket column is computed (deterministic xxhash64), written as a
    partition directory, and stripped again on read.
    """
    if bucket_by is not None:
        # Cluster rows by bucket before the partitioned write: one file per
        # bucket dir instead of (tasks × buckets) small files — the same
        # layout Iceberg's bucket() transform produces, and the write-side
        # half of a storage-partitioned join. sorted_files=True additionally
        # sortWithinPartitions for byte-stable files (op-35, golden outputs);
        # off by default — content-level determinism is already guaranteed
        # and checked via order-independent partition fingerprints (op-05).
        # 1:1 bucket→partition remap (see _bucket_remap): plain
        # repartition(n, bucket) hashes n distinct values into n partitions
        # and leaves ~1/3 of the write tasks empty while stragglers carry
        # 2–4 buckets each; the remapped key gives every bucket its own
        # writer task (and exactly one file per bucket dir by construction).
        remap = _bucket_remap(df.sparkSession, n_buckets)
        remap_expr = F.element_at(
            F.array(*[F.lit(v) for v in remap]), F.col("bucket") + 1
        )
        writer = (
            df.withColumn("bucket", bucket_col(bucket_by, n_buckets))
            .repartition(n_buckets, remap_expr)
        )
        if sorted_files:
            writer = writer.sortWithinPartitions(*df.columns)
        writer.write.mode(mode).partitionBy("bucket").parquet(path)
        # A dynamic-partition write of ZERO rows emits no data files at all
        # (only _SUCCESS), so a later read can't infer the schema — an empty
        # stage output is legitimate (aggressive quality/dedup filters can
        # clear a corpus) and must stay readable. Plain (non-partitioned)
        # empty writes DO emit a schema-only footer file; append one.
        import glob as _glob

        if not _glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True):
            df.sparkSession.createDataFrame([], df.schema).repartition(1).write.mode(
                "append"
            ).parquet(path)
    else:
        df.write.mode(mode).parquet(path)


def read_table(spark: SparkSession, path: str, schema=None) -> DataFrame:
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    df = reader.parquet(path)
    if "bucket" in df.columns:
        df = df.drop("bucket")
    return df


# ---------------------------------------------------------------------------
# op-03: per-stage durable checkpoints with manifests → resumable restarts
# ---------------------------------------------------------------------------


def _manifest_path(path: str) -> str:
    return os.path.join(path, "_MANIFEST.json")


def write_manifest(path: str, stage: str, input_fingerprint: str, rows: int, schema: str) -> None:
    manifest = {
        "stage": stage,
        "input_fingerprint": input_fingerprint,
        "rows": rows,
        "schema": schema,
    }
    with open(_manifest_path(path), "w") as f:
        json.dump(manifest, f, indent=2)


def resume(spark: SparkSession, path: str, stage: str, input_fingerprint: str) -> DataFrame | None:
    """Return the checkpointed DataFrame iff a valid manifest matches the
    expected input fingerprint; None → stage must (re)compute."""
    mp = _manifest_path(path)
    if not os.path.exists(mp):
        return None
    try:
        with open(mp) as f:
            manifest = json.load(f)
    except (json.JSONDecodeError, OSError):
        return None
    if manifest.get("stage") != stage or manifest.get("input_fingerprint") != input_fingerprint:
        return None
    df = read_table(spark, path)
    if df.count() != manifest.get("rows"):
        return None
    return df


def invalidate(path: str) -> None:
    if os.path.exists(path):
        shutil.rmtree(path)
