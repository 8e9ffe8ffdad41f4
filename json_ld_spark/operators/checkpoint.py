"""Write-audit-publish materialization with per-bucket lineage manifests
and exact checkpoint resume (north_rule requirement; no reference
analogue — the reference is an in-memory library).

Model: the pipeline's unit of work is a conversation bucket
(pmod(xxhash64(conv_id), n_buckets) — deterministic co-partitioning of
every stage). Each run:

  1. WRITE   bucket outputs to <out>/_staging/<run_id>/bucket=<b>/,
             rebalanced by bucket first: one file per bucket, and a
             bucket bigger than AQE's advisory partition size
             (spark.sql.adaptive.advisoryPartitionSizeInBytes) is split
             into several files of about that size
  2. AUDIT   re-read staging, per-bucket row counts + content fingerprint
  3. PUBLISH move bucket dirs into <out>/data/bucket=<b>/ and append the
             bucket entries to <out>/_manifest/manifest.json atomically
             (tmp file + os.replace)

Resume: `remaining_buckets` anti-joins the committed bucket list, so a
re-run processes only unfinished buckets — exactly-once per bucket, no
partial-bucket double counting. Iceberg gives the same atomicity via
snapshot commits; `write_iceberg` below is the classpath-gated Iceberg
sink (DataFrameWriterV2 append/create with a bucket partition transform,
snapshot commit = atomic publish) and keeps writing the same JSON
manifest for lineage metrics. `iceberg_available` reports whether the
runtime jars are present; this container ships without them, so the
Iceberg test is skip-marked and the parquet WAP path is the default.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession, functions as F

BUCKET_COL = "bucket"


def with_bucket(df: DataFrame, key_col: str = "conv_id", n_buckets: int = 32) -> DataFrame:
    return df.withColumn(
        BUCKET_COL, F.pmod(F.xxhash64(key_col), F.lit(n_buckets)).cast("int")
    )


def _manifest_path(out_dir: str) -> str:
    return os.path.join(out_dir, "_manifest", "manifest.json")


def read_manifest(out_dir: str) -> dict:
    path = _manifest_path(out_dir)
    if not os.path.exists(path):
        return {"buckets": {}, "runs": []}
    with open(path) as f:
        return json.load(f)


def committed_buckets(out_dir: str) -> set[int]:
    return {int(b) for b in read_manifest(out_dir)["buckets"]}


def remaining_buckets(
    df: DataFrame, out_dir: str, n_buckets: int, key_col: str = "conv_id"
) -> DataFrame:
    """Filter the input to not-yet-committed buckets (exact resume)."""
    done = committed_buckets(out_dir)
    bucketed = with_bucket(df, key_col, n_buckets)
    if not done:
        return bucketed
    return bucketed.filter(~F.col(BUCKET_COL).isin(sorted(done)))


def write_audit_publish(
    df: DataFrame,
    out_dir: str,
    n_buckets: int = 32,
    key_col: str = "conv_id",
    run_id: str | None = None,
    input_fingerprint: str | None = None,
) -> dict:
    """Materialize `df` (already carrying BUCKET_COL, or keyed by
    key_col) under write-audit-publish. Returns the run's manifest entry.
    """
    spark = df.sparkSession
    run_id = run_id or uuid.uuid4().hex[:12]
    if BUCKET_COL not in df.columns:
        df = with_bucket(df, key_col, n_buckets)

    staging = os.path.join(out_dir, "_staging", run_id)
    data_dir = os.path.join(out_dir, "data")
    os.makedirs(data_dir, exist_ok=True)

    # WRITE: one directory per bucket (partition pruning on read). The
    # rebalance hint sends each bucket to one task, so a bucket is
    # written as one file, not one per input partition holding its rows
    df.hint("rebalance", BUCKET_COL).write.mode("overwrite").partitionBy(
        BUCKET_COL
    ).parquet(staging)

    # AUDIT: per-bucket row counts + value fingerprint from the staged
    # files themselves (what will be published, not what we meant to write)
    staged = spark.read.parquet(staging)
    audit_rows = (
        staged.groupBy(BUCKET_COL)
        .agg(
            F.count(F.lit(1)).alias("rows"),
            # decimal sum: xxhash64 values overflow an ANSI long sum
            F.sum(
                F.xxhash64(*[c for c in staged.columns if c != BUCKET_COL])
                .cast("decimal(38,0)")
            ).cast("string").alias("fingerprint"),
        )
        .collect()
    )
    audit = {
        int(r[BUCKET_COL]): {"rows": r["rows"], "fingerprint": str(r["fingerprint"])}
        for r in audit_rows
    }

    # PUBLISH: move bucket dirs, then atomically swap the manifest
    manifest = read_manifest(out_dir)
    published = []
    for bucket, stats in sorted(audit.items()):
        src = os.path.join(staging, f"{BUCKET_COL}={bucket}")
        dst = os.path.join(data_dir, f"{BUCKET_COL}={bucket}")
        if str(bucket) in manifest["buckets"]:
            continue  # already committed by a previous run
        if os.path.exists(dst):
            shutil.rmtree(dst)
        shutil.move(src, dst)
        manifest["buckets"][str(bucket)] = {
            "run_id": run_id,
            **stats,
        }
        published.append(bucket)
    run_entry = {
        "run_id": run_id,
        "ts": time.time(),
        "published_buckets": published,
        "input_fingerprint": input_fingerprint,
        "total_rows": sum(audit[b]["rows"] for b in published),
    }
    manifest["runs"].append(run_entry)

    manifest_dir = os.path.dirname(_manifest_path(out_dir))
    os.makedirs(manifest_dir, exist_ok=True)
    tmp = _manifest_path(out_dir) + f".tmp.{run_id}"
    with open(tmp, "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    os.replace(tmp, _manifest_path(out_dir))
    shutil.rmtree(staging, ignore_errors=True)
    return run_entry


def read_published(spark: SparkSession, out_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(out_dir, "data"))


def iceberg_available(spark: SparkSession) -> bool:
    """True when the Iceberg Spark runtime is on the JVM classpath
    (classpath-gated: this container ships without the jars)."""
    try:
        spark._jvm.java.lang.Class.forName(  # noqa: SLF001
            "org.apache.iceberg.spark.SparkCatalog"
        )
        return True
    except Exception:  # noqa: BLE001 — Py4J raises wrapped JVM errors
        return False


def write_iceberg(
    df: DataFrame,
    table: str,
    n_buckets: int = 32,
    key_col: str = "conv_id",
    run_id: str | None = None,
    manifest_dir: str | None = None,
) -> dict:
    """Iceberg triple/node-table sink (north_rule's target format).

    The parquet WAP path above hand-rolls atomic publish with a JSON
    manifest; Iceberg's snapshot commit IS that atomic publish, so this
    sink is a plain DataFrameWriterV2 `append` (create-on-first-write,
    partitioned by the same conversation bucket) — a failed job leaves
    no visible snapshot, a successful commit is all-or-nothing. The
    side manifest (same JSON schema) is still written when
    `manifest_dir` is given so lineage metrics stay uniform across both
    sinks.

    Raises RuntimeError when the Iceberg runtime is absent
    (`iceberg_available`); callers fall back to `write_audit_publish`.
    """
    spark = df.sparkSession
    if not iceberg_available(spark):
        raise RuntimeError(
            "Iceberg Spark runtime not on the classpath; add "
            "iceberg-spark-runtime and a catalog config "
            "(spark.sql.catalog.<name>=org.apache.iceberg.spark.SparkCatalog) "
            "or use write_audit_publish (parquet WAP)"
        )
    run_id = run_id or uuid.uuid4().hex[:12]
    if BUCKET_COL not in df.columns:
        df = with_bucket(df, key_col, n_buckets)
    # existence-gated (not try/append-except/create: a real append
    # failure — schema mismatch, permissions, concurrent writer — must
    # surface as itself, not as a misleading 'table already exists'
    # from a blind create() retry)
    if spark.catalog.tableExists(table):
        df.writeTo(table).append()
    else:
        df.writeTo(table).partitionedBy(F.col(BUCKET_COL)).create()

    # AUDIT from the committed snapshot (what readers will see)
    committed = spark.read.table(table)
    audit_rows = (
        committed.groupBy(BUCKET_COL)
        .agg(
            F.count(F.lit(1)).alias("rows"),
            F.sum(
                F.xxhash64(*[c for c in committed.columns if c != BUCKET_COL])
                .cast("decimal(38,0)")
            ).cast("string").alias("fingerprint"),
        )
        .collect()
    )
    run_entry = {
        "run_id": run_id,
        "ts": time.time(),
        "table": table,
        "buckets": {
            int(r[BUCKET_COL]): {
                "rows": r["rows"],
                "fingerprint": str(r["fingerprint"]),
            }
            for r in audit_rows
        },
        "total_rows": sum(r["rows"] for r in audit_rows),
    }
    if manifest_dir:
        os.makedirs(manifest_dir, exist_ok=True)
        tmp = os.path.join(manifest_dir, f"manifest.json.tmp.{run_id}")
        with open(tmp, "w") as f:
            json.dump(run_entry, f, indent=1, sort_keys=True)
        os.replace(tmp, os.path.join(manifest_dir, "manifest.json"))
    return run_entry


def write_bucketed_table(
    df: DataFrame,
    table: str,
    keys: list[str],
    n_buckets: int = 256,
    sort: bool = True,
    mode: str = "overwrite",
) -> None:
    """Persist a DataFrame hash-bucketed (and optionally sorted) on its
    join key(s). Reads of two tables bucketed the same way join with
    ZERO Exchange — the shuffle is paid once at write time and amortized
    over every later join/aggregation on the key (the triple-store
    layout for a 100 TB KG: bucket by subj). Evidence: the bucketed
    subj-join plan is Exchange-free (tests/test_layout.py,
    PLANS.md §19)."""
    spark = df.sparkSession
    if mode == "overwrite":
        # the default catalog is session-scoped while the warehouse dir
        # persists: a table written by a PREVIOUS session leaves a
        # location the new session's catalog does not know, and
        # saveAsTable refuses (LOCATION_ALREADY_EXISTS). Drop + clear.
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        wh = spark.conf.get(
            "spark.sql.warehouse.dir", "spark-warehouse"
        ).removeprefix("file:")
        stale = os.path.join(wh, table.split(".")[-1].lower())
        if os.path.isdir(stale):
            shutil.rmtree(stale, ignore_errors=True)
    w = df.write.bucketBy(n_buckets, *keys)
    if sort:
        w = w.sortBy(*keys)
    w.mode(mode).format("parquet").saveAsTable(table)
    # drop any cached file listing from a previous incarnation of the
    # table (drop + recreate keeps the path, not the files)
    spark.catalog.refreshTable(table)
