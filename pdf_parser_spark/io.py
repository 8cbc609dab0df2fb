"""Pluggable table IO: parquet in the sandbox, Iceberg on a cluster.

Table reads and writes and the manifest commits funnel through one
``TableIO`` object so the storage format is a deployment decision, not an
operator concern (SURVEY.md section 7: "keep the IO layer pluggable").
The sandbox has no Iceberg runtime jar, so the default is parquet
datasets with file-based atomic manifest commits; setting
``SPARK_GRAFT_TABLE_FORMAT=iceberg`` (plus the usual catalog configs on
the SparkSession) switches those call sites to Iceberg tables.

The north rule's "Iceberg tables" requirement maps onto this seam for
reads, whole-table writes (``writeTo(table).append()`` /
``createOrReplace()``) and the manifest protocol, whose catalog methods
raise with a clear message when the runtime jar is absent rather than
failing obscurely. The manifested bucket write does not go through
``write``: its Arrow write tasks put one parquet file per bucket
straight into the output directory (operators/manifest.py), so an
Iceberg deployment of it would commit those files with the manifest
rows in one snapshot, and that wiring does not exist here.

Next to the seam: ``write_bucketed`` (bucketed catalog tables, the
write-time shuffle a keyed join then skips) and ``read_jsonl`` (JSONL
ingest whose malformed lines become ``ok = false`` lineage rows).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


class ParquetTableIO:
    """Local/HDFS parquet datasets + file-based atomic manifest commits.

    The manifest commit idiom (write tmp + ``os.replace``) is the same
    atomic-swap shape as Iceberg's metadata commit, scoped to a
    filesystem the driver can reach.
    """

    format = "parquet"

    def read(self, spark: SparkSession, target: str,
             schema: StructType | None = None) -> DataFrame:
        """Read a parquet dataset. ``schema`` is the caller's recorded
        schema (the manifest's ``_schema.json`` plus partition columns);
        given one, Spark reads no file footer to infer it. Without it
        Spark infers the schema from the files."""
        reader = spark.read if schema is None else spark.read.schema(schema)
        return reader.parquet(target)

    def write(self, df: DataFrame, target: str, mode: str = "overwrite") -> None:
        df.write.mode(mode).parquet(target)

    # --- manifest commit protocol (operators/manifest.py) ---------------

    def commit_manifest(self, manifest_dir: str, manifest: dict) -> None:
        os.makedirs(manifest_dir, exist_ok=True)
        path = os.path.join(
            manifest_dir, f"bucket-{manifest['bucket']:05d}.json")
        tmp = path + ".tmp"
        with open(tmp, "w", encoding="utf-8") as f:
            json.dump(manifest, f)
        os.replace(tmp, path)  # atomic commit

    def committed_manifests(self, manifest_dir: str) -> dict:
        out = {}
        if not os.path.isdir(manifest_dir):
            return out
        for name in os.listdir(manifest_dir):
            if name.startswith("bucket-") and name.endswith(".json"):
                with open(os.path.join(manifest_dir, name), encoding="utf-8") as f:
                    m = json.load(f)
                out[m["bucket"]] = m
        return out


class IcebergTableIO:
    """Iceberg catalog tables; manifest rows appended transactionally.

    Requires the iceberg-spark-runtime jar + catalog configs on the
    session (absent in this sandbox, so constructing is allowed but every
    method raises until a session with the catalog is provided). Targets
    that look like filesystem paths still go through parquet so mixed
    deployments (Iceberg tables + scratch paths) work.
    """

    format = "iceberg"
    _PATHY = ("/", "file:", "s3:", "s3a:", "hdfs:")

    def __init__(self) -> None:
        self._fallback = ParquetTableIO()

    def _is_path(self, target: str) -> bool:
        return target.startswith(self._PATHY)

    def read(self, spark: SparkSession, target: str,
             schema: StructType | None = None) -> DataFrame:
        """A path reads as parquet with ``schema`` (see
        ``ParquetTableIO.read``); a catalog table carries its own schema
        in its metadata, so ``schema`` is not used for it."""
        if self._is_path(target):
            return self._fallback.read(spark, target, schema=schema)
        return spark.read.format("iceberg").load(target)

    def write(self, df: DataFrame, target: str, mode: str = "overwrite") -> None:
        if self._is_path(target):
            self._fallback.write(df, target, mode=mode)
        elif mode == "append":
            df.writeTo(target).append()
        elif mode == "overwrite":
            df.writeTo(target).createOrReplace()
        else:
            raise ValueError(
                f"IcebergTableIO.write: unsupported mode {mode!r} for "
                f"catalog table {target!r} (use append/overwrite, or a "
                "filesystem path for format-native modes)")

    def commit_manifest(self, manifest_dir: str, manifest: dict) -> None:
        if manifest_dir.startswith(self._PATHY) or os.path.isabs(manifest_dir):
            self._fallback.commit_manifest(manifest_dir, manifest)
            return
        raise NotImplementedError(
            "IcebergTableIO.commit_manifest: append the manifest row to the "
            f"manifest table {manifest_dir!r} in the same transaction as the "
            "bucket data (requires an active Iceberg catalog; not available "
            "in this sandbox)")

    def committed_manifests(self, manifest_dir: str) -> dict:
        if manifest_dir.startswith(self._PATHY) or os.path.isabs(manifest_dir):
            return self._fallback.committed_manifests(manifest_dir)
        raise NotImplementedError(
            "IcebergTableIO.committed_manifests: scan the manifest table "
            f"{manifest_dir!r} (requires an active Iceberg catalog)")


def table_format() -> str:
    return os.environ.get("SPARK_GRAFT_TABLE_FORMAT", "parquet")


def get_table_io():
    """The engine-wide IO object, chosen by SPARK_GRAFT_TABLE_FORMAT."""
    if table_format() == "iceberg":
        return IcebergTableIO()
    return ParquetTableIO()


# --- thin functional wrappers (stable call-site API) ----------------------


def read_table(spark: SparkSession, target: str) -> DataFrame:
    """Read a table: a filesystem path (parquet dataset) or, under the
    iceberg format, a catalog table name."""
    return get_table_io().read(spark, target)


def write_table(df: DataFrame, target: str, mode: str = "overwrite") -> None:
    get_table_io().write(df, target, mode=mode)


def write_bucketed(df: DataFrame, table: str, key: str,
                   n_buckets: int = 32, sort_cols: tuple = ()) -> None:
    """Write a BUCKETED table: rows hash-partitioned into ``n_buckets``
    files per partition by ``key`` at WRITE time, with the layout
    recorded in the catalog — the storage-side half of the shuffle
    story. A join or aggregation keyed on ``key`` between bucketed
    tables needs NO Exchange at read time (plan-asserted in PLANS.md
    and tests): the shuffle was paid once, at ingest, instead of once
    per downstream query. At 100 TB this is the difference between
    re-shuffling the transcript table for every conv_id-grain job
    (reassembly, conv_stats, sessionize, context windows) and reading
    co-located buckets; the Iceberg-side equivalent is a
    `bucket(N, key)` partition transform on the same seam.

    ``sort_cols`` additionally sorts within each bucket file
    (e.g. turn_idx), letting the window/merge stages start from sorted
    runs. Bucketed writes go through ``saveAsTable`` (the layout must
    live in the catalog — a bare parquet path cannot carry it; this is
    Spark's own constraint, not this repo's)."""
    w = df.write.mode("overwrite").format("parquet") \
        .bucketBy(n_buckets, key)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.saveAsTable(table)


def read_jsonl(spark: SparkSession, path: str, schema_ddl: str) -> DataFrame:
    """Read newline-delimited JSON (the lingua franca of training-data
    drops) with the D1 degrade-don't-fail contract: a malformed line
    must become an inspectable error ROW, never a task failure and
    never a silent drop.

    Implementation: a text scan + one codegen `from_json` in PERMISSIVE
    mode with an explicit ``_corrupt_record`` field — a malformed line
    (and a type-mismatched field) nulls what it must and lands the raw
    line in the corrupt field, so `ok` cleanly splits clean rows from
    lineage rows. Deliberately NOT `spark.read.json`: its native
    corrupt column forbids any downstream query that prunes to the
    corrupt column alone (UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_
    RECORD_COLUMN — exactly the `filter(NOT ok).count()` audit an
    ingest job runs), while the text-scan form has no such restriction
    and reads the same bytes (JSONL has no columnar pushdown either
    way). The schema is REQUIRED: schema inference scans the whole
    input once before the real read (2x the 100 TB scan) and silently
    widens types on dirty data — ingest at scale declares its contract
    up front.

    Returns the declared columns plus ``ok: boolean`` and ``raw:
    string`` (null for clean rows)."""
    from pyspark.sql import types as T

    fields = T._parse_datatype_string(schema_ddl).fields
    schema = T.StructType(
        list(fields) + [T.StructField("_corrupt_record", T.StringType())])
    parsed = F.from_json(
        F.col("value"), schema,
        {"mode": "PERMISSIVE",
         "columnNameOfCorruptRecord": "_corrupt_record"})
    return (spark.read.text(path)
            .select(parsed.alias("_p"))
            .select(
                *[F.col(f"_p.{f.name}").alias(f.name) for f in fields],
                F.col("_p._corrupt_record").isNull().alias("ok"),
                F.col("_p._corrupt_record").alias("raw")))
