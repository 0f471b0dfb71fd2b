"""Iceberg store for the checkpoint driver (optional runtime).

``checkpoint.py`` holds the one bucket loop and its parquet store;
this module is the design target when ``iceberg-spark-runtime`` is on
the classpath (SURVEY.md §1.4, §4.3), run by the same driver:

* spans land in an Iceberg table partitioned by the HIDDEN transform
  ``bucket(N, doc_id)`` — readers filtering on doc_id prune to one
  bucket file set with no derived column in the schema;
* each checkpoint bucket commits with ONE overwrite-by-filter
  (``writeTo(...).overwrite(col("ckpt_bucket") == b)``) — atomic and
  idempotent per bucket, the Iceberg analog of the parquet store's
  overwrite-per-bucket-directory + manifest rename;
* the manifest is an Iceberg ``checkpoint`` table (one
  ``manifest_row`` per completed bucket, lineage as a nested array);
  resume reads done buckets with a snapshot-consistent scan.

No Iceberg Python bindings exist to import — the integration is pure
Spark SQL / DataFrame API against the catalog the jar provides, so
this module imports cleanly WITHOUT the jar and fails only when used.
Callers gate on ``iceberg_jar_present()``; tests/test_iceberg_optional.py
skips, not fails, in jar-less sandboxes.  The planning — DDL strings,
predicates, and the drift check, resume list and manifest row
re-exported from ``checkpoint.py`` — is pure and unit-tested without a
catalog (tests/test_iceberg_planning.py).
"""

from __future__ import annotations

import dataclasses
import glob
import os
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..core.document import DEFAULT_CONFIG, ExtractConfig
from .checkpoint import (  # noqa: F401  (re-exported planning helpers)
    CHECKPOINT_SCHEMA,
    _run_buckets,
    check_config_drift,
    config_fingerprint,
    manifest_row,
    remaining_buckets,
    with_bucket,
)
from .extract import MEGA_THRESHOLD
from .session import build_session


# -- pure planning functions (no catalog, no JVM) ---------------------------


def spans_table_ddl(ns: str, doc_id_buckets: int = 64) -> str:
    """DDL for the span table: partitioned by BOTH the hidden
    ``bucket(doc_id)`` transform (read-side pruning on doc_id) and the
    explicit ``ckpt_bucket`` column (the checkpoint commit unit the
    overwrite filter targets)."""
    return (
        f"CREATE TABLE IF NOT EXISTS {ns}.spans (\n"
        "  doc_id STRING, `order` INT, kind STRING, text STRING,\n"
        "  media_ref STRING, _pid INT, ckpt_bucket INT\n"
        ") USING iceberg\n"
        f"PARTITIONED BY (ckpt_bucket, bucket({doc_id_buckets}, doc_id))"
    )


def checkpoint_table_ddl(ns: str) -> str:
    """DDL for the checkpoint manifest table (one row per completed
    bucket, lineage as a nested array)."""
    return (
        f"CREATE TABLE IF NOT EXISTS {ns}.checkpoint (\n"
        f"  {CHECKPOINT_SCHEMA}\n"
        ") USING iceberg"
    )


def overwrite_filter_sql(bucket: int) -> str:
    """The overwrite-by-filter predicate for one checkpoint bucket, as
    SQL text (the string form a ``writeTo(...).overwrite(expr(...))``
    call or an audit log records).  Validates the bucket id — a
    non-int would silently overwrite the wrong rows."""
    if not isinstance(bucket, int) or isinstance(bucket, bool):
        raise TypeError(f"bucket must be int, got {type(bucket).__name__}")
    if bucket < 0:
        raise ValueError(f"bucket must be >= 0, got {bucket}")
    return f"ckpt_bucket = {bucket}"


def doc_id_prune_sql(doc_id: str) -> str:
    """The read-side predicate that prunes to one hidden-bucket file
    set.  Iceberg derives the bucket from the HIDDEN transform — the
    reader never names it, it just filters on doc_id."""
    escaped = doc_id.replace("'", "''")
    return f"doc_id = '{escaped}'"


# -- jar-gated executors ----------------------------------------------------


def iceberg_jar_present() -> bool:
    """True iff an iceberg-spark-runtime jar is visible — checked on
    the filesystem (no JVM spin-up) in the standard jar locations plus
    ``$SPARK_ICEBERG_JAR``."""
    if os.environ.get("SPARK_ICEBERG_JAR"):
        return os.path.exists(os.environ["SPARK_ICEBERG_JAR"])
    candidates = []
    spark_home = os.environ.get("SPARK_HOME")
    if spark_home:
        candidates.append(os.path.join(spark_home, "jars"))
    try:
        import pyspark

        candidates.append(
            os.path.join(os.path.dirname(pyspark.__file__), "jars")
        )
    except ImportError:  # pragma: no cover
        pass
    return any(
        glob.glob(os.path.join(d, "iceberg-spark-runtime*.jar"))
        for d in candidates
    )


def iceberg_session(
    warehouse: str,
    master: Optional[str] = None,
    catalog: str = "local",
    app_name: str = "latyas_iceberg",
) -> SparkSession:
    """build_session + the Iceberg extension and a local hadoop catalog
    rooted at ``warehouse``.  Requires the runtime jar; on a cluster
    the same conf points at the production catalog instead."""
    extra = {
        "spark.sql.extensions": (
            "org.apache.iceberg.spark.extensions"
            ".IcebergSparkSessionExtensions"
        ),
        f"spark.sql.catalog.{catalog}": "org.apache.iceberg.spark.SparkCatalog",
        f"spark.sql.catalog.{catalog}.type": "hadoop",
        f"spark.sql.catalog.{catalog}.warehouse": warehouse,
    }
    if os.environ.get("SPARK_ICEBERG_JAR"):
        extra["spark.jars"] = os.environ["SPARK_ICEBERG_JAR"]
    return build_session(master=master, app_name=app_name, extra_conf=extra)


def ensure_tables(
    spark: SparkSession,
    ns: str,
    n_buckets: int,
    doc_id_buckets: int = 64,
) -> None:
    """Create the span + checkpoint tables if absent (DDL from the
    pure builders above)."""
    spark.sql(f"CREATE NAMESPACE IF NOT EXISTS {ns}")
    spark.sql(spans_table_ddl(ns, doc_id_buckets))
    spark.sql(checkpoint_table_ddl(ns))


def completed_buckets_iceberg(spark: SparkSession, ns: str) -> list:
    if not spark.catalog.tableExists(f"{ns}.checkpoint"):
        return []
    rows = (
        spark.table(f"{ns}.checkpoint")
        .filter(F.col("status") == "done")
        .select("bucket", "config_sha")
        .collect()
    )
    return sorted((r["bucket"], r["config_sha"]) for r in rows)


@dataclasses.dataclass
class _IcebergStore:
    spark: SparkSession
    ns: str

    def done(self) -> list:
        return completed_buckets_iceberg(self.spark, self.ns)

    def write(self, b: int, spans: DataFrame) -> DataFrame:
        # the overwrite-by-filter commit: replaces exactly this bucket's
        # rows in one atomic Iceberg snapshot
        spans.withColumn("ckpt_bucket", F.lit(b).cast("int")).writeTo(
            f"{self.ns}.spans"
        ).overwrite(F.expr(overwrite_filter_sql(b)))
        return self.spark.table(f"{self.ns}.spans").filter(F.col("ckpt_bucket") == b)

    def commit(self, row: tuple) -> None:
        # appended AFTER the data commit: a crash between the two re-runs
        # the bucket, and the overwrite makes that safe
        self.spark.createDataFrame([row], schema=CHECKPOINT_SCHEMA).writeTo(
            f"{self.ns}.checkpoint"
        ).append()


def run_checkpointed_iceberg(
    spark: SparkSession,
    joined: DataFrame,
    ns: str,
    n_buckets: int = 16,
    cfg: ExtractConfig = DEFAULT_CONFIG,
    mega_threshold: int = MEGA_THRESHOLD,
    fail_after: Optional[int] = None,
    run_id: str = "run-0",
) -> dict:
    """checkpoint.run_checkpointed with Iceberg commits: the same
    driver over the ``{ns}.spans`` and ``{ns}.checkpoint`` tables."""
    ensure_tables(spark, ns, n_buckets)
    return _run_buckets(
        _IcebergStore(spark, ns), joined, n_buckets, cfg,
        mega_threshold, fail_after, run_id,
    )


def read_checkpointed_iceberg(spark: SparkSession, ns: str) -> DataFrame:
    return spark.table(f"{ns}.spans").drop("_pid", "ckpt_bucket")
