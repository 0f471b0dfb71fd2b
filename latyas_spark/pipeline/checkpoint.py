"""Bucketed checkpoint/resume with per-partition lineage: one driver,
two stores.

North-rule requirement: interrupted runs resume at partition
granularity, with per-partition lineage + metrics rows
(SURVEY.md §4.3).  Docs are assigned to ``n_buckets`` buckets by
``pmod(xxhash64(doc_id), n_buckets)`` — the same salted hash the
shuffle uses, so a bucket is a stable horizontal slice of the corpus.

``_run_buckets`` is the one bucket loop for both stores: fingerprint,
drift guard, resume work list, one extraction job per remaining
bucket, ``_pid`` tagging, the lineage count (partition id -> spans) of
the written rows, and one ``manifest_row`` per bucket.  A store holds
only what differs: ``done()`` lists ``[(bucket, config_sha)]``,
``write(b, spans)`` overwrites one bucket and returns its written rows,
``commit(row)`` records the bucket as done.  Per-bucket overwrite makes
a re-run bucket idempotent, so a crash between write and commit is
safe.

``run_checkpointed`` is the parquet store, the documented fallback (no
Iceberg runtime jars ship in this sandbox): spans under
``<out>/spans/bucket=<b>/``, each manifest row as JSON keyed by the
``CHECKPOINT_SCHEMA`` field names, renamed atomically into
``<out>/_checkpoint/bucket_<b>.json``.  ``iceberg.py`` is the Iceberg
store: an overwrite-by-filter span table and a ``checkpoint`` table.
"""

from __future__ import annotations

import dataclasses
import hashlib
import json
import os
import time
from typing import List, Optional, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..core.document import DEFAULT_CONFIG, ExtractConfig
from .extract import MEGA_THRESHOLD, extract_spans_flat

# One manifest row: the parquet store's JSON keys and the Iceberg
# ``checkpoint`` table's columns, both in ``manifest_row`` order.
_CHECKPOINT_COLUMNS = (
    ("run_id", "STRING"), ("bucket", "INT"), ("status", "STRING"),
    ("config_sha", "STRING"), ("spans", "BIGINT"), ("wall_sec", "DOUBLE"),
    ("lineage", "ARRAY<STRUCT<partition_id: INT, spans: BIGINT>>"),
)
CHECKPOINT_SCHEMA = ", ".join(f"{n} {t}" for n, t in _CHECKPOINT_COLUMNS)


def config_fingerprint(
    cfg: ExtractConfig, mega_threshold: int, n_buckets: Optional[int] = None
) -> str:
    """Deterministic sha256 of everything that shapes the output: the
    ExtractConfig fields (frozensets canonicalized — their repr order
    is not stable), the mega-doc threshold and, when given, the bucket
    count (it decides which docs a bucket id names, so "bucket 2 is
    done" means nothing under another count).  Recorded in every
    bucket manifest so resume can refuse config drift; callers using
    hub-resolved rule tables (rulehub.py) get this for free since the
    rules land in cfg.ruled_kinds."""
    parts = []
    for f in dataclasses.fields(cfg):
        v = getattr(cfg, f.name)
        if isinstance(v, frozenset):
            v = sorted(v)
        parts.append(f"{f.name}={v!r}")
    parts.append(f"mega_threshold={mega_threshold}")
    if n_buckets is not None:
        parts.append(f"n_buckets={n_buckets}")
    return hashlib.sha256(";".join(parts).encode()).hexdigest()


def with_bucket(df: DataFrame, n_buckets: int) -> DataFrame:
    return df.withColumn(
        "bucket", F.pmod(F.xxhash64("doc_id"), F.lit(n_buckets)).cast("int")
    )


# -- pure planning functions (no catalog, no JVM) ---------------------------


def check_config_drift(done_rows: Sequence[tuple], fp: str) -> set:
    """Validate resume state against this run's config fingerprint.

    ``done_rows`` is [(bucket, config_sha), ...] from the manifest.
    Returns the set of completed bucket ids; raises ValueError on any
    bucket extracted under a DIFFERENT config (finishing a run under a
    changed config would silently mix extraction semantics)."""
    for b, prev in done_rows:
        if prev is not None and prev != fp:
            raise ValueError(
                f"resume config drift: bucket {b} was extracted under "
                f"config_sha {prev[:12]}..., this run is {fp[:12]}...; "
                "finish with the original config or write to a new output"
            )
    return {b for b, _ in done_rows}


def remaining_buckets(n_buckets: int, done: set) -> list:
    """The resume work list: bucket ids still to extract, in commit
    order.  Ids in ``done`` outside [0, n_buckets) are ignored."""
    return [b for b in range(n_buckets) if b not in done]


def manifest_row(
    run_id: str,
    bucket: int,
    fp: str,
    lineage_rows: Sequence[tuple],
    wall_sec: float,
) -> tuple:
    """One manifest row (CHECKPOINT_SCHEMA order) from the per-Spark-
    partition lineage counts [(partition_id, spans), ...].  The span
    total is derived from the lineage, never passed separately — the
    two cannot disagree."""
    lrows = sorted((int(p), int(c)) for p, c in lineage_rows)
    lineage = [{"partition_id": p, "spans": c} for p, c in lrows]
    total = sum(c for _, c in lrows)
    return (run_id, bucket, "done", fp, total, round(wall_sec, 3), lineage)


def _run_buckets(
    store, joined: DataFrame, n_buckets: int, cfg: ExtractConfig,
    mega_threshold: int, fail_after: Optional[int], run_id: str,
) -> dict:
    """The one bucket loop: extract bucket-by-bucket into ``store``,
    skipping the buckets it already records as done."""
    fp = config_fingerprint(cfg, mega_threshold, n_buckets)
    done = check_config_drift(store.done(), fp)
    bucketed = with_bucket(joined, n_buckets)
    todo = remaining_buckets(n_buckets, done)
    spans_written = 0
    for started, b in enumerate(todo):
        if fail_after is not None and started >= fail_after:
            raise RuntimeError(f"injected failure after {started} buckets")
        t0 = time.perf_counter()
        part = bucketed.filter(F.col("bucket") == b).drop("bucket")
        spans = extract_spans_flat(part, cfg, mega_threshold=mega_threshold)
        written = store.write(b, spans.withColumn("_pid", F.spark_partition_id()))
        # lineage: per-Spark-partition span counts of the written rows
        lineage = written.groupBy("_pid").agg(F.count("*").alias("cnt")).collect()
        row = manifest_row(
            run_id, b, fp, [(r["_pid"], r["cnt"]) for r in lineage],
            time.perf_counter() - t0,
        )
        store.commit(row)
        spans_written += row[4]
    return {"buckets_done": len(todo), "buckets_skipped": len(done),
            "spans_written": spans_written}


# -- the parquet store -------------------------------------------------------


def _ckpt_dir(out_dir: str) -> str:
    return os.path.join(out_dir, "_checkpoint")


def completed_buckets(out_dir: str) -> List[int]:
    d = _ckpt_dir(out_dir)
    names = os.listdir(d) if os.path.isdir(d) else []
    return sorted(
        int(n[len("bucket_"):-len(".json")])
        for n in names if n.startswith("bucket_") and n.endswith(".json")
    )


@dataclasses.dataclass
class _ParquetStore:
    spark: SparkSession
    out_dir: str

    def done(self) -> list:
        rows = []
        for b in completed_buckets(self.out_dir):
            with open(os.path.join(_ckpt_dir(self.out_dir), f"bucket_{b}.json")) as f:
                rows.append((b, json.load(f).get("config_sha")))
        return rows

    def write(self, b: int, spans: DataFrame) -> DataFrame:
        target = os.path.join(self.out_dir, "spans", f"bucket={b}")
        spans.write.mode("overwrite").parquet(target)
        return self.spark.read.parquet(target)

    def commit(self, row: tuple) -> None:
        d = _ckpt_dir(self.out_dir)
        os.makedirs(d, exist_ok=True)
        tmp = os.path.join(d, f".bucket_{row[1]}.json.tmp")
        with open(tmp, "w") as f:
            json.dump(dict(zip((n for n, _ in _CHECKPOINT_COLUMNS), row)), f)
        os.replace(tmp, os.path.join(d, f"bucket_{row[1]}.json"))  # atomic commit


def run_checkpointed(
    spark: SparkSession,
    joined: DataFrame,
    out_dir: str,
    n_buckets: int = 16,
    cfg: ExtractConfig = DEFAULT_CONFIG,
    mega_threshold: int = MEGA_THRESHOLD,
    fail_after: Optional[int] = None,
    run_id: str = "run-0",
) -> dict:
    """Extract bucket-by-bucket with resume, into parquet under ``out_dir``.

    ``joined``: flat KERNEL_COLS frame.  ``fail_after``: test hook —
    raise after N buckets to simulate an interruption.  Returns a
    summary dict {buckets_done, buckets_skipped, spans_written}."""
    return _run_buckets(
        _ParquetStore(spark, out_dir), joined, n_buckets, cfg,
        mega_threshold, fail_after, run_id,
    )


def read_checkpointed(spark: SparkSession, out_dir: str) -> DataFrame:
    """Read the assembled span output (drops the lineage column)."""
    return spark.read.parquet(os.path.join(out_dir, "spans")).drop("_pid")
