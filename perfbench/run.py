"""Layered extraction benchmark.

    python3 perfbench/run.py --workload kernel --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  Each run builds its inputs from
``--seed``, sets up, warms up, then extracts the whole corpus again and
again (a closed loop, one client) until ``--seconds`` of timed extraction
have passed.  Every pass is checked doc by doc against goldens from the
oracle port outside the timed window.  The last line of standard output is
one JSON object; the lines before it print every metric with its unit.

``--trace 0`` reports the end-to-end metrics of BENCHMARK.json.
``--trace 1`` runs the same loop, then one profiled pass, and reports the
per-layer metrics: Spark's event log gives the plan-node layers of the
untraced passes (median over passes), the Python profiler gives the
kernel stages of the profiled pass.

Workloads (see BENCHMARK.json for why each exists):

* ``kernel``     the doc-path ``mapInPandas`` function, in this process,
                 over pre-built pandas chunks of a mega-free corpus;
* ``direct``     ``extract_spans`` over parquet with a mega-doc tail;
* ``checkpoint`` ``run_checkpointed`` over the same corpus, bucketed by
                 ``warehouse.ingest_corpus`` during set-up, into a fresh
                 output directory per pass.
"""

from __future__ import annotations

import argparse
import contextlib
import cProfile
import glob
import json
import os
import pstats
import shutil
import statistics
import sys
import tempfile
import threading
import time
from dataclasses import dataclass, field
from pathlib import Path
from typing import Dict, List, Tuple

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

import pandas as pd  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

from latyas_spark.core.document import DEFAULT_CONFIG  # noqa: E402
from latyas_spark.pipeline import extract  # noqa: E402
from perfbench import corpus as cp  # noqa: E402
from perfbench import eventlog, profiles, proctree  # noqa: E402

MB = 2**20

# Corpus shapes.  The kernel corpus has no mega docs, so all of its work is
# the doc-path kernel.  The Spark corpus carries a mega-doc tail: one doc in
# MEGA_EVERY has 480-700 pages (4.6k-6.6k spans) and takes the page-salted
# path.  About a third of the fixture's mega docs stay under the library's
# default 5000-span threshold, which would make the page path run on some
# seeds and not others; MEGA_THRESHOLD sits between the normal docs (at most
# 3 pages, under 60 spans) and the mega docs, so every seed routes alike.
KERNEL_DOCS = 1600
SPARK_DOCS = 2000
MEGA_EVERY = 2000
MEGA_THRESHOLD = 1000
CHECKPOINT_BUCKETS = 4
# Timed passes per run even when --seconds is already spent.
MIN_PASSES = 2


@dataclass
class Pass:
    wall_s: float
    docs: int
    failed: int
    cpu: Dict[str, float]
    t0_ms: float
    t1_ms: float
    rss_mb: float = 0.0
    spans_out: int = 0
    plan_s: float = 0.0
    extra: Dict[str, float] = field(default_factory=dict)


def kernel_tasks(nproc: int) -> int:
    """Kernel-stage width on ``local[nproc]``: pipeline.extract sizes it at
    the larger of the session's shuffle partitions (``build_session``:
    max(2 * nproc, 8)) and 4 * nproc."""
    return max(2 * nproc, 8, 4 * nproc)


def du_mb(path: str) -> float:
    total = 0
    for dirpath, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total / MB


class Kernel:
    """The doc-path kernel alone: no Spark, one process."""

    spark = None

    def __init__(self, seed: int, nproc: int):
        self.corpus = cp.make_corpus(KERNEL_DOCS, 0, seed)
        self.chunks = cp.kernel_chunks(self.corpus, kernel_tasks(nproc), seed)
        self.fn = extract._doc_mode_kernel(DEFAULT_CONFIG)

    def run_once(self):
        return [f for c in self.chunks for f in self.fn(iter([c]))]

    def output(self, res, p: Pass) -> pd.DataFrame:
        return pd.concat(res, ignore_index=True)

    def stop(self) -> None:
        pass

    def profiled(self) -> Tuple[pstats.Stats, Pass]:
        prof = cProfile.Profile()
        prof.enable()
        try:
            p = run_pass(self)
        finally:
            prof.disable()
        return pstats.Stats(prof).strip_dirs(), p


class SparkWorkload:
    """``direct`` and ``checkpoint``: Spark at ``local[nproc]`` from this
    process, fed from parquet written here."""

    def __init__(self, name: str, seed: int, nproc: int, work: str):
        self.name, self.nproc, self.work = name, nproc, work
        self.passes = 0
        self.event_dir = os.path.join(work, "eventlog")
        self.spark = self.session_error = self.app_id = None
        self.saved_env, self.saved_tempdir = {}, tempfile.tempdir
        # The JVM starts while this thread builds the corpus and goldens.
        session = threading.Thread(target=self._start_session)
        session.start()
        try:
            self.corpus = cp.make_corpus(SPARK_DOCS, MEGA_EVERY, seed)
            self.corpus_dir = os.path.join(work, "corpus")
            self.paths = cp.write_parquet(self.corpus, self.corpus_dir)
            self.table_mb = du_mb(self.corpus_dir)
            session.join()
            if self.session_error is not None:
                raise self.session_error
            self.ingest_s = self.ingest_mb = 0.0
            if name == "checkpoint":
                self._ingest()
        except BaseException:
            session.join()
            self.stop()
            raise

    def _ingest(self) -> None:
        from latyas_spark.pipeline.warehouse import ingest_corpus

        t0 = time.perf_counter()
        base = os.path.join(self.work, "warehouse")
        self.tables = ingest_corpus(
            self.spark, self.corpus_dir, n_buckets=kernel_tasks(self.nproc),
            prefix="bench", base_path=base,
        )
        self.ingest_s = time.perf_counter() - t0
        self.ingest_mb = self.table_mb = du_mb(base)

    def _start_session(self) -> None:
        from latyas_spark.pipeline.session import build_session

        work = self.work
        tmp = os.path.join(work, "tmp")
        local = os.path.join(work, "spark-local")
        for d in (tmp, local, self.event_dir):
            os.makedirs(d, exist_ok=True)
        # Keep every temporary file inside the checkout: Python's, the JVMs'
        # (the launcher's too) and their perf-data files, which ignore
        # tmpdir.  stop() restores the previous values.
        env = {
            "PYTHONPATH": os.pathsep.join(
                [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
            ),
            "TMPDIR": tmp,
            "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
            "SPARK_LOCAL_DIRS": local,
            "SPARK_DRIVER_MEM": "2g",
        }
        self.saved_env = {k: os.environ.get(k) for k in env}
        self.saved_tempdir, tempfile.tempdir = tempfile.tempdir, tmp
        os.environ.update(env)
        try:
            self.spark = build_session(
                master=f"local[{self.nproc}]",
                app_name=f"perfbench-{self.name}",
                extra_conf={
                    "spark.local.dir": local,
                    "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
                    "spark.ui.showConsoleProgress": "false",
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": "file://" + self.event_dir,
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                },
            )
            self.spark.sparkContext.setLogLevel("ERROR")
            self.app_id = self.spark.sparkContext.applicationId
        except Exception as exc:  # re-raised on the main thread
            self.session_error = exc

    def run_once(self):
        from latyas_spark.pipeline.checkpoint import run_checkpointed
        from latyas_spark.pipeline.extract import extract_spans

        spark = self.spark
        if self.name == "checkpoint":
            self.passes += 1
            out = os.path.join(self.work, "checkpoint", str(self.passes))
            joined = spark.table(self.tables[0]).join(
                spark.table(self.tables[1]), ["doc_id", "offset"]
            )
            run_checkpointed(spark, joined, out, n_buckets=CHECKPOINT_BUCKETS,
                             mega_threshold=MEGA_THRESHOLD)
            return out
        t0 = time.perf_counter()
        df = extract_spans(
            spark.read.parquet(self.paths["documents"]),
            spark.read.parquet(self.paths["layout_blocks"]),
            mega_threshold=MEGA_THRESHOLD,
        )
        self.plan_s = time.perf_counter() - t0
        return df.toPandas()

    def output(self, res, p: Pass) -> pd.DataFrame:
        if self.name != "checkpoint":
            p.plan_s = self.plan_s
            return res
        walls = []
        for m in glob.glob(os.path.join(res, "_checkpoint", "bucket_*.json")):
            with open(m) as f:
                walls.append(json.load(f)["wall_sec"])
        spans_dir = os.path.join(res, "spans")
        p.extra["pipeline.checkpoint.output_mb"] = du_mb(spans_dir)
        p.extra["pipeline.checkpoint.bucket_s_p50"] = statistics.median(walls)
        p.extra["pipeline.checkpoint.bucket_s_max"] = max(walls)
        out = pq.read_table(spans_dir, columns=["doc_id", "order", "kind", "text", "media_ref"])
        shutil.rmtree(res)
        return out.to_pandas()

    def profiled(self) -> Tuple[pstats.Stats, Pass]:
        prof_dir = os.path.join(self.work, "profile")
        self.spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
        try:
            p = run_pass(self)
        finally:
            self.spark.conf.unset("spark.sql.pyspark.udf.profiler")
        self.spark.profile.dump(prof_dir, type="perf")
        return pstats.Stats(*sorted(glob.glob(os.path.join(prof_dir, "*.pstats")))), p

    def stop(self) -> None:
        """Stop Spark and its JVM and wait for every child process."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            gateway.proc.stdin.close()
            gateway.proc.wait(timeout=60)
            SparkContext._gateway = SparkContext._jvm = None
        for k, v in self.saved_env.items():
            if v is None:
                os.environ.pop(k, None)
            else:
                os.environ[k] = v
        tempfile.tempdir = self.saved_tempdir
        left = proctree.wait_children()
        if left:
            raise RuntimeError(f"child processes still running: {left}")

    def read_log(self) -> eventlog.EventLog:
        return eventlog.EventLog.read(os.path.join(self.event_dir, self.app_id))


def run_pass(w) -> Pass:
    """One timed pass over the whole corpus; the golden check runs after
    the clock stops."""
    golden_docs = w.corpus.n_docs
    cpu0 = proctree.cpu_seconds()
    t0_ms = time.time() * 1e3
    t0 = time.perf_counter()
    rss = proctree.PeakRss()
    try:
        with rss:
            res = w.run_once()
    except Exception as exc:  # a pass that raises fails all of its docs
        print(f"pass failed: {exc!r}", file=sys.stderr)
        return Pass(time.perf_counter() - t0, golden_docs, golden_docs, {}, t0_ms,
                    time.time() * 1e3)
    wall = time.perf_counter() - t0
    t1_ms = time.time() * 1e3
    cpu1 = proctree.cpu_seconds()
    p = Pass(wall, golden_docs, 0, {k: cpu1[k] - cpu0[k] for k in cpu0}, t0_ms, t1_ms,
             rss.peak_mb)
    out = w.output(res, p)
    p.spans_out = len(out)
    p.failed = cp.failed_docs(out, w.corpus.goldens)
    return p


def med(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def measure(workload: str, seed: int, seconds: float, trace: bool) -> dict:
    t_setup = time.perf_counter()
    nproc = len(os.sched_getaffinity(0))
    work = str(ROOT / ".perfbench_work" / f"{workload}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    try:
        w = Kernel(seed, nproc) if workload == "kernel" else SparkWorkload(
            workload, seed, nproc, work)
        try:
            t_warm = time.perf_counter()
            w.run_once()  # warm-up: worker start, imports, JIT, label cache
            setup_s = time.perf_counter() - t_setup
            print(f"setup {setup_s:.2f} s, of which warm-up "
                  f"{time.perf_counter() - t_warm:.2f} s", file=sys.stderr)
            passes: List[Pass] = []
            while sum(p.wall_s for p in passes) < seconds or len(passes) < MIN_PASSES:
                passes.append(run_pass(w))
                print(f"pass {len(passes)}: {passes[-1].wall_s:.2f} s", file=sys.stderr)
            if trace:
                stats, profiled = w.profiled()
                counts = count_kernel_work(w.corpus, nproc, seed)
        finally:
            w.stop()
        log = w.read_log() if w.spark is not None else None
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))

    ok = [p for p in passes if p.cpu]
    values: Dict[str, float] = {
        "docs_per_s": med(p.docs / p.wall_s for p in ok),
        "cpu_s_per_kdoc": med(sum(p.cpu.values()) / p.docs * 1e3 for p in ok),
        "peak_rss_mb": med(p.rss_mb for p in ok),
        "setup_s": setup_s,
    }
    layers = [layer_values(w, log, p, nproc) for p in passes]
    if workload == "checkpoint":
        # plan-shape guard: an input exchange below the doc kernel (or no doc
        # kernel at all) means the pass did not run the warehouse plan, so
        # every doc of that pass fails
        for p, lay in zip(passes, layers):
            if (lay["pipeline.extract.exchange.count"]
                    or not lay["pipeline.extract.kernel_stage.tasks"]):
                print("plan guard: input exchange below the kernel", file=sys.stderr)
                p.failed = p.docs
    all_passes = passes + ([profiled] if trace else [])
    attempted = sum(p.docs for p in all_passes)
    failed = sum(p.failed for p in all_passes)
    values["failed_frac"] = failed / attempted
    values["shuffle_mb"] = med(lay["shuffle_mb"] for lay in layers)
    if trace:
        for k in layers[0]:
            values[k] = med(lay[k] for lay in layers)
        values.update(profiles.core_layers(stats))
        values.update(counts)
        values["core.document.spans_out"] = passes[-1].spans_out
        if workload == "kernel":
            values["pipeline.extract.kernel_driver.rows_in"] = sum(len(c) for c in w.chunks)
        untraced = med(p.wall_s for p in ok)
        values["trace.overhead_frac"] = profiled.wall_s / untraced - 1.0
    c = w.corpus
    shape = {"docs": c.n_docs, "mega_docs": c.n_mega, "rows": len(c.rows),
             "spans": c.n_spans}
    return {"attempted": attempted, "failed": failed, "values": values, "corpus": shape}


def count_kernel_work(corpus: cp.Corpus, nproc: int, seed: int) -> Dict[str, int]:
    """Work counts of the kernel stages over the whole corpus, from an
    untimed replay of the doc-path kernel in this process (the Spark
    workloads make the same page calls, which the golden gate checks)."""
    fn = extract._doc_mode_kernel(DEFAULT_CONFIG)
    with profiles.counting() as counts:
        for c in cp.kernel_chunks(corpus, kernel_tasks(nproc), seed):
            list(fn(iter([c])))
    return dict(counts)


# Per-pass layers outside the event log's extract layers.
PASS_LAYERS = (
    "pipeline.checkpoint.buckets", "pipeline.checkpoint.bucket_s_p50",
    "pipeline.checkpoint.bucket_s_max", "pipeline.checkpoint.jobs_per_bucket",
    "pipeline.checkpoint.route_s", "pipeline.checkpoint.write_s",
    "pipeline.checkpoint.lineage_s", "pipeline.checkpoint.scan_amplification",
    "pipeline.checkpoint.output_mb", "pipeline.warehouse.ingest_s",
    "pipeline.warehouse.ingest_mb", "proc.driver_cpu_s", "proc.jvm_cpu_s",
    "proc.worker_cpu_s",
)


def layer_values(w, log, p: Pass, nproc: int) -> Dict[str, float]:
    """Per-layer values of one untraced pass; zero for layers the workload
    does not exercise."""
    out = dict.fromkeys(eventlog.EXTRACT_LAYERS + PASS_LAYERS, 0.0)
    out["pipeline.extract.plan_s"] = p.plan_s
    if p.cpu:
        for cls in proctree.CLASSES:
            out[f"proc.{cls}_cpu_s"] = p.cpu[cls]
    if w.spark is None:
        return out
    out["pipeline.warehouse.ingest_s"] = w.ingest_s
    out["pipeline.warehouse.ingest_mb"] = w.ingest_mb
    win = log.window(p.t0_ms, p.t1_ms)
    out.update(win.extract_layers(p.wall_s, nproc))
    if w.name == "checkpoint":
        phases = win.checkpoint_phases()
        out.update(p.extra)
        out["pipeline.checkpoint.buckets"] = CHECKPOINT_BUCKETS
        out["pipeline.checkpoint.jobs_per_bucket"] = len(win.jobs) / CHECKPOINT_BUCKETS
        out["pipeline.checkpoint.route_s"] = phases["route"]
        out["pipeline.checkpoint.write_s"] = phases["write"]
        out["pipeline.checkpoint.lineage_s"] = phases["lineage"]
        out["pipeline.checkpoint.scan_amplification"] = (
            out["pipeline.extract.scan.input_mb"] / w.table_mb
        )
        out["pipeline.extract.plan_s"] = phases["route"]
    return out



def report(spec: dict, result: dict, trace: bool) -> dict:
    """Select the metrics BENCHMARK.json names for this mode, with units."""
    values = result["values"]
    group = spec["per_layer"] if trace else spec["end_to_end"]
    metrics = {}
    for m in group:
        if m["name"] not in values:
            raise KeyError(f"metric {m['name']!r} was not measured")
        metrics[m["name"]] = {"value": float(values[m["name"]]), "unit": m["unit"]}
    return {
        "correct": result["failed"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": metrics,
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("kernel", "direct", "checkpoint"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    with open(ROOT / "BENCHMARK.json") as f:
        spec = json.load(f)
    result = measure(args.workload, args.seed, args.seconds, bool(args.trace))
    out = report(spec, result, bool(args.trace))
    print(args.workload, "corpus", " ".join(f"{k}={v}" for k, v in result["corpus"].items()))
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    extra = ("failed_frac", "shuffle_mb")
    for name in list(out["metrics"]) + [e for e in extra if e not in out["metrics"]]:
        print(f"{args.workload} {name} {result['values'][name]:.6g} {units[name]}")
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
