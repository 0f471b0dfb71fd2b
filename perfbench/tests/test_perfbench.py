"""Self-tests of the benchmark.  Run from the repository root:

    python3 -m pytest perfbench/tests -q

The smoke runs start one Spark JVM per Spark workload (about half a
minute each on a 4-core host).
"""

import json
import os
import shutil
import subprocess
import sys

import pytest

from perfbench import corpus as cp
from perfbench import run

ROOT = run.ROOT
with open(ROOT / "BENCHMARK.json") as f:
    SPEC = json.load(f)
E2E = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
LAYERS = {m["name"]: m["unit"] for m in SPEC["per_layer"]}


@pytest.fixture
def smoke(monkeypatch):
    """Smoke-size corpora: the Spark corpus keeps one mega doc so the
    page-salted path still runs."""
    monkeypatch.setattr(run, "KERNEL_DOCS", 40)
    monkeypatch.setattr(run, "SPARK_DOCS", 40)
    monkeypatch.setattr(run, "MEGA_EVERY", 40)


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_smoke_run_reports_every_metric(smoke, workload):
    result = run.measure(workload, seed=7, seconds=0.1, trace=True)
    e2e = run.report(SPEC, result, trace=False)
    layers = run.report(SPEC, result, trace=True)
    assert e2e["correct"] and e2e["failed"] == 0
    assert {k: v["unit"] for k, v in e2e["metrics"].items()} == E2E
    assert {k: v["unit"] for k, v in layers["metrics"].items()} == LAYERS
    # every value the traced run measures is a metric BENCHMARK.json names
    assert set(result["values"]) <= set(E2E) | set(LAYERS)
    values = result["values"]
    assert values["docs_per_s"] > 0 and values["setup_s"] > 0
    if workload == "kernel":
        assert values["core.document.extract_page.calls"] > 0
        assert values["core.overlap.blocks_out"] <= values["core.overlap.blocks_in"]
    else:
        assert values["pipeline.extract.kernel_stage.tasks"] > 0
        assert values["pipeline.extract.page_path.rows_in"] > 0
        assert values["core.xycut.xy_cut_order.calls"] > 0
    if workload == "direct":
        assert values["pipeline.extract.exchange.count"] == 2
    if workload == "checkpoint":
        assert values["pipeline.extract.exchange.count"] == 0
        assert values["pipeline.warehouse.ingest_mb"] > 0
        assert values["pipeline.checkpoint.scan_amplification"] > 1
        assert values["pipeline.checkpoint.buckets"] == run.CHECKPOINT_BUCKETS


def test_main_prints_names_units_and_json(smoke, capsys):
    assert run.main(["--workload", "kernel", "--seed", "3", "--seconds", "0.1"]) == 0
    lines = capsys.readouterr().out.strip().splitlines()
    out = json.loads(lines[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    printed = {line.split()[1]: line.split()[3] for line in lines[1:-1]}
    assert lines[0].startswith("kernel corpus docs=40 mega_docs=0 ")
    assert printed == {**E2E, "failed_frac": "ratio", "shuffle_mb": "MB"}


def _kernel_output(corpus):
    fn = run.extract._doc_mode_kernel(run.DEFAULT_CONFIG)
    chunks = cp.kernel_chunks(corpus, 4, seed=1)
    return run.pd.concat([f for c in chunks for f in fn(iter([c]))], ignore_index=True)


def test_golden_gate_catches_one_changed_span():
    corpus = cp.make_corpus(20, 0, seed=5)
    out = _kernel_output(corpus)
    assert cp.failed_docs(out, corpus.goldens) == 0
    i = out.index[out["text"].notna()][3]
    out.loc[i, "text"] = out.loc[i, "text"] + "x"
    assert cp.failed_docs(out, corpus.goldens) == 1
    missing = out[out["doc_id"] != out.loc[i, "doc_id"]]
    assert cp.failed_docs(missing, corpus.goldens) == 1


def test_changed_span_makes_failed_frac_positive(smoke, monkeypatch):
    real = run.Kernel.output

    def corrupt(self, res, p):
        out = real(self, res, p)
        i = out.index[out["text"].notna()][0]
        out.loc[i, "text"] = "not the golden text"
        return out

    monkeypatch.setattr(run.Kernel, "output", corrupt)
    result = run.measure("kernel", seed=4, seconds=0.1, trace=False)
    assert result["values"]["failed_frac"] > 0
    assert not run.report(SPEC, result, trace=False)["correct"]


def test_same_seed_same_inputs_new_seed_new_inputs():
    a, b, c = (cp.make_corpus(5, 0, seed=s) for s in (1, 1, 2))
    assert a.rows == b.rows and a.goldens == b.goldens
    assert set(a.goldens).isdisjoint(c.goldens)


def test_fails_without_the_program(tmp_path):
    """Given only BENCHMARK.json and the benchmark's files, the command
    exits non-zero and prints no result."""
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "kernel", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=180,
    )
    assert p.returncode != 0
    assert not p.stdout.strip()
