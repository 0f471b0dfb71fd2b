"""Checkpoint/resume tests (SURVEY.md §5.2 item 5): kill after k
buckets, rerun, assert the final table equals an uninterrupted run and
that completed buckets were skipped."""

import os

import pytest

from latyas_spark.pipeline.checkpoint import (
    completed_buckets,
    read_checkpointed,
    run_checkpointed,
)
from latyas_spark.pipeline.extract import KERNEL_COLS, explode_documents


@pytest.fixture(scope="module")
def joined(spark, corpus_dir):
    docs = spark.read.parquet(f"{corpus_dir}/documents.parquet")
    blocks = spark.read.parquet(f"{corpus_dir}/layout_blocks.parquet")
    return explode_documents(docs).join(blocks, ["doc_id", "offset"]).select(
        *KERNEL_COLS
    )


def _collect(df):
    return sorted(
        (r["doc_id"], r["order"], r["kind"], r["text"], r["media_ref"])
        for r in df.collect()
    )


def test_interrupt_resume_equals_single_shot(spark, joined, tmp_path):
    out_a = str(tmp_path / "single")
    out_b = str(tmp_path / "resumed")

    # uninterrupted run
    summary = run_checkpointed(spark, joined, out_a, n_buckets=8)
    assert summary["buckets_done"] == 8

    # interrupted after 3 buckets
    with pytest.raises(RuntimeError, match="injected failure"):
        run_checkpointed(spark, joined, out_b, n_buckets=8, fail_after=3)
    done_mid = completed_buckets(out_b)
    assert len(done_mid) == 3

    # record mtimes of completed manifests; resume must not rewrite them
    ckpt = os.path.join(out_b, "_checkpoint")
    mtimes = {f: os.path.getmtime(os.path.join(ckpt, f)) for f in os.listdir(ckpt)}

    summary2 = run_checkpointed(spark, joined, out_b, n_buckets=8)
    assert summary2["buckets_skipped"] == 3
    assert summary2["buckets_done"] == 5
    for f, t in mtimes.items():
        assert os.path.getmtime(os.path.join(ckpt, f)) == t  # untouched

    assert _collect(read_checkpointed(spark, out_a)) == _collect(
        read_checkpointed(spark, out_b)
    )


def test_manifests_carry_lineage(spark, joined, tmp_path):
    out = str(tmp_path / "lineage")
    run_checkpointed(spark, joined, out, n_buckets=4, run_id="run-lineage")
    import json

    from latyas_spark.pipeline.iceberg import CHECKPOINT_SCHEMA

    ckpt = os.path.join(out, "_checkpoint")
    total = 0
    for f in sorted(os.listdir(ckpt)):
        m = json.load(open(os.path.join(ckpt, f)))
        assert m["run_id"] == "run-lineage"
        assert m["status"] == "done"
        assert m["spans"] == sum(r["spans"] for r in m["lineage"])
        assert all(r["partition_id"] >= 0 for r in m["lineage"])
        pids = [r["partition_id"] for r in m["lineage"]]
        assert pids == sorted(pids)
        # one manifest format: the JSON is the Iceberg checkpoint row
        row = spark.createDataFrame([tuple(m.values())], schema=CHECKPOINT_SCHEMA)
        assert list(m) == row.columns
        assert [r.asDict(recursive=True) for r in row.collect()] == [m]
        total += m["spans"]
    assert total == read_checkpointed(spark, out).count()


def test_resume_refuses_config_drift(spark, joined, tmp_path):
    """Completed buckets record the config fingerprint; resuming with a
    different ExtractConfig must fail loudly instead of mixing two rule
    regimes in one output dataset."""
    from latyas_spark.core.document import ExtractConfig
    from latyas_spark.pipeline.checkpoint import config_fingerprint

    out = str(tmp_path / "drift")
    with pytest.raises(RuntimeError, match="injected failure"):
        run_checkpointed(spark, joined, out, n_buckets=4, fail_after=2)
    assert len(completed_buckets(out)) == 2

    drifted = ExtractConfig(conf_threshold=0.5)
    with pytest.raises(ValueError, match="resume config drift"):
        run_checkpointed(spark, joined, out, n_buckets=4, cfg=drifted)

    # same config resumes fine; fingerprint is deterministic and
    # frozenset-order-independent
    assert config_fingerprint(
        ExtractConfig(ruled_kinds=frozenset({1, 2, 3})), 100
    ) == config_fingerprint(
        ExtractConfig(ruled_kinds=frozenset({3, 2, 1})), 100
    )
    summary = run_checkpointed(spark, joined, out, n_buckets=4)
    assert summary["buckets_done"] == 2 and summary["buckets_skipped"] == 2


def test_resume_refuses_a_different_bucket_count(spark, joined, tmp_path):
    """The bucket count decides which docs a bucket id names: resuming
    8 buckets as 4 would skip buckets 0-2 of the new split, of whose
    docs the first run wrote only some, and silently drop the rest."""
    out = str(tmp_path / "rebucket")
    with pytest.raises(RuntimeError, match="injected failure"):
        run_checkpointed(spark, joined, out, n_buckets=8, fail_after=3)
    with pytest.raises(ValueError, match="resume config drift"):
        run_checkpointed(spark, joined, out, n_buckets=4)
    assert run_checkpointed(spark, joined, out, n_buckets=8)["buckets_done"] == 5
