"""Kernel-stage widths sized by rows.

Every Python task pays a fixed set-up cost before it reads a row, so the
two kernel stages whose width the plan chooses — the direct feed's input
repartition P and the mega-doc page-salted repartition — are sized by
the rows the router counted (``extract._width_for_rows``), not by the
core count alone.  Large jobs and unknown counts keep the base width.
"""

import re

import pandas as pd
import pytest

from latyas_spark.pipeline import extract as EX


# --- the rule, without Spark ------------------------------------------


def test_unknown_rows_keep_the_base_width():
    assert EX._width_for_rows(None, 4, 16) == 16
    assert EX._width_for_rows(None, 32, 128) == 128


def test_a_small_stage_runs_one_task_per_core():
    assert EX._width_for_rows(44_701, 4, 16) == 4
    assert EX._width_for_rows(0, 4, 16) == 4


def test_the_bench_shape_keeps_the_base_width():
    # 5.3M rows at local[32]: 162 row-sized tasks > 4 x 32
    assert EX._width_for_rows(5_300_000, 32, 128) == 128


def test_row_sized_width_between_cores_and_base():
    assert EX._width_for_rows(7 * EX.ROWS_PER_TASK + 1, 4, 16) == 8


@pytest.mark.parametrize("cores, base", [(1, 4), (4, 16), (8, 32), (32, 128), (4, 200)])
def test_a_narrowed_stage_stays_within_rows_per_task(cores, base):
    rpt = EX.ROWS_PER_TASK
    sizes = {0, 1, rpt - 1, rpt, rpt + 1, 10**7}
    sizes |= {k * rpt + d for k in range(1, 2 * base) for d in (-1, 0, 1)}
    for rows in sorted(sizes):
        w = EX._width_for_rows(rows, cores, base)
        assert cores <= w <= base, (rows, w)
        if w < base:
            assert rows <= w * rpt, (rows, w)


def test_scaled_route_multiplies_known_counts_only():
    assert EX._Route(["a"], 10, 30).scaled(2) == EX._Route(["a"], 20, 60)
    assert EX._Route([]).scaled(3) == EX._Route([])


# --- the router's counts on the conftest corpus ------------------------


def _sidecar(spark, corpus_dir):
    return spark.read.parquet(f"{corpus_dir}/layout_blocks.parquet")


def _pandas_counts(corpus_dir, threshold=EX.MEGA_THRESHOLD):
    ids = pd.read_parquet(f"{corpus_dir}/layout_blocks.parquet", columns=["doc_id"])
    per_doc = ids.groupby("doc_id").size()
    big = per_doc[per_doc >= threshold]
    return sorted(big.index), int(big.sum()), len(ids)


def test_router_counts_equal_a_pandas_count(spark, corpus_dir):
    mega, mega_rows, rows = _pandas_counts(corpus_dir)
    assert mega  # the fixture carries a mega doc
    route = EX._route_mega(_sidecar(spark, corpus_dir), EX.MEGA_THRESHOLD)
    assert (sorted(route.mega), route.mega_rows, route.rows) == (
        mega, mega_rows, rows
    )


def test_router_counts_all_rows_when_no_doc_is_mega(spark, corpus_dir):
    _, _, rows = _pandas_counts(corpus_dir)
    route = EX._route_mega(_sidecar(spark, corpus_dir), 10**9)
    assert route == EX._Route([], 0, rows)


def test_router_off_and_fallback_count_nothing(spark, corpus_dir, monkeypatch):
    sidecar = _sidecar(spark, corpus_dir)
    assert EX._route_mega(sidecar, 0) == EX._Route([])
    assert EX._route_mega(sidecar, -1) == EX._Route([])
    monkeypatch.setattr(EX, "MAX_MEGA_INLIST", 0)
    route = EX._route_mega(sidecar, EX.MEGA_THRESHOLD)
    assert (route.mega_rows, route.rows) == (None, None)
    mega, _, _ = _pandas_counts(corpus_dir)
    assert sorted(r["doc_id"] for r in route.mega.collect()) == mega


# --- plan shape: both chosen widths read the rule ----------------------


def _repartitions(df):
    """The explicit repartition exchanges of ``df``'s plan, attribute ids
    stripped: e.g. ``['doc_id, 4', 'doc_id, 4']``.  An adaptive plan that
    has run prints its final plan before the initial one; read the
    initial one."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[-1]
    keys = re.findall(r"hashpartitioning\(([^)]*)\), REPARTITION_BY_NUM", plan)
    return sorted(re.sub(r"#\d+", "", k) for k in keys)


def _page_salts(frames):
    """The page-salted repartitions of each page-kernel frame."""
    return [[k for k in _repartitions(f) if "page" in k] for f in frames]


def _base_width(spark):
    cores = spark.sparkContext.defaultParallelism
    return max(int(spark.conf.get("spark.sql.shuffle.partitions")), 4 * cores)


@pytest.fixture
def page_frames(monkeypatch):
    """Page-kernel outputs handed to the doc-order recovery: its input is
    localCheckpoint'ed, so the page-salted exchange shows only in the
    plan of the frame passed in."""
    seen = []
    doc_order = EX._doc_order

    def spy(pages):
        seen.append(pages)
        return doc_order(pages)

    monkeypatch.setattr(EX, "_doc_order", spy)
    return seen


@pytest.mark.parametrize("rows_per_task", [None, 1000], ids=["default", "1000"])
def test_extract_spans_sizes_both_stages_by_routed_rows(
    spark, corpus_dir, monkeypatch, page_frames, rows_per_task
):
    if rows_per_task is not None:
        monkeypatch.setattr(EX, "ROWS_PER_TASK", rows_per_task)
    _, mega_rows, rows = _pandas_counts(corpus_dir)
    cores, base = spark.sparkContext.defaultParallelism, _base_width(spark)
    P = EX._width_for_rows(rows, cores, base)
    page_w = EX._width_for_rows(mega_rows, cores, base)
    if rows_per_task is not None:
        assert cores < page_w < P < base  # the row counts set both widths
    docs = spark.read.parquet(f"{corpus_dir}/documents.parquet")
    out = EX.extract_spans(docs, _sidecar(spark, corpus_dir))
    assert _repartitions(out) == [f"doc_id, {P}"] * 2
    assert _page_salts(page_frames) == [[f"doc_id, page, {page_w}"]]


def test_multi_detector_width_counts_every_sidecar(spark, corpus_dir, monkeypatch):
    monkeypatch.setattr(EX, "ROWS_PER_TASK", 1000)
    _, _, rows = _pandas_counts(corpus_dir)
    cores, base = spark.sparkContext.defaultParallelism, _base_width(spark)
    P = EX._width_for_rows(2 * rows, cores, base)
    assert P != EX._width_for_rows(rows, cores, base)
    docs = spark.read.parquet(f"{corpus_dir}/documents.parquet")
    sidecar = _sidecar(spark, corpus_dir)
    out = EX.extract_spans(docs, [sidecar, sidecar])
    assert _repartitions(out) == [f"doc_id, {P}"] * 2


def test_flat_feed_sizes_its_page_path_by_routed_rows(
    spark, corpus_dir, monkeypatch, page_frames
):
    monkeypatch.setattr(EX, "ROWS_PER_TASK", 1000)
    _, mega_rows, _ = _pandas_counts(corpus_dir)
    cores, base = spark.sparkContext.defaultParallelism, _base_width(spark)
    docs = spark.read.parquet(f"{corpus_dir}/documents.parquet")
    joined = EX.explode_documents(docs).join(
        _sidecar(spark, corpus_dir), ["doc_id", "offset"]
    )
    EX.extract_spans_flat(joined)
    page_w = EX._width_for_rows(mega_rows, cores, base)
    assert _page_salts(page_frames) == [[f"doc_id, page, {page_w}"]]


@pytest.mark.parametrize("case", ["unrouted", "inlist_fallback", "all_pages"])
def test_unknown_counts_keep_the_base_widths(
    spark, corpus_dir, monkeypatch, page_frames, case
):
    monkeypatch.setattr(EX, "ROWS_PER_TASK", 1000)
    base = _base_width(spark)
    docs = spark.read.parquet(f"{corpus_dir}/documents.parquet")
    threshold = {"unrouted": -1, "all_pages": 0}.get(case, EX.MEGA_THRESHOLD)
    if case == "inlist_fallback":
        monkeypatch.setattr(EX, "MAX_MEGA_INLIST", 0)
    out = EX.extract_spans(
        docs, _sidecar(spark, corpus_dir), mega_threshold=threshold
    )
    # with every doc on the page path the input exchanges sit below the
    # page kernel's localCheckpoint
    inputs = page_frames[0] if case == "all_pages" else out
    assert [k for k in _repartitions(inputs) if "page" not in k] == [
        f"doc_id, {base}"
    ] * 2
    want = [] if case == "unrouted" else [[f"doc_id, page, {base}"]]
    assert _page_salts(page_frames) == want


def test_flat_feed_over_buckets_keeps_a_shuffle_free_doc_path(
    spark, corpus_dir, tmp_path_factory
):
    """The checkpoint feed (extract_spans_flat over a bucketed join) gets
    no clustering promise, so its doc kernel repartitions by doc_id at
    the base width — which Spark drops as redundant when the tables hold
    that many buckets.  Row-sizing that repartition would bring the
    input exchange back; only the page salt (below the doc-order
    checkpoint) may shuffle."""
    from latyas_spark.pipeline.warehouse import colocated_join, ingest_corpus

    base = str(tmp_path_factory.mktemp("whsize"))
    tables = ingest_corpus(
        spark, corpus_dir, n_buckets=_base_width(spark), prefix="whsize",
        base_path=base,
    )
    try:
        out = EX.extract_spans_flat(
            colocated_join(spark, *tables, ("doc_id", "offset"))
        )
        assert _repartitions(out) == []
    finally:
        for t in tables:
            spark.sql(f"DROP TABLE IF EXISTS {t}")
