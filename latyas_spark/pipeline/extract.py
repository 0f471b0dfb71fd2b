"""The distributed extraction job (flagship query) and its one planner.

Plan shape (SURVEY.md §3 lifecycle mapping).  Every feed hands its
span x sidecar join to ``_plan``; the direct feed (extract_spans)
builds the join as below, the warehouse feed (warehouse.py) from
doc_id-bucketed scans with no input exchange at all:

    documents (nested spans)   layout_blocks (sidecar)
        |  explode                  |
     repartition(P, doc_id)     repartition(P, doc_id)
        +--- shuffled-hash equi-join on (doc_id, offset) ---+
            (co-partitioned: the join adds NO exchange and
             its output stays doc_id-clustered)
                                |
              mega-doc router (_route_mega) splits by doc_id
             |                                      |
     doc kernel: whole docs,          page kernel: (doc_id, page)-salted,
     doc-wide order in-kernel         page_pos + page-base window
             +------------ unionByName -------------+
                                |
                       span rows / nested docs out

Both kernels run the one driver, ``_doc_mode_kernel``: a pandas lexsort
by (doc_id, page, offset), then one page call per page — the flagship
``extract_page`` or, with ``dual=True``, its pdf2txt.py variant.

Scale design (SURVEY.md §4.3):

* **Batched kernels, not per-group calls.**  groupBy().applyInPandas
  invokes Python once per group; page groups are tiny (tens of rows),
  so per-group overhead would dominate at any scale.  Instead we
  repartition by hash(doc_id) and run ``mapInPandas`` over the whole
  task partition: one python invocation per partition, per-doc groups
  split off vectorized with flatnonzero on the sorted doc_id column.
* **Kernel stages sized by their rows.**  A Python task costs ~0.25 s
  of worker CPU before it reads a row (docs/OPERATIONS.md), so the two
  widths the plan chooses — the input repartition P and the mega-doc
  page salt — are one task per ROWS_PER_TASK rows of the router's
  count, at least one per core and at most the base width
  max(shuffle partitions, 4x cores) (``_width_for_rows``).  A 2,000-doc
  job runs 4 kernel tasks on 4 cores instead of 16; the 5.3M-row
  bench shape keeps its 128.
* **Keep the JVM out of the hot path.**  Both join inputs are
  repartitioned by doc_id so the join itself needs no exchange
  (requires spark.sql.requireAllClusterKeysForCoPartition=false, set
  by build_session), the join is hash- not sort-merge- based, and the
  kernel sort happens vectorized in pandas — the JVM side of the
  kernel stage does shuffle IO and Arrow encoding only.  Measured at
  5.3M rows this removed ~230 JVM-CPU-seconds of wide-row sorting
  that serialized against the python workers inside one stage.
* **Two-path skew routing.**  A mega-document (>= ``mega_threshold``
  spans) would serialize a whole partition in the doc-grouped path, so
  docs are routed by span count: normal docs take the doc kernel;
  mega docs are re-keyed by (doc_id, page) — the salt — and their
  doc-wide order is recovered with a window over the (much smaller)
  span output.  The router counts the flat sidecar (the doc_id column
  only, map-side-combined) and collects, in one job, the mega ids with
  their row count and the total row count: the resulting
  ``doc_id IN (...)`` predicates are pushed by Catalyst through the
  join into BOTH parquet scans (InSet, O(1) probe), so each union
  branch scans and joins only its own documents.  A derived-column
  flag (``size(spans) >= T``) cannot be pushed below the join and was
  measured ~3x slower at 240k docs.  Mega docs are a skew tail, so the
  list stays tiny; past MAX_MEGA_INLIST ids routing falls back to a
  broadcast semi/anti join rather than bloat the plan with a literal.
* **No per-row Python** anywhere; only the columns the kernel needs
  cross the Arrow boundary (pandas UDFs are a pushdown barrier, so
  cheap filters/pruning happen before the shuffle by construction).
"""

from __future__ import annotations

from typing import Iterator, NamedTuple, Optional

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..core.document import (
    DEFAULT_CONFIG,
    ExtractConfig,
    extract_page,
    extract_page_dual,
)

# Columns the page kernel consumes.
KERNEL_COLS = [
    "doc_id", "page", "offset",
    "x1", "y1", "x2", "y2",
    "conf", "label", "text", "media_ref",
]

# Extra columns of the dual-source (pdf2txt.py) kernel: per-row OCR
# output and the row's text-layer rect in PDF coords (C7 source space).
DUAL_EXTRA_COLS = ["ocr_text", "lx1", "ly1", "lx2", "ly2"]

DOC_OUT_SCHEMA = (
    "doc_id string, `order` int, kind string, text string, media_ref string"
)
PAGE_OUT_SCHEMA = (
    "doc_id string, page int, page_pos int, kind string, "
    "text string, media_ref string"
)

# Default span-count threshold for the mega-doc page path.
MEGA_THRESHOLD = 5000


class _Cols:
    """Column arrays of one kernel chunk (extracted once; all further
    slicing is zero-copy NumPy views, no pandas in the hot loop).
    Optional columns (multi-detector ``det``, dual-source ocr/layer
    cols) are extracted only when present in the frame."""

    __slots__ = ("doc_id", "page", "offset", "x1", "y1", "x2", "y2",
                 "conf", "label", "text", "media_ref", "n", "det",
                 "ocr_text", "lx1", "ly1", "lx2", "ly2")

    def __init__(self, pdf: pd.DataFrame):
        self.doc_id = pdf["doc_id"].to_numpy()
        self.page = pdf["page"].to_numpy()
        self.offset = pdf["offset"].to_numpy(dtype=np.int64)
        self.x1 = pdf["x1"].to_numpy(dtype=np.float64)
        self.y1 = pdf["y1"].to_numpy(dtype=np.float64)
        self.x2 = pdf["x2"].to_numpy(dtype=np.float64)
        self.y2 = pdf["y2"].to_numpy(dtype=np.float64)
        self.conf = pdf["conf"].to_numpy(dtype=np.float64)
        self.label = pdf["label"].to_numpy()
        # Arrow->pandas string columns are object arrays with None for
        # nulls; a fully-null column can arrive as float NaN — normalize
        self.text = _clean_obj(pdf["text"])
        self.media_ref = _clean_obj(pdf["media_ref"])
        self.det = (
            pdf["det"].to_numpy(dtype=np.int64) if "det" in pdf.columns else None
        )
        self.ocr_text = (
            _clean_obj(pdf["ocr_text"]) if "ocr_text" in pdf.columns else None
        )
        for c in ("lx1", "ly1", "lx2", "ly2"):
            setattr(
                self,
                c,
                pdf[c].to_numpy(dtype=np.float64) if c in pdf.columns else None,
            )
        self.n = len(self.doc_id)


def _clean_obj(col: pd.Series) -> np.ndarray:
    arr = col.to_numpy(dtype=object)
    if len(arr) and col.isna().any():
        arr = arr.copy()
        arr[col.isna().to_numpy()] = None
    return arr


def _page_e1(cols: _Cols, ps: int, pe: int, cfg: ExtractConfig):
    """Flagship (E1, analyze_pdf) page call over one page slice."""
    return extract_page(
        cols.x1[ps:pe],
        cols.y1[ps:pe],
        cols.x2[ps:pe],
        cols.y2[ps:pe],
        cols.conf[ps:pe],
        cols.label[ps:pe],
        cols.text[ps:pe],
        cols.media_ref[ps:pe],
        cfg,
        det=None if cols.det is None else cols.det[ps:pe],
        offsets=cols.offset[ps:pe],
    )


def _page_dual(cols: _Cols, ps: int, pe: int, cfg: ExtractConfig):
    """Dual-source (E2, pdf2txt.py) page call over one page slice."""
    return extract_page_dual(
        cols.x1[ps:pe],
        cols.y1[ps:pe],
        cols.x2[ps:pe],
        cols.y2[ps:pe],
        cols.conf[ps:pe],
        cols.label[ps:pe],
        cols.ocr_text[ps:pe],
        cols.lx1[ps:pe],
        cols.ly1[ps:pe],
        cols.lx2[ps:pe],
        cols.ly2[ps:pe],
        cols.text[ps:pe],
        cfg,
    )


def _sorted_partition_chunks(
    batches: Iterator[pd.DataFrame], sort_cols: list
) -> Iterator[pd.DataFrame]:
    """Buffer the WHOLE task partition, sort it vectorized in pandas,
    and yield it as one doc-contiguous chunk.

    Sorting here instead of a JVM SortExec keeps the heavy lifting in
    the (independently parallel) Python workers: with sort-merge join
    upstream the JVM burned ~231 CPU-seconds on three wide-row sorts
    at 5.3M rows, serialized against the Python kernel inside one
    stage.  A whole-partition pandas lexsort of the same data costs
    <2s total.

    Memory envelope (the cost of whole-partition buffering): a kernel
    input row is ~250 B on the wire (4 float64 coords, conf, 3 short
    strings, ids) and ~3x that as pandas objects, so a task holds
    ~750 B x rows_per_partition.  At the bench shape (5.3M rows / 128
    partitions) that is ~31 MB/task — far under a worker's share.  Where
    _kernel_partitions narrows a small stage to fewer tasks (one per
    ROWS_PER_TASK routed rows, so each Python task's ~0.25 s set-up
    stays a small share of its work) a task averages at most
    ROWS_PER_TASK = 32,768 rows, ~24 MB.  At warehouse scale, size the
    kernel partition count as P >= total_rows * 750B / 512MB (e.g.
    10^10 span rows -> P ~ 15k), via spark.sql.shuffle.partitions or
    bucketing; the row rule never widens a stage past its base.  Mega
    docs are page-salted before this point, so no partition is
    dominated by one document — the bound holds under document skew.
    """
    parts = [pdf for pdf in batches if len(pdf)]
    if not parts:
        return
    pdf = parts[0] if len(parts) == 1 else pd.concat(parts, ignore_index=True)
    order = np.lexsort([pdf[c].to_numpy() for c in reversed(sort_cols)])
    if not np.array_equal(order, np.arange(len(order))):
        pdf = pdf.iloc[order].reset_index(drop=True)
    yield pdf


def _doc_mode_kernel(cfg: ExtractConfig, page_fn=_page_e1,
                     sort_cols=("doc_id", "page", "offset"),
                     page_local: bool = False):
    """mapInPandas fn, the one kernel driver: runs ``page_fn`` on every
    page of every doc-contiguous chunk.  Emits DOC_OUT_SCHEMA rows with
    the doc-wide ``order``, or with ``page_local=True`` (the mega-doc
    path) PAGE_OUT_SCHEMA rows ordered within their page."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for chunk in _sorted_partition_chunks(batches, list(sort_cols)):
            cols = _Cols(chunk)
            ids, pages = cols.doc_id, cols.page
            new_doc = np.concatenate(([True], ids[1:] != ids[:-1]))
            new_page = new_doc.copy()
            new_page[1:] |= pages[1:] != pages[:-1]
            starts = np.flatnonzero(new_page)
            ends = np.append(starts[1:], cols.n)
            spans, counts = [], []
            for s, e in zip(starts, ends):
                page_spans = page_fn(cols, s, e, cfg)
                spans += page_spans
                counts.append(len(page_spans))
            # per-page counts -> per-span columns: each span's page row,
            # and its position counted from the first span of its page
            # (page-local) or of its doc
            counts = np.asarray(counts, dtype=np.int64)
            first = np.cumsum(counts) - counts
            if not page_local:
                first = np.maximum.accumulate(
                    np.where(new_doc[starts], first, 0)
                )
            row = np.repeat(starts, counts)
            pos = np.arange(len(spans)) - np.repeat(first, counts)
            pos = pos.astype(np.int32)
            if page_local:
                head = {"page": pages[row].astype(np.int32), "page_pos": pos}
            else:
                head = {"order": pos}
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids[row], dtype=object),
                    **head,
                    "kind": pd.Series([sp[0] for sp in spans], dtype=object),
                    "text": pd.Series([sp[1] for sp in spans], dtype=object),
                    "media_ref": pd.Series([sp[2] for sp in spans], dtype=object),
                }
            )

    return run


def explode_documents(documents: DataFrame) -> DataFrame:
    """Nested input-hint table -> one row per span."""
    return documents.select(
        "doc_id", F.explode("spans").alias("s")
    ).select(
        "doc_id",
        F.col("s.text").alias("text"),
        F.col("s.media_ref").alias("media_ref"),
        F.col("s.offset").alias("offset"),
    )


def doc_clustering_safe(spark) -> bool:
    """True iff a join whose children are hash(doc_id)-distributed (via
    repartition or bucketed scans) keeps its output doc_id-CLUSTERED in
    this session — the precondition for handing the join output to the
    doc-grouped kernel without a re-shuffle.

    Two session settings can silently break it: (a) subset cluster
    keys disallowed — EnsureRequirements re-shuffles on (doc_id,
    offset), which does NOT cluster by doc alone; (b) AQE skew-join
    splitting — it breaks a skewed join partition by mapper ranges,
    scattering one doc's rows across tasks (mega routing handles doc
    skew instead; build_session disables the splitter).  Callers fall
    back to an explicit kernel repartition when this returns False."""
    subset_ok = (
        spark.conf.get(
            "spark.sql.requireAllClusterKeysForCoPartition", "true"
        ).lower()
        == "false"
    )
    skew_split_on = (
        spark.conf.get("spark.sql.adaptive.enabled", "true").lower() == "true"
        and spark.conf.get(
            "spark.sql.adaptive.skewJoin.enabled", "false"
        ).lower()
        == "true"
    )
    return subset_ok and not skew_split_on


# Rows one kernel task should get before a stage adds another task.
# A Python task costs ~0.25 s of worker CPU before it reads a row
# (docs/OPERATIONS.md, "Per-task cost"); at ~23k kernel rows/s/core
# 32,768 rows are ~1.4 s of work, so that fixed cost stays under ~15%.
ROWS_PER_TASK = 32_768


def _width_for_rows(rows: Optional[int], cores: int, base_width: int) -> int:
    """The kernel-stage sizing rule: ``base_width`` narrowed to one task
    per ROWS_PER_TASK rows, but never below one task per core.  With
    ``rows`` unknown (None) the width stays ``base_width``.  Whenever
    the rule narrows a stage its tasks average at most ROWS_PER_TASK
    rows; large jobs keep ``base_width`` (5.3M rows at 32 cores: 162
    row-sized tasks > 128)."""
    if rows is None:
        return base_width
    return min(base_width, max(cores, -(-rows // ROWS_PER_TASK)))


def _kernel_partitions(df: DataFrame, rows: Optional[int] = None) -> int:
    """Explicit shuffle width for a kernel stage that will process
    ``rows`` rows (None: unknown).

    An explicit count keeps AQE from coalescing the exchange toward its
    64MB advisory size — the kernel is CPU-bound per row, not
    byte-bound, so byte-based coalescing would idle most cores.  The
    base width, max(shuffle partitions, 4x cores), spreads a large job
    in even task waves; ``_width_for_rows`` narrows it for small stages,
    because every Python task pays ~0.25 s of CPU before its first row
    and 16 tasks over a 5k-row mega doc are mostly that fixed cost."""
    sc = df.sparkSession.sparkContext
    base = int(
        df.sparkSession.conf.get(
            "spark.sql.shuffle.partitions", str(sc.defaultParallelism * 2)
        )
    )
    return _width_for_rows(
        rows, sc.defaultParallelism, max(base, sc.defaultParallelism * 4)
    )


# Above this many mega doc ids, routing switches from a driver-side
# IN-list (pushed into both scans) to a broadcast semi/anti join: a fat
# skew tail would otherwise bloat the plan with a huge literal list.
MAX_MEGA_INLIST = 10_000


def _kernel(pruned: DataFrame, cfg: ExtractConfig, dual: bool,
            page_local: bool = False, clustered: bool = False,
            rows: Optional[int] = None) -> DataFrame:
    """One mapInPandas kernel stage over ``pruned``.  Doc mode groups
    whole docs, re-shuffling by doc_id unless ``clustered`` promises the
    input is hash(doc_id)-clustered already (e.g. the output of a join
    whose children were distributed by doc_id); page-local mode salts
    by (doc_id, page) so a mega doc spreads over many tasks.  A stage
    that shuffles is ``_kernel_partitions(pruned, rows)`` wide, ``rows``
    being the router's count of its input (None: unknown).

    Multi-detector frames carry a ``det`` column; rows must then sort
    detector-major within a page (Layout.merge appends detector 2's
    blocks after detector 1's, base_pipeline.py:104-111) with offset as
    the in-detector order — a total, deterministic key either way.
    """
    if "det" in pruned.columns:
        sort_cols = ("doc_id", "page", "det", "offset")
    else:
        sort_cols = ("doc_id", "page", "offset")
    if not clustered:
        keys = ("doc_id", "page") if page_local else ("doc_id",)
        pruned = pruned.repartition(_kernel_partitions(pruned, rows), *keys)
    fn = _doc_mode_kernel(
        cfg, _page_dual if dual else _page_e1, sort_cols, page_local
    )
    return pruned.mapInPandas(
        fn, schema=PAGE_OUT_SCHEMA if page_local else DOC_OUT_SCHEMA
    )


def _doc_order(pages: DataFrame) -> DataFrame:
    """Page-local kernel output -> doc-wide order, distributed.

    The naive ordering (row_number over partitionBy(doc_id)) would pull
    every output span of a mega doc through one task.  Instead the
    doc-wide order is ``page_base + page_pos`` where page_base is the
    exclusive running sum of per-page span counts: the window that
    computes it runs over PAGE-level rows (one per (doc, page) — a few
    hundred for a mega doc), and the join that applies it distributes
    on (doc_id, page).  No task ever holds more than one page of one
    doc.  The kernel output is localCheckpoint'ed (lazy) because both
    the count branch and the join branch consume it — without that the
    kernel would run twice.
    """
    pages = pages.localCheckpoint(eager=False)
    pcounts = pages.groupBy("doc_id", "page").agg(
        F.count(F.lit(1)).alias("n_spans")
    )
    wp = Window.partitionBy("doc_id").orderBy("page")
    bases = pcounts.select(
        "doc_id",
        "page",
        (F.sum("n_spans").over(wp) - F.col("n_spans")).alias("page_base"),
    )
    return pages.join(bases, ["doc_id", "page"]).select(
        "doc_id",
        (F.col("page_base") + F.col("page_pos")).cast("int").alias("order"),
        "kind", "text", "media_ref",
    )


class _Route(NamedTuple):
    """What the mega-doc router found in the frame it counted.

    ``mega`` holds the mega doc ids as a list or, past MAX_MEGA_INLIST
    ids, as the id DataFrame.  ``mega_rows`` and ``rows`` count the mega
    docs' rows and all rows; both are None when unknown (routing off,
    or the DataFrame fallback), and the kernel widths then stay at
    their base."""

    mega: object
    mega_rows: Optional[int] = None
    rows: Optional[int] = None

    def scaled(self, k: int) -> "_Route":
        """The counts of a union of ``k`` sidecars shaped like the
        counted one (multi-detector input)."""
        if self.rows is None:
            return self
        return self._replace(mega_rows=self.mega_rows * k, rows=self.rows * k)


def _route_mega(counted: DataFrame, mega_threshold: int) -> _Route:
    """The mega-doc router: the docs with >= ``mega_threshold`` rows in
    ``counted``, plus the row counts the kernel stages are sized by.

    One driver-side collect: the per-doc counts are re-keyed by an
    explicit ``is_mega`` flag, so each mega doc stays its own row and
    all other docs sum into one more row.  Past MAX_MEGA_INLIST mega
    ids the result holds the id DataFrame and no counts.
    ``mega_threshold <= 0`` routes nothing and counts nothing."""
    if mega_threshold <= 0:
        return _Route([])
    counts = counted.groupBy("doc_id").count()
    is_mega = F.col("count") >= mega_threshold
    groups = counts.groupBy(
        is_mega.alias("is_mega"), F.when(is_mega, F.col("doc_id")).alias("doc_id")
    ).agg(F.sum("count").alias("rows"))
    # one group beyond the guard's limit is the non-mega row
    sample = groups.limit(MAX_MEGA_INLIST + 2).collect()
    mega = [r for r in sample if r["is_mega"]]
    if len(mega) > MAX_MEGA_INLIST:
        return _Route(counts.filter(is_mega).select("doc_id"))
    return _Route(
        [r["doc_id"] for r in mega],
        sum(r["rows"] for r in mega),
        sum(r["rows"] for r in sample),
    )


def _plan(joined: DataFrame, cfg: ExtractConfig,
          mega_threshold: int = MEGA_THRESHOLD, dual: bool = False,
          route: Optional[_Route] = None, clustered: bool = False,
          page_local: bool = False) -> DataFrame:
    """The one extraction plan every feed builds: prune ``joined`` (a
    flat span x sidecar frame) to the kernel columns, route mega docs
    to the page-salted kernel and the rest to the doc kernel, and union
    the two.  Feeds differ only in how they build the join, which
    they describe to the plan with:

    * ``route`` — the feed's ``_route_mega`` result, when it routed
      already (default: route by counting ``joined``);
    * ``clustered`` — ``joined`` is hash(doc_id)-clustered already, so
      the doc kernel needs no exchange of its own;
    * ``page_local`` — return the page-salted kernel output as is,
      (page, page_pos) without the doc-wide order.

    ``mega_threshold=0`` sends every doc down the page path and
    ``mega_threshold<0`` every doc down the doc path, both unrouted.
    The router's mega-doc row count sizes the page salt
    (``_kernel_partitions``).
    """
    cols = list(KERNEL_COLS)
    if "det" in joined.columns:
        cols.append("det")
    if dual:
        cols += DUAL_EXTRA_COLS
    pruned = joined.select(*cols)
    if page_local or mega_threshold == 0:
        pages = _kernel(pruned, cfg, dual, page_local=True)
        return pages if page_local else _doc_order(pages)
    if route is None:
        route = _route_mega(pruned, mega_threshold)
    mega, mega_rows, _ = route
    if isinstance(mega, DataFrame):
        ids = F.broadcast(mega)
        normal = pruned.join(ids, "doc_id", "left_anti")
        big = pruned.join(ids, "doc_id", "left_semi")
    elif mega:
        hit = F.col("doc_id").isin(mega)
        normal, big = pruned.filter(~hit), pruned.filter(hit)
    else:
        return _kernel(pruned, cfg, dual, clustered=clustered)
    # Only the page salt is sized by rows: an unclustered doc kernel keeps
    # the base width, which Spark drops as redundant over a join of
    # tables bucketed by doc_id into that many buckets (the checkpoint
    # feed's zero-input-exchange doc path).
    return _kernel(normal, cfg, dual, clustered=clustered).unionByName(
        _doc_order(_kernel(big, cfg, dual, page_local=True, rows=mega_rows))
    )


def extract_pages(
    joined: DataFrame, cfg: ExtractConfig = DEFAULT_CONFIG, dual: bool = False
) -> DataFrame:
    """Page-granular extraction: the page-salted kernel WITHOUT the
    doc-wide order recovery — output keeps (page, page_pos).  Used by
    diagnostics and by the SQL-oracle-checkable flagship slice
    (registry.q_flagship_simple), where per-page positions are the
    comparable unit."""
    return _plan(joined, cfg, dual=dual, page_local=True)


def extract_spans_flat(
    joined: DataFrame,
    cfg: ExtractConfig = DEFAULT_CONFIG,
    mega_threshold: int = MEGA_THRESHOLD,
    dual: bool = False,
) -> DataFrame:
    """Extraction over an already-joined flat frame with KERNEL_COLS
    (plus ``det`` for multi-detector input, plus DUAL_EXTRA_COLS when
    ``dual=True``).

    Returns span rows (doc_id, order, kind, text, media_ref).  Docs
    with >= mega_threshold spans, found by counting the frame itself,
    are routed to the page-salted path, sized by their row count.  Set
    ``mega_threshold=0`` to disable routing (all docs page path) or
    ``mega_threshold<0`` to force the doc path.
    """
    return _plan(joined, cfg, mega_threshold, dual)


def extract_spans(
    documents: DataFrame,
    layout_blocks,
    cfg: ExtractConfig = DEFAULT_CONFIG,
    mega_threshold: int = MEGA_THRESHOLD,
    dual: bool = False,
) -> DataFrame:
    """Flagship: nested documents + geometry sidecar(s) -> ordered spans.

    ``layout_blocks`` may be one DataFrame or a sequence of them (one
    per layout detector, U1 / layout.py:67-68: the paper pipeline runs
    2 detectors, paper_pipeline.py:21-33).  Multiple sidecars union by
    name with a ``det`` index; the kernel then replays Layout.merge
    order (detector-major) and the J1 overlap merge dedups the
    cross-detector duplicates.

    ``dual=True`` runs the dual-source (E2, pdf2txt.py) kernel: the
    sidecar additionally carries the per-row OCR output and the
    text-layer rect in PDF coords (DUAL_EXTRA_COLS); the kernel
    arbitrates OCR vs native text per block (levenshtein < 0.2 prefers
    native) after the C7 flip+descale.

    Mega docs are routed by counting the PRIMARY sidecar (module
    docstring, "Two-path skew routing") before the join is built, so
    the input width P is sized by the router's row count: the kernel
    sees about (primary rows x number of sidecars) rows.
    """
    if isinstance(layout_blocks, DataFrame):
        sidecars = [layout_blocks]
    else:
        sidecars = list(layout_blocks)
    if len(sidecars) == 1:
        sidecar = sidecars[0]
    else:
        sidecar = sidecars[0].withColumn("det", F.lit(0).cast("int"))
        for i, s in enumerate(sidecars[1:], start=1):
            sidecar = sidecar.unionByName(
                s.withColumn("det", F.lit(i).cast("int"))
            )
    # Pre-partition BOTH join inputs by doc_id: HashPartitioning(doc_id)
    # satisfies the join's ClusteredDistribution(doc_id, offset), so the
    # join adds no exchange of its own AND its output stays clustered by
    # doc_id — the kernel then needs only a partition-local sort.  One
    # shuffle of each input instead of three of the joined width.  At
    # warehouse scale the same effect comes from bucketing both tables
    # by doc_id (warehouse.extract_from_warehouse — ZERO input shuffle);
    # this is the unbucketed equivalent.
    route = _route_mega(sidecars[0], mega_threshold).scaled(len(sidecars))
    spans = explode_documents(documents)
    P = _kernel_partitions(spans, route.rows)
    joined = spans.repartition(P, "doc_id").join(
        sidecar.repartition(P, "doc_id"), ["doc_id", "offset"]
    )
    return _plan(
        joined,
        cfg,
        mega_threshold,
        dual,
        route=route,
        clustered=doc_clustering_safe(documents.sparkSession),
    )


def extract_spans_preset(
    documents: DataFrame,
    layout_blocks,
    preset,
    mega_threshold: int = MEGA_THRESHOLD,
) -> DataFrame:
    """Flagship under a pipeline preset (paper/report/book): binds the
    preset's ExtractConfig (rule gate) and asserts the detector count
    matches the preset's model set (pipeline ctors, SURVEY.md §3)."""
    from .presets import Preset, get_preset

    if not isinstance(preset, Preset):
        preset = get_preset(preset)
    sidecars = (
        [layout_blocks] if isinstance(layout_blocks, DataFrame)
        else list(layout_blocks)
    )
    if len(sidecars) != preset.n_detectors:
        raise ValueError(
            f"preset {preset.name!r} binds {preset.n_detectors} layout "
            f"detector(s); got {len(sidecars)} sidecar(s)"
        )
    return extract_spans(
        documents, sidecars, cfg=preset.config, mega_threshold=mega_threshold
    )


def reassemble_documents(span_rows: DataFrame) -> DataFrame:
    """Span rows -> nested output table (same shape as the input hint,
    with `order` taking the place of `offset`)."""
    return (
        span_rows.groupBy("doc_id")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("order").alias("offset"),
                        "kind",
                        "text",
                        "media_ref",
                    )
                )
            ).alias("spans")
        )
        .select(
            "doc_id",
            F.expr(
                "transform(spans, s -> struct(s.kind as kind, s.text as text,"
                " s.media_ref as media_ref, s.offset as offset))"
            ).alias("spans"),
        )
    )
