"""Adapter: derive a deterministic extraction corpus from the driver's
relational testdata (TESTDATA.md) with pure integer arithmetic.

The driver smoke/correctness harness provides TPC-H-ish parquet only;
the extraction engine needs (bbox, conf, label, text, media) rows.  We
derive them from the ``events`` table with arithmetic that DuckDB can
reproduce verbatim, so sub-operator queries over this corpus can be
oracle-checked SQL-to-SQL (see relational/registry.py).

Each synthetic-geometry family is written once, as a ``Family`` spec in
``FAMILIES``: a doc-id prefix, a label list, and dialect-neutral SQL
expressions for ``x1``, ``w``, ``y1`` and ``h``.  One template
(``_FAMILY_SQL``) renders a spec, and both engines run the rendered
text: Spark over the events frame (``synth_blocks``), DuckDB over its
``events`` view (``synth_sql``).  The renderings differ only in how the
``offset`` column is quoted.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# raw detector labels, deliberately including from_str quirk forms
ADAPTER_LABELS = (
    "text", "Text", "title", "figure", "figure_caption", "table",
    "header", "footer", "reference", "equation", "embedeq", "TOC",
    "list", "icon", "qrcode", "textwithequation", "blob", "caption",
)

# labels whose kind is a media kind (from_str: figure/icon/qrcode)
MEDIA_LABELS = ("figure", "icon", "qrcode")

# Labels for the cut-free corpora: ADAPTER_LABELS minus embedeq (no
# containment/texmix on these pages by construction).
SIMPLE_LABELS = tuple(s for s in ADAPTER_LABELS if s != "embedeq")


@dataclass(frozen=True)
class Family:
    """One synthetic page family.

    ``x1``, ``w``, ``y1`` and ``h`` are SQL expressions over
    ``event_id`` and, when ``rank_by`` is set, ``rn``: the 0-based
    ``row_number() OVER (PARTITION BY rank_by ORDER BY event_id)``.
    Only the stacked families rank, because the window costs the plan
    an exchange.  Write ``CAST(... AS DOUBLE)`` rather than decimal
    literals: Spark parses ``100.0`` as a decimal.
    """

    prefix: str
    labels: tuple[str, ...]
    x1: str
    w: str
    y1: str
    h: str
    rank_by: str | None = None


_H = "20 + (event_id * 23) % 80"
_STACK_W = "100 + (event_id * 11) % 60"

FAMILIES: dict[str, Family] = {
    # The general corpus: boxes scattered over a 700x900 page with every
    # label, so overlaps, containment and real xy-cut recursion all
    # occur.  Rows-only or sub-operator oracles only.
    "blocks": Family(
        "evdoc", ADAPTER_LABELS,
        x1="(event_id * 131) % 700", w="40 + (event_id * 17) % 260",
        y1="(event_id * 197) % 900", h=_H,
    ),
    # Cut-free single column: the xy-cut recursion provably reduces to
    # an ascending-y sort, making the WHOLE extraction DAG expressible
    # in SQL (registry flagship_simple):
    #   * every pair of blocks overlaps in x (x1 in [100,150], width
    #     >= 300): a real vertical split would need two x-disjoint
    #     blocks, so no depth-0 cut fires;
    #   * blocks are y-stacked at pitch 125 with heights <= 99, so every
    #     consecutive y-gap is >= 26 > 2*margin(10): each depth-1
    #     horizontal cut isolates one block -> reading order == y order;
    #   * no embedeq labels (no containment stage), no overlapping pairs
    #     (zero intersection areas -> no merge).
    # Low-confidence rows still land in the text layer, so the gather
    # stage stays live.
    "simple": Family(
        "simdoc", SIMPLE_LABELS,
        x1="100 + (event_id * 7) % 50", w="300 + (event_id * 11) % 100",
        y1="rn * 125", h=_H, rank_by="doc_id, page",
    ),
    # Two columns: exactly ONE provable depth-0 vertical cut, then
    # cut-free columns.  simple is cut-free, so its hash never exercises
    # cut SELECTION; this family pins the recursion's first branch:
    #   * blocks alternate between two x-disjoint columns
    #     (col = event_id % 2): left x in [100, 308), right in
    #     [400, 608) — the >= 92px column gap dwarfs 2*margin(10), and
    #     within a column every pair x-overlaps (x1 spread 50 < min
    #     width 100), so the depth-0 horizontal-axis sweep admits
    #     EXACTLY one valid cut, at max(left x2) + 10: any cut inside a
    #     column has a straddler (all lo <= 150/450 < any hi+10
    #     candidate), and later in-gap candidates are skipped as
    #     near-side-empty increments (xycut.py:214-221);
    #   * per page the blocks are y-stacked at pitch 125 with heights
    #     <= 99 (gap >= 26 > 2*margin), so each column's depth-1
    #     VERTICAL sweep isolates every block -> within-column order is
    #     ascending y;
    #   * reading order is therefore (column, y1) — SQL-expressible —
    #     with the left segment emitted first (children pushed in
    #     reverse, xycut.py:232-233);
    #   * single-column pages degenerate to the cut-free case whose
    #     order (ascending y) equals the same (column, y1) key;
    #   * no embedeq labels, zero pair intersections (columns are
    #     x-disjoint, same-page rows y-disjoint), so merge/containment
    #     no-op and the gather provably returns each row's own text —
    #     exactly simple's arguments.
    "depth1": Family(
        "d1doc", SIMPLE_LABELS,
        x1="100 + (event_id % 2) * 300 + (event_id * 7) % 50", w=_STACK_W,
        y1="rn * 125", h=_H, rank_by="doc_id, page",
    ),
    # Three columns: exactly TWO provable depth-0 vertical cuts (a
    # MULTI-segment split), then cut-free columns.  depth1 pins
    # single-cut selection; this family pins the nseg>2 path — candidate
    # dedup across a gap (the far-side candidate of an already-consumed
    # gap is skipped as near-side-empty, xycut.py:214-221), bisect
    # segment assignment over MULTIPLE cuts, and the reversed push of 3
    # children (xycut.py:232-233):
    #   * col = event_id % 3 at x bases 100/400/700 with x1 spread < 50
    #     and widths in [100,160): columns occupy [100,310), [400,610),
    #     [700,910) — both inter-column gaps are >= 90 >> margin 10, and
    #     within a column all pairs x-overlap, so the depth-0 sweep
    #     admits exactly one valid cut per gap -> 3 segments in
    #     left-to-right order;
    #   * per page blocks are y-stacked at pitch 125 with heights <= 99
    #     (same argument as depth1), so each column's depth-1 vertical
    #     sweep isolates every block;
    #   * reading order is therefore (column, y1), columns left first —
    #     SQL-expressible;
    #   * no embedeq labels, zero pair intersections -> merge,
    #     containment and texmix all no-op, gather returns each row's
    #     own text.
    "threecol": Family(
        "c3doc", SIMPLE_LABELS,
        x1="100 + (event_id % 3) * 300 + (event_id * 7) % 50", w=_STACK_W,
        y1="rn * 125", h=_H, rank_by="doc_id, page",
    ),
    # Margin DECAY: a depth-3 cut that fires only because the xy-cut
    # margin decays with depth (child_m = m - depth*(m/max_depth),
    # xycut.py; reference xy_cut_reflow.py margin schedule).
    # Margins by depth: m0=m1=10, m2=8.75, m3=6.5625.  Per page, two
    # columns (bases 100/400, ranked per column); within a column,
    # super-bands of pitch 300 (rn // 3) holding a full-strip block F
    # (rn % 3 = 0) at y=300r (x [base, base+260]) and a pair at
    # y=300r+150: B upper-RIGHT (rn % 3 = 1: [base+160, base+260],
    # y [t, t+40]) and C lower-LEFT (rn % 3 = 2: [base+100, base+200],
    # y [t+48, t+88]):
    #   * depth 0 (x, m=10): only the inter-column gap (40 >= 10) cuts —
    #     every in-column candidate is either near-side-empty (nothing
    #     ends left of C.lo-10) or straddled by an F;
    #   * depth 1 (y, m=10): band extents are y-disjoint by >= 51, so
    #     cuts isolate each band; INSIDE the pair band the 8px B/C gap
    #     is < 10, so the pair stays whole;
    #   * depth 2 (x, m=8.75): B and C x-overlap ([base+160, base+200])
    #     -> no cut, the pair descends;
    #   * depth 3 (y, m=6.5625): the SAME 8px gap now satisfies
    #     8 >= 6.5625 -> cut fires -> B (upper) before C (lower);
    #   * a constant-margin mutant would never cut the pair and falls to
    #     the depth>8 grid sort, whose key is x-major
    #     (xycut._grid_sort_list) -> C (left) before B — so the hash
    #     OBSERVABLY pins the decay schedule, not just cut selection;
    #   * reading order is therefore exactly (column, y1) — B.y1 < C.y1 —
    #     and stays (column, y1) under any conf-filter subset (removing
    #     F creates no in-column depth-0 cut: the region left of C has
    #     no box ends; removing B or C leaves singletons);
    #   * zero pair intersections (F y-disjoint from B/C; B,C y-disjoint;
    #     columns x-disjoint), no embedeq -> merge/containment/texmix
    #     no-op, gather returns each row's own text.
    "decay": Family(
        "dcdoc", SIMPLE_LABELS,
        x1="100 + (event_id % 2) * 300"
        " + CASE rn % 3 WHEN 1 THEN 160 WHEN 2 THEN 100 ELSE 0 END",
        w="CASE rn % 3 WHEN 0 THEN 260 ELSE 100 END",
        y1="floor(rn / 3) * 300"
        " + CASE rn % 3 WHEN 1 THEN 150 WHEN 2 THEN 198 ELSE 0 END",
        h=f"CASE rn % 3 WHEN 0 THEN {_H} ELSE 40 END",
        rank_by="doc_id, page, event_id % 2",
    ),
    # Conflict-free mixed text+equation family: one box per 80px line
    # band per (doc_id, page), y1 = band * 80 exactly, so the mix
    # kernel's band snap is the identity and every box sits alone on
    # its row.  On this family every data-dependent branch of the
    # interleave provably no-ops:
    #   * ``merge_same_row`` sees no same-row pair -> identity;
    #   * ``split_conflict`` sees no text/latex row conflict -> no
    #     truncate/split/re-enqueue;
    #   * the re-recognition gather returns each text box's own content
    #     (no other box shares its row);
    #   * the ``\tag`` splice needs an isolated formula and a text box
    #     on ONE row -> never fires;
    #   * contents carry no ``$``/backslash/brace, so to_katex and
    #     normalize_inline reduce to space-collapse + trim.
    # What remains — classify, conf filter, kind routing, $/$$ wrapping,
    # row-major assembly, final strip — is ANSI-SQL, so the REAL kernel
    # (registry mix_simple runs compose_mixed_page unchanged) is
    # hash-checked end-to-end on this slice; the general corpus stays
    # rows-only (mix_interleave, pinned by tests/test_mixkernel.py).
    "mix": Family(
        "mixdoc", ADAPTER_LABELS,
        x1="(event_id * 131) % 700", w="40 + (event_id * 17) % 260",
        y1="rn * 80", h="64", rank_by="doc_id, page",
    ),
}

# ``{offset}`` is the quoted offset column and ``{events}`` the events
# relation: Spark binds a DataFrame to ``{events}`` through spark.sql's
# keyword arguments, so the rendered text must hold no other braces.
_FAMILY_SQL = """
WITH base AS (
  SELECT
    '{prefix}-' || lpad(CAST(user_id % 200 AS STRING), 5, '0') AS doc_id,
    CAST(event_id % 3 AS INT) AS page,
    event_id, event_type
  FROM {events}
), ranked AS (
  SELECT *{rank}
  FROM base
), placed AS (
  SELECT doc_id, page, event_id, event_type,
    CAST({x1} AS DOUBLE) AS x1,
    CAST({w} AS DOUBLE) AS w,
    CAST({y1} AS DOUBLE) AS y1,
    CAST({h} AS DOUBLE) AS h,
    CAST((event_id * 7) % 100 AS DOUBLE) / 100 AS conf,
    CASE (event_id * 13) % {n_labels}
      {label_whens}
    END AS label
  FROM ranked
)
SELECT
  doc_id, page,
  CAST(row_number() OVER (PARTITION BY doc_id ORDER BY event_id) - 1 AS INT)
    AS {offset},
  x1, y1, x1 + w AS x2, y1 + h AS y2, conf, label,
  CASE WHEN label IN {media} THEN NULL
       ELSE event_type || ' ' || CAST(event_id AS STRING) END AS text,
  CASE WHEN label IN {media}
       THEN 'media://' || CAST(event_id AS STRING) END AS media_ref
FROM placed
"""


def _render(family: str, offset: str, events: str) -> str:
    fam = FAMILIES[family]
    rank = (
        f",\n    row_number() OVER (PARTITION BY {fam.rank_by}"
        " ORDER BY event_id) - 1 AS rn"
        if fam.rank_by
        else ""
    )
    return _FAMILY_SQL.format(
        prefix=fam.prefix,
        events=events,
        rank=rank,
        x1=fam.x1, w=fam.w, y1=fam.y1, h=fam.h,
        n_labels=len(fam.labels),
        label_whens="\n      ".join(
            f"WHEN {i} THEN '{s}'" for i, s in enumerate(fam.labels)
        ),
        offset=offset,
        media="(" + ", ".join(f"'{s}'" for s in MEDIA_LABELS) + ")",
    )


def synth_sql(family: str) -> str:
    """DuckDB text of a family over the ``events`` view: the same rows,
    column names and order as ``synth_blocks(..., family)``."""
    return _render(family, '"offset"', "events")


def _with_dual_columns(b: DataFrame) -> DataFrame:
    """Decorate a KERNEL_COLS frame with the dual-source (E2) columns:
    a deterministic OCR corruption (offset%4: reversed, else a<->e
    swapped — both arbitration branches fire) and the text-layer rect
    as the exact C7 image of the bbox (rs=2, H=550; matches
    q_dual_arbitrate).

    On the stacked families the dual oracles stay SQL-expressible
    because every degeneracy argument in FAMILIES is SUBSET-STABLE:
    each is an all-pairs property of the full family (same-page blocks
    y-disjoint, columns x-disjoint, within-column all-pairs x-overlap;
    for decay, removing F creates no in-column depth-0 cut and removing
    B or C leaves singletons), so it survives the dual DAG's conf > 0.3
    + arbitration-kind + CJK filters.  Hence the overlap merge stays
    the identity, each detection's flipped bbox intersects exactly its
    OWN layer rect (the gather returns the row's own text), and the
    reading order stays (page, column, y1) for any surviving subset —
    a page left with one inhabited column takes the cut-free order,
    which the same key gives.  Arbitration and the CJK filters are
    directly SQL-expressible (registry ``_dual_sql``), so the dual
    pipeline (pdf2txt.py:52-100) is hash-checked end to end per family,
    including the margin-decay schedule: losing the decay would flip
    B/C emission order doc-wide.
    """
    rs, H = 2.0, 550.0
    return b.select(
        "*",
        F.when(F.col("text").isNull(), F.lit(None).cast("string"))
        .when(F.col("offset") % 4 == 0, F.reverse(F.col("text")))
        .otherwise(F.translate(F.col("text"), "ae", "ea"))
        .alias("ocr_text"),
        (F.col("x1") / rs).alias("lx1"),
        (H - F.col("y2") / rs).alias("ly1"),
        (F.col("x2") / rs).alias("lx2"),
        (H - F.col("y1") / rs).alias("ly2"),
    )


def synth_blocks(
    spark: SparkSession, sf_dir: str, family: str = "blocks", dual: bool = False
) -> DataFrame:
    """events.parquet -> flat kernel-input frame (KERNEL_COLS shape) of
    one ``FAMILIES`` entry; ``dual`` adds the dual-source (E2) columns
    (``_with_dual_columns``).  The mix family has no dual twin."""
    if dual and family == "mix":
        raise ValueError("the mix family has no dual twin")
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    b = spark.sql(_render(family, "`offset`", "{events}"), events=events)
    return _with_dual_columns(b) if dual else b


def synth_blocks_mix_trunc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truncate-branch mixed family (KERNEL_COLS shape): per 80px line
    band, THREE boxes — T1 = text [0,100), T2 = text [120,380), L =
    latex [250,450) (embedeq for even event_id, isolated equation for
    odd).  On this geometry the split sweep (mix_inference.py:44-123)
    provably takes EXACTLY the text-truncate branch, never split:

      * T1.right(100) <= T2.x(120): no merge, T1 emitted untouched;
      * T2 overlaps L partially (T2.right 380 < L.right 450) with
        differing labels -> ``cand.w = cur.x - cand.x`` fires: T2 is
        truncated to [120,250);
      * containment (split) needs cand.right >= cur.right — impossible
        here, so the split/re-enqueue branches never run.

    The truncation is OBSERVABLE: T2's center-x is exactly 250, so the
    re-recognition gather excludes it from the truncated fragment
    (250 < 250 is false) and T2's content vanishes from the page —
    EXCEPT in the last band, where the sweep's final unconditional
    ``out.append(cand); out.append(cur)`` (the reference's last-pair
    quirk, mix_inference.py:117-118) emits T2 untruncated and its
    content survives.  Both outcomes are closed-form per band, so the
    whole page markdown is SQL-expressible (registry.MIX_TRUNC_SQL)
    while exercising a sweep branch mix_simple provably no-ops.
    """
    from pyspark.sql import Window

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    base = ev.select(
        F.concat(
            F.lit("mtrdoc-"),
            F.lpad((F.col("user_id") % 200).cast("string"), 5, "0"),
        ).alias("doc_id"),
        (F.col("event_id") % 3).cast("int").alias("page"),
        F.col("event_id"),
        F.col("event_type"),
    )
    wp = Window.partitionBy("doc_id", "page").orderBy("event_id")
    banded = base.withColumn(
        "band", (F.row_number().over(wp) - 1).cast("int")
    )
    slots = banded.select(
        "*",
        F.explode(F.array(F.lit(0), F.lit(1), F.lit(2))).alias("slot"),
    )
    xs1 = F.array(F.lit(0.0), F.lit(120.0), F.lit(250.0))
    xs2 = F.array(F.lit(100.0), F.lit(380.0), F.lit(450.0))
    return slots.select(
        "doc_id",
        "page",
        # offset only orders rows WITHIN a (doc_id, page) group (the
        # kernel's partition-chunk sort key), so band*3+slot is
        # sufficient and saves the doc-wide row_number window the
        # other synth families pay
        (F.col("band") * 3 + F.col("slot")).cast("int").alias("offset"),
        F.element_at(xs1, F.col("slot") + 1).alias("x1"),
        (F.col("band") * 80).cast("double").alias("y1"),
        F.element_at(xs2, F.col("slot") + 1).alias("x2"),
        (F.col("band") * 80 + 64).cast("double").alias("y2"),
        F.lit(0.9).alias("conf"),
        F.when(F.col("slot") < 2, F.lit("text"))
        .when(F.col("event_id") % 2 == 0, F.lit("embedeq"))
        .otherwise(F.lit("equation"))
        .alias("label"),
        F.when(
            F.col("slot") == 0,
            F.concat("event_type", F.lit(" "), F.col("event_id").cast("string")),
        )
        .when(
            F.col("slot") == 1,
            F.concat(F.lit("cont "), F.col("event_id").cast("string")),
        )
        .otherwise(F.concat(F.lit("frm "), F.col("event_id").cast("string")))
        .alias("text"),
        F.lit(None).cast("string").alias("media_ref"),
    )


def synth_table_objects(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.parquet -> detected table-structure objects (M11 input
    shape): per table, row/column/header boxes plus text tokens, as one
    unioned frame (table_id, obj_type, x1..y2, text, token_num).

    Deterministic family mirrored in registry.TABLE_CELLS_SQL:

      * t = event_id % 40 tables; R = 3 + t%3 rows, C = 2 + (t+1)%3
        columns; tables with t even have a column header over row 0;
      * structure boxes get expansion-only jitter (<= 4px) so the
        kernel's center-sort / iob logic does real work without
        changing any containment outcome;
      * each event contributes one token to cell
        (r, c) = ((7k+t)%R, (11k+t)%C), k = event_id div 40, strictly
        inside the cell (so max-overlap slotting is provably unique
        and the SQL oracle can assign tokens arithmetically).  The
        multipliers 7 and 11 are coprime to every R/C value, so r and
        c both cycle with k.  (r+c parity is correlated by
        construction, leaving some cells token-less — that exercises
        the empty-cell CSV/HTML paths.)

    In production these objects come from the structure detector (an
    M-row model plug point); this synth derivation exists so the
    deterministic assembly half is oracle-checkable end-to-end.
    """
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "event_type"
    )
    base = ev.select(
        "event_id",
        "event_type",
        (F.col("event_id") % 40).alias("t"),
        F.expr("event_id div 40").alias("k"),
    ).withColumn("R", F.lit(3) + F.col("t") % 3).withColumn(
        "C", F.lit(2) + (F.col("t") + 1) % 3
    )
    table_id = F.concat(
        F.lit("tbl-"), F.lpad(F.col("t").cast("string"), 3, "0")
    )
    null_s = F.lit(None).cast("string")

    tokens = base.select(
        table_id.alias("table_id"),
        F.lit("token").alias("obj_type"),
        (
            ((F.col("k") * 11 + F.col("t")) % F.col("C")) * 80
            + 20 + F.col("k") % 7
        ).cast("double").alias("x1"),
        (
            ((F.col("k") * 7 + F.col("t")) % F.col("R")) * 100
            + 30 + F.col("k") % 11
        ).cast("double").alias("y1"),
        F.lit(None).cast("double").alias("x2"),
        F.lit(None).cast("double").alias("y2"),
        F.concat("event_type", F.lit(" "), F.col("event_id").cast("string"))
        .alias("text"),
        F.col("event_id").alias("token_num"),
    ).select(
        "table_id", "obj_type", "x1", "y1",
        (F.col("x1") + 30).alias("x2"),
        (F.col("y1") + 40).alias("y2"),
        "text", "token_num",
    )

    # one row per distinct table: 40 rows — a tiny distinct, test-only
    # (production structure boxes arrive from the detector per page).
    # All three structure-object kinds come off ONE distinct + ONE
    # explode (a per-kind derivation would re-shuffle the distinct 3x).
    tables = base.select("t", "R", "C").distinct()
    _bt = (
        "struct<obj_type:string,x1:double,y1:double,x2:double,y2:double>"
    )
    struct_arr = F.expr(
        f"""
concat(
  transform(sequence(0, cast(R - 1 as int)), r -> named_struct(
    'obj_type', 'row',
    'x1', cast(-(t % 3) as double),
    'y1', cast(r * 100 - (t + r) % 4 as double),
    'x2', cast(C * 80 + t % 5 as double),
    'y2', cast((r + 1) * 100 + (t + 3 * r) % 4 as double))),
  transform(sequence(0, cast(C - 1 as int)), c -> named_struct(
    'obj_type', 'column',
    'x1', cast(c * 80 - (t + c) % 4 as double),
    'y1', cast(-(t % 3) as double),
    'x2', cast((c + 1) * 80 + (t + 3 * c) % 4 as double),
    'y2', cast(R * 100 + t % 5 as double))),
  CASE WHEN t % 2 = 0 THEN array(named_struct(
    'obj_type', 'header',
    'x1', cast(-(t % 3) as double),
    'y1', cast(-(t % 4) as double),
    'x2', cast(C * 80 + t % 5 as double),
    'y2', cast(100 + t % 4 as double)))
  ELSE cast(array() as array<{_bt}>) END
)
"""
    )
    structs = tables.select(
        table_id.alias("table_id"), F.explode(struct_arr).alias("o")
    ).select(
        "table_id",
        F.col("o.obj_type").alias("obj_type"),
        F.col("o.x1").alias("x1"),
        F.col("o.y1").alias("y1"),
        F.col("o.x2").alias("x2"),
        F.col("o.y2").alias("y2"),
        null_s.alias("text"),
        F.lit(-1).cast("long").alias("token_num"),
    )
    return tokens.unionByName(structs)
