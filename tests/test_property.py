"""Property-based parity: kernels vs the independent oracle port on
RANDOM geometry (hypothesis), not just the seeded fixture corpus
(SURVEY.md §5.3).  Catches quirk divergence the fixtures never reach:
degenerate rects, identical coordinates, all-filtered pages, label
case soup, straddling boxes that defeat every xy-cut."""

import numpy as np
import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from latyas_spark.core.document import DEFAULT_CONFIG, extract_document_rows
from latyas_spark.core.xycut import xy_cut_order
from latyas_spark.oracle.ref_port import (
    extract_document_dual_oracle,
    extract_document_oracle,
    extract_page_dual_oracle,
    extract_page_oracle,
)
from latyas_spark.pipeline import extract as EX

LABELS = [
    "text", "Text", "TITLE", "figure", "figure_caption", "table_caption",
    "table", "header", "footer", "reference", "equation", "embedeq",
    "icon", "qrcode", "toc", "list", "unknownlabel", "textwithequation",
]

coord = st.integers(min_value=0, max_value=900)
dim = st.integers(min_value=0, max_value=300)

# Dual (pdf2txt.py) salts: a leading 图/表 or an inner 见表/见图 makes
# the arbitrated text hit the CJK cross-reference filters.
CJK_PREFIX = st.sampled_from(["", "", "图", "表"])
CJK_INFIX = st.sampled_from(["", "", "见表", "见图"])


@st.composite
def span_row(draw, offset):
    x1 = draw(coord)
    y1 = draw(coord)
    x2 = x1 + draw(dim)
    y2 = y1 + draw(dim)
    has_text = draw(st.booleans())
    label = draw(st.sampled_from(LABELS))
    text = (
        draw(CJK_PREFIX)
        + draw(st.text(alphabet="ab c\nd(3)", max_size=12))
        + draw(CJK_INFIX)
        if has_text
        else None
    )
    # OCR output: faithful, garbled past the 0.2 arbitration threshold,
    # or missing
    ocr = draw(st.sampled_from(["same", "garbled", "none"]))
    # text-layer rect: the C7 image of the bbox (x/rs, H - y/rs, the
    # y's swapping under the flip) so the gather hits, or random
    if draw(st.booleans()):
        rs, h = DEFAULT_CONFIG.render_scale, DEFAULT_CONFIG.page_height
        layer = (x1 / rs, h - y2 / rs, x2 / rs, h - y1 / rs)
    else:
        layer = tuple(float(draw(coord)) / 2 for _ in range(4))
    return {
        "doc_id": "prop-doc",
        "offset": offset,
        "page": draw(st.integers(min_value=0, max_value=2)),
        "x1": float(x1),
        "y1": float(y1),
        "x2": float(x2),
        "y2": float(y2),
        "conf": draw(
            st.floats(min_value=0.0, max_value=1.0, allow_nan=False)
        ),
        "label": label,
        "text": text,
        "media_ref": f"media://{offset}" if not has_text else None,
        "ocr_text": (
            text if ocr == "same"
            else None if ocr == "none"
            else (text or "")[::-1] + "zq"
        ),
        "lx1": layer[0],
        "ly1": layer[1],
        "lx2": layer[2],
        "ly2": layer[3],
    }


@st.composite
def doc_rows(draw):
    n = draw(st.integers(min_value=0, max_value=24))
    return [draw(span_row(i)) for i in range(n)]


@settings(max_examples=150, deadline=None)
@given(doc_rows())
def test_kernel_equals_oracle_on_random_geometry(rows):
    got = extract_document_rows(rows)
    want = extract_document_oracle(rows)
    assert got == want


@settings(max_examples=150, deadline=None)
@given(doc_rows())
def test_emitted_spans_sourced_from_input(rows):
    """Nothing is invented: every emitted media_ref exists in the
    input; every emitted plain-text span is built from input text
    fragments (newlines stripped)."""
    spans = extract_document_rows(rows)
    in_media = {r["media_ref"] for r in rows if r["media_ref"]}
    for kind, text, media, _order in spans:
        if media is not None:
            assert media in in_media
    # dense doc-wide order
    assert [s[3] for s in spans] == list(range(len(spans)))


@settings(max_examples=200, deadline=None)
@given(
    st.lists(
        st.tuples(coord, coord, dim, dim), min_size=0, max_size=20
    )
)
def test_xy_cut_is_permutation(boxes):
    n = len(boxes)
    x1 = np.array([b[0] for b in boxes], dtype=np.float64)
    y1 = np.array([b[1] for b in boxes], dtype=np.float64)
    x2 = x1 + np.array([b[2] for b in boxes], dtype=np.float64)
    y2 = y1 + np.array([b[3] for b in boxes], dtype=np.float64)
    order = xy_cut_order(x1, y1, x2, y2)
    assert sorted(order) == list(range(n))


@st.composite
def kernel_chunk(draw):
    """Several docs' rows, shuffled and split into two Arrow-style
    batches: the kernel driver must sort and group them itself."""
    rows = []
    for d in range(draw(st.integers(min_value=1, max_value=4))):
        rows += [dict(r, doc_id=f"prop-doc-{d}") for r in draw(doc_rows())]
    shuffled = draw(st.permutations(rows))
    pdf = pd.DataFrame(
        shuffled, columns=EX.KERNEL_COLS + EX.DUAL_EXTRA_COLS
    )
    cut = draw(st.integers(min_value=0, max_value=len(pdf)))
    return rows, [pdf.iloc[:cut], pdf.iloc[cut:]]


def _by_key(rows, key):
    out = {}
    for r in rows:
        out.setdefault(key(r), []).append(r)
    return {k: sorted(v, key=lambda r: r["offset"]) for k, v in out.items()}


@pytest.mark.parametrize("page_local", [False, True], ids=["doc", "page"])
@pytest.mark.parametrize("dual", [False, True], ids=["e1", "dual"])
@settings(max_examples=60, deadline=None)
@given(kernel_chunk())
def test_kernel_driver_equals_oracle_on_shuffled_chunks(dual, page_local, chunk):
    """The mapInPandas kernel driver, fed a shuffled multi-doc chunk
    with no Spark in between, emits exactly the oracle's spans: the
    doc-wide order in doc mode, the per-page sequence as
    (page, page_pos) in page-local mode."""
    rows, batches = chunk
    page_fn = EX._page_dual if dual else EX._page_e1
    run = EX._doc_mode_kernel(DEFAULT_CONFIG, page_fn, page_local=page_local)
    frames = list(run(iter(batches)))
    out = pd.concat(frames, ignore_index=True) if frames else None
    if page_local:
        oracle = extract_page_dual_oracle if dual else extract_page_oracle
        want = {
            key: list(enumerate(spans))
            for key, page_rows in _by_key(
                rows, lambda r: (r["doc_id"], r["page"])
            ).items()
            if (spans := oracle(page_rows))
        }
        key, pos = ["doc_id", "page"], "page_pos"
    else:
        oracle = (
            extract_document_dual_oracle if dual else extract_document_oracle
        )
        want = {
            (doc_id,): [(o, (k, t, m)) for (k, t, m, o) in spans]
            for doc_id, doc_rows_ in _by_key(rows, lambda r: r["doc_id"]).items()
            if (spans := oracle(doc_rows_))
        }
        key, pos = ["doc_id"], "order"
    got = {}
    if out is not None:
        assert list(out.columns) == key + [pos, "kind", "text", "media_ref"]
        for r in out.itertuples(index=False):
            r = r._asdict()
            got.setdefault(tuple(r[k] for k in key), []).append(
                (r[pos], (r["kind"], r["text"], r["media_ref"]))
            )
    assert {k: sorted(v) for k, v in got.items()} == want
