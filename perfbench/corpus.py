"""Seeded corpus, parquet inputs, kernel chunks and the golden gate.

The corpus comes from ``fixtures.corpus_rows`` in one process.  The seed
only picks the doc-id prefix; the fixture seeds every document from
``crc32(doc_id)``, so the same seed gives byte-identical inputs and a new
seed gives a new corpus of the same shape.  The program under test sees
only the parquet files (Spark workloads) or pandas chunks (``kernel``)
written here.
"""

from __future__ import annotations

import os
import zlib
from dataclasses import dataclass
from typing import Dict, List, Tuple

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from latyas_spark.fixtures import corpus_rows
from latyas_spark.oracle.ref_port import extract_document_oracle
from latyas_spark.pipeline.extract import KERNEL_COLS

# One golden span: (kind, text, media_ref, order).
Golden = Tuple[Tuple[str, object, object, int], ...]

# Sidecar columns of the flagship input hint (BASELINE.json); the dual
# (pdf2txt) columns are not written because the dual path is unmeasured.
BLOCK_COLS = ["doc_id", "offset", "page", "x1", "y1", "x2", "y2", "conf", "label"]

# Parquet files per table, so the direct scan runs in parallel tasks.
N_FILES = 4


def doc_prefix(seed: int) -> str:
    return f"s{seed}"


@dataclass
class Corpus:
    rows: List[dict]
    goldens: Dict[str, Golden]
    n_mega: int

    @property
    def n_docs(self) -> int:
        return len(self.goldens)

    @property
    def n_spans(self) -> int:
        return sum(len(g) for g in self.goldens.values())


def make_corpus(n_docs: int, mega_every: int, seed: int) -> Corpus:
    """Rows from the fixture generator plus per-doc goldens from the
    independent oracle port (``oracle.ref_port``)."""
    rows = corpus_rows(n_docs, mega_every=mega_every, prefix=doc_prefix(seed))
    by_doc: Dict[str, List[dict]] = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    goldens = {
        d: tuple(extract_document_oracle(rs)) for d, rs in by_doc.items()
    }
    n_mega = n_docs // mega_every if mega_every > 0 else 0
    return Corpus(rows=rows, goldens=goldens, n_mega=n_mega)


def write_parquet(corpus: Corpus, out_dir: str) -> Dict[str, str]:
    """Write ``documents.parquet`` (nested spans) and
    ``layout_blocks.parquet`` (flat sidecar) as N_FILES files each, split
    by contiguous doc ranges."""
    span_type = pa.struct([
        ("kind", pa.string()), ("text", pa.string()),
        ("media_ref", pa.string()), ("offset", pa.int32()),
    ])
    blocks = pd.DataFrame(corpus.rows, columns=BLOCK_COLS + ["kind", "text", "media_ref"])
    doc_ids = sorted(corpus.goldens)
    cut = [doc_ids[i * len(doc_ids) // N_FILES] for i in range(1, N_FILES)]
    part = np.searchsorted(np.array(cut, dtype=object), blocks["doc_id"].to_numpy(), side="right")
    paths = {}
    for table in ("documents", "layout_blocks"):
        paths[table] = os.path.join(out_dir, f"{table}.parquet")
        os.makedirs(paths[table], exist_ok=True)
    for p in range(N_FILES):
        chunk = blocks[part == p]
        flat = pa.Table.from_pandas(chunk[BLOCK_COLS], preserve_index=False).cast(
            pa.schema([
                ("doc_id", pa.string()), ("offset", pa.int32()), ("page", pa.int32()),
                ("x1", pa.float64()), ("y1", pa.float64()), ("x2", pa.float64()),
                ("y2", pa.float64()), ("conf", pa.float64()), ("label", pa.string()),
            ])
        )
        pq.write_table(flat, os.path.join(paths["layout_blocks"], f"part-{p:05d}.parquet"))
        spans: Dict[str, list] = {}
        for d, k, t, m, o in zip(chunk["doc_id"], chunk["kind"], chunk["text"],
                                 chunk["media_ref"], chunk["offset"]):
            spans.setdefault(d, []).append(
                {"kind": k, "text": t, "media_ref": m, "offset": int(o)}
            )
        docs = pa.table({
            "doc_id": pa.array(list(spans), pa.string()),
            "spans": pa.array(list(spans.values()), pa.list_(span_type)),
        })
        pq.write_table(docs, os.path.join(paths["documents"], f"part-{p:05d}.parquet"))
    return paths


def kernel_chunks(corpus: Corpus, n_chunks: int, seed: int) -> List[pd.DataFrame]:
    """The joined kernel input, split like the kernel stage's shuffle: docs
    are dealt to ``n_chunks`` tasks by a hash of doc_id, and each chunk's
    rows arrive in a seeded random order (the kernel sorts them itself, as
    it must after a hash join)."""
    df = pd.DataFrame(corpus.rows, columns=KERNEL_COLS)
    for c in ("page", "offset"):
        df[c] = df[c].astype("int32")
    task = np.array([zlib.crc32(d.encode()) % n_chunks for d in df["doc_id"]])
    rng = np.random.RandomState(seed & 0xFFFFFFFF)
    chunks = []
    for t in range(n_chunks):
        c = df[task == t]
        chunks.append(c.iloc[rng.permutation(len(c))].reset_index(drop=True))
    return [c for c in chunks if len(c)]


def failed_docs(out: pd.DataFrame, goldens: Dict[str, Golden]) -> int:
    """Docs whose span sequence (kind, text, media_ref, order) differs from
    the golden or is missing, plus docs in the output that are not in the
    corpus.  ``out`` has columns doc_id, order, kind, text, media_ref."""
    out = out.sort_values(["doc_id", "order"], kind="stable")
    got: Dict[str, Golden] = {}
    ids = out["doc_id"].to_numpy()
    if len(ids):
        rows = list(zip(
            out["kind"].to_numpy(), _nullable(out["text"]),
            _nullable(out["media_ref"]), out["order"].to_numpy().tolist(),
        ))
        starts = np.flatnonzero(np.r_[True, ids[1:] != ids[:-1]])
        ends = np.r_[starts[1:], len(ids)]
        for s, e in zip(starts, ends):
            got[ids[s]] = tuple(rows[s:e])
    bad = sum(1 for d, g in goldens.items() if got.get(d, ()) != g)
    return bad + sum(1 for d in got if d not in goldens)


def _nullable(col: pd.Series) -> list:
    return [None if v is None or v != v else v for v in col.to_numpy(dtype=object)]
