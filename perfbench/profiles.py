"""Kernel-layer metrics from cProfile statistics, and work counts.

The same statistics come from two places: an in-process ``cProfile`` run
of the kernel (``kernel`` workload) and Spark's Python UDF profiler
(``spark.sql.pyspark.udf.profiler=perf``), which profiles the
``mapInPandas`` function in every worker.  Both strip directories, so a
function is keyed by (file basename, name).

A layer's self time is its inclusive time minus the inclusive time of the
named child layers it calls: ``extract_page`` minus the ``core.*`` stages,
and the kernel driver (the ``run`` closures of ``pipeline/extract.py``)
minus ``extract_page``.
"""

from __future__ import annotations

import contextlib
import pstats
from collections import Counter
from typing import Dict, Iterator, List, Tuple

Key = Tuple[str, int, str]

# layer -> (file, function, report its call count)
STAGES = {
    "core.blocktypes.kinds_from_labels": ("blocktypes.py", "kinds_from_labels", False),
    "core.overlap.overlap_merge": ("overlap.py", "overlap_merge", True),
    "core.texmix.compose_text_with_equations": (
        "texmix.py", "compose_text_with_equations", True),
    "core.xycut.xy_cut_order": ("xycut.py", "xy_cut_order", True),
    "core.document.gather_text_batch": ("document.py", "gather_text_batch", False),
}
EXTRACT_PAGE = ("document.py", "extract_page")
DRIVER = ("extract.py", "run")


def _keys(stats: pstats.Stats, where: Tuple[str, str]) -> List[Key]:
    return [k for k in stats.stats if k[0] == where[0] and k[2] == where[1]]


def _inclusive(stats: pstats.Stats, keys: List[Key]) -> float:
    return sum(stats.stats[k][3] for k in keys)


def _calls(stats: pstats.Stats, keys: List[Key]) -> int:
    # primitive calls: a recursive function counts its outermost calls
    return sum(stats.stats[k][0] for k in keys)


def _inclusive_under(stats: pstats.Stats, keys: List[Key], callers: List[Key]) -> float:
    return sum(
        stats.stats[k][4][c][3] for k in keys for c in callers if c in stats.stats[k][4]
    )


def core_layers(stats: pstats.Stats) -> Dict[str, float]:
    out: Dict[str, float] = {}
    page = _keys(stats, EXTRACT_PAGE)
    child_time = 0.0
    for name, (file, func, with_calls) in STAGES.items():
        keys = _keys(stats, (file, func))
        out[f"{name}.self_s"] = _inclusive(stats, keys)
        if with_calls:
            out[f"{name}.calls"] = _calls(stats, keys)
        child_time += _inclusive_under(stats, keys, page)
    out["core.document.extract_page.self_s"] = _inclusive(stats, page) - child_time
    out["core.document.extract_page.calls"] = _calls(stats, page)
    out["pipeline.extract.kernel_driver.self_s"] = (
        _inclusive(stats, _keys(stats, DRIVER)) - _inclusive(stats, page)
    )
    return out


@contextlib.contextmanager
def counting() -> Iterator[Counter]:
    """Count the work of the kernel stages while active: blocks into and
    out of the overlap merge and query rects of the text-layer gather.
    Wraps the names ``core.document`` calls them by, in this process
    only, and restores them on exit."""
    from latyas_spark.core import document

    counts: Counter = Counter()
    merge, gather = document.overlap_merge, document.gather_text_batch

    def overlap_merge(x1, *args, **kwargs):
        out = merge(x1, *args, **kwargs)
        counts["core.overlap.blocks_in"] += len(x1)
        counts["core.overlap.blocks_out"] += len(out[0])
        return out

    def gather_text_batch(qx1, *args, **kwargs):
        counts["core.document.gather_text_batch.rects"] += len(qx1)
        return gather(qx1, *args, **kwargs)

    document.overlap_merge, document.gather_text_batch = overlap_merge, gather_text_batch
    try:
        yield counts
    finally:
        document.overlap_merge, document.gather_text_batch = merge, gather
