"""Pin the synthetic-geometry families the registry's oracles read.

The registry's cross-engine hash checks run the real kernel over each
family on Spark and compare against DuckDB SQL over the same family.  A
change that moves a family's geometry on BOTH engines at once passes
those checks while silently weakening what they prove (the decay family
could stop needing the margin decay, say).  So each family variant is
pinned here on its own, three ways:

* the sha256 of its column types plus its normalized, sorted rows;
* its Spark rows equal its DuckDB twin's rows;
* the ``Exchange`` count of its physical plan.

Variants are keyed by ``(family, dual)``.  The frame is resolved through
``adapter.synth_blocks(spark, sf_dir, family=, dual=)`` when the adapter
has that signature, and through the per-family generator names
(``synth_blocks_<family>``, ``synth_blocks_dual_<family>``) otherwise, so
the same digests pin both shapes of the adapter API.
"""

import hashlib
import inspect
from decimal import Decimal

import pytest

from latyas_spark.pipeline import adapter

# (family, dual) -> (sha256 of types + sorted normalized rows, Exchange count)
PINNED = {
    ("blocks", False): (
        "e318568f620f675d491c35adf921ea388a52b6cca6668a467c0fd5a4c8100672", 1
    ),
    ("simple", False): (
        "39533d2e77c12125020d169b3de0baf4f4b99a5193aa0de7f128e52a2a70acc5", 2
    ),
    ("depth1", False): (
        "fe70de77fb28cb68b0b226e55fec615180ba39fa850df15e8aa4b216ca67c40c", 2
    ),
    ("threecol", False): (
        "05c2dc549206548a22c7ebc045fe707144a2fe6e283b577f64cd13d78cee7e0e", 2
    ),
    ("decay", False): (
        "82baa78c6d990dbcf2873b1cfbabae7a1a9312b90ffff4584140840b6e9a7102", 2
    ),
    ("mix", False): (
        "483b6f46e9942f4135823ee91ba52a1a9395774bc9e68f48e693dd1840636b31", 2
    ),
    ("blocks", True): (
        "f05f1c878b2266da2cf324bef3938e02da3ebc68fd284eef5a8b2e47b581bcf6", 1
    ),
    ("simple", True): (
        "0c6f6cc6757ed4ad93f86e34583499a344cf0b6e2798531b66537ff231f94155", 2
    ),
    ("depth1", True): (
        "3e082427db455667464f7b51571e5ad7846ade49c28465a88c773b3be054724f", 2
    ),
    ("threecol", True): (
        "68a63d3e322a4e3b73a2ff3b0da4449451d2b472e1e2f1e0a4c06a0a9699fe19", 2
    ),
    ("decay", True): (
        "88792cd6445ce81b47faefbd0e1d04b7f8cccdecb2b13156fc117e02bf12ef16", 2
    ),
}

# DuckDB image of the dual (E2) decoration: OCR corruption by offset % 4
# and the text-layer rect as the C7 image of the bbox (rs=2, H=550).
_DUAL_SQL = """
SELECT *,
  CASE WHEN text IS NULL THEN NULL
       WHEN "offset" % 4 = 0 THEN reverse(text)
       ELSE translate(text, 'ae', 'ea') END AS ocr_text,
  x1 / 2.0 AS lx1, 550.0 - y2 / 2.0 AS ly1,
  x2 / 2.0 AS lx2, 550.0 - y1 / 2.0 AS ly2
FROM ({sql})
"""


def _frame(spark, sf_dir, family, dual):
    if "family" in inspect.signature(adapter.synth_blocks).parameters:
        return adapter.synth_blocks(spark, sf_dir, family=family, dual=dual)
    name = "synth_blocks" + ("_dual" if dual else "")
    if family != "blocks":
        name += f"_{family}"
    return getattr(adapter, name)(spark, sf_dir)


def _family_sql(family):
    if hasattr(adapter, "synth_sql"):
        return adapter.synth_sql(family)
    return getattr(adapter, f"SYNTH_{family.upper()}_SQL")


def _norm(v):
    if isinstance(v, Decimal):
        v = float(v)
    if isinstance(v, float):
        return repr(round(v, 9))
    return repr(v)


def _rows(tuples):
    return sorted("\t".join(_norm(v) for v in t) for t in tuples)


@pytest.mark.parametrize(
    "family,dual", list(PINNED), ids=[f"{f}{'-dual' if d else ''}" for f, d in PINNED]
)
def test_family_pinned(family, dual, spark, sf001_dir, sf001_duck):
    digest, exchanges = PINNED[(family, dual)]

    df = _frame(spark, sf001_dir, family, dual)
    plan = df._jdf.queryExecution().executedPlan().toString()
    got = _rows(tuple(r) for r in df.collect())

    sql = _family_sql(family)
    if dual:
        sql = _DUAL_SQL.format(sql=sql)
    cur = sf001_duck.execute(sql)
    assert [d[0] for d in cur.description] == df.columns
    want = _rows(cur.fetchall())
    assert got == want

    h = hashlib.sha256(repr(df.dtypes).encode())
    h.update("\n".join(got).encode())
    assert (h.hexdigest(), plan.count("Exchange")) == (digest, exchanges)
