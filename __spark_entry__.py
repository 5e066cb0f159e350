"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship query smoke check at sf0.001.
``queries()`` — every implemented operator from SURVEY.md §2 as a
``(spark, sf_dir) -> DataFrame`` callable.
``oracle_sql()`` — DuckDB-runnable ANSI SQL equivalents (all but 5;
omitted only for the approximate-by-design tiers: the HLL distinct
estimate, the GK approx-quantiles, and the three xxhash64 ``_fast``
deployment variants (bloom / minhash / LSH) — the driver records its
weaker rows-only check for those, and each now ALSO has an exact
invariant-verdict companion query (*_verdict: recall / tolerance /
no-false-negative computed in-plan, closed-form verdict row pinned by
the oracle), so every contract in the corpus is hash-certified.
minhash / simhash / hyperplane-LSH ANN / randomtextwriter / terasort
(closed-form verdict) / trained-IVF (quantized-centroid replica) ARE
exactly oracle-checked via portable (cross-engine bit-identical)
modes.  Importing this module builds no oracle: ``oracle_sql()``
builds the 15 numpy / pure-Python replica oracles (once per process)
and leaves out any whose build fails.

Registration order is the driver's verification order: queries
stable-sorted by their latest green round in CORRECTNESS_r*.json
(never checked = round 0, so those come first), with each *_verdict
companion adjacent to its base query.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from hadoop_3_3_6_spark.plans.queries import ORACLES, QUERIES


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: TPC-H Q1-shape pricing
    summary (scan → pushed filter → exact-decimal aggregate)."""
    return QUERIES["q1_pricing_summary"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    """Every oracle that builds: reading an ORACLES entry builds its
    replica once (see plans.queries._Oracles); one that fails warns on
    stderr and is left out, so its query is compared rows-only."""
    return {name: sql for name in ORACLES if (sql := ORACLES.get(name)) is not None}
