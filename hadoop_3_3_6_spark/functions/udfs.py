"""User-defined function surface (SURVEY.md §2.10).

The reference's UDF mechanism is a Java method override per record
(Mapper.map, MRC/mapreduce/Mapper.java:101) or per group (Reducer.reduce,
MRC/mapreduce/Reducer.java:124).  The engine's tiers, fastest first:

1. built-in Columns (whole-stage codegen)            — default
2. @pandas_udf scalar (Arrow-vectorized)             — custom per-record
3. @pandas_udf GROUPED_AGG (Arrow-vectorized UDAF)   — custom per-group
4. applyInPandas / mapInPandas                       — whole-group/partition
5. rdd.pipe (operators/pipeops.py)                   — external executables

The examples below are engine-registered so queries can exercise the
tier-3 machinery and the Python UDTF; tier 2 is used in place by the
text, BPE and similarity stages.  Real pipelines define their own the
same way.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf


@pandas_udf("double")
def weighted_avg(value: pd.Series, weight: pd.Series) -> float:
    """GROUPED_AGG pandas UDAF: weight-averaged value per group (the
    reference's UserDefinedValueAggregatorDescriptor role,
    MRC/mapreduce/lib/aggregate/UserDefinedValueAggregatorDescriptor.java).

    Rows arrive in shuffle order, which varies run to run — float sums
    are order-sensitive, so both sums sort their terms first to make
    the result bit-deterministic (the UDAF analogue of the engine's
    exact-decimal rule).

    Note: GROUPED_AGG materializes each group's columns — for
    algebraic aggregates prefer built-ins (decomposable, partial-agg);
    this tier is for genuinely non-algebraic per-group math."""
    import numpy as np

    w = np.sort(weight.to_numpy()).sum()
    wv = np.sort((value * weight).to_numpy()).sum()
    return float(wv / w) if w else 0.0


def discounted_revenue_udaf(df: DataFrame, key_cols: list[str]) -> DataFrame:
    """Example wiring: per-key discount-weighted average price via the
    pandas UDAF tier."""
    return df.groupBy(*key_cols).agg(
        weighted_avg(F.col("l_extendedprice"), F.col("l_quantity")).alias("wavg_price")
    )


def sentence_split_udtf():
    """Python UDTF (Spark 4 ``@udtf`` — the user-defined TABLE function
    tier of the UDF surface): one input row → N output rows
    (doc_id, sent_idx, sentence).  This is the extension point for
    user logic that genuinely needs one-to-many row generation with
    imperative control flow; for anything regex-expressible the
    built-in explode(split(...)) path is the hot path (JVM-side,
    whole-stage codegen) — see the text_sentences query, which uses
    built-ins and exists as the UDTF's fast-path twin."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="doc_id bigint, sent_idx int, sentence string")
    class SentenceSplit:
        def eval(self, doc_id, text: str):
            import re

            idx = 0
            for s in re.split(r"[.!?]+\s*", text or ""):
                s = s.strip()
                if s:
                    yield (doc_id, idx, s)
                    idx += 1

    return SentenceSplit
