"""Hadoop-streaming compatibility (SURVEY.md §2.10).

Reference: hadoop-tools/hadoop-streaming (under /root/reference/) —
PipeMapper.java:38 / PipeReducer.java:40 fork a user executable per
task and stream ``key<TAB>value`` lines over stdin/stdout
(PipeMapRed.java:46).  PySpark's native equivalent is Arrow-batched
``mapInPandas``/``applyInPandas`` (that IS this architecture done
in-process); ``pipe_map`` below is the byte-faithful fallback for
literal stdin/stdout executables.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def pipe_map(df: DataFrame, command: str, sep: str = "\t", out_col: str = "line") -> DataFrame:
    """Stream records through an external command, one text line per
    record in, one row per stdout line out — PipeMapper semantics.

    The only RDD use in the engine (rdd.pipe is the faithful
    per-partition process harness; each Spark task forks one child,
    like each MR task forked one).  A child that exits non-zero fails
    its task, as a failed streaming task fails its job; its partial
    output is never returned as a result.
    """
    cols = [F.col(c).cast("string") for c in df.columns]
    lines = df.select(F.concat_ws(sep, *cols).alias("line"))
    piped = lines.rdd.map(lambda r: r["line"]).pipe(command, checkCode=True)
    spark = df.sparkSession
    return spark.createDataFrame(piped.map(lambda l: (l,)), schema=f"{out_col} string")


def chain(df: DataFrame, *stages) -> DataFrame:
    """ChainMapper/ChainReducer (MRC/mapreduce/lib/chain/Chain.java):
    pipeline of DataFrame->DataFrame stages fused into one pass —
    Catalyst collapses adjacent projections/filters into a single
    whole-stage-codegen stage, which is exactly what Chain hand-built."""
    for stage in stages:
        df = stage(df)
    return df
