"""Deterministic sampling / splitting / shuffling for training-data
pipelines (north-star extension; SURVEY.md §7.2 M6).

Every operator here keys off the portable 60-bit md5 hash
(functions.dedup.portable_hash_expr) of a stable id — NOT rand():
a hash-derived decision is reproducible across runs, engines
(exact DuckDB oracles) and re-partitions, survives speculative task
re-execution, and lets an item's split assignment be recomputed from
its id alone — the property a 100 TB pipeline needs so that adding
data never reshuffles existing train/val/test membership.

All three are narrow transformations (no shuffle): the hash is
computed per row and the decision is a pure projection/filter, so
they pipeline into whatever scan they follow.  Only global_shuffle
introduces a shuffle, and that one IS the product: a
deterministically-seeded total order, produced as (block, pos) so
the rank windows parallelize over blocks instead of funnelling the
corpus through one partition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hadoop_3_3_6_spark.functions.dedup import portable_hash_expr
from hadoop_3_3_6_spark.functions.text import let_sql, spread_for_compute, word_ngrams_sql, words_sql


def _sq(v: str) -> str:
    """Single-quote a value for interpolation into a generated SQL
    literal (doubles embedded quotes — a stratum named o'reilly must
    not break or subvert the CASE expression)."""
    return "'" + str(v).replace("'", "''") + "'"


def split_bucket_expr(id_col: str, buckets: int = 100, salt: str = "split") -> str:
    """Bucket in [0, buckets) from the salted portable hash of the id.
    The salt decorrelates independent decisions (split vs sample vs
    shuffle) taken over the same id space.  CONTRACT: ``id_col`` must
    be non-null — a NULL id nulls the hash and the row silently falls
    out of every downstream comparison (dropped by samplers, split /
    block = NULL in the splitters); enforce upstream like any key."""
    salted = f"concat({_sq(salt + ':')}, cast({id_col} as string))"
    return f"{portable_hash_expr(salted)} % {buckets}"


def hash_split(
    df: DataFrame,
    id_col: str = "doc_id",
    weights: dict[str, int] | None = None,
    buckets: int = 100,
) -> DataFrame:
    """Stable train/val/test assignment: bucket = hash(id) % buckets,
    split = the band the bucket falls in (weights are per-split bucket
    counts, summing to ``buckets``).  Adds (bucket, split)."""
    weights = weights or {"train": 90, "val": 5, "test": 5}
    if sum(weights.values()) != buckets:
        raise ValueError(
            f"split weights sum to {sum(weights.values())}, need {buckets} "
            "(an uncovered band would silently yield split=NULL rows)"
        )
    for c in ("bucket", "split"):
        if c in df.columns:
            raise ValueError(f"hash_split output column {c!r} already exists in the input")
    # NOTE the band layout follows the weights dict's INSERTION ORDER
    # (deterministic in python >= 3.7) and is part of the split
    # identity: pipelines sharing a split must share the order too
    bounds, acc = [], 0
    for name, w in weights.items():
        acc += w
        bounds.append((acc, name))
    branches = " ".join(f"WHEN bucket < {hi} THEN {_sq(name)}" for hi, name in bounds)
    return df.withColumn("bucket", F.expr(split_bucket_expr(id_col, buckets))).withColumn(
        "split", F.expr(f"CASE {branches} END")
    )


def stratified_sample(
    df: DataFrame,
    id_col: str = "doc_id",
    stratum_col: str = "source",
    rates: dict[str, int] | None = None,
    default_rate: int = 10,
    buckets: int = 100,
) -> DataFrame:
    """Deterministic per-stratum sampling (data mixing): keep a row iff
    hash(id) % buckets < rate(stratum) — rates are in units of
    1/``buckets`` (i.e. PERCENT at the default buckets=100; a custom
    bucket count changes the unit with it).  Up/down-weighting a
    source is a one-line rate change, and the kept set is stable under
    re-runs and data growth."""
    rates = rates or {}
    branches = " ".join(
        f"WHEN {stratum_col} = {_sq(k)} THEN {int(r)}" for k, r in rates.items()
    )
    rate = f"CASE {branches} ELSE {default_rate} END" if rates else str(default_rate)
    return df.withColumn("_b", F.expr(split_bucket_expr(id_col, buckets, salt="sample"))).filter(
        F.expr(f"_b < ({rate})")
    ).drop("_b")


def score_conditioned_sample(
    df: DataFrame,
    score_micro_col: str = "score_micro",
    id_col: str = "doc_id",
    salt: str = "qs",
) -> DataFrame:
    """Score-conditioned quality sampling (the GPT-3 recipe's
    classifier-score acceptance stage, Brown et al. 2020 appendix A:
    low-scored documents are kept STOCHASTICALLY with probability
    rising in the quality score, rather than hard-thresholded): keep a
    row iff ``pmod(hash(salt:id), 1e6) < score_micro`` — acceptance
    probability equal to the score, but decided by the salted portable
    hash instead of a random draw, so the kept set is deterministic,
    engine-reproducible (exact DuckDB oracle) and stable under
    re-partitioning, like every sampler in this module.  score_micro
    is the classifier's integer micro-unit score (0..1e6); a perfect
    1e6 always keeps, a 0 never does.  Pure narrow filter — fuses
    into the preceding scan."""
    salted = f"concat('{salt}:', cast({id_col} as string))"
    return df.filter(
        F.expr(f"pmod({portable_hash_expr(salted)}, 1000000)")
        < F.col(score_micro_col).cast("bigint")
    )


def temperature_sample(
    df: DataFrame,
    id_col: str = "doc_id",
    stratum_col: str = "source",
    alpha: float = 0.5,
) -> DataFrame:
    """Temperature-based source mixing (multilingual-pretraining style:
    sample sources ∝ size^alpha, alpha<1 flattens the size
    distribution): per-source keep-rate = (n_s^alpha / n_s) relative to
    the most-upweighted source, so the smallest source keeps 100% and
    larger sources are downsampled toward equal share as alpha → 0;
    alpha = 1 keeps everything.

    Rates are computed IN-PLAN (per-source count aggregate + 1-row max,
    both broadcast back — no driver action) and quantized to parts per
    million so the keep decision is integer hash arithmetic:
    deterministic, engine-reproducible, stable under data growth of
    other sources (a row's fate depends only on its id and its own
    source's rate).  Returns kept rows + their source's rate_ppm."""
    if "rate_ppm" in df.columns:
        raise ValueError("temperature_sample output column 'rate_ppm' already exists")
    from pyspark.sql.window import Window

    sizes = df.groupBy(stratum_col).agg(F.count(F.lit(1)).alias("_n"))
    ratio = F.pow(F.col("_n").cast("double"), F.lit(alpha)) / F.col("_n").cast("double")
    # the max ratio comes from a GLOBAL WINDOW over the already-bounded
    # per-source table (the importance_weights device) — a separate
    # aggregate + crossJoin would re-execute the full corpus count
    # subtree a second time (no automatic subtree reuse)
    rated = sizes.select(F.col(stratum_col), ratio.alias("_ratio")).withColumn(
        "_max_ratio", F.max("_ratio").over(Window.partitionBy())
    )
    rates = rated.select(
        stratum_col,
        F.floor(F.lit(1_000_000) * F.col("_ratio") / F.col("_max_ratio"))
        .cast("bigint")
        .alias("rate_ppm"),
    )
    salted = f"concat('tmix:', cast({id_col} as string))"
    bucket = F.expr(f"{portable_hash_expr(salted)} % 1000000")
    # null-safe join: a NULL stratum is a real group in `sizes` and its
    # rows must keep their rate (the reservoir_per_group discipline) —
    # a plain equi-join would silently drop every NULL-source row
    return (
        df.join(
            F.broadcast(rates),
            df[stratum_col].eqNullSafe(rates[stratum_col]),
        )
        .drop(rates[stratum_col])
        .withColumn("_b", bucket)
        .filter(F.col("_b") < F.col("rate_ppm"))
        .drop("_b")
    )


def importance_weights(
    df: DataFrame,
    target: F.Column,
    text_col: str = "text",
    id_col: str = "doc_id",
    buckets: int = 256,
    milli: int = 1000,
    salt: str = "ir",
) -> DataFrame:
    """DSIR-style importance weights (Xie et al., "Data Selection for
    Language Models via Importance Resampling", NeurIPS 2023): score
    every raw document by how target-like its hashed-n-gram profile is.

    Features are hashed word unigrams + bigrams (the paper's feature
    map): token → salted portable hash → bucket in [0, buckets).  Both
    bucket unigram models fit in ONE aggregate pass — the target corpus
    is a predicate over the raw corpus here, so ``r_b`` (raw count) and
    ``t_b`` (target count) are a count + conditional count per bucket,
    one shuffle of ``buckets``-bounded rows with map-side partials.
    Add-1 smoothing; the per-bucket log-likelihood-ratio
    ln(p_target[b]/p_raw[b]) is quantized to INTEGER milli-nats, so
    the per-document weight — Σ_b count(doc, b) · lr[b] — is an exact
    BIGINT sum: order-independent, engine-portable (the same
    integer-grid trick as temperature_sample's ppm rates; raw float
    log-sums would be fold-order-dependent and never oracle-exact).
    The quantization changes weights by ≤ 0.5 milli-nat per token —
    noise relative to the model itself.

    Scale shape: token explode is linear and pipelined into the scan;
    the lr table (``buckets`` rows) broadcasts back onto the exploded
    tokens; the only corpus-keyed shuffle is the per-doc partial-sum
    aggregate.  At 100 TB: fit the table on a hash-sample, persist it,
    and the scoring pass is a single linear scan.

    Returns (id_col, logw_milli BIGINT).  Documents with no tokens drop
    out (no features ⇒ no weight), matching the paper's n-gram model.
    """
    # The explode + per-token md5 is CPU-bound on ~2 hashes per word
    # while the scan is tiny in bytes — the serialized-stage hazard
    # class; the conditional spread is a no-op once the corpus yields
    # enough splits.
    df = spread_for_compute(df, id_col)
    toks = df.select(
        F.col(id_col),
        target.alias("_tgt"),
        F.explode(
            F.expr(let_sql(words_sql(text_col), "ws", f"concat(ws, {word_ngrams_sql('ws', 2)})"))
        ).alias("_tok"),
    )
    salted_tok = f"concat('{salt}:', _tok)"
    toks = toks.withColumn(
        "_b", F.expr(f"{portable_hash_expr(salted_tok)} % {buckets}")
    )
    from pyspark.sql.window import Window

    stats = toks.groupBy("_b").agg(
        F.count(F.lit(1)).alias("_rb"),
        F.sum(F.when(F.col("_tgt"), 1).otherwise(0)).alias("_tb"),
    )
    # Corpus totals as a WINDOW over the bucket stats (``buckets`` rows
    # through one partition — bounded by construction), NOT a separate
    # aggregate: a second consumer of ``stats`` would re-run the whole
    # token-explode scan (Spark doesn't auto-reuse the subtree), turning
    # the two-pass fit+score contract into three corpus passes.
    wall = Window.partitionBy()
    lr = (
        stats.withColumn("_r", F.sum("_rb").over(wall))
        .withColumn("_t", F.sum("_tb").over(wall))
        .select(
            "_b",
            F.expr(
                f"cast(round((ln(_tb + 1) - ln(_rb + 1) + ln(_r + {buckets}) "
                f"- ln(_t + {buckets})) * {milli}) as bigint)"
            ).alias("_lr_milli"),
        )
    )
    return (
        toks.select(id_col, "_b")
        .join(F.broadcast(lr), "_b")
        .groupBy(id_col)
        .agg(F.sum("_lr_milli").alias("logw_milli"))
    )


def importance_resample(
    df: DataFrame,
    target: F.Column,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_keep: int = 50,
    buckets: int = 256,
    milli: int = 1000,
    gumbel_salt: str = "gum",
) -> DataFrame:
    """DSIR's Gumbel-top-k resampling over :func:`importance_weights`:
    sampling n_keep documents WITHOUT replacement ∝ exp(logw) is
    exactly taking the top-k of logw + Gumbel noise (the Gumbel-max
    trick) — and with the noise derived from the salted portable hash
    of the id instead of rand(), the draw is deterministic,
    engine-reproducible, and stable under re-partitioning/speculative
    re-execution, like every sampler in this module.  u is centered on
    the ppm lattice ((h%1e6 + 0.5)/1e6 ⇒ u ∈ (0,1) strictly, no ±inf);
    the Gumbel quantile −ln(−ln u) is quantized to the same integer
    milli grid so the final score stays an exact BIGINT.

    Top-k by (score desc, id) is a TakeOrdered — per-partition heaps,
    no global sort.  Returns (id, logw_milli, gumbel_milli,
    score_milli, rank)."""
    from pyspark.sql.window import Window

    w = importance_weights(df, target, text_col, id_col, buckets, milli)
    salted_id = f"concat('{gumbel_salt}:', cast({id_col} as string))"
    u = f"(({portable_hash_expr(salted_id)} % 1000000) + 0.5) / 1000000.0"
    scored = w.withColumn(
        "gumbel_milli", F.expr(f"cast(round(-ln(-ln({u})) * {milli}) as bigint)")
    ).withColumn("score_milli", F.col("logw_milli") + F.col("gumbel_milli"))
    kept = scored.orderBy(F.col("score_milli").desc(), F.col(id_col).asc()).limit(n_keep)
    # rank is a window over the n_keep winners only (bounded by
    # construction) — the corpus never funnels through one partition.
    rw = Window.orderBy(F.col("score_milli").desc(), F.col(id_col).asc())
    return kept.withColumn("rank", F.row_number().over(rw))


def pack_sequences(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    seq_len: int = 2048,
    num_blocks: int = 32,
) -> DataFrame:
    """Training-sequence packing: lay documents end-to-end in a
    deterministic shuffled order and cut the token stream into
    fixed-``seq_len`` bins — the step that turns a cleaned corpus into
    the dense (no-padding) sequences a pretraining loader consumes.
    A document starting at running offset ``s`` lands in bin
    ``s // seq_len`` at offset ``s % seq_len`` (documents may straddle
    a bin boundary; the loader continues the document in the next bin
    — standard contiguous packing à la GPT-style pretraining).

    Output: (id, n_tokens, block, bin_id, start_offset).

    Scale shape: one hash shuffle into ``num_blocks`` independent
    streams, then a running-sum window PER BLOCK — the corpus never
    funnels through a single partition (same parallel-prefix layout as
    ``global_shuffle``); all integer arithmetic on the portable hash,
    so the packing is reproducible across engines and re-runs."""
    from pyspark.sql.window import Window

    for c in ("n_tokens", "block", "bin_id", "start_offset"):
        if c in df.columns and c != id_col:
            raise ValueError(f"pack_sequences output column {c!r} already exists in the input")
    key = portable_hash_expr(f"concat('pack:', cast({id_col} as string))")
    # coalesce: a NULL text must count as 0 tokens — size() of a null
    # split is NULL (or -1 under the legacy conf), either of which
    # corrupts every later document's running offset in the block
    n_tokens = F.size(F.expr(words_sql(f"coalesce({text_col}, '')")))
    w = (
        Window.partitionBy("block")
        .orderBy(F.col("_skey").asc(), F.col(id_col).asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    start = F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    return (
        df.select(
            F.col(id_col),
            n_tokens.cast("bigint").alias("n_tokens"),
            F.expr(key).alias("_skey"),
        )
        .withColumn("block", F.expr(f"_skey % {num_blocks}"))
        .withColumn("_start", start)
        .select(
            id_col,
            "n_tokens",
            "block",
            F.expr(f"_start div {seq_len}").alias("bin_id"),
            (F.col("_start") % seq_len).alias("start_offset"),
        )
    )


def global_shuffle(
    df: DataFrame, id_col: str = "doc_id", num_blocks: int = 32
) -> DataFrame:
    """Deterministically-seeded global shuffle for training-order
    randomization: shuffle order = (block, pos) where
    block = hash(id) % num_blocks and pos ranks hash within the block.
    Each block's rank window runs in its own partition — the corpus
    never funnels through a single task, unlike a naive global
    row_number; readers stream blocks in index order to consume the
    permutation."""
    for c in ("block", "pos"):
        if c in df.columns:
            raise ValueError(f"global_shuffle output column {c!r} already exists in the input")
    from pyspark.sql.window import Window

    key = portable_hash_expr(f"concat('shuffle:', cast({id_col} as string))")
    w = Window.partitionBy("block").orderBy(F.col("_skey").asc(), F.col(id_col).asc())
    return (
        df.withColumn("_skey", F.expr(key))
        .withColumn("block", F.expr(f"_skey % {num_blocks}"))
        .withColumn("pos", F.row_number().over(w))
        .drop("_skey")
    )


def reservoir_per_group(
    df: DataFrame,
    group_col: str,
    id_col: str = "doc_id",
    n: int = 20,
    salt: str = "reservoir",
) -> DataFrame:
    """Deterministic fixed-size per-group sample ("reservoir" in the
    hash-ordered sense): within each group keep the ``n`` rows with the
    smallest salted hash of their id — a stable, engine-reproducible
    stand-in for random reservoir sampling (same distributional intent,
    MRC-era analogue: InputSampler's fixed-count splits sampler,
    MRC/lib/partition/InputSampler.java:97).  Adds ``sample_rank``
    (1-based hash order within the group).

    Scale shape: rank over a NARROW projection (group, hash, id) —
    the shuffle carries three columns, not the full rows — then the
    winners (<= groups * n rows) join back to recover full rows.  The
    join strategy is LEFT TO THE OPTIMIZER (round-9 review fix: the
    earlier forced broadcast hint assumed winners are always tiny, but
    they scale with GROUP CARDINALITY — at 10M groups × n=20 that is
    200M rows, an un-broadcastable frame the hint would have pushed at
    the driver anyway; AQE broadcasts when the winners are actually
    small, which is every bounded-group corpus, and falls back to a
    shuffle join on the null-safe (group, id) key otherwise).  The
    join-back is on (group, id) so ids only need to be unique WITHIN a
    group, not globally; a pre-existing ``sample_rank`` column would
    collide with the output and is rejected."""
    from pyspark.sql.window import Window

    if "sample_rank" in df.columns:
        raise ValueError(
            "reservoir_per_group adds a 'sample_rank' column; input already has one"
        )
    key = portable_hash_expr(f"concat('{salt}:', cast({id_col} as string))")
    w = Window.partitionBy(group_col).orderBy(F.col("_skey").asc(), F.col(id_col).asc())
    winners = (
        df.select(group_col, id_col)
        .withColumn("_skey", F.expr(key))
        .withColumn("sample_rank", F.row_number().over(w))
        .filter(F.col("sample_rank") <= n)
        # NULL is a legitimate group (Window.partitionBy ranks it), so
        # the join-back must be null-SAFE — a plain equi-join on the
        # group column would silently drop the whole NULL group.
        .select(F.col(group_col).alias("_rpg_g"), F.col(id_col).alias("_rpg_i"), "sample_rank")
    )
    cond = df[group_col].eqNullSafe(winners["_rpg_g"]) & df[id_col].eqNullSafe(winners["_rpg_i"])
    return df.join(winners, cond).drop("_rpg_g", "_rpg_i")
