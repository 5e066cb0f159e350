"""Similarity search over embedding columns: exact, LSH, IVF, PQ,
OPQ and IVF-PQ top-k, plus the cluster-blocked near-dup, SemDeDup,
diversity and contamination operators built from the same parts.
Each shared decision has one copy:

- Trainer: :func:`train_pq_codebooks` is the one distributed Lloyd
  loop (md5 id-rank seeding, one broadcast matrix row with an
  ``array_min`` argmin, ``posexplode`` means, an empty cell keeps its
  centroid, optional decimal snap); :func:`train_kmeans_centroids` is
  its ``m=1`` case.
- Assignment: :func:`_seed_centroids` prepares every centroid frame
  (the ``id < num_centroids`` seeding or given centroids, cast to
  ``array<double>``, ``_cnorm``).  :func:`assign_clusters` ranks cells
  by rounded cosine desc, NULL last, then ``cent_id`` asc;
  :func:`assign_clusters_rowwise` is its shuffle-free one-cell form.
- Scores: :func:`_norm_sql` is the one L2 norm and :func:`_cosine_sql`
  the one rounded cosine (``round(dot / (na * nb), 6)``), for the float
  and the int8 dot alike.
- ADC: :func:`pq_encode` codes the corpus (:func:`_nearest_code` is the
  one codebook argmin, shared with the trainer), :func:`_adc_tables`
  builds per-probe distance tables and :func:`_adc_rank` sums the
  lookups and ranks.  :func:`_sqdist` is the one squared-L2 fold
  (trainer, encoder, tables and the refine stage).
- Pair join: :func:`_cell_pairs` is the within-cell pair join of the
  cluster-blocked near-dup and SemDeDup.
- Probe form: every top-k requires ``probes``, a DataFrame of probe ids
  applied as a broadcast semi-join (:func:`_restrict_to_probes`), so
  the probe side is bounded and there is no driver action.  Every top-k
  answers a probe batch against the built index; none runs all-pairs.

Dot products run JVM-side via zip_with/aggregate folds in double
precision (sequential fold ⇒ bit-reproducible, oracle-matchable).
Scores are rank-stabilized by rounding to 1e-6 before ordering, with
id as tiebreaker, so Spark and the SQL oracle agree on the top-k set.

Zero-norm vectors (contract): cosine is undefined for an all-zero
embedding — in the float cosine paths its score is NULL (Spark's
non-ANSI 0/0), so a zero-norm row MATCHES NOTHING (NULL fails every
threshold and every rank comparison drops it behind real scores).
This is deliberate and uniform: pre-filter zero payloads, or use the
exact/digest dedup tiers for them.  The two operators where a NaN/NULL
could have POISONED other rows' results guard explicitly —
``quantized_topk`` drops zero-norm rows (documented there) and
``semantic_contamination`` drops zero-norm eval vectors + scores
zero-norm corpus rows with a -2.0 sentinel.
"""

from __future__ import annotations

import hashlib
import struct

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hadoop_3_3_6_spark.functions.text import evaluate_once, spread_for_compute


def _dot(a: str, b: str) -> str:
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> cast(x as double) * cast(y as double)), "
        f"cast(0.0 as double), (acc, v) -> acc + v)"
    )


def _sqdist(a: "F.Column", b: "F.Column") -> "F.Column":
    """Squared L2 distance as a sequential left fold from 0.0 — the
    one form the trainer, the encoder, the ADC tables and the refine
    stage share, so their distances are bit-identical (and a numpy
    ``cumsum`` replica reproduces them)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)), F.lit(0.0), lambda acc, d: acc + d
    )


def _norm_sql(vec: str) -> str:
    return f"sqrt({_dot(vec, vec)})"


def _cosine_sql(dot: str, na: str, nb: str) -> str:
    """Cosine from a dot product and two norms, rounded to 1e-6 so ranks
    are stable across engines (NULL for a zero norm: non-ANSI 0/0)."""
    return f"round({dot} / ({na} * {nb}), 6)"


def _restrict_to_probes(df: DataFrame, id_col: str, probes: DataFrame) -> DataFrame:
    """Restrict ``df`` to the probe rows without any driver action:
    ``probes`` is a DataFrame of probe ids (column named ``id_col``),
    applied as a broadcast semi-join so the probe set stays a table
    inside the plan."""
    return df.join(F.broadcast(probes.select(id_col).distinct()), on=id_col, how="left_semi")


def with_norm(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    return df.withColumn("_norm", F.expr(_norm_sql(vec_col)))


def _rank_topk(
    scored: DataFrame,
    k: int,
    order_col: str = "score",
    ascending: bool = False,
    num_salts: int = 16,
) -> DataFrame:
    """Two-phase exact per-probe top-k — the scale-safe rank stage
    shared by EVERY similarity query (brute force, IVF, quantized,
    PQ/ADC, LSH, IVF-PQ).

    A single ``row_number() over (partition by probe_id)`` funnels a
    probe's ENTIRE candidate set into one task — for the full-scan
    tiers that is N rows per probe, the per-group analogue of the
    1-reducer top-k in the reference's Grep (MRX/Grep.java:82-92;
    SURVEY §2.6 names TakeOrdered as the scale-safe shape).  This
    delegates to operators/skew.topk_per_group_salted: stage 1 ranks
    within (probe_id, deterministic-hash-of-neighbor salt), keeping
    each salt's local top-k, so a probe's candidates spread over
    ``num_salts`` tasks; stage 2 ranks the ≤ k·num_salts survivors.
    EXACT for any salt assignment — each salt's local top-k is a
    superset of its contribution to the global top-k, and
    (order_col, neighbor_id) is a total order within a probe — so
    rows AND ranks are bit-identical to the single-window form; only
    the plan changes (two bounded exchanges instead of one unbounded
    per-probe funnel).  Plan-gated by
    tests/test_plans.py::test_similarity_rank_is_two_phase."""
    from hadoop_3_3_6_spark.operators.skew import topk_per_group_salted

    return topk_per_group_salted(
        scored,
        ["probe_id"],
        order_col,
        k,
        "neighbor_id",
        num_salts=num_salts,
        ascending=ascending,
    )


def cosine_topk_bruteforce(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    *,
    probes: DataFrame,
) -> DataFrame:
    """Exact cosine top-k per probe (``probes``: an id DataFrame, kept
    in-plan; no driver action).  Rank over (round(score,6) desc,
    neighbor_id asc) — deterministic across engines."""
    a = with_norm(_restrict_to_probes(emb, id_col, probes), vec_col).alias("a")
    # corpus side of the |probes|-fanout score join: D-wide dot folds
    # per (probe, row) pair are CPU-bound — rebalance an under-split
    # scan to full width (plan no-op at real scale)
    b = with_norm(spread_for_compute(emb, id_col), vec_col).alias("b")
    score = F.expr(_cosine_sql(_dot(f"a.{vec_col}", f"b.{vec_col}"), "a._norm", "b._norm"))
    scored = a.join(b, on=F.col(f"a.{id_col}") != F.col(f"b.{id_col}")).select(
        F.col(f"a.{id_col}").alias("probe_id"),
        F.col(f"b.{id_col}").alias("neighbor_id"),
        score.alias("score"),
    )
    return _rank_topk(scored, k).select("probe_id", "neighbor_id", "score", "rank")


def cosine_pairs_above(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    max_rows: int = 100_000,
) -> DataFrame:
    """Embedding near-duplicate pairs: exact cosine over id_a < id_b.

    ALL-PAIRS — O(n^2) pair work; keep for bounded corpora (a probe
    batch, a single cluster) only.  The registered near-dup query uses
    :func:`cosine_pairs_above_blocked`, which blocks the pair join on
    an IVF cluster assignment so pair work is sum(|cluster|^2).

    ``max_rows`` is the bounded-corpus contract, enforced IN-PLAN (the
    fuzzy_join fail-fast discipline): a 1-row count aggregate is
    broadcast into the plan and the job raises at execution if the
    corpus exceeds it, so no caller can accidentally point the
    quadratic form at an unbounded table.  Pass a larger value
    deliberately when a bigger bounded batch is intended.  The guard
    column name is collision-proofed against caller frames that might
    already carry one (round-6 ADVICE item); the extra count scan it
    costs is negligible in the O(n^2) context this function accepts."""
    guard_col = "_n_guard"
    while guard_col in emb.columns:
        guard_col += "_"
    guard = emb.agg(F.count(F.lit(1)).alias(guard_col))
    guarded = (
        emb.crossJoin(F.broadcast(guard))
        .filter(
            F.assert_true(
                F.col(guard_col) <= max_rows,
                F.concat(
                    F.lit(
                        "cosine_pairs_above is ALL-PAIRS (O(n^2)); corpus has "
                    ),
                    F.col(guard_col).cast("string"),
                    F.lit(
                        f" rows > max_rows={max_rows}. Use "
                        "cosine_pairs_above_blocked for unbounded corpora, or "
                        "raise max_rows deliberately."
                    ),
                ),
            ).isNull()
        )
        .drop(guard_col)
    )
    a = with_norm(guarded, vec_col).alias("a")
    b = with_norm(guarded, vec_col).alias("b")
    score = F.expr(_cosine_sql(_dot(f"a.{vec_col}", f"b.{vec_col}"), "a._norm", "b._norm"))
    return (
        a.join(b, on=F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            score.alias("score"),
        )
        .filter(F.col("score") >= threshold)
    )


def _spread_for_pair_join(assigned: DataFrame) -> DataFrame:
    """Pre-partition cluster assignment rows by cluster_id with an
    EXPLICIT partition count before the within-cell pair self-join.

    The assignment rows are tiny in BYTES (ids + one vector each) so
    AQE's size-based coalescing otherwise folds the join's exchanges
    to a handful of tasks while the per-pair cosine fold is the
    CPU-dominant cost (the fuzzy_join compare hazard; measured 26 s ->
    2.6 s there).  Explicit numPartitions (REPARTITION_BY_NUM) is the
    AQE no-coalesce contract, and keying by cluster_id EXACTLY — the
    join key — matters: this exchange then SATISFIES the join's
    ClusteredDistribution requirement and becomes the join's own
    shuffle (SMJ or SHJ co-partitioning, no extra exchange at any
    scale), where a differently-keyed spread would leave an adjacent
    ENSURE_REQUIREMENTS exchange for AQE to re-coalesce.  Cell-count
    skew across partitions is bounded: k ~ sqrt(N) cells hash across
    defaultParallelism partitions, and AQE skew-split still applies to
    the SMJ path."""
    par = assigned.sparkSession.sparkContext.defaultParallelism
    return assigned.repartition(par, F.col("cluster_id"))


def _cell_pairs(assigned: DataFrame, id_col: str, vec_col: str, threshold: float) -> DataFrame:
    """The within-cell pair join of the cluster-blocked operators: a
    self equi-join of the assignment rows on cluster_id, kept where
    ``_id_a < _id_b`` and the cosine reaches ``threshold``.  Output:
    (_id_a, _id_b, cluster_id, score), one row per shared cell."""

    def side(suffix: str) -> DataFrame:
        return assigned.select(
            F.col("cluster_id"),
            F.col(id_col).alias(f"_id_{suffix}"),
            F.col(vec_col).alias(f"_v{suffix}"),
            F.col("_norm").alias(f"_n{suffix}"),
        )

    return (
        side("a")
        .join(side("b"), on="cluster_id")
        .filter(F.col("_id_a") < F.col("_id_b"))
        .select(
            "_id_a",
            "_id_b",
            "cluster_id",
            F.expr(_cosine_sql(_dot("_va", "_vb"), "_na", "_nb")).alias("score"),
        )
        .filter(F.col("score") >= threshold)
    )


def cosine_pairs_above_blocked(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    num_centroids: int | None = None,
    centroids: DataFrame | None = None,
    num_probes: int = 2,
) -> DataFrame:
    """Embedding near-duplicate pairs, cluster-blocked (the SemDeDup
    candidate-generation shape, Abbas et al. 2023, plus IVF
    multi-probe): assign every vector to its ``num_probes`` nearest
    centroids, then compare pairs ONLY when they share a cell.

    Returns (id_a, id_b, cluster_id, score) — cluster_id is the
    smallest shared cell, one output row per pair regardless of how
    many cells it shares.  Multi-probe is the recall lever: boundary
    pairs split across neighboring cells still meet in each other's
    second-choice cell.

    Scale shape: the assignment stage is corpus x broadcast(k) — ONE
    bounded broadcast nested loop, linear in the corpus — and the pair
    stage is a self EQUI-join on cluster_id, so pair work is
    sum(|cell|^2) over num_probes x corpus assignment rows, never
    corpus^2.  The default ``num_centroids=None`` sizes k =
    ceil(sqrt(N)) in-plan, so pair work grows ~N^1.5 as the corpus
    grows with no tuning (any FIXED k is quadratic: N^2/k — the r5
    sf1 spotcheck measured exactly that before this default); swap in
    trained centroids (train_kmeans_centroids) when cluster balance
    matters more than oracle reproducibility."""
    assigned = _spread_for_pair_join(
        assign_clusters(emb, id_col, vec_col, num_centroids, centroids, num_probes)
    )
    return (
        _cell_pairs(assigned, id_col, vec_col, threshold)
        .select(
            F.col("_id_a").alias("id_a"),
            F.col("_id_b").alias("id_b"),
            "cluster_id",
            "score",
        )
        .groupBy("id_a", "id_b", "score")
        .agg(F.min("cluster_id").alias("cluster_id"))
        .select("id_a", "id_b", "cluster_id", "score")
    )


def train_kmeans_centroids(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 16,
    iters: int = 5,
    quantize_decimals: int | None = None,
) -> DataFrame:
    """Distributed Lloyd's k-means for IVF centroid training: the
    ``m=1`` case of :func:`train_pq_codebooks` (one subspace spanning
    the whole vector, ``codes=k``), so seeding, assignment, means, the
    empty-cell and tie rules and the decimal snap are that trainer's.
    The only driver-side state is the k×dim centroid matrix, collected
    once per iteration — the MLlib KMeans contract.

    Returns a DataFrame (cent_id int, cvec array<double>) usable as
    ``ivf_topk(centroids=...)``."""
    book = train_pq_codebooks(
        emb, id_col, vec_col, m=1, codes=k, iters=iters, quantize_decimals=quantize_decimals
    )[0]
    return emb.sparkSession.createDataFrame(
        list(enumerate(book)), "cent_id int, cvec array<double>"
    )


def ivf_topk(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    num_centroids: int = 16,
    nprobe: int = 4,
    *,
    probes: DataFrame,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF (inverted-file) ANN: coarse-quantize the corpus onto
    ``num_centroids`` centroid lists, search only the ``nprobe``
    nearest lists per probe.

    Default centroids are the vectors with ``id < num_centroids`` — a
    deterministic, engine-reproducible seeding that keeps the whole
    query exactly oracle-checkable.  Pass ``centroids`` (cent_id,
    cvec) — e.g. from ``train_kmeans_centroids`` — to use trained
    lists without touching the assignment/probe machinery.  Both sides
    are :func:`assign_clusters` against the same broadcast centroids:
    the corpus with one cell per vector (partial max_by combine, so
    the shuffle carries one assignment row per vector keyed by cell —
    the inverted "lists" are just that keying, never materialized),
    the probes with their ``nprobe`` best cells, crossing only the
    probe rows.  Per-probe work drops from O(|V|) (brute force) to
    O(|V|·nprobe/K) expected."""
    cents = _seed_centroids(emb, id_col, vec_col, num_centroids, centroids)
    assigned = assign_clusters(emb, id_col, vec_col, centroids=cents)
    probe_cells = assign_clusters(
        _restrict_to_probes(emb, id_col, probes), id_col, vec_col,
        centroids=cents, num_probes=nprobe,
    ).select(
        F.col(id_col).alias("probe_id"),
        F.col(vec_col).alias("_pvec"),
        F.col("_norm").alias("_pnorm"),
        "cluster_id",
    )
    score = F.expr(_cosine_sql(_dot("_pvec", vec_col), "_pnorm", "_norm"))
    # probes × nprobe is small by construction — broadcast it so the
    # corpus-sized assigned side never shuffles (cluster_id has only
    # num_centroids values: a hash join on it would be maximally
    # skewed)
    cand = assigned.join(F.broadcast(probe_cells), on="cluster_id").filter(
        F.col("probe_id") != F.col(id_col)
    )
    scored = cand.select("probe_id", F.col(id_col).alias("neighbor_id"), score.alias("score"))
    return _rank_topk(scored, k)


def quantize_embeddings(
    emb: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding", drop_zero: bool = False
) -> DataFrame:
    """Per-vector symmetric int8 quantization: scale = max|x|/127,
    q_i = round(x_i / scale) ∈ [-127, 127].  At 100 TB this is the 4×
    storage/shuffle/IO reduction for the similarity tier — and because
    per-vector scales CANCEL in cosine, quantized cosine is pure
    integer arithmetic (exact, order-independent, engine-portable).
    Zero vectors quantize to zeros, or are dropped with ``drop_zero``
    (cosine consumers: a zero vector has no direction — filtering on
    the already-computed max BEFORE the quantize transform is free,
    measured vs re-deriving the norm downstream).
    Output: (id, qvec array<int>)."""
    ma = f"aggregate({vec_col}, cast(0.0 as double), (a, v) -> greatest(a, abs(cast(v as double))))"
    # compute the scale ONCE per vector in its own projection — inlining
    # the fold inside the transform lambda would re-run the whole-vector
    # max for every element (O(d^2) per vector)
    qe = (
        "case when _ma = cast(0.0 as double) then transform({v}, x -> 0) "
        "else transform({v}, x -> cast(round(cast(x as double) / (_ma / 127.0), 0) as int)) end"
    ).format(v=vec_col)
    q = emb.withColumn("_ma", F.expr(ma))
    if drop_zero:
        q = q.filter(F.col("_ma") > 0)
    return q.select(F.col(id_col), F.expr(qe).alias("qvec"))


def quantized_topk(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    *,
    probes: DataFrame,
) -> DataFrame:
    """Exact top-k over int8-QUANTIZED cosine — the memory-bandwidth
    scale variant of ``cosine_topk_bruteforce``: integer dot products
    over 1-byte components (the scales cancel), so the candidate scan
    moves 4× fewer bytes and the arithmetic is exact integer folds.
    Quantization error vs float cosine is bounded by the int8 grid;
    recall against the exact baseline is tested.  Same plan shape as
    the float path (probe semi-join, two-phase rank)."""
    # zero-norm guard via drop_zero: an all-zero vector has no cosine
    # direction — dividing by _qnorm would yield NULL here but inf/NaN
    # in a SQL mirror, diverging rankings; drop such vectors from BOTH
    # probe and candidate sets.  The guard filters on the max-abs value
    # already computed inside quantization (free; a post-hoc
    # `_qnorm > 0` filter re-evaluates the integer fold and measured
    # ~2.5x on the full query).  The oracle applies the equivalent
    # qnorm > 0 filter (_ma > 0 <=> qnorm > 0: the max element always
    # quantizes to ±127).
    q = quantize_embeddings(emb, id_col, vec_col, drop_zero=True)
    idot = "aggregate(zip_with({a}, {b}, (x, y) -> cast(x as bigint) * cast(y as bigint)), cast(0 as bigint), (acc, v) -> acc + v)"
    qn = q.withColumn("_qnorm", F.expr(f"sqrt(cast({idot.format(a='qvec', b='qvec')} as double))"))
    a = _restrict_to_probes(qn, id_col, probes).alias("a")
    b = qn.alias("b")
    score = F.expr(
        _cosine_sql(f"cast({idot.format(a='a.qvec', b='b.qvec')} as double)", "a._qnorm", "b._qnorm")
    )
    scored = a.join(b, on=F.col(f"a.{id_col}") != F.col(f"b.{id_col}")).select(
        F.col(f"a.{id_col}").alias("probe_id"),
        F.col(f"b.{id_col}").alias("neighbor_id"),
        score.alias("score"),
    )
    return _rank_topk(scored, k)


def train_pq_codebooks(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 4,
    codes: int = 16,
    iters: int = 3,
    quantize_decimals: int | None = None,
) -> list[list[list[float]]]:
    """Product-quantization codebook training (Jégou et al., "Product
    Quantization for Nearest Neighbor Search", TPAMI 2011 — the
    IVF-PQ architecture behind FAISS-style billion-vector ANN), and
    the module's one Lloyd trainer: :func:`train_kmeans_centroids` is
    its ``m=1`` case.

    Each D-dim vector is split into ``m`` contiguous subvectors of
    D/m dims; subspace ``j`` gets its own ``codes``-entry codebook via
    Lloyd iterations run over ALL subspaces in ONE plan per iteration:
    the corpus is posexploded once into (sub_id, subvector) rows (a
    projection — no shuffle; total bytes equal the corpus) and
    persisted, the m×codes×(D/m) codebook matrix rides as ONE
    broadcast row of ``array<array<struct<cvec, code_id>>>`` indexed
    by sub_id, and assignment is a per-row HOF argmin — ``array_min``
    over struct(:func:`_sqdist`, code_id), so equidistant entries tie
    to the LOWER code id — with NO k× row expansion and NO corpus
    shuffle.  The expression tree is constant across iterations (only
    the broadcast row's DATA changes), so whole-stage codegen compiles
    once; a plan-literal matrix was measured and rejected (1 024
    ``lit`` nodes cost ~1 s of py4j plan-build plus a fresh codegen
    per iteration).  The only shuffle per iteration is the (sub_id,
    code_id, pos) mean partial-aggregate — m×codes×(D/m) rows per
    partition, i.e. exactly D×codes doubles, corpus-size independent.
    An entry no subvector picks keeps its previous value.  Driver
    state is the codebook matrix (m·codes·D/m floats ≈ the
    full-vector k-means contract), collected once per iteration so the
    lineage stays flat instead of stacking ``iters`` corpus scans.

    Seeding: the ``codes`` vectors with the smallest portable md5 rank
    of their id — a deterministic, engine-independent uniform sample —
    sliced per subspace, trivially replicable by an independent
    oracle.  ``quantize_decimals`` snaps every trained mean to a
    decimal grid after each iteration, driver-side with Python round()
    (the replicas' tie-rounding): distributed mean aggregation is
    float-order-dependent at ~1e-15 relative, and once snapped the
    NEXT iteration's inputs are exact decimals on every engine, so an
    independent numpy replica re-derives bit-identical codebooks and
    the downstream query becomes exactly oracle-checkable
    (similarity_ivf_trained, the PQ tiers).  Boundary caveat (round-7
    ADVICE): a mean landing within an ulp of a half-grid boundary
    could still flip, so bit-reproducibility is overwhelming-
    probability, not proven — a flip would surface as a red driver row
    (false red, never a false green), at which point the
    integer-scaled-sum exact-mean device (functions/sampling's
    milli-nat pattern) is the escalation path.

    Returns the codebooks as a driver-side list ``books[j][c] ->
    list[float]`` (j in [0,m), c in [0,codes); fewer entries when the
    corpus has fewer than ``codes`` rows) for :func:`pq_encode` /
    :func:`pq_topk`.
    """
    spark = emb.sparkSession
    seed_rank = F.expr(
        f"conv(substr(md5(concat('kmseed:', cast({id_col} as string))), 1, 15), 16, 10)"
    )
    seeds = (
        emb.select(F.col(id_col), F.col(vec_col).cast("array<double>").alias("v"))
        .withColumn("_r", seed_rank.cast("decimal(20,0)"))
        .orderBy("_r", id_col)
        .limit(codes)
        .select("v")
        .collect()
    )
    if not seeds:
        raise ValueError("train_pq_codebooks: empty corpus (no rows to train on)")
    dim = len(seeds[0]["v"])
    if dim % m != 0:
        raise ValueError(f"embedding dim {dim} not divisible by m={m}")
    sub = dim // m
    books = [[list(r["v"][j * sub : (j + 1) * sub]) for r in seeds] for j in range(m)]
    vs = emb.select(
        F.posexplode(F.expr(_slices_expr(vec_col, m, sub))).alias("sub_id", "sv")
    ).persist()
    try:
        nearest = _nearest_code(F.col("sv"), F.element_at(F.col("books"), F.col("sub_id") + 1))
        for _ in range(iters):
            assigned = vs.crossJoin(F.broadcast(_books_df(spark, books))).select(
                "sub_id", nearest.alias("code_id"), "sv"
            )
            means = (
                assigned.select("sub_id", "code_id", F.posexplode("sv").alias("pos", "x"))
                .groupBy("sub_id", "code_id", "pos")
                .agg(F.avg("x").alias("mu"))
                .groupBy("sub_id", "code_id")
                .agg(
                    F.expr(
                        "transform(array_sort(collect_list(struct(pos, mu))), s -> s.mu)"
                    ).alias("cvec")
                )
            )
            new = {(r["sub_id"], r["code_id"]): r["cvec"] for r in means.collect()}
            books = [
                [list(new.get((j, c), cv)) for c, cv in enumerate(book_j)]
                for j, book_j in enumerate(books)
            ]
            if quantize_decimals is not None:
                books = [
                    [[round(x, quantize_decimals) for x in cv] for cv in book_j]
                    for book_j in books
                ]
    finally:
        vs.unpersist(blocking=False)
    return books


def _books_df(spark, books: list[list[list[float]]]) -> DataFrame:
    """The m×codes codebook matrix as ONE row: array (by subspace) of
    arrays of (cvec, code_id) structs — a few KB of broadcast state."""
    payload = [
        [(cv, c) for c, cv in enumerate(book_j)] for book_j in books
    ]
    return spark.createDataFrame(
        [(payload,)], "books array<array<struct<cvec: array<double>, code_id: int>>>"
    )


def _nearest_code(sv: "F.Column", book: "F.Column") -> "F.Column":
    """Code id of the ``book`` entry nearest subvector ``sv`` — the one
    codebook argmin (trainer and encoder): ``array_min`` over
    struct(:func:`_sqdist`, code_id), so equidistant entries tie to the
    LOWER code id."""
    return F.array_min(
        F.transform(
            book,
            lambda c: F.struct(_sqdist(sv, c["cvec"]).alias("_d"), c["code_id"].alias("code_id")),
        )
    )["code_id"]


def _slices_expr(vec_col: str, m: int, sub: int) -> str:
    return (
        f"transform(sequence(0, {m - 1}), j -> "
        f"slice(cast({vec_col} as array<double>), j * {sub} + 1, {sub}))"
    )


def pq_encode(
    emb: DataFrame,
    books: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """PQ-encode: each vector becomes ``m`` small-int codes (argmin L2
    per subspace against the broadcast codebooks) — a pure projection
    over a 1-row broadcast cross: NO shuffle, NO row expansion.  At
    100 TB this is the storage tier: D float32 dims (4·D bytes)
    compress to m 1-byte codes (codes ≤ 256) — a 4·D/m× reduction
    (64-dim fixture at m=16 → 16×; m=4 → 64×) the candidate scan then
    reads instead of raw vectors.  Output: (id, *extra_cols, codes
    array<int>) — ``extra_cols`` lets ivf_pq_topk carry the coarse
    cluster assignment through the encode projection without a
    join-back."""
    # the encode argmin (m×codes×sub fused multiply-adds per row) is
    # CPU-bound and narrow: rebalance an under-split scan to full width
    # first (plan no-op at real scale, and a no-op for callers that
    # already spread — needs_spread probes the input's partition count)
    return _pq_codes(spread_for_compute(emb, id_col), books, id_col, vec_col, extra_cols)


def _pq_codes(
    emb: DataFrame,
    books: list[list[list[float]]],
    id_col: str,
    vec_col: str,
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """:func:`pq_encode` at the input's own partitioning — for a frame
    that already carries a broadcast matrix (OPQ's rotation), whose
    under-split probe would launch a job at every construction."""
    m, sub = len(books), len(books[0][0])
    bdf = F.broadcast(_books_df(emb.sparkSession, books))
    codes_expr = F.zip_with(F.expr(_slices_expr(vec_col, m, sub)), F.col("books"), _nearest_code)
    return emb.crossJoin(bdf).select(
        F.col(id_col), *[F.col(c) for c in extra_cols], codes_expr.alias("codes")
    )


def _adc_tables(
    probe_rows: DataFrame,
    books: list[list[list[float]]],
    id_col: str,
    vec_col: str,
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Per-probe asymmetric-distance tables: each probe's raw vector ×
    the broadcast codebooks → an m×codes matrix of exact L2 distances
    (probe subvector → every codebook entry).  A candidate's ADC
    distance is then m table lookups + m adds — shared by pq_topk
    (full-corpus scan) and ivf_pq_topk (list-pruned scan, which passes
    ``extra_cols=('cluster_id',)`` to keep its probed cells)."""
    m, sub = len(books), len(books[0][0])
    bdf = F.broadcast(_books_df(probe_rows.sparkSession, books))
    dtab = F.zip_with(
        F.expr(_slices_expr(vec_col, m, sub)),
        F.col("books"),
        lambda sv, book: F.transform(book, lambda c: _sqdist(sv, c["cvec"])),
    )
    return probe_rows.crossJoin(bdf).select(
        F.col(id_col).alias("probe_id"),
        *[F.col(c) for c in extra_cols],
        dtab.alias("dtab"),
    )


def _adc_rank(cand: DataFrame, id_col: str, k: int) -> DataFrame:
    """The ADC tiers' score-and-rank tail over (probe, code row,
    ``dtab``) candidates: drop the self match, sum the m per-subspace
    table lookups (codes → dtab rows) as a fixed-order fold — the
    determinism contract the PQ oracles replicate — round to 1e-6 and
    two-phase rank by ascending distance."""
    adc_dist = F.aggregate(
        F.zip_with(
            F.col("codes"), F.col("dtab"), lambda code, row: F.element_at(row, code + 1)
        ),
        F.lit(0.0),
        lambda acc, d: acc + d,
    )
    scored = cand.filter(F.col("probe_id") != F.col(id_col)).select(
        "probe_id", F.col(id_col).alias("neighbor_id"), F.round(adc_dist, 6).alias("adc_dist")
    )
    return _rank_topk(scored, k, order_col="adc_dist", ascending=True)


def pq_topk(
    emb: DataFrame,
    books: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    *,
    probes: DataFrame,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes: each probe keeps
    its RAW vector and precomputes an m×codes distance TABLE (probe
    subvector → every codebook entry, exact L2); a candidate's
    approximate distance is then just m table lookups summed — no
    floating-point vector math on the corpus side at all.  The scan
    reads (id, codes) — the 64×-compressed tier — and the probe tables
    ride in the probe broadcast, so per-candidate cost is m array
    lookups + m adds.  This is the query half of IVF-PQ; the composed
    list-pruned variant is :func:`ivf_pq_topk`.

    Determinism contract: table entries are sequential left folds over
    decimal-grid codebook entries, the ADC sum is a fixed-order fold
    of m doubles, ranking ties break by neighbor id — so with
    ``quantize_decimals`` training the whole query is bit-reproducible
    by an independent replica (the similarity_ivf_trained pattern).
    Output: (probe_id, neighbor_id, adc_dist, rank), ascending ADC
    distance."""
    # pq_encode spreads the scan; the encoded frame carries the
    # codebook broadcast, so the ADC scan takes it as it is
    enc = pq_encode(emb, books, id_col, vec_col)
    return _adc_scan(enc, _restrict_to_probes(emb, id_col, probes), books, id_col, vec_col, k)


def adc_topk(
    enc: DataFrame,
    probe_rows: DataFrame,
    books: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """ADC top-k against a PREBUILT code table — the query half of
    :func:`pq_topk`, split out so a PERSISTED index (built once with
    :func:`build_pq_index`, appended to by streaming batches) answers
    probes without ever re-encoding the corpus: the production shape
    for querying 100 TB of history at probe cost, the similarity-tier
    mirror of dedup's build_minhash_index/dedup_against_index.
    ``probe_rows`` carry raw vectors; ``enc`` is (id, codes).
    ``probe_rows`` must be a BOUNDED batch (the caller's contract): the
    per-probe tables broadcast."""
    # the ADC scan (m lookups + m adds per candidate × |probes| fanout)
    # is CPU-bound; a persisted code table read back as one small file
    # would otherwise scan single-task (plan no-op at real scale)
    return _adc_scan(spread_for_compute(enc, id_col), probe_rows, books, id_col, vec_col, k)


def _adc_scan(
    enc: DataFrame,
    probe_rows: DataFrame,
    books: list[list[list[float]]],
    id_col: str,
    vec_col: str,
    k: int,
) -> DataFrame:
    """The full ADC scan at ``enc``'s partitioning: every code row ×
    the broadcast probe tables, two-phase ranked by ascending
    distance."""
    probe_tabs = _adc_tables(probe_rows, books, id_col, vec_col)
    return _adc_rank(enc.crossJoin(F.broadcast(probe_tabs)), id_col, k)


def build_pq_index(
    emb: DataFrame,
    books: list[list[list[float]]],
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Persist the PQ code table (id, codes) as parquet — encode the
    corpus ONCE; later batches append via ``append_pq_index`` (e.g.
    from a streaming foreachBatch) and probes query the maintained
    table with :func:`adc_topk`.  The stored rows are m small ints per
    vector — the 4·D/m×-compressed tier is also the PERSISTED tier, so
    index storage scales with codes, not raw embeddings."""
    pq_encode(emb, books, id_col, vec_col).write.mode("overwrite").parquet(path)


def append_pq_index(
    new_emb: DataFrame,
    books: list[list[list[float]]],
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Append a batch's codes to a persisted PQ index — batch-cost
    maintenance against corpus-sized history (the codebooks are FROZEN
    at training time, the standard IVF-PQ contract: new vectors are
    encoded with the existing books; retraining is a rebuild).  Safe
    from a streaming foreachBatch: parquet append is per-batch atomic
    under the default committer."""
    pq_encode(new_emb, books, id_col, vec_col).write.mode("append").parquet(path)


def rotate_vectors(
    df: DataFrame,
    rmat: list[list[float]],
    vec_col: str = "embedding",
    out_col: str = "_rvec",
) -> DataFrame:
    """R·x per row: the D×D rotation rides as ONE broadcast row and
    each output component is a sequential fold over the matching
    matrix row — a pure projection (no shuffle, no row expansion),
    bit-reproducible by a numpy cumsum replica (the _dot contract).
    D² multiplies per row; at D=64 that is 4 KB of broadcast state and
    4096 fused multiply-adds per vector."""
    rdf = F.broadcast(
        df.sparkSession.createDataFrame([(rmat,)], "rmat array<array<double>>")
    )
    rot = F.expr(
        f"transform(rmat, row -> aggregate(zip_with(row, cast({vec_col} as array<double>), "
        f"(a, b) -> a * b), cast(0.0 as double), (acc, v) -> acc + v))"
    )
    return df.crossJoin(rdf).withColumn(out_col, rot).drop("rmat")


def train_opq_rotation(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 4,
    codes: int = 16,
    opq_iters: int = 2,
    pq_iters: int = 2,
    quantize_decimals: int | None = None,
):
    """OPQ — Optimized Product Quantization (Ge et al., CVPR 2013;
    the FAISS OPQMatrix tier): learn an orthogonal rotation R that
    minimizes PQ reconstruction error ‖Rx − ĉ(Rx)‖², by alternating
    (a) PQ codebook training in the rotated space (the existing
    shuffle-free Lloyd trainer) with (b) the orthogonal Procrustes
    update R ← UVᵀ from SVD(Σ ĉ xᵀ).  Returns (R, books) for
    :func:`opq_topk`.  Init is the identity rotation (deterministic;
    replaces FAISS's random init so an oracle can replay training).

    Scale/exactness design of the cross-covariance A = Σ ĉ xᵀ — the
    one new distributed stage: each Arrow batch computes its rows'
    outer products with ONE numpy matmul, rounds every entry to
    integer micro-units (np.round — banker's rounding, mirrored by
    the oracle replica) and emits a single D² int64 partial row, so
    the driver-side total is an ORDER-INDEPENDENT integer sum —
    exact, unlike a float reduction — and the collected state is
    #partitions × D² longs, corpus-size independent.  (Overflow
    bound: per-row entries are ~1e6-scaled unit products, so int64
    partials hold ~1e12 rows per partition; the driver total uses
    Python integers.)  The D×D SVD runs on the driver — k×D-class
    state, the train_kmeans_centroids contract."""
    first = emb.select(vec_col).first()
    dim = len(first[0])
    if dim % m != 0:
        raise ValueError(f"embedding dim {dim} not divisible by m={m}")
    R = np.eye(dim)

    def a_matrix(rot_df, books) -> np.ndarray:
        barr = [np.array(b, dtype=np.float64) for b in books]
        enc = pq_encode(rot_df, books, id_col, "_rvec", extra_cols=(vec_col,))

        def partials(batches):
            for pdf in batches:
                if len(pdf) == 0:  # empty partition/batch: no partial row
                    continue
                X = np.vstack(pdf[vec_col].map(np.asarray).to_numpy()).astype(np.float64)
                codes = np.vstack(pdf["codes"].to_numpy())  # hoisted: ONE per batch
                C = np.concatenate([barr[j][codes[:, j]] for j in range(m)], axis=1)
                # the rows×D×D outer-product tensor is built in CHUNKS:
                # at the 10k-row Arrow batch and D=64 the full tensor
                # (+ its round/int64 copies) peaks ~1 GB per Python
                # worker; 256-row chunks are 1/40th of that and the
                # int64 partial sum is order-independent, so the result
                # is bit-identical
                P = np.zeros((C.shape[1], X.shape[1]), dtype=np.int64)
                for lo in range(0, len(X), 256):
                    chunk = C[lo : lo + 256, :, None] * X[lo : lo + 256, None, :]
                    P += np.round(chunk * 1e6).astype(np.int64).sum(axis=0)
                yield pd.DataFrame({"a": [P.ravel().tolist()]})

        rows = enc.mapInPandas(partials, schema="a array<long>").collect()
        total = np.zeros(dim * dim, dtype=object)
        for r in rows:
            total += np.array(r["a"], dtype=object)
        return (total.astype(np.float64) / 1e6).reshape(dim, dim)

    # opq_iters alternations, then the final codebooks trained in the
    # FINAL rotated space (Ge et al. alternate-then-finalize)
    for alternations_left in range(opq_iters, -1, -1):
        rmat = [[float(x) for x in row] for row in R]
        rot_df = rotate_vectors(emb, rmat, vec_col)
        rframe = rot_df.select(F.col(id_col), F.col("_rvec").alias(vec_col))
        books = train_pq_codebooks(
            rframe, id_col, vec_col, m, codes, pq_iters, quantize_decimals
        )
        if not alternations_left:
            return rmat, books
        U, _s, Vt = np.linalg.svd(a_matrix(rot_df, books))
        R = U @ Vt


def opq_topk(
    emb: DataFrame,
    rmat: list[list[float]],
    books: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    *,
    probes: DataFrame,
) -> DataFrame:
    """ADC top-k in the OPQ-rotated space: rotate corpus and probes by
    the trained R (rotation preserves L2 distances, so ADC in rotated
    space approximates the original-space neighbors with lower
    quantization error), then the standard PQ query path — encode,
    broadcast distance tables, two-phase rank."""
    # spread BEFORE the rotation, and only there: R·x is D² multiplies
    # per row and the single-file local fixture would run it (and
    # everything above) on one task (plan no-op at real scale), while
    # the rotated frame carries the rotation broadcast (see _pq_codes).
    # NO barrier here: the encode's crossJoin blocks CollapseProject, so
    # the rotation already evaluates once per row — a barrier
    # re-measured 1.24× SLOWER (r13).
    rot = rotate_vectors(spread_for_compute(emb, id_col), rmat, vec_col).select(
        F.col(id_col), F.col("_rvec").alias(vec_col)
    )
    enc = _pq_codes(rot, books, id_col, vec_col)
    return _adc_scan(enc, _restrict_to_probes(rot, id_col, probes), books, id_col, vec_col, k)


def ivf_pq_topk(
    emb: DataFrame,
    books: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    num_centroids: int = 16,
    nprobe: int = 4,
    *,
    probes: DataFrame,
) -> DataFrame:
    """Composed IVF-PQ (Jégou et al. TPAMI 2011 §IV; the architecture
    FAISS ships as IndexIVFPQ): coarse-quantize the corpus onto
    ``num_centroids`` inverted lists (``assign_clusters`` — broadcast
    centroids, max_by combine, ties to the lower cent_id), PQ-encode
    every vector to m 1-byte codes IN THE SAME projection (the cluster
    id rides through ``pq_encode(extra_cols=...)`` — no join-back),
    and answer each probe by scanning only its ``nprobe`` nearest
    lists with asymmetric-distance tables.  Per-probe candidate work
    drops from O(N) (pq_topk's full ADC scan) to O(N·nprobe/K)
    expected — the list-pruned scan is what makes the compressed tier
    usable at 100 TB, and it also bounds the rank stage's input
    (|cell|·nprobe candidates per probe, further two-phased by
    ``_rank_topk``).

    Coarse seeding is the deterministic id < num_centroids rule
    (assign_clusters' oracle-exact default; pass trained centroids via
    ivf_topk for the recall-tested variant).  Every candidate appears
    at most once per probe — corpus vectors own exactly ONE list and
    a probe's nprobe lists are distinct — so no dedup stage is needed.
    Same determinism contract as pq_topk (sequential folds, decimal-
    grid codebooks, 1e-6 HALF_UP rounding, neighbor-id tiebreak), so
    the whole composition — coarse assignment, training, encoding,
    list-pruned ADC — is bit-reproducible by the independent numpy
    replica in plans/queries._ivf_pq_oracle.  Output: (probe_id,
    neighbor_id, adc_dist, rank), ascending ADC distance; NOTE a probe
    sees only vectors in its probed cells (recall < 1 by construction,
    floor-tested vs exact L2 in tests/test_tools.py)."""
    cents, assigned = _ivf_cells(emb, id_col, vec_col, num_centroids)
    enc = _cell_codes(assigned, books, id_col, vec_col)
    probe_rows = _restrict_to_probes(emb, id_col, probes)
    probe_cells = assign_clusters(
        probe_rows, id_col, vec_col, centroids=cents, num_probes=nprobe
    ).select(F.col(id_col).alias("probe_id"), "cluster_id")
    # the raw-space ADC table does not depend on the probed cell, so it
    # is built ONCE per probe and the (probe, cell) list broadcasts
    # SEPARATELY — the broadcast carries |probes| tables + nprobe·|probes|
    # skinny cell rows instead of nprobe duplicate tables per probe.
    # Both sides are small by construction; the corpus-sized code table
    # never shuffles (cluster_id has only num_centroids values: a
    # shuffle join on it would be maximally skewed — the ivf_topk
    # discipline).
    probe_tabs = _adc_tables(probe_rows, books, id_col, vec_col)
    cand = enc.join(F.broadcast(probe_cells), on="cluster_id").join(
        F.broadcast(probe_tabs), on="probe_id"
    )
    return _adc_rank(cand, id_col, k)


def _ivf_cells(
    emb: DataFrame, id_col: str, vec_col: str, num_centroids: int
) -> tuple[DataFrame, DataFrame]:
    """The IVF-PQ corpus side's coarse step: the ``id < num_centroids``
    seed cells and every corpus vector's one cell, assigned row-wise so
    the corpus never shuffles.  Returns (cents, (id, vec, cluster_id))."""
    cents = _seed_centroids(emb, id_col, vec_col, num_centroids)
    return cents, assign_clusters_rowwise(emb, cents, id_col, vec_col)


def _cell_codes(
    rows: DataFrame, books: list[list[list[float]]], id_col: str, vec_col: str
) -> DataFrame:
    """PQ-encode cell-assigned ``rows`` with their cluster_id in the same
    projection over the (spread) scan stage, barriered so the candidate
    join consumes code ATTRIBUTES (the argmins evaluate once per corpus
    row, not per candidate).  Output: (id, cluster_id, codes)."""
    enc = pq_encode(rows, books, id_col, vec_col, extra_cols=("cluster_id",))
    return evaluate_once(enc, [], **{c: F.col(c) for c in enc.columns})


def assign_clusters_rowwise(
    emb: DataFrame,
    cents: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """SHUFFLE-FREE nearest-centroid assignment — the corpus-side form
    for operators that only need each vector's winning cell id
    (IVF-PQ's encode path): the k centroids fold to ONE broadcast row
    of struct(cvec, cent_id, _cnorm) and every vector picks its cell
    with a per-row HOF argmin (array_min over struct(-cscore,
    cent_id)), exactly the 1-row-matrix device Lloyd training uses.
    Scoring is bit-identical to :func:`assign_clusters` (round(cosine,
    6), ties to the LOWER cent_id — array_min's struct order
    reproduces max_by(cent_id, struct(cscore, -cent_id))), but the
    plan is a pure projection: no k× row expansion, NO groupBy, and —
    decisively — no corpus exchange, so the downstream CPU-bound
    encode rides the (spread) scan stage at full width instead of an
    AQE-size-coalesced post-aggregate stage (round-9 stage-audit
    finding: ivf_pq_topk's encode+score ran 7.4 s on 5 of 32 slots at
    the sf1 tier behind the old aggregate).  At 100 TB this also
    removes a full corpus shuffle of vector payloads from the IVF-PQ
    build.  Output: (id, vec, *keep_cols, cluster_id).

    :func:`assign_clusters` remains the shared form for the
    cluster-BLOCKED pair families, whose groupBy exchange is
    load-bearing (reused as the pair join's own non-coalescible
    exchange) and whose multi-probe/score variants it carries."""
    cents = _seed_centroids(emb, id_col, vec_col, centroids=cents)
    one_row = F.broadcast(
        cents.agg(F.collect_list(F.struct("cvec", "cent_id", "_cnorm")).alias("_cents"))
    )
    # barrier: _norm is referenced INSIDE the argmin lambda, and
    # CollapseProject would otherwise inline its defining sqrt-fold
    # into the transform — re-deriving it once per CENTROID element
    # (the per-element re-derivation trap evaluate_once exists for);
    # behind the barrier it is a plain attribute, one fold/row
    v = spread_for_compute(with_norm(emb, vec_col), id_col)
    v = evaluate_once(v, [], **{c: F.col(c) for c in v.columns})
    # the SAME textual cosine as assign_clusters' cscore (shared _dot
    # fold, round 6) so scores — and therefore every tie — are
    # bit-identical between the two forms.  The coalesce(-2) pins NULL
    # scores (a zero-norm centroid or vector makes the cosine a NULL
    # divide-by-zero) BELOW every real cosine (>= -1): array_min would
    # otherwise sort the NULL _ns field FIRST and hand that centroid
    # every vector, while assign_clusters' max_by orders the NULL
    # struct field SMALLEST so it never wins — and when ALL scores are
    # NULL (zero-norm vector) both forms now tie to the lowest cent_id
    # (max_by falls through to the -cent_id field).
    pick = F.expr(
        "array_min(transform(_cents, c -> struct("
        f"-coalesce({_cosine_sql(_dot(vec_col, 'c.cvec'), '_norm', 'c._cnorm')}, -2) AS _ns, "
        "c.cent_id AS cent_id))).cent_id"
    )
    return v.crossJoin(one_row).select(
        F.col(id_col),
        F.col(vec_col),
        *[F.col(c) for c in keep_cols],
        pick.alias("cluster_id"),
    )


def _seed_centroids(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    num_centroids: int | None = None,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """The one centroid rule, as a (cent_id, cvec array<double>,
    _cnorm) frame.  ``centroids`` (cent_id, cvec) are used as given
    (e.g. trained); otherwise the seeds are the corpus vectors with
    ``id < num_centroids`` — the deterministic, oracle-exact seeding
    every SQL oracle mirrors — and ``num_centroids=None`` sizes k =
    ceil(sqrt(N)) in-plan (a 1-row count aggregate broadcast into the
    filter, no driver action; see :func:`assign_clusters`)."""
    if centroids is None:
        if num_centroids is None:
            k = emb.agg(F.ceil(F.sqrt(F.count(F.lit(1)))).alias("_k"))
            pool = emb.crossJoin(F.broadcast(k)).filter(F.col(id_col) < F.col("_k"))
        else:
            pool = emb.filter(F.col(id_col) < num_centroids)
        centroids = pool.select(F.col(id_col).alias("cent_id"), F.col(vec_col).alias("cvec"))
    cents = centroids.select("cent_id", F.col("cvec").cast("array<double>").alias("cvec"))
    return cents.withColumn("_cnorm", F.expr(_norm_sql("cvec")))


def _residualize(
    rows: DataFrame, cents: DataFrame, id_col: str, vec_col: str
) -> DataFrame:
    """Subtract each row's assigned coarse centroid: (id, ...,
    cluster_id, vec) -> (id, cluster_id, resid).  A broadcast join on
    the k-row centroid frame followed by a per-component zip_with —
    exact IEEE subtraction, so residuals are bit-identical to any
    replica computing vec - centroid in the same doubles."""
    cc = cents.select(F.col("cent_id").alias("cluster_id"), F.col("cvec").alias("_rcvec"))
    return rows.join(F.broadcast(cc), on="cluster_id").select(
        F.col(id_col),
        F.col("cluster_id"),
        F.zip_with(
            F.col(vec_col).cast("array<double>"), F.col("_rcvec"), lambda x, y: x - y
        ).alias("resid"),
    )


def train_residual_pq_codebooks(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_centroids: int = 16,
    m: int = 4,
    codes: int = 16,
    iters: int = 3,
    quantize_decimals: int | None = None,
) -> list[list[list[float]]]:
    """PQ codebooks trained on COARSE RESIDUALS (x - centroid(x)) —
    the ``by_residual=true`` default of FAISS's IndexIVFPQ (Jégou et
    al. TPAMI 2011 §IV-A eq.(26)): when the coarse quantizer captures
    real cluster structure, residuals concentrate around the origin
    with lower variance than raw vectors, so the same m×codes budget
    quantizes them with less error (pinned on a clustered corpus in
    tests/test_tools.py; on an isotropic corpus the seeds capture no
    structure and the advantage vanishes — the FAISS caveat applies
    here too).  The residual
    projection is a broadcast join + zip_with subtraction (no
    shuffle); training is the shared shuffle-free Lloyd contract of
    :func:`train_pq_codebooks` run on the residual column, with the
    same md5 seed ranking over the SAME ids — so an independent numpy
    replica reproduces the books exactly from (vecs - cents[assign])."""
    cents, assigned = _ivf_cells(emb, id_col, vec_col, num_centroids)
    res = _residualize(assigned, cents, id_col, vec_col)
    return train_pq_codebooks(
        res, id_col, "resid", m=m, codes=codes, iters=iters,
        quantize_decimals=quantize_decimals,
    )


def ivf_pq_residual_topk(
    emb: DataFrame,
    books: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    num_centroids: int = 16,
    nprobe: int = 4,
    *,
    probes: DataFrame,
) -> DataFrame:
    """Residual-encoded IVF-PQ — FAISS IndexIVFPQ's actual default
    (``by_residual=true``; Jégou et al. TPAMI 2011 §IV-A): corpus
    vectors are PQ-encoded as their residual to the assigned coarse
    centroid, and a probe's asymmetric-distance tables are built PER
    PROBED CELL from the probe's residual to THAT cell's centroid, so
    ADC approximates ||q - x||² = ||r_q(cell) - r_x||² exactly in the
    residual space.  vs :func:`ivf_pq_topk` (shared raw-space
    codebooks) this spends the same m-byte code budget on the much
    lower-variance residual distribution — the standard recall
    recovery at identical storage and scan cost.

    Scale shape: identical to ivf_pq_topk — the residual projection
    is a k-row broadcast join + zip_with (no shuffle, no expansion);
    the probe-side table frame grows to probes × nprobe rows (one
    table per probed cell — still broadcast-sized); candidates join
    list-pruned on cluster_id and rank two-phase.  Every stage keeps
    the bit-reproducibility contract (exact residual subtraction,
    decimal-grid training, sequential folds, HALF_UP 1e-6, neighbor-id
    tiebreak), so the full composition is pinned end-to-end by the
    independent numpy replica in plans/queries._ivf_pq_residual_oracle."""
    # residualize is a k-row broadcast equi join, so assignment +
    # residual + encode all ride the (spread) scan stage at full width
    cents, assigned = _ivf_cells(emb, id_col, vec_col, num_centroids)
    enc = _cell_codes(_residualize(assigned, cents, id_col, vec_col), books, id_col, "resid")
    probe_rows = _restrict_to_probes(emb, id_col, probes)
    probe_cells = assign_clusters(
        probe_rows, id_col, vec_col, centroids=cents, num_probes=nprobe
    )
    # one ADC table per (probe, probed cell), built from the probe's
    # residual to that cell's centroid — probes × nprobe rows, still
    # broadcast-sized, so the corpus-sized code table never shuffles
    probe_res = _residualize(probe_cells, cents, id_col, vec_col)
    probe_tabs = _adc_tables(probe_res, books, id_col, "resid", extra_cols=("cluster_id",))
    return _adc_rank(enc.join(F.broadcast(probe_tabs), on="cluster_id"), id_col, k)


def ivf_pq_refined_topk(
    emb: DataFrame,
    books: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    num_centroids: int = 16,
    nprobe: int = 4,
    shortlist: int = 20,
    *,
    probes: DataFrame,
) -> DataFrame:
    """Two-stage refined ANN — the FAISS IndexRefineFlat deployment
    pattern: the compressed tier (list-pruned ADC, :func:`ivf_pq_topk`)
    produces a ``shortlist``-deep candidate set per probe, then the
    shortlist alone is re-scored with EXACT L2 against the raw vectors
    and re-ranked to the final top-k.  This recovers most of the
    recall PQ loses while reading raw vectors for only
    probes×shortlist rows — the standard production shape for
    billion-vector serving (compressed scan + exact refine).

    Scale shape: stage 1 is ivf_pq_topk's plan unchanged; stage 2
    BROADCASTS the shortlist (probes×shortlist id pairs) against the
    raw vector table — an equi BroadcastHashJoin, so the corpus never
    shuffles and reads exactly the candidate rows — then broadcasts
    the probe vectors and folds the exact distance per pair.  Rank is
    the shared two-phase top-k.  Deterministic end-to-end (the ADC
    shortlist's ties break by neighbor_id, the refine fold is
    sequential with HALF_UP 1e-6 rounding), so the composition is
    pinned by the independent replica in
    plans/queries._ivf_pq_refined_oracle."""
    short = ivf_pq_topk(
        emb, books, id_col, vec_col,
        k=shortlist, num_centroids=num_centroids, nprobe=nprobe, probes=probes,
    )
    cand = short.select("probe_id", "neighbor_id")
    nvec = emb.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("_nv"),
    )
    probe_rows = _restrict_to_probes(emb, id_col, probes)
    pvec = probe_rows.select(
        F.col(id_col).alias("probe_id"),
        F.col(vec_col).cast("array<double>").alias("_pv"),
    )
    joined = nvec.join(F.broadcast(cand), on="neighbor_id").join(
        F.broadcast(pvec), on="probe_id"
    )
    l2 = _sqdist(F.col("_pv"), F.col("_nv"))
    scored = joined.select("probe_id", "neighbor_id", F.round(l2, 6).alias("l2_dist"))
    return _rank_topk(scored, k, order_col="l2_dist", ascending=True)


def semantic_contamination(
    corpus: DataFrame,
    eval_set: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
) -> DataFrame:
    """Embedding-level eval-set decontamination — the paraphrase-robust
    complement to n-gram contamination checks: a training document is
    flagged when its embedding's cosine against ANY benchmark/eval
    embedding reaches ``threshold`` (n-gram overlap misses reworded
    eval leakage; cosine similarity does not).  Output: one row per
    corpus vector — (id, top_eval_id, max_eval_cosine, contaminated).

    Scale shape: the eval set (benchmarks are thousands of rows, not
    corpus-scale) folds into ONE broadcast row of (eval_id, vec, norm)
    structs; every corpus row computes its max cosine via a HOF over
    that array — a pure linear projection, NO pair shuffle, NO join,
    same discipline as the k-means assignment matrix.  Ties break to
    the LOWER eval id (max over struct(cos, -eval_id)), making the
    result engine-exact: scores are sequential folds rounded to 1e-6,
    so the whole operator is SQL-oracle-checkable."""
    # zero-norm eval vectors are DROPPED before the fold: their cosine
    # is 0/0 = NaN, and NaN compares greater than any double in Spark,
    # so one all-zero benchmark row would otherwise become every corpus
    # row's top match with contaminated=true (the quantized_topk
    # drop_zero divergence class)
    evals = (
        eval_set.withColumn("_enorm", F.expr(_norm_sql(vec_col)))
        .filter(F.col("_enorm") > 0.0)
        .agg(
            F.collect_list(
                F.struct(
                    F.col(id_col).alias("eval_id"),
                    F.col(vec_col).cast("array<double>").alias("evec"),
                    F.col("_enorm").alias("enorm"),
                )
            ).alias("_evals")
        )
    )
    v = spread_for_compute(with_norm(corpus, vec_col), id_col)
    # zero-norm CORPUS rows score the -2.0 sentinel (below any cosine):
    # deterministic, never NaN, contaminated stays false
    cos = f"if(_norm = 0.0D, -2.0D, {_cosine_sql(_dot(vec_col, 'e.evec'), '_norm', 'e.enorm')})"
    best = F.expr(
        f"array_max(transform(_evals, e -> struct({cos} AS cos, -e.eval_id AS neg_id)))"
    )
    return (
        v.crossJoin(F.broadcast(evals))
        .select(F.col(id_col), best.alias("_best"))
        .select(
            id_col,
            (-F.col("_best.neg_id")).cast("bigint").alias("top_eval_id"),
            F.col("_best.cos").alias("max_eval_cosine"),
            # empty (or all-zero-norm) eval set -> _best is NULL:
            # contaminated coalesces to false (nothing to match),
            # top_eval_id / max_eval_cosine stay NULL by contract
            F.coalesce(F.col("_best.cos") >= threshold, F.lit(False)).alias(
                "contaminated"
            ),
        )
    )


def assign_clusters(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_centroids: int | None = 16,
    centroids: DataFrame | None = None,
    num_probes: int = 1,
    with_score: bool = False,
) -> DataFrame:
    """IVF-style nearest-centroid assignment, shared by semdedup and
    the blocked near-dup pair join: one row per (corpus vector,
    assigned cell) — (``id_col``, ``vec_col``, _norm, cluster_id);
    exactly one row per vector at the default ``num_probes=1``,
    ``num_probes`` rows for multi-probe blocking (the standard IVF
    recall lever: a pair is compared if any assigned cell is shared).

    ``centroids`` (cent_id, cvec) uses trained centroids; the default
    takes the ``num_centroids`` lowest-id corpus vectors — a
    deterministic, engine-independent seeding every SQL oracle can
    mirror.  ``num_centroids=None`` picks k = ceil(sqrt(N)) IN-PLAN
    (a 1-row count aggregate broadcast into the centroid filter — no
    driver action): cell sizes then track N/sqrt(N) and within-cell
    pair work grows ~N^1.5 instead of the quadratic N²/k of any FIXED
    k — the right default for corpora whose size the query author
    doesn't know, and exactly mirrorable in SQL via a scalar subquery
    ``WHERE id < (SELECT ceil(sqrt(count(*))) FROM v)``.  Scale
    shape: k centroids broadcast (a few KB), cosine via a sequential
    fold, ``max_by`` (or a bounded k-element sorted slice for
    multi-probe) partial combine — the corpus never shuffles on the
    tiny cent_id key; ties broken toward the lower cent_id to stay
    oracle-exact.

    ``with_score=True`` (num_probes=1 only) also returns ``cscore``,
    the winning cell's cosine — the prototypicality signal
    diversity_sample ranks on."""
    if with_score and num_probes != 1:
        raise ValueError("with_score requires num_probes=1 (one assigned cell per vector)")
    cents = _seed_centroids(emb, id_col, vec_col, num_centroids, centroids)
    # The corpus x broadcast(k) cosine assignment is CPU-bound on N*k
    # folds but its input scan is small in BYTES (packed into few
    # splits by maxPartitionBytes/openCost), so a small corpus would
    # run the whole assignment on a handful of tasks; the conditional
    # spread rebalances to defaultParallelism and is a plan no-op once
    # the scan yields enough splits (same discipline as the per-row
    # text stages, functions/text.spread_for_compute).
    v = spread_for_compute(with_norm(emb, vec_col), id_col)
    cscore = F.expr(_cosine_sql(_dot(vec_col, "cvec"), "_norm", "_cnorm"))
    vc = v.crossJoin(F.broadcast(cents)).select(
        F.col(id_col), F.col(vec_col), F.col("_norm"), F.col("cent_id"), cscore.alias("cscore")
    )
    if num_probes == 1:
        # max_by(x, id): value-identical to first(x) for these
        # key-functional columns, but DETERMINISTIC — First is flagged
        # nondeterministic and blocks exchange-reuse canonicalization,
        # which would force the whole assignment subtree (the N*k
        # cosine fold) to compute once per pair-join side.
        aggs = [
            F.max_by("cent_id", F.struct(F.col("cscore"), (-F.col("cent_id")).alias("_nc"))).alias("cluster_id"),
            F.max_by(vec_col, F.col(id_col)).alias(vec_col),
            F.max_by("_norm", F.col(id_col)).alias("_norm"),
        ]
        if with_score:
            # the winning cell's cosine IS the max score (ties only
            # affect which cent_id wins, never the score value)
            aggs.append(F.max("cscore").alias("cscore"))
        return vc.groupBy(id_col).agg(*aggs)
    # Multi-probe: keep the num_probes best cells per vector.  The
    # k-element collect_list is bounded by the centroid count (not the
    # corpus), sorted by (-cscore, cent_id) — identical ordering to
    # the oracle's ORDER BY cscore DESC, cent_id.  The coalesce(-2)
    # pins a NULL score (zero-norm centroid or vector) after every real
    # cosine, as assign_clusters_rowwise does: array_sort would
    # otherwise put the NULL field FIRST and hand that cell to every
    # vector.
    nc = -F.coalesce(F.col("cscore"), F.lit(-2.0))
    picked = vc.groupBy(id_col).agg(
        F.slice(
            F.array_sort(F.collect_list(F.struct(nc.alias("_nc"), F.col("cent_id")))),
            1,
            num_probes,
        ).alias("_cells"),
        # deterministic key-functional carry (see num_probes == 1 note)
        F.max_by(vec_col, F.col(id_col)).alias(vec_col),
        F.max_by("_norm", F.col(id_col)).alias("_norm"),
    )
    return picked.select(
        id_col, vec_col, "_norm", F.explode(F.col("_cells.cent_id")).alias("cluster_id")
    )


def semdedup(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_centroids: int | None = 16,
    threshold: float = 0.55,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """SemDeDup semantic near-dedup (public method: Abbas et al. 2023,
    arXiv:2303.09540): cluster the embedding corpus, then compare
    pairs ONLY within a cluster and drop every vector whose cosine to
    a lower-id cluster member is >= ``threshold`` (lowest id is the
    kept representative of each duplicate neighborhood — a
    deterministic stand-in for the paper's keep-farthest-from-centroid
    choice, chosen so the whole op is exactly oracle-checkable).

    Returns (``id_col``, cluster_id, keep) for every corpus row.

    Scale shape: stage 1 is the IVF assignment — k centroids broadcast
    (a few KB), max_by partial combine, ONE assignment row per vector
    shuffled by cluster_id; stage 2 is a self equi-join on cluster_id,
    so pair work is sum(|cluster|^2), never corpus^2.  Any FIXED k is
    quadratic as the corpus grows (N^2/k) — pass
    ``num_centroids=None`` for the in-plan k = ceil(sqrt(N)) sizing
    (~N^1.5 pair work, see assign_clusters) or trained centroids
    (train_kmeans_centroids) to bound cluster sizes; default
    id < num_centroids seeding is the deterministic
    oracle-reproducible form, same as ivf_topk.
    """
    assigned = _spread_for_pair_join(assign_clusters(emb, id_col, vec_col, num_centroids, centroids))
    dropped = (
        _cell_pairs(assigned, id_col, vec_col, threshold)
        .select(F.col("_id_b").alias(id_col))
        .distinct()
    )
    return assigned.join(dropped.withColumn("_drop", F.lit(True)), on=id_col, how="left").select(
        id_col, "cluster_id", F.coalesce(~F.col("_drop"), F.lit(True)).alias("keep")
    )


def diversity_sample(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_centroids: int | None = None,
    keep_fraction: float = 0.5,
    strategy: str = "farthest",
    centroids: DataFrame | None = None,
) -> DataFrame:
    """Cluster-balanced diversity pruning (public method: prototype
    pruning from Sorscher et al. 2022, "Beyond neural scaling laws",
    arXiv:2206.14486 — rank examples by prototypicality, the cosine to
    their cluster centroid, and keep the LEAST prototypical
    ``keep_fraction`` of every cluster; the SemDeDup companion the
    DataComp pipelines run after near-dedup).  Dedup removes copies;
    this removes redundancy — the dense core of each semantic cluster
    contributes little marginal training signal, so the keep set holds
    the cluster's diverse rim while the per-cluster quota
    (ceil(keep_fraction x |cluster|)) guarantees NO cluster is emptied
    — the coverage property a global score cut cannot give.

    ``strategy``: 'farthest' keeps low-prototypicality rows (the
    paper's choice for large corpora); 'nearest' keeps the
    high-prototypicality core (their small-corpus regime).  Returns
    (``id_col``, cluster_id, proto_score, keep) for every corpus row,
    deterministic via the rounded score + id tie-break, so the whole
    op is exactly oracle-checkable.

    Scale shape: stage 1 is the shared IVF assignment (k centroids
    broadcast, max_by partial combine — see assign_clusters); stage 2
    is ONE shuffle of (id, cluster_id, score) rows — vectors dropped
    before the exchange — and a per-cluster sort bounded by cluster
    size (~sqrt(N) at the in-plan k sizing).  No pair joins anywhere:
    unlike semdedup this stays strictly linear in corpus size, which
    is why DataComp-scale pipelines can afford it on the full pool."""
    from pyspark.sql.window import Window

    if strategy not in ("farthest", "nearest"):
        raise ValueError(f"unknown strategy {strategy!r}: use 'farthest' or 'nearest'")
    assigned = assign_clusters(
        emb, id_col, vec_col, num_centroids, centroids, with_score=True
    ).select(id_col, "cluster_id", F.col("cscore").alias("proto_score"))
    order = F.col("proto_score").asc() if strategy == "farthest" else F.col("proto_score").desc()
    w = Window.partitionBy("cluster_id").orderBy(order, F.col(id_col).asc())
    wc = Window.partitionBy("cluster_id")
    return assigned.select(
        id_col,
        "cluster_id",
        "proto_score",
        (
            F.row_number().over(w)
            <= F.ceil(F.count(F.lit(1)).over(wc) * F.lit(keep_fraction)).cast("long")
        ).alias("keep"),
    )


def _plane_vectors(num_planes: int, dim: int) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes: component (p, j) is
    derived from sha256, mapped to [-1, 1).  No RNG state, so every
    run/engine generates identical planes."""
    planes = []
    for p in range(num_planes):
        vec = []
        for j in range(dim):
            h = hashlib.sha256(f"plane:{p}:{j}".encode()).digest()
            (u,) = struct.unpack(">Q", h[:8])
            vec.append((u / 2**63) - 1.0)
        planes.append(vec)
    return planes


def lsh_bucketed_topk(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    num_tables: int = 8,
    bits_per_table: int = 4,
    dim: int = 64,
    *,
    probes: DataFrame,
    portable: bool = False,
) -> DataFrame:
    """Approximate top-k: multi-table random-hyperplane LSH.

    L = num_tables independent signatures of k' = bits_per_table sign
    bits each; a probe meets a candidate if they share a bucket in ANY
    table (per-table collision prob for angle θ is (1-θ/π)^k'; union
    over L tables gives high recall for close vectors while each table
    stays selective).  Candidates are scored inside the bucket join
    against the broadcast probe side, and a pair met in several tables
    collapses to one row.  Recall < 1 by construction — verified
    against the brute-force baseline in tests.

    ``portable=True`` computes the sign bits with sequential JVM
    ``aggregate`` folds over literal plane arrays instead of the numpy
    matmul — identical operation order to DuckDB's list_dot_product, so
    buckets (and therefore the whole result) are exactly
    oracle-checkable; projections are rounded to 1e-6 before the sign
    test (``>= 0``) on both engines.  The matmul path stays the scale
    default (one BLAS call per Arrow batch).  NOTE the two modes'
    bucket boundaries differ at proj ≈ 0 (portable: rounded ``>= 0``;
    numpy: strict ``> 0``) — results are mode-specific by contract
    (each mode carries its own oracle/verdict), and only projections
    within 5e-7 of zero can bucket differently."""
    planes = _plane_vectors(num_tables * bits_per_table, dim)

    if portable:
        bucket_cols = []
        for t in range(num_tables):
            bits = []
            for b in range(bits_per_table):
                plane = planes[t * bits_per_table + b]
                lit = f"array({', '.join(f'{x!r}D' for x in plane)})"
                proj = F.round(F.expr(_dot(vec_col, lit)), 6)
                bits.append(F.when(proj >= 0, F.lit(1 << b)).otherwise(F.lit(0)))
            bucket = bits[0]
            for extra in bits[1:]:
                bucket = bucket + extra
            # fail FAST on a dim mismatch: zip_with pads the shorter
            # array with nulls, every sign test would fall to bit 0 and
            # the bucket join would silently become the full N² cross
            # product (the numpy path fails naturally with a shape
            # error; this makes the portable path equally loud)
            bucket = bucket + F.expr(
                f"if(size({vec_col}) = {dim}, 0, "
                f"cast(raise_error('lsh_bucketed_topk: embedding dimension <> dim parameter') as int))"
            )
            bucket_cols.append(F.struct(F.lit(t).alias("table"), bucket.alias("bucket")))

        def mk_buckets(df: DataFrame) -> DataFrame:
            return df.select(
                F.col(id_col), F.col(vec_col), F.explode(F.array(*bucket_cols)).alias("tb")
            ).select(id_col, vec_col, "tb.table", "tb.bucket")
    else:
        from pyspark.sql.functions import pandas_udf

        plane_mat = np.array(planes).T  # dim × (tables*bits)
        powers = np.array([1 << b for b in range(bits_per_table)])

        @pandas_udf("array<int>")
        def table_buckets(vecs: pd.Series) -> pd.Series:
            # one matmul per Arrow batch: (rows × dim) @ (dim × tables*bits)
            m = np.vstack(vecs.to_numpy())
            bits = (m @ plane_mat) > 0  # rows × (tables*bits)
            per_table = bits.reshape(len(m), num_tables, bits_per_table) @ powers
            return pd.Series(list(per_table.astype(np.int32)))

        def mk_buckets(df: DataFrame) -> DataFrame:
            return df.select(
                F.col(id_col),
                F.col(vec_col),
                F.posexplode(table_buckets(F.col(vec_col))).alias("table", "bucket"),
            )

    # the corpus-side bucket projection (num_tables × bits dot-product
    # folds per row) and the in-bucket scoring above it are CPU-bound
    # and narrow: rebalance an under-split scan to full width first
    # (plan no-op at real scale — the spread_for_compute contract)
    # the bucket rows carry the vector (map-side projection — never
    # shuffled), so candidates are scored inside the bucket join with
    # the BROADCAST probe side; the corpus never shuffles, and the
    # cross-table pair dedup is a tiny (probe, neighbor) agg.  The norm
    # fold repeats per bucket row (×num_tables) — arithmetic, not I/O;
    # a bargain against any extra exchange.
    vb = with_norm(mk_buckets(spread_for_compute(emb, id_col)), vec_col)
    # probe side: restrict FIRST, then fold buckets over the probe rows
    # only — |probes| fold evaluations, not another corpus pass
    pa = with_norm(mk_buckets(_restrict_to_probes(emb, id_col, probes)), vec_col).select(
        F.col(id_col).alias("probe_id"),
        F.col("table"),
        F.col("bucket"),
        F.col(vec_col).alias("_pvec"),
        F.col("_norm").alias("_pnorm"),
    )
    score = F.expr(_cosine_sql(_dot("_pvec", vec_col), "_pnorm", "_norm"))
    deduped = (
        vb.join(F.broadcast(pa), on=["table", "bucket"])
        .filter(F.col("probe_id") != F.col(id_col))
        .select("probe_id", F.col(id_col).alias("neighbor_id"), score.alias("score"))
        .groupBy("probe_id", "neighbor_id")
        # every duplicate pair row carries the identical rounded score;
        # min is value-identical to first but DETERMINISTIC, so it never
        # blocks exchange-reuse canonicalization (the assign_clusters
        # max_by discipline)
        .agg(F.min("score").alias("score"))
    )
    return _rank_topk(deduped, k)
