"""Deduplication operators for training-data pipelines (north-star
extension; SURVEY.md §7.2 M6).

Five tiers, all shuffle-conscious:

- exact:   hash-groupBy on a content digest — only (digest, id) is
           shuffled, never the document bodies.
- minhash: shingle → k min-hashes → banded LSH → bucket self-join.
           Candidate generation never compares all pairs; the join key
           is (band_index, band_hash) so co-bucketed docs meet in one
           shuffle. This is the scale path for near-dedup at 100 TB.
- simhash: 64-bit sign-aggregated token-hash fingerprint; hamming-close
           fingerprints (``bit_count(a ^ b)``) = near-duplicates.
- exact n-gram Jaccard: inverted-index join on shingles (shared-shingle
           counting), exact similarity — the verification tier used to
           validate the approximate tiers (and the DuckDB oracle).
- spans / lines: exact-substring dedup at shingle granularity (Lee et
           al. 2022) and CCNet-style duplicated-line removal — one
           exchange keyed by the shingle (line), a complete-mode
           distinct-doc count and a join back; report, extract or cut.

Everything is built-in Column expressions (higher-order functions,
xxhash64) — zero Python UDFs.
"""

from __future__ import annotations

import hashlib
import struct

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from hadoop_3_3_6_spark.functions.text import (
    evaluate_once,
    let_sql,
    spread_for_compute,
    word_ngrams_sql,
    words_sql,
)

#: Modulus for the portable (cross-engine reproducible) hash ring.
#: Arithmetic stays under 2^60 so neither Spark (wrapping) nor DuckDB
#: (overflow-checked) BIGINT semantics are exercised — both compute the
#: identical value, which is what makes the minhash/simhash queries
#: exactly oracle-checkable instead of rows-only.
PORTABLE_MOD = 1_000_000_007


def portable_hash_expr(x: str) -> str:
    """60-bit hash of a string expression, identical in Spark and
    DuckDB: first 15 hex digits of md5, parsed as an integer.  Spark:
    ``conv(substr(md5(x),1,15),16,10)``; DuckDB:
    ``('0x'||substr(md5(x),1,15))::BIGINT``.  ~2× the cost of xxhash64
    (md5 + string slice) — the default fast path stays xxhash64; flip
    to portable only where cross-engine reproducibility is worth it
    (the oracle-checked queries use it; a 100 TB run would not)."""
    return f"cast(conv(substr(md5({x}),1,15),16,10) as bigint)"


def _token_hash(x: str, portable: bool) -> str:
    return portable_hash_expr(x) if portable else f"xxhash64({x})"


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup via content digest: per sha256(text) group keep the
    smallest id.  Returns (content_hash, keep_id, dup_count).  Only the
    32-byte digest + id cross the shuffle."""
    return (
        df.select(F.sha2(F.col(text_col), 256).alias("content_hash"), F.col(id_col))
        .groupBy("content_hash")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("dup_count"))
    )


def shingle_docs(df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3) -> DataFrame:
    """(id, shingles array) — distinct word n-grams per document.

    The word array is evaluated once behind the generator barrier
    (text.evaluate_once): without it the document is re-tokenized once
    per shingle — ~10× the work.  The input is spread_for_compute-
    rebalanced first: the shingle build is the CPU-heavy stage and
    otherwise runs inside however few splits the file layout yields
    (min-of-3 at sf0.1: minhash pairs 1.21→0.79s, n-gram jaccard
    4.34→1.17s; no-op at scale)."""
    words = evaluate_once(spread_for_compute(df, id_col), [id_col], ws=F.expr(words_sql(text_col)))
    return words.select(F.col(id_col), F.array_distinct(F.expr(word_ngrams_sql("ws", n))).alias("shingles"))


def minhash_coef(tag: str, p: int) -> int:
    """Deterministic affine-map coefficient on the PORTABLE_MOD ring
    (sha256-derived, like ``_coef`` but overflow-free): multiplier
    ``a`` in [1, P-1], offset ``b`` in [0, P-1].  Public so the oracle
    SQL can embed the identical constants."""
    h = hashlib.sha256(f"{tag}:{p}".encode()).digest()
    (u,) = struct.unpack(">Q", h[:8])
    return (u % (PORTABLE_MOD - 1)) + 1 if tag == "a" else u % PORTABLE_MOD


def _coef(tag: str, p: int) -> int:
    """Affine-map coefficient on the wrapping 64-bit ring: an odd
    multiplier (a bijection mod 2^64) or any offset."""
    h = hashlib.sha256(f"{tag}:{p}".encode()).digest()
    (u,) = struct.unpack(">q", h[:8])
    return u | 1 if tag == "a" else u


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_perm: int = 32,
    portable: bool = False,
) -> DataFrame:
    """MinHash signature per doc: permutation i is simulated by an
    affine map of one shingle hash; signature[i] = min over shingles.

    Plan shape: hash each word ONCE (behind the generator barrier, not
    once per shingle lane), combine the n word hashes of a shingle with
    one multiply-add chain (never materializing n-gram strings;
    distinct over int64s), explode, then simulate the permutations
    with affine maps h_p = a_p*h + b_p (universal hashing — one
    multiply-add per lane instead of a string concat + rehash) and
    take num_perm partial mins regrouped by id.  A single projection
    would tokenize the document num_perm times (CollapseProject
    inlines the shingle expression into every lane); this layout
    tokenizes once and ships one (id, num_perm mins) row per partition
    into the shuffle — the scale-correct form.

    The hash ring supplies the three things that differ: the word hash
    (xxhash64, or the md5-derived portable hash), the coefficients
    (``_coef`` or ``minhash_coef``) and the reduction (none on the
    wrapping 64-bit ring; every product reduced mod PORTABLE_MOD with
    ``portable=True``, so nothing overflows — DuckDB BIGINTs are
    overflow-checked).  The portable ring is bit-identical in DuckDB →
    exact oracle; its only extra cost is md5-vs-xxhash64 per word."""
    if portable:
        coef, mod = minhash_coef, lambda x: f"{x} % {PORTABLE_MOD}"
    else:
        coef, mod = _coef, lambda x: x
    whashes = f"transform({words_sql(text_col)}, w -> {mod(_token_hash('w', portable))})"
    combine = " + ".join(
        mod(f"element_at(hs, cast(i + {j} as int)) * {coef('g', j)}L") for j in range(n)
    )
    shingle_hashes = (
        f"case when size(hs) >= {n} then "
        f"array_distinct(transform(sequence(1, size(hs) - {n - 1}), i -> {mod(f'({combine})')})) "
        f"else array(cast(null as bigint)) end"
    )
    exploded = (
        evaluate_once(df, [id_col], hs=F.expr(whashes))
        .select(F.col(id_col), F.explode(F.expr(shingle_hashes)).alias("h"))
        .filter(F.col("h").isNotNull())
    )
    mins = [
        F.min(F.expr(mod(f"({coef('a', p)}L * h + {coef('b', p)}L)"))).alias(f"_m{p}")
        for p in range(num_perm)
    ]
    agged = exploded.groupBy(id_col).agg(*mins)
    return agged.select(
        F.col(id_col), F.array(*[F.col(f"_m{p}") for p in range(num_perm)]).alias("signature")
    )


def minhash_bands(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_perm: int = 32,
    bands: int = 8,
    portable: bool = False,
    sigs: DataFrame | None = None,
) -> DataFrame:
    """(id, band, band_hash) LSH band rows — the unit of both the
    self-join dedup (minhash_candidate_pairs) and the persistent corpus
    band INDEX (build_minhash_index / dedup_against_index): at scale
    you store these rows once per corpus and join each new batch
    against them instead of re-hashing the corpus per run.  Pass a
    precomputed ``sigs`` frame (from :func:`minhash_signatures`, same
    num_perm/portable) to band an existing signature table instead of
    re-deriving it from text."""
    if not (1 <= bands <= num_perm) or num_perm % bands != 0:
        raise ValueError(
            f"bands ({bands}) must divide num_perm ({num_perm}): "
            "a non-divisor silently drops signature lanes, and "
            "bands > num_perm makes every band key empty (full "
            "cross-product collision)"
        )
    rows = num_perm // bands
    if sigs is None:
        sigs = minhash_signatures(df, text_col, id_col, n, num_perm, portable=portable)
    if portable:
        band_key = lambda b: F.expr(f"slice(signature, {b * rows + 1}, {rows})").alias("band_hash")  # noqa: E731
    else:
        band_key = lambda b: F.xxhash64(F.expr(f"slice(signature, {b * rows + 1}, {rows})")).alias("band_hash")  # noqa: E731
    return sigs.select(
        F.col(id_col),
        F.explode(
            F.array(*[F.struct(F.lit(b).alias("band"), band_key(b)) for b in range(bands)])
        ).alias("bb"),
    ).select(id_col, "bb.band", "bb.band_hash")


def build_minhash_index(
    df: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_perm: int = 32,
    bands: int = 8,
    portable: bool = False,
) -> None:
    """Persist the corpus band index as parquet partitioned-friendly
    rows (id, band, band_hash) — hash the corpus ONCE; every future
    batch dedups by joining against this table (repartitioned by
    (band, band_hash) at write so batch joins co-locate)."""
    minhash_bands(df, text_col, id_col, n, num_perm, bands, portable=portable).repartition(
        "band", "band_hash"
    ).write.mode("overwrite").parquet(path)


def dedup_against_index(
    new_df: DataFrame,
    corpus_bands: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_perm: int = 32,
    bands: int = 8,
    portable: bool = False,
) -> DataFrame:
    """Incremental near-dedup: match a NEW batch against an existing
    corpus band index (from ``minhash_bands`` live or
    ``build_minhash_index`` parquet).  Returns distinct
    (new_id, corpus_id) collision pairs; new docs absent from the
    result are novel.  The only shuffle is the (band, band_hash) equi
    join — corpus is never re-hashed, batch side is typically small
    enough to broadcast.  This is the production shape: dedup a crawl
    increment against 100 TB of history at batch cost, not corpus
    cost."""
    batch = minhash_bands(new_df, text_col, id_col, n, num_perm, bands, portable=portable)
    a = batch.alias("a")
    b = corpus_bands.alias("b")
    return (
        a.join(
            b,
            on=[
                F.col("a.band") == F.col("b.band"),
                F.col("a.band_hash") == F.col("b.band_hash"),
            ],
        )
        .select(F.col(f"a.{id_col}").alias("new_id"), F.col(f"b.{id_col}").alias("corpus_id"))
        .distinct()
    )


def _band_self_join(banded: DataFrame, id_col: str) -> DataFrame:
    """Distinct candidate pairs (id_a < id_b) of docs that share a
    (band, band_hash) bucket — the one shuffle of banded LSH."""
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            on=[
                F.col("a.band") == F.col("b.band"),
                F.col("a.band_hash") == F.col("b.band_hash"),
                F.col(f"a.{id_col}") < F.col(f"b.{id_col}"),
            ],
        )
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )


def minhash_candidate_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_perm: int = 32,
    bands: int = 8,
    portable: bool = False,
) -> DataFrame:
    """Banded LSH: split the signature into ``bands`` bands of
    ``num_perm/bands`` rows, hash each band, self-join on
    (band, band_hash).  Docs agreeing on any band become a candidate
    pair (id_a < id_b, distinct).  The only shuffle is the bucket join
    on the band hash — never an all-pairs comparison.

    ``portable=True``: portable signatures (see minhash_signatures) and
    the band's value array itself as the join key (array equality —
    collision-free, and reproducible in the DuckDB oracle) instead of
    an xxhash64 of the slice."""
    return _band_self_join(
        minhash_bands(df, text_col, id_col, n, num_perm, bands, portable=portable), id_col
    )


def minhash_verify_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_perm: int = 32,
    bands: int = 8,
    est_threshold: float = 0.5,
    portable: bool = False,
) -> DataFrame:
    """The VERIFY stage of MinHash dedup: banded candidates, then the
    signature-level Jaccard ESTIMATE (fraction of equal lanes) and a
    threshold — the standard second stage between candidate generation
    and the keep decision (banding over-generates by design: any one
    agreeing band admits a pair, so a verify pass re-scores candidates
    against the full signature before the expensive exact-text compare
    or the drop decision).  est_jaccard = |equal lanes| / num_perm is
    an unbiased estimator of true Jaccard with sd ~ 1/sqrt(num_perm).

    Plan shape: ONE signature aggregate feeds both the band self-join
    (candidate generation) and the two verify-side lookups, so the
    verify join is signature-row-sized — never a text re-scan.  The
    estimate is a multiple of 1/num_perm (exactly representable for
    power-of-two num_perm), so the portable mode is bit-exact in the
    DuckDB oracle, threshold included.  At 100 TB the signatures are
    the persisted artifact (build_minhash_index keeps the band rows;
    persist ``minhash_signatures`` alongside to verify at batch cost).
    """
    sigs = minhash_signatures(df, text_col, id_col, n, num_perm, portable=portable)
    cands = _band_self_join(
        minhash_bands(df, text_col, id_col, n, num_perm, bands, portable=portable, sigs=sigs), id_col
    )
    sa = sigs.select(F.col(id_col).alias("id_a"), F.col("signature").alias("_sa"))
    sb = sigs.select(F.col(id_col).alias("id_b"), F.col("signature").alias("_sb"))
    est = F.expr(
        f"size(filter(zip_with(_sa, _sb, (x, y) -> x = y), v -> v)) / cast({num_perm} as double)"
    )
    return (
        cands.join(sa, on="id_a")
        .join(sb, on="id_b")
        .select("id_a", "id_b", est.alias("est_jaccard"))
        .filter(F.col("est_jaccard") >= est_threshold)
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.2,
) -> DataFrame:
    """Exact n-gram Jaccard similarity via inverted-index join: explode
    distinct shingles, join docs sharing a shingle, count shared
    shingles per pair, Jaccard = shared / (|A| + |B| - shared).

    The self-join's pair fan-out is quadratic in a shingle's document
    count, so this is the verification tier: at scale it runs on
    candidate pairs or samples, not a whole corpus.
    """
    sh = shingle_docs(df, text_col, id_col, n).select(
        F.col(id_col), F.size("shingles").alias("n_shingles"), F.explode("shingles").alias("shingle")
    )
    a = sh.alias("a")
    b = sh.alias("b")
    pairs = (
        a.join(b, on=[F.col("a.shingle") == F.col("b.shingle"), F.col(f"a.{id_col}") < F.col(f"b.{id_col}")])
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a.n_shingles").alias("na"),
            F.col("b.n_shingles").alias("nb"),
        )
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    jaccard = F.col("shared").cast("double") / (F.col("na") + F.col("nb") - F.col("shared")).cast("double")
    return pairs.select("id_a", "id_b", jaccard.alias("jaccard")).filter(F.col("jaccard") >= threshold)


def duplicated_span_fraction(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """Corpus-level duplicated-span marking (the shingle-granularity
    form of exact substring dedup, Lee et al. 2022 'Deduplicating
    Training Data Makes Language Models Better'): for every document,
    the fraction of its word n-gram *instances* whose n-gram also
    occurs in at least one OTHER document.  High fraction = the doc is
    mostly made of text duplicated elsewhere in the corpus — the
    per-doc signal a span-dedup pass thresholds on.

    Shape: inverted index, never all-pairs — explode instances,
    repartition them by shingle, count distinct docs per shingle
    (complete-mode over the pre-partitioned stream), join back on
    shingle, re-aggregate per doc.  Only (shingle, id) rows shuffle,
    once: both consumers of the shingle exchange share one shuffle
    stage (ReusedExchange, plan-asserted).  Every duplicated shingle
    counts, however hot: the join-back has no fan-out (one row per
    shingle) and AQE splits its skew — cutting hot shingles would
    report ~0.0 for exactly the boilerplate-heavy docs the signal
    exists to flag.
    """
    df = spread_for_compute(df, id_col)
    grams = let_sql(words_sql(text_col), "ws", word_ngrams_sql("ws", n))
    # null ids are dropped once, before the instances branch: the
    # trailing left join onto ``df`` infers isnotnull(id) into per_doc,
    # and were it left to that, only one consumer of the shingle
    # exchange would carry the filter and the two would not be reused.
    # Output is unchanged: countDistinct skips null ids, and a null id
    # never matches the left join.
    inst = df.select(F.col(id_col), F.explode(F.expr(grams)).alias("shingle")).filter(
        F.col(id_col).isNotNull()
    )
    # repartition by shingle FIRST so the countDistinct runs
    # COMPLETE-mode on the pre-partitioned stream (one exchange, no
    # distinct-expand double shuffle) with constant per-key memory,
    # and the probe join stays AQE-skew-splittable
    ex = inst.repartition("shingle")
    docs_per = ex.groupBy("shingle").agg(F.countDistinct(id_col).alias("n_docs"))
    flagged = ex.join(docs_per, "shingle").withColumn("_dup", F.col("n_docs") >= 2)
    per_doc = flagged.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("total_shingles"),
        F.sum(F.when(F.col("_dup"), 1).otherwise(0)).alias("dup_shingles"),
    )
    return (
        df.select(F.col(id_col))
        .join(per_doc, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("total_shingles", F.lit(0)).alias("total_shingles"),
            F.coalesce("dup_shingles", F.lit(0)).alias("dup_shingles"),
            F.when(
                F.coalesce("total_shingles", F.lit(0)) > 0,
                F.round(
                    F.col("dup_shingles").cast("double") / F.col("total_shingles").cast("double"), 6
                ),
            )
            .otherwise(F.lit(0.0))
            .alias("dup_span_fraction"),
        )
    )


def duplicated_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """Duplicated-span EXTRACTION (the actionable form of
    ``duplicated_span_fraction``): contiguous token runs whose every
    n-gram also occurs in another document, merged via gaps-and-islands
    — the spans an exact-substring dedup pass would actually cut out of
    the training corpus (Lee et al. 2022 semantics at shingle
    granularity).  Output: (id, run_start, run_end, run_tokens) in
    0-based token offsets, run_end inclusive.

    Shape: positional explode → ONE exchange keyed by shingle, read by
    both the complete-mode per-shingle countDistinct and the probe
    join (ReusedExchange, plan-asserted; the join is
    AQE-skew-splittable) → per-document islands window.  Every
    duplicated shingle marks its positions, however hot: the probe
    join has no fan-out (one dup row per shingle), and cutting hot
    shingles would erase the most-duplicated spans — the canonical
    boilerplate the Lee et al. pass exists to find."""
    df = spread_for_compute(df, id_col)
    grams = let_sql(words_sql(text_col), "ws", word_ngrams_sql("ws", n))
    inst = df.select(F.col(id_col), F.posexplode(F.expr(grams)).alias("pos", "shingle"))
    # repartition by shingle first: the countDistinct then runs
    # COMPLETE-mode on the pre-partitioned stream (one exchange, no
    # distinct-expand double shuffle) with constant per-key memory.
    # max(pos) + the always-true filter is the exchange-REUSE PIN: it
    # keeps the partial-distinct rewrite from mutating the agg side's
    # exchange subtree, so both consumers share ONE shuffle stage and
    # the corpus is scanned/tokenized/exploded exactly once — measured
    # ~1.3x on top of the ~1.7x the complete-mode form already gave.
    ex = inst.repartition("shingle")
    docs_per = ex.groupBy("shingle").agg(
        F.countDistinct(id_col).alias("n_docs"), F.max("pos").alias("_mp")
    )
    dup = docs_per.filter((F.col("n_docs") >= 2) & (F.col("_mp") >= 0))
    marked = ex.join(dup.select("shingle"), "shingle").select(id_col, "pos")
    w = Window.partitionBy(id_col).orderBy("pos")
    runs = (
        marked.withColumn("_grp", F.col("pos") - F.row_number().over(w))
        .groupBy(id_col, "_grp")
        .agg(F.min("pos").alias("run_start"), F.max("pos").alias("_last"))
        .select(
            F.col(id_col),
            "run_start",
            (F.col("_last") + n - 1).alias("run_end"),
            (F.col("_last") + n - F.col("run_start")).alias("run_tokens"),
        )
    )
    return runs


def apply_span_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """APPLY the span-dedup cut — the step that closes the
    ``duplicated_spans`` loop the way ``compact_files`` closes
    ``storage_file_profile``: rewrite every document with its
    corpus-duplicated token runs REMOVED, which is the actual output
    of Lee et al. 2022's exact-substring deduplication pass (the
    operator a pretraining pipeline runs, not just the report).

    Output: (id, clean_text, kept_tokens, cut_tokens) — clean_text is
    the surviving words re-joined with single spaces ('' when the doc
    is entirely duplicated or empty), and kept + cut always equals the
    document's word count (the runs are disjoint merged islands, so
    cut_tokens also equals the sum of the doc's run_tokens).

    Shape: the span table comes from :func:`duplicated_spans`
    (inverted index — only (shingle, id, pos) rows shuffle); each
    doc's few runs fold to ONE array via collect_list and join back on
    the id (id-sized exchange), and the rewrite is a per-row HOF
    filter over word positions — O(words · runs_per_doc), no UDF, no
    second corpus shuffle.  At 100 TB the corpus text
    moves through exactly one narrow projection."""
    # null ids are dropped from the span input only, never from the
    # ``df`` the left join below keeps: see duplicated_span_fraction
    # (its shingle exchange is reused only if both consumers carry the
    # filter the left join infers)
    runs = duplicated_spans(df.filter(F.col(id_col).isNotNull()), text_col, id_col, n=n)
    per_doc = runs.groupBy(id_col).agg(
        F.collect_list(F.struct("run_start", "run_end")).alias("_runs")
    )
    words = words_sql(text_col)
    kept = (
        f"transform(filter(transform({words}, (w, i) -> struct(w AS w, i AS i)), "
        f"s -> not exists(_runs, r -> s.i >= r.run_start and s.i <= r.run_end)), "
        f"s -> s.w)"
    )
    empty_runs = "cast(array() as array<struct<run_start:int,run_end:int>>)"
    # the kept-words array is consumed three times (join/size/size),
    # so it is evaluated once behind the generator barrier instead of
    # re-deriving the filter chain per reference
    staged = evaluate_once(
        df.join(per_doc, id_col, "left").withColumn(
            "_runs", F.coalesce(F.col("_runs"), F.expr(empty_runs))
        ),
        [id_col],
        _nw=F.expr(f"size({words})"),
        _kept=F.expr(kept),
    )
    return staged.select(
        F.col(id_col),
        F.array_join(F.col("_kept"), " ").alias("clean_text"),
        F.size("_kept").cast("bigint").alias("kept_tokens"),
        (F.col("_nw") - F.size("_kept")).cast("bigint").alias("cut_tokens"),
    )


def remove_duplicate_lines(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_df: int = 2,
) -> DataFrame:
    """Corpus-level duplicated-LINE removal — the first dedup stage of
    the CCNet / RefinedWeb recipes (line-wise deduplication before any
    document-level pass): a non-empty line whose exact text appears in
    at least ``min_df`` DISTINCT documents is boilerplate (navigation,
    cookie banners, copyright footers) and is removed from EVERY
    document; whitespace-only lines are document structure and always
    survive.  Complements :func:`apply_span_dedup` (n-gram spans) at
    line granularity — the pair covers both Lee et al. substring dedup
    and the production line-dedup stage.

    Output: (id, clean_text, kept_lines, cut_lines) — surviving lines
    re-joined with newlines in original order; kept + cut equals the
    document's split('\\n') line count.

    Shape: positional line explode → ONE exchange keyed by line text
    for the distinct-doc count (repartition-first, so the count runs
    complete-mode with constant per-key memory — the duplicated_spans
    skew discipline: the HOT lines are exactly the boilerplate this
    operator exists to find), the ≥min_df line set equi-joins back
    (AQE-skew-splittable; its fanout IS the answer), and the rewrite
    is one per-doc position-sorted reassembly.  At 100 TB: lines
    shuffle once for the count, the reassembly moves each document
    once — both unavoidable for a corpus rewrite, and nothing hotter
    than a line's own duplication count ever concentrates."""
    df = spread_for_compute(df, id_col)
    inst = df.select(
        F.col(id_col), F.posexplode(F.expr(f"split({text_col}, '\\n')")).alias("pos", "l")
    )
    hot = (
        inst.filter(F.expr("trim(l) <> ''"))
        .repartition("l")
        .groupBy("l")
        .agg(F.countDistinct(id_col).alias("_nd"))
        .filter(F.col("_nd") >= min_df)
        .select("l", F.lit(True).alias("_hot"))
    )
    kept = inst.join(hot, "l", "left").filter(
        F.expr("trim(l) = ''") | F.col("_hot").isNull()
    )
    per_doc = kept.groupBy(id_col).agg(
        F.expr(
            "array_join(transform(array_sort(collect_list(struct(pos, l))), s -> s.l), '\\n')"
        ).alias("clean_text"),
        F.count(F.lit(1)).alias("kept_lines"),
    )
    totals = df.select(
        F.col(id_col), F.expr(f"size(split({text_col}, '\\n'))").alias("_nl")
    )
    return (
        totals.join(per_doc, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            F.coalesce("kept_lines", F.lit(0)).cast("bigint").alias("kept_lines"),
            (F.col("_nl") - F.coalesce("kept_lines", F.lit(0)))
            .cast("bigint")
            .alias("cut_lines"),
        )
    )


def simhash(df: DataFrame, text_col: str = "text", id_col: str = "doc_id", portable: bool = False) -> DataFrame:
    """64-bit SimHash: per token hash, each bit contributes +1/-1 to a
     64-lane counter; fingerprint bit i = sign of lane i.  One aggregate
    fold per document (JVM higher-order functions), no shuffle.

    ``portable=True`` uses the md5-derived 60-bit token hash (exact
    DuckDB oracle); lanes 60-63 then never go positive, so the
    fingerprint effectively has 60 informative bits."""
    df = spread_for_compute(df, id_col)
    lanes = (
        f"aggregate(transform({words_sql(text_col)}, w -> {_token_hash('w', portable)}), "
        f"array_repeat(cast(0 as bigint), 64), "
        f"(acc, h) -> zip_with(acc, sequence(0, 63), "
        f"(a, i) -> a + case when (shiftright(h, cast(i as int)) & 1) = 1 then 1 else -1 end))"
    )
    fp = (
        f"aggregate(zip_with({lanes}, sequence(0, 63), (lane, i) -> "
        f"case when lane > 0 then shiftleft(cast(1 as bigint), cast(i as int)) else cast(0 as bigint) end), "
        f"cast(0 as bigint), (acc, x) -> acc + x)"
    )
    return df.select(F.col(id_col), F.expr(fp).alias("simhash"))


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    vertices: DataFrame | None = None,
    id_col: str = "doc_id",
    max_iter: int = 50,
) -> DataFrame:
    """Connected components over an undirected pair graph — the step
    that turns near-dup candidate PAIRS into duplicate CLUSTERS (pick
    one representative per cluster to keep; everything else drops).

    Iterative min-label propagation: every vertex starts labeled with
    itself; each round every vertex takes the min label among itself
    and its neighbors; fixpoint = per-component min id.  Converges in
    O(component diameter) rounds — dedup components are near-cliques
    (band buckets connect most members directly), so 2-4 rounds in
    practice.  Per round: one hash shuffle of (dst, label) for the
    neighbor-min join + one convergence count.  ``localCheckpoint``
    truncates the lineage each round so the plan doesn't grow with the
    iteration count (at cluster scale, swap for reliable
    ``checkpoint`` on a DFS dir — same call shape).

    The reference has no graph operator — its users chained MR jobs
    for exactly this loop (the chained-jobs idiom, SURVEY §2.11); the
    driver contract checks it against a recursive-CTE oracle.

    Returns (id, cluster_id)."""
    sym = (
        edges.select(F.col(src).alias("e_src"), F.col(dst).alias("e_dst"))
        .unionAll(edges.select(F.col(dst).alias("e_src"), F.col(src).alias("e_dst")))
        .localCheckpoint()  # reused every round: materialize once
    )
    if vertices is None:
        verts = sym.select(F.col("e_src").alias("id")).distinct()
    else:
        verts = vertices.select(F.col(id_col).alias("id")).distinct()
    labels = verts.select("id", F.col("id").alias("label")).localCheckpoint()
    converged = False
    for _ in range(max_iter):
        nbr = (
            sym.join(labels, sym["e_dst"] == labels["id"])
            .groupBy("e_src")
            .agg(F.min("label").alias("nbr_label"))
        )
        new_labels = (
            labels.join(nbr, labels["id"] == nbr["e_src"], "left")
            .select(
                labels["id"],
                F.least(labels["label"], F.coalesce(nbr["nbr_label"], labels["label"])).alias("label"),
            )
            .localCheckpoint()
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .filter(F.col("n.label") < F.col("o.label"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            converged = True
            break
    if not converged:
        # a silent exit here would report one duplicate cluster as
        # several (intermediate labels) with nothing signalling it —
        # a chain of >max_iter near-dup docs needs ~chain-length rounds
        raise RuntimeError(
            f"connected_components did not converge in max_iter={max_iter} "
            "rounds (a duplicate chain longer than the bound?); raise "
            "max_iter or pre-collapse chains with a coarser blocking"
        )
    return labels.select(F.col("id"), F.col("label").alias("cluster_id"))
