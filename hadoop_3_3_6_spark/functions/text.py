"""Text-analysis functions for large-scale training-data pipelines
(north-star extension; SURVEY.md §7.2 M6).

The reference's scalar surface is user Java inside ``map()``
(e.g. tokenization MRX/WordCount.java:36-50); here every function is a
pure-Column expression built from ``pyspark.sql.functions`` so it stays
inside whole-stage codegen — no Python in the hot path.  All outputs
are deterministic integer/exact-ratio arithmetic so a SQL oracle can
reproduce them bit-for-bit.
"""

from __future__ import annotations

import re
from collections.abc import Iterable

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Tiny English stopword list used by the n-gram-free language-ID
# heuristic and the quality score.  Deliberately small and fixed so the
# DuckDB oracle can inline the same list.
EN_STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "on", "for", "with"]

# BPE-ish tokenizer: words, single digits, or single non-space symbols —
# a regex approximation of byte-pair-encoding pre-tokenization.
BPE_ISH_PATTERN = "[a-zA-Z]+|[0-9]|[^a-zA-Z0-9 ]"

FINGERPRINT_MOD = 1_000_000_007


# Higher-order functions are interpreted with NO common-subexpression
# elimination, and CollapseProject inlines a projected column's defining
# expression into every downstream reference, lambda bodies included.
# So a word array referenced inside a lambda must already be evaluated
# (an attribute behind ``evaluate_once`` or a variable bound by
# ``let_sql``); an inlined word rule re-splits the text once per array
# element, O(words²) per document.  tests/test_plans.py's lambda lint
# fails any registered query that does this.


def words_sql(text_col: str) -> str:
    """The word rule as SQL text: ' '-split tokens with empties removed
    (StringTokenizer semantics)."""
    return f"filter(split({text_col}, ' '), w -> w <> '')"


def _words(text_col: str) -> Column:
    return F.expr(words_sql(text_col))


def lines_sql(text_col: str) -> str:
    """The line rule as SQL text: newline-split lines with blank lines
    removed.  split's pattern argument is a regex in Spark: the
    two-char escape '\\n' compiles to the newline class, matching the
    oracle's chr(10)."""
    return f"filter(split({text_col}, '\\n'), l -> trim(l) <> '')"


def array_sql(elems: Iterable[str]) -> str:
    """A SQL array literal of already-rendered element texts."""
    return f"array({', '.join(elems)})"


def stopword_hits_sql(words: str, stops: Iterable[str]) -> str:
    """How many elements of ``words`` (a word-array expression) are in
    the fixed word list ``stops``: the stopword-ratio numerator."""
    stop_arr = array_sql(f"'{s}'" for s in stops)
    return f"size(filter({words}, w -> array_contains({stop_arr}, w)))"


def _ratio_or_zero(num: Column, den: Column) -> Column:
    """num / den as a double; 0.0 when den is not positive (an empty
    document or one with no lines)."""
    return F.when(den > 0, num.cast("double") / den.cast("double")).otherwise(F.lit(0.0))


def _sorted_runs_sql(ss: str) -> str:
    """The run array of ``ss``, an already-evaluated SORTED array: one
    struct(g, eq) per element, eq true when the element equals its
    predecessor.  Equal neighbors extend a run, so a fold over it
    enumerates the distinct values with their counts.  The predecessor
    array [''] ++ ss is sliced to EXACTLY size(ss) elements: zip_with
    pads the shorter side with nulls, so an unsliced sentinel array
    would give an empty array one phantom element (the <n-word document
    edge, pinned in test_repetition_top_ngram_counts)."""
    return (
        f"zip_with({ss}, slice(concat(array(''), {ss}), 1, size({ss})), "
        "(c, p) -> struct(c AS g, c = p AS eq))"
    )


def word_ngrams_sql(words: str, n: int) -> str:
    """Word n-grams (``n`` consecutive words joined by one space, in
    document order; empty below ``n`` words) of ``words``, an
    already-evaluated word array: an attribute or a lambda variable."""
    return (
        f"case when size({words}) >= {n} then "
        f"transform(sequence(1, size({words}) - {n - 1}), "
        f"i -> array_join(slice({words}, i, {n}), ' ')) "
        f"else array() end"
    )


def let_sql(value: str, var: str, body: str) -> str:
    """``body`` with lambda variable ``var`` bound to ``value``: a
    one-element transform, so ``value`` is evaluated once per row
    however many times ``body`` (lambdas included) reads ``var``."""
    return f"element_at(transform(array({value}), {var} -> {body}), 1)"


def evaluate_once(df: DataFrame, keep: list[str], **computed: Column) -> DataFrame:
    """The generator barrier: ``keep`` columns plus each ``computed``
    column, evaluated once per row behind a one-element
    explode(array(struct(...))).  Downstream operators read the results
    as plain attributes: CollapseProject cannot inline their defining
    expressions through the generator.  Use it where a value feeds a
    lambda body or a fan-out join (the PQ codes ahead of the IVF-PQ
    candidate join: inlined, the encode ran once per candidate)."""
    staged = df.select(
        *keep, F.explode(F.array(F.struct(*[c.alias(n) for n, c in computed.items()]))).alias("_m")
    )
    return staged.select(*keep, *[F.col(f"_m.{n}").alias(n) for n in computed])


_SPREAD_MEMO: dict[tuple, bool] = {}


def spread_for_compute(df: DataFrame, key_col: str | None = None) -> DataFrame:
    """Rebalance a scan feeding a CPU-BOUND narrow stage: when the file
    layout yields fewer input splits than the session's parallelism,
    hash-repartition up to it on ``key_col`` (default: the first
    column, the document id in every caller); otherwise pass through
    untouched.

    Per-row text analysis is compute-bound, not IO-bound — a 1 MB
    document file can carry seconds of HOF work, but Spark sizes scan
    splits by BYTES (maxPartitionBytes), so a small/few-file corpus
    lands on one task and serializes the whole stage (measured:
    text_repetition_topgram 7.9s -> sub-second at sf0.1, whose
    documents table is a single 594 KB file = one split).  At 100 TB
    the scan already yields thousands of splits, the condition is
    false, and this is a plan no-op — the shuffle only ever moves a
    corpus that is small in bytes.  HASH partitioning on the unique id
    (not round-robin) matters: deterministic round-robin locally sorts
    EVERY column first, which re-serializes the full text per row.
    The partition-count probe builds the RDD plan but launches no job
    (construction-laziness gate-checked with every other query); the
    decision is memoized per (session, semantic plan, parallelism) so
    the 13+ call sites — some composed, some rebuilt per bench rep —
    pay the physical-planning probe once per distinct shape
    (round-5 ADVICE item).  The session component of the key is the
    applicationId — stable and unique per SparkContext — never id():
    CPython reuses addresses after a stopped session is collected, so
    an id()-keyed entry from a dead session could silently skip the
    spread in a new one and re-serialize the CPU stage on ~1 task
    (round-6 ADVICE item)."""
    if needs_spread(df):
        target = df.sparkSession.sparkContext.defaultParallelism
        return df.repartition(target, F.col(key_col or df.columns[0]))
    return df


def spread_for_python(df: DataFrame, key_col: str | None = None) -> DataFrame:
    """``spread_for_compute`` variant for JVM↔Python (mapInPandas /
    mapInArrow) stages: same under-split gate, HALF the session
    parallelism as the target (floor 2).

    Rationale: every Python operator in a task runs its own worker
    process, so a chain of two mapInPandas stages at full width spawns
    2×cores workers, each paying fork + numpy/pandas init before its
    first batch — and the under-split gate only fires on corpora small
    enough that per-worker startup rivals the per-row work.  Measured
    on the 5000-doc sf0.1 fixture (chained render→dhash): 1.20 s at 1
    task, 0.55 s at 8, 0.49 s at 16, 2.81 s at 32 — the spawn storm
    dominates past half width.  At real scale the scan yields enough
    splits, the gate is false, and this is a plan no-op (the
    spread_for_compute contract)."""
    if needs_spread(df):
        target = max(2, df.sparkSession.sparkContext.defaultParallelism // 2)
        return df.repartition(target, F.col(key_col or df.columns[0]))
    return df


def needs_spread(df: DataFrame) -> bool:
    """The memoized under-split probe behind spread_for_compute.
    True iff the frame's pre-AQE partition count is below the session
    parallelism; at real scale the scan yields enough splits and the
    spread gated on this is a plan no-op.  (The IVF-PQ pair family's
    post-aggregation REPARTITION_BY_NUM is deliberately NOT gated on
    this signal: that exchange doubles as the pair join's own
    co-partitioning shuffle, so it must exist at every scale —
    similarity._spread_for_pair_join.)"""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    try:
        memo_key = (sc.applicationId, df.semanticHash(), target)
    except Exception:  # semanticHash unavailable (e.g. connect-mode frame)
        memo_key = None
    if memo_key is not None and memo_key in _SPREAD_MEMO:
        return _SPREAD_MEMO[memo_key]
    need = df.rdd.getNumPartitions() < target
    if memo_key is not None:
        if len(_SPREAD_MEMO) > 4096:
            _SPREAD_MEMO.clear()
        _SPREAD_MEMO[memo_key] = need
    return need


def token_counts(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-document token counts: whitespace tokens and BPE-ish regex
    tokens.  Both are JVM-side (split / regexp_extract_all)."""
    df = spread_for_compute(df)
    return df.select(
        F.col(id_col),
        F.size(_words(text_col)).alias("ws_tokens"),
        F.size(F.expr(f"regexp_extract_all({text_col}, '{BPE_ISH_PATTERN}', 0)")).alias("bpe_tokens"),
    )


def _stopword_ratios(
    df: DataFrame, text_col: str, id_col: str, stops_by_lang: dict[str, Iterable[str]]
) -> tuple[DataFrame, dict[str, Column]]:
    """``df`` reduced to ``id_col`` and ``_sw``, the per-row word count
    ``n`` and one stopword-hit count per language, all read from one
    let-bound word array (one split per row); plus each language's
    stopword ratio over those fields."""
    hits = "".join(f", '{lang}', {stopword_hits_sql('ws', stops)}" for lang, stops in stops_by_lang.items())
    counted = spread_for_compute(df).select(
        F.col(id_col), F.expr(let_sql(words_sql(text_col), "ws", f"named_struct('n', size(ws){hits})")).alias("_sw")
    )
    return counted, {lang: _ratio_or_zero(F.col(f"_sw.{lang}"), F.col("_sw.n")) for lang in stops_by_lang}


def language_id(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", threshold: float = 0.05
) -> DataFrame:
    """Stopword-ratio language ID: fraction of tokens that are English
    stopwords; >= threshold → 'en' else 'unk'.  (The reference has no
    NLP surface; this is the training-pipeline heuristic analogue.)"""
    counted, ratios = _stopword_ratios(df, text_col, id_col, {"en": EN_STOPWORDS})
    ratio = ratios["en"]
    return counted.select(
        F.col(id_col),
        ratio.alias("stopword_ratio"),
        F.when(ratio >= threshold, F.lit("en")).otherwise(F.lit("unk")).alias("pred_lang"),
    )


# Small fixed per-language stopword lists (like EN_STOPWORDS, kept tiny
# and inline-able so the DuckDB oracle can reproduce the decision).
LANG_STOPWORDS = {
    "en": EN_STOPWORDS,
    "de": ["der", "die", "das", "und", "ist", "nicht", "mit", "ein", "zu", "den"],
    "fr": ["le", "la", "les", "et", "est", "un", "une", "des", "du", "pas"],
}


def language_id_multi(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", threshold: float = 0.05
) -> DataFrame:
    """Multi-language stopword-ratio language ID: one ratio per
    candidate language, prediction = argmax ratio if it clears the
    threshold else 'unk' (ties break in en > de > fr declaration
    order via strict comparisons).  Pure column expressions — the
    n-language generalization of ``language_id``."""
    counted, ratios = _stopword_ratios(df, text_col, id_col, LANG_STOPWORDS)
    langs = list(LANG_STOPWORDS)
    best = None
    for lang in langs:
        cond = ratios[lang] >= threshold
        for other in langs:
            if other == lang:
                continue
            op = ratios[lang] >= ratios[other] if langs.index(other) > langs.index(lang) else ratios[lang] > ratios[other]
            cond = cond & op
        best = F.when(cond, F.lit(lang)) if best is None else best.when(cond, F.lit(lang))
    pred = best.otherwise(F.lit("unk"))
    return counted.select(
        F.col(id_col),
        *[F.round(ratios[lang], 6).alias(f"ratio_{lang}") for lang in langs],
        pred.alias("pred_lang"),
    )


def normalize_text(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Canonical text normalization for dedup/tokenization pipelines:
    lowercase, non-alphanumerics → space, whitespace collapsed, ends
    trimmed.  Normalizing before hashing/shingling is what makes
    near-dup detection robust to case/punctuation noise; three
    regexp_replace passes, shuffle-free."""
    df = spread_for_compute(df)
    norm = f"trim(regexp_replace(regexp_replace(lower({text_col}), '[^a-z0-9 ]', ' '), ' +', ' '))"
    return df.select(
        F.col(id_col),
        F.expr(norm).alias("norm_text"),
        F.size(_words(norm)).alias("n_tokens"),
    )


def quality_score(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Document quality signals: char/word counts, mean word length,
    alpha-char ratio — the classic pre-training filter features.  All
    integer counts + one exact division each, so oracle-reproducible."""
    df = spread_for_compute(df)
    words = _words(text_col)
    n_chars = F.length(F.col(text_col))
    n_words = F.size(words)
    alpha_chars = F.length(F.regexp_replace(F.col(text_col), "[^a-zA-Z]", ""))
    return df.select(
        F.col(id_col),
        n_chars.alias("n_chars"),
        n_words.alias("n_words"),
        _ratio_or_zero(n_chars - n_words + 1, n_words).alias("mean_word_len"),
        _ratio_or_zero(alpha_chars, n_chars).alias("alpha_ratio"),
    )


def tf_idf(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """TF-IDF term scores: tf = in-doc occurrences, idf = ln(N/df).
    Three hash aggregates (term-in-doc counts, doc frequency, doc
    count), one broadcastable join — no MLlib, no UDFs, fully
    SQL-oracle-reproducible.  Returns (id, term, tf, score).

    Scale note: the dfreq branch re-executes the tokenize+tf subtree
    (Spark re-runs reused DataFrame subtrees).  A window-by-term count
    would be single-scan but skew-unsafe — stopword terms appear in
    nearly every document and a window has no partial aggregation, so
    one partition would receive |docs| rows.  At 100 TB the right play
    is the reference's own chained-job idiom: materialize tf (persist
    or intermediate parquet) and run both consumers off it; at bench
    scale the re-tokenize is cheaper than the spill, so this stays a
    pure plan.  The doc-count N stays IN the plan as a broadcast
    1-row cross join (a column-pruned scan of the id column only:
    footer-counted parquet, near-free) — no driver action, so tf_idf
    composes into larger plans without splitting them."""
    words = df.select(F.col(id_col), F.explode(_words(text_col)).alias("term"))
    tf = words.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = df.select(F.countDistinct(id_col).cast("double").alias("_n_docs"))
    return (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            F.col(id_col),
            "term",
            "tf",
            (F.col("tf") * F.log(F.col("_n_docs") / F.col("df"))).alias("score"),
        )
    )


def doc_fingerprint(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Rolling-hash document fingerprint: polynomial fold over the word
    stream, ``acc = (acc*31 + len(w)*131 + ascii(w[0])) % 1e9+7``.
    Exact 64-bit-safe integer arithmetic (max intermediate < 2^63), so
    identical in any engine; computed with F.aggregate — one JVM-side
    fold, no shuffle, no UDF."""
    df = spread_for_compute(df)
    expr = (
        f"aggregate({words_sql(text_col)}, cast(0 as bigint), "
        f"(acc, w) -> pmod(acc * 31 + length(w) * 131 + ascii(substring(w, 1, 1)), {FINGERPRINT_MOD}))"
    )
    return df.select(F.col(id_col), F.expr(expr).alias("fingerprint"))


def canonicalize_urls(
    df: DataFrame, url_col: str = "url", out_col: str = "canonical_url"
) -> DataFrame:
    """Web-crawl URL canonicalization (RFC 3986 §6 normalization plus
    the crawl-dedup conventions) — the URL-level dedup key the
    published recipes compute BEFORE any content dedup (RefinedWeb's
    URL deduplication stage; CCNet's per-shard URL dedup): two fetches
    of the same resource under cosmetic URL variation must collapse to
    one key.  Rules, in order:

    1. drop the fragment (``#...`` — never sent to the server),
    2. lowercase the scheme and authority (host names are
       case-insensitive; paths are NOT touched),
    3. drop an explicit default port (``:80`` http, ``:443`` https),
    4. strip tracking query parameters (``utm_*``, ``fbclid``,
       ``gclid``) and repair the leftover ``?``/``&`` seams,
    5. give a bare authority the root path (``http://h`` → ``http://h/``).

    Pure per-row JVM regex projection — shuffle-free, fuses into the
    scan; all patterns are lookaround-free so a DuckDB oracle can
    replay them (RE2-compatible, dialect-specific replacement syntax).
    """
    u = F.col(url_col)
    # 1. fragment
    u = F.regexp_replace(u, r"#.*$", "")
    # 2. lowercase scheme://authority (the part before the first / or ?)
    head = r"^([A-Za-z][A-Za-z0-9+.\-]*://[^/?]*)"
    u = F.concat(
        F.lower(F.regexp_extract(u, head, 1)), F.regexp_replace(u, head, "")
    )
    # 3. default ports (after lowercasing, schemes are lower)
    u = F.regexp_replace(u, r"^(http://[^/?:]*):80([/?].*)?$", r"$1$2")
    u = F.regexp_replace(u, r"^(https://[^/?:]*):443([/?].*)?$", r"$1$2")
    # 4. tracking params: non-first (&p=v), then promoted-first (?p=v&
    #    -> ?), then lone (?p=v -> '')
    trk = r"(utm_[A-Za-z0-9]+|fbclid|gclid)"
    u = F.regexp_replace(u, rf"&{trk}=[^&]*", "")
    u = F.regexp_replace(u, rf"\?{trk}=[^&]*&", "?")
    u = F.regexp_replace(u, rf"\?{trk}=[^&]*$", "")
    # 5. bare authority -> root path (also before a query string)
    u = F.regexp_replace(u, r"^([a-z][a-z0-9+.\-]*://[^/?]+)$", r"$1/")
    u = F.regexp_replace(u, r"^([a-z][a-z0-9+.\-]*://[^/?]+)\?", r"$1/?")
    return df.withColumn(out_col, u)


# PII patterns restricted to syntax valid in BOTH Java regex (Spark) and
# RE2 (DuckDB oracle): no backreferences, no lookaround.  Order matters:
# emails are redacted first (they contain dots/digits an IP or phone
# pattern could partially claim), then IPv4, then payment cards (so the
# phone pattern can never claim card fragments), then phone numbers.
PII_PATTERNS = [
    ("email", r"[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    ("ccard", r"\b\d{4}[- ]?\d{4}[- ]?\d{4}[- ]?\d{4}\b", "<CARD>"),
    ("phone", r"\+?\d{3}[-. ]\d{3}[-. ]\d{4}", "<PHONE>"),
]


def _luhn_valid_count(col: Column, pattern: str) -> Column:
    """Count card-shaped candidates that pass the Luhn checksum — pure
    higher-order Column expressions (no UDF): reverse the digits,
    double every even 1-based position (−9 overflow fold), sum mod 10.
    Redaction is deliberately broader than the count: ALL card-shaped
    runs are scrubbed (conservative), only validated ones are counted
    as card PII."""

    def luhn_sum(c: Column) -> Column:
        rev = F.reverse(F.transform(F.regexp_extract_all(c, F.lit(r"\d"), F.lit(0)), lambda d: d.cast("int")))
        contrib = F.transform(
            F.sequence(F.lit(1), F.size(rev)),
            lambda j: F.when(
                j % 2 == 0,
                F.when(F.element_at(rev, j) * 2 > 9, F.element_at(rev, j) * 2 - 9).otherwise(
                    F.element_at(rev, j) * 2
                ),
            ).otherwise(F.element_at(rev, j)),
        )
        return F.aggregate(contrib, F.lit(0), lambda a, x: a + x)

    cands = F.regexp_extract_all(col, F.lit(pattern), F.lit(0))
    return F.size(F.filter(cands, lambda c: luhn_sum(c) % 10 == 0))


def pii_redact(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Regex PII scrubbing — the standard pre-training compliance pass
    (emails / IPv4 / phone numbers -> typed placeholder tokens), with a
    per-category match count for audit metrics.

    Pure ``regexp_count`` + ``regexp_replace`` column expressions
    (JVM-side, codegen), applied sequentially so each count is taken on
    the text as already redacted by the previous (higher-precedence)
    category — no double counting.  The reference has no PII surface;
    this is the training-pipeline extension analogue of a chained
    RegexMapper (MRX/RegexMapper semantics, MRC/lib/map/RegexMapper.java:1).
    """
    df = spread_for_compute(df)
    cur = F.col(text_col)
    out_cols = [F.col(id_col)] + [F.col(c) for c in keep_cols]
    counts = []
    for cat, pat, token in PII_PATTERNS:
        if cat == "ccard":
            counts.append(_luhn_valid_count(cur, pat).alias("n_ccard"))
        else:
            counts.append(F.regexp_count(cur, F.lit(pat)).alias(f"n_{cat}"))
        cur = F.regexp_replace(cur, pat, token)
    return df.select(*out_cols, *counts, cur.alias("clean_text"))


def repetition_top_ngram(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 2
) -> DataFrame:
    """Gopher-style top-n-gram repetition signal: the occurrence count
    of the single most frequent word n-gram in the document, and the
    fraction of the document's characters covered by its occurrences
    (count * len(gram) / len(text)).  High values flag looping /
    templated text (Rae et al. 2021 'top n-gram fraction' filters).

    Per-row higher-order expressions only — no shuffle, no UDF.
    O(G log G) per row: sort the gram array once, then ONE run-length
    aggregate pass whose lambda touches only the accumulator and the
    zipped element (a run in the sorted array IS a distinct gram's
    occurrence count).  The earlier form folded over
    array_distinct(grams) re-filtering — and, fatally, re-BUILDING the
    inlined grams expression — per iteration: O(D*G) with a G-sized
    constant, measured 26.9s for the corpus at sf0.001 under full
    materialization vs ~0.1s for this form, identical outputs.  The
    two maxima are computed in the same pass (the most frequent gram
    and the most char-covering gram may differ); both are exact
    integer arithmetic + one division, so the SQL oracle reproduces
    them bit-for-bit."""
    df = spread_for_compute(df)
    # The words and the sorted grams are let-bound (ws, ss), so the
    # split, the gram build and the sort each run once per row.
    runs = let_sql(
        f"array_sort({word_ngrams_sql('ws', n)})",
        "ss",
        f"aggregate({_sorted_runs_sql('ss')}, "
        f"named_struct('run', 0, 'best', 0, 'bestch', 0), "
        f"(acc, e) -> named_struct("
        f"'run', if(e.eq, acc.run + 1, 1), "
        f"'best', greatest(acc.best, if(e.eq, acc.run + 1, 1)), "
        f"'bestch', greatest(acc.bestch, if(e.eq, acc.run + 1, 1) * length(e.g))))",
    )
    # the gram COUNT has a closed form in the word count — no second
    # build of the gram array just to size it
    row = let_sql(
        words_sql(text_col),
        "ws",
        f"named_struct('total', greatest(size(ws) - {n - 1}, 0), 'runs', {runs})",
    )
    n_chars = F.length(F.col(text_col))
    counted = df.select(F.col(id_col), n_chars.alias("_nc"), F.expr(row).alias("_r"))
    return counted.select(
        id_col,
        F.col("_r.total").alias("total_ngrams"),
        F.col("_r.runs.best").alias("top_ngram_count"),
        F.when(
            F.col("_nc") > 0,
            F.round(F.col("_r.runs.bestch").cast("double") / F.col("_nc").cast("double"), 6),
        )
        .otherwise(F.lit(0.0))
        .alias("top_ngram_char_fraction"),
    )


def chunk_documents(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_tokens: int = 64,
    overlap: int = 16,
) -> DataFrame:
    """Sliding-window document chunking — the preprocessing step for
    embedding / retrieval pipelines: each document becomes
    ``1 + ceil(max(n - chunk, 0) / step)`` chunks of ``chunk_tokens``
    whitespace tokens advancing by ``step = chunk_tokens - overlap``
    (consecutive chunks share ``overlap`` tokens; the final chunk may
    be short; empty documents yield no chunks).

    One generator expression per document (``inline`` over a
    transform-built struct array) — no shuffle, no UDF; chunk count
    and boundaries are pure integer arithmetic so a SQL oracle
    reproduces rows exactly."""
    df = spread_for_compute(df)
    if not 0 <= overlap < chunk_tokens:
        raise ValueError("require 0 <= overlap < chunk_tokens")
    step = chunk_tokens - overlap
    n_chunks = f"(1 + ((greatest(size(ws) - {chunk_tokens}, 0) + {step} - 1) div {step}))"
    chunks = (
        f"case when size(ws) > 0 then "
        f"transform(sequence(0, {n_chunks} - 1), i -> named_struct("
        f"'chunk_idx', i, "
        f"'chunk_text', array_join(slice(ws, i * {step} + 1, {chunk_tokens}), ' '), "
        f"'n_chunk_tokens', size(slice(ws, i * {step} + 1, {chunk_tokens})))) "
        f"else array() end"
    )
    return df.select(F.col(id_col), F.expr(f"inline({let_sql(words_sql(text_col), 'ws', chunks)})"))


def unigram_lm_score(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Corpus-unigram language-model scoring — the classic LM-based
    quality filter (kenlm-style perplexity filtering, approximated at
    unigram order): per document, the summed log-probability of its
    tokens under the corpus unigram distribution and the per-token
    average.  Low-probability documents are OOV-heavy / non-linguistic;
    high-probability ones are stopword soup — pretraining filters trim
    both tails.

    Exactness: per-term log-probs are quantized to integer micro-nats
    (round(ln(c/T)·1e6)), so the per-doc aggregate is an INTEGER sum —
    order-independent and bit-identical in any engine, unlike a float
    sum.  Plan: tokenize → term-count aggregate (broadcastable dim,
    same shape as tf_idf's dfreq) → join back → integer sum per doc;
    corpus total T stays in-plan as a broadcast 1-row cross join."""
    df = spread_for_compute(df)
    tok = df.select(F.col(id_col), F.explode(_words(text_col)).alias("term"))
    counts = tok.groupBy("term").agg(F.count(F.lit(1)).alias("c"))
    total = counts.agg(F.sum("c").cast("double").alias("_T"))
    quant = counts.crossJoin(F.broadcast(total)).select(
        "term", _micro_nats(F.col("c"), F.col("_T")).alias("lp_micro")
    )
    # the vocabulary is small at any corpus size: broadcast the scores
    return _lm_doc_scores(df, id_col, tok, F.broadcast(quant), "term", "n_tokens")


def _micro_nats(num: Column, den: Column) -> Column:
    """ln(num / den) quantized to integer micro-nats."""
    return F.round(F.log(num.cast("double") / den.cast("double")) * 1_000_000).cast("bigint")


def _lm_doc_scores(
    df: DataFrame, id_col: str, inst: DataFrame, quant: DataFrame, key: str, n_col: str
) -> DataFrame:
    """The per-document tail of the LM scorers: join each (id, key)
    instance of ``inst`` to its (key, lp_micro) score in ``quant`` (the
    caller hints it), count and integer-sum per document, then
    left-join onto every id of ``df``.  A document with no instance
    (empty, NULL, too short) scores 0 over 0 with avg_logprob 0.0."""
    per_doc = (
        inst.join(quant, key)
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias(n_col), F.sum("lp_micro").alias("logprob_micro"))
    )
    n = F.coalesce(n_col, F.lit(0))
    return (
        df.select(F.col(id_col))
        .join(per_doc, id_col, "left")
        .select(
            F.col(id_col),
            n.alias(n_col),
            F.coalesce("logprob_micro", F.lit(0)).alias("logprob_micro"),
            F.when(
                n > 0,
                F.round(F.col("logprob_micro").cast("double") / F.col(n_col).cast("double") / 1e6, 6),
            )
            .otherwise(F.lit(0.0))
            .alias("avg_logprob"),
        )
    )


def boilerplate_signals(df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3) -> DataFrame:
    """Gopher-style repetition signals: fraction of word n-grams that
    are duplicates within the document (boilerplate / repeated-line
    detector — high values mean templated or looping text that a
    pretraining quality filter drops).  Pure per-row higher-order
    expressions (one array of n-gram strings per doc inside a single
    projection), no shuffle, no UDF."""
    df = spread_for_compute(df)
    # one projection: the words and the gram array are let-bound, so
    # the split and the gram build run once per row (sf0.1, 4 cores:
    # 5.3 JVM-cpu-s per noop write with the words inlined, 0.8 let-bound,
    # 0.9 behind a generator barrier)
    counts = let_sql(
        words_sql(text_col),
        "ws",
        let_sql(
            word_ngrams_sql("ws", n),
            "gs",
            "named_struct('total', size(gs), 'distinct', size(array_distinct(gs)))",
        ),
    )
    total, distinct = F.col("_c.total"), F.col("_c.distinct")
    return df.select(F.col(id_col), F.expr(counts).alias("_c")).select(
        id_col,
        total.alias("total_ngrams"),
        distinct.alias("distinct_ngrams"),
        F.when(total > 0, F.round(1.0 - distinct.cast("double") / total, 6))
        .otherwise(F.lit(0.0))
        .alias("dup_ngram_fraction"),
    )


def build_vocab(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Corpus vocabulary construction — the tokenizer-training
    precursor: every distinct whitespace token with its corpus count,
    document frequency, and a frequency-ranked id (0 = most frequent;
    ties broken by token text, so ids are deterministic across engines
    and runs).

    Shape: explode → one two-phase aggregate keyed by token (count
    partials + min/max-style df via countDistinct partials), then the
    rank window.  The window is a single global ordering over the
    VOCABULARY, not the corpus — at 100 TB the token table is millions
    of rows, not trillions, so the one-partition rank stage is
    bounded."""
    from pyspark.sql.window import Window

    toks = df.select(F.col(id_col), F.explode(_words(text_col)).alias("token"))
    counts = toks.groupBy("token").agg(
        F.count(F.lit(1)).alias("count"),
        F.countDistinct(id_col).alias("doc_freq"),
    )
    w = Window.orderBy(F.col("count").desc(), F.col("token").asc())
    return counts.withColumn("token_id", F.row_number().over(w) - 1).select(
        "token", "count", "doc_freq", "token_id"
    )


def bigram_lm_score(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Corpus-BIGRAM language-model scoring — one order up from
    ``unigram_lm_score`` toward the kenlm-style filter: per document,
    the summed log of P(w_i | w_{i-1}) = c(w_{i-1} w_i) / c(w_{i-1} ·)
    under corpus counts (MLE, no smoothing needed: every document
    bigram is by construction in the corpus counts).

    Same exactness device as the unigram tier: per-bigram log-probs
    quantize to integer micro-nats, so the per-doc aggregate is an
    integer sum — order-independent, engine-portable.  Plan: bigram
    explode → ONE corpus count aggregate; the prefix (continuation)
    totals derive from the bigram counts themselves (vocab-sized, not
    corpus-sized); join back by bigram.  Docs with < 2 tokens score 0
    over 0 bigrams."""
    df = spread_for_compute(df)
    grams = let_sql(words_sql(text_col), "ws", word_ngrams_sql("ws", 2))
    inst = df.select(F.col(id_col), F.explode(F.expr(grams)).alias("bg"))
    bg_counts = inst.groupBy("bg").agg(F.count(F.lit(1)).alias("cbg"))
    bg_counts = bg_counts.withColumn("w1", F.split(F.col("bg"), " ").getItem(0))
    prefix = bg_counts.groupBy("w1").agg(F.sum("cbg").alias("cpre"))
    quant = bg_counts.join(prefix, "w1").select(
        "bg", _micro_nats(F.col("cbg"), F.col("cpre")).alias("lp_micro")
    )
    # NO broadcast hint: distinct bigrams grow near-linearly with the
    # corpus (unlike the unigram vocab) — a plain hash join lets AQE
    # broadcast only when the score table actually is small
    return _lm_doc_scores(df, id_col, inst, quant, "bg", "n_bigrams")


_GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_quality_rules(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    max_bullet_frac: float = 0.9,
    max_ellipsis_frac: float = 0.3,
    min_alpha_word_frac: float = 0.8,
    min_stopword_hits: int = 2,
) -> DataFrame:
    """The Gopher rule-based quality filter (Rae et al. 2021,
    "Scaling Language Models: ... Gopher", Appendix A1.1 — the rule
    suite MassiveWeb shipped and C4/RefinedWeb variants reuse): one
    row per document with every rule's underlying signal plus the
    conjunctive ``keep`` verdict, so a pipeline can either filter on
    ``keep`` or re-threshold individual signals without re-scanning.

    Signals / rules (defaults are the published thresholds):
      - ``n_words`` in [min_words, max_words] (50..100,000);
      - ``mean_word_len`` in [3, 10] — EXACT sum of word lengths over
        word count (not the separator approximation quality_score
        uses, because the rule thresholds assume the true mean);
      - ``symbol_word_ratio`` ('#' chars + '...' occurrences + '…'
        chars, per word) <= 0.1 — the rule is the "#"-or-ellipsis
        ratio and the single-char ellipsis counts exactly like the
        3-dot spelling (round-9 ADVICE fix: '…' was recognized by
        ellipsis_line_frac but omitted here);
      - ``bullet_line_frac`` (lines starting with a bullet) < 0.9 and
        ``ellipsis_line_frac`` (lines ending with an ellipsis) < 0.3;
      - ``alpha_word_frac`` (words containing an ASCII letter) >= 0.8;
      - ``stopword_hits`` (distinct members of Gopher's 8-stopword
        list present) >= 2.

    Scale shape: every signal is a per-row higher-order expression in
    ONE projection — no shuffle, no UDF, no explode; at 100 TB this is
    a pure map stage that fuses into the scan (the same discipline as
    quality_score/boilerplate_signals).  Exactness: all ratios are
    single IEEE divisions of exact integer counts, so every value is
    bit-identical across engines and the whole operator carries an
    exact SQL oracle (counts-of-3-char '...' via the
    length-minus-replace identity, integer-divided by 3)."""
    df = spread_for_compute(df)
    stop_arr = array_sql(f"'{s}'" for s in _GOPHER_STOPWORDS)
    # the word signals share one let-bound word array (one split per row)
    word_sig = let_sql(
        words_sql(text_col),
        "ws",
        "named_struct('n', size(ws), "
        "'chars', aggregate(ws, 0L, (acc, w) -> acc + length(w)), "
        "'alpha', size(filter(ws, w -> w rlike '[a-zA-Z]')), "
        f"'stop', size(filter({stop_arr}, s -> array_contains(ws, s))))",
    )
    # so do the line signals (one line split per row)
    line_sig = let_sql(
        lines_sql(text_col),
        "ls",
        "named_struct('n', size(ls), "
        "'bullet', size(filter(ls, l -> startswith(trim(l), '-') "
        "or startswith(trim(l), '*') or startswith(trim(l), '•'))), "
        "'ellipsis', size(filter(ls, l -> endswith(trim(l), '...') or endswith(trim(l), '…'))))",
    )
    base = df.select(
        F.col(id_col),
        F.expr(word_sig).alias("_ws"),
        F.expr(line_sig).alias("_ls"),
        (
            F.length(F.col(text_col))
            - F.length(F.expr(f"replace({text_col}, '#', '')"))
            + F.length(F.col(text_col))
            - F.length(F.expr(f"replace({text_col}, '…', '')"))
            + F.expr(f"(length({text_col}) - length(replace({text_col}, '...', ''))) div 3")
        ).alias("_symbols"),
    )

    sig = base.select(
        F.col(id_col),
        F.col("_ws.n").alias("n_words"),
        _ratio_or_zero(F.col("_ws.chars"), F.col("_ws.n")).alias("mean_word_len"),
        _ratio_or_zero(F.col("_symbols"), F.col("_ws.n")).alias("symbol_word_ratio"),
        _ratio_or_zero(F.col("_ws.alpha"), F.col("_ws.n")).alias("alpha_word_frac"),
        _ratio_or_zero(F.col("_ls.bullet"), F.col("_ls.n")).alias("bullet_line_frac"),
        _ratio_or_zero(F.col("_ls.ellipsis"), F.col("_ls.n")).alias("ellipsis_line_frac"),
        F.col("_ws.stop").alias("stopword_hits"),
    )
    keep = (
        F.col("n_words").between(min_words, max_words)
        & F.col("mean_word_len").between(min_mean_word_len, max_mean_word_len)
        & (F.col("symbol_word_ratio") <= max_symbol_ratio)
        & (F.col("bullet_line_frac") < max_bullet_frac)
        & (F.col("ellipsis_line_frac") < max_ellipsis_frac)
        & (F.col("alpha_word_frac") >= min_alpha_word_frac)
        & (F.col("stopword_hits") >= min_stopword_hits)
    )
    return sig.select("*", keep.alias("keep"))


def gopher_repetition_suite(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """The FULL Gopher repetition filter (Rae et al. 2021 Table A1 —
    the 13-signal suite MassiveWeb ships next to the rule filter):
    duplicate line / paragraph fractions and their character
    fractions, top-{2,3,4}-gram character fractions (characters of the
    most FREQUENT n-gram across ALL its occurrences; ties among
    equal-count grams take the larger coverage — the fraction is then
    well-defined), and duplicate-{5..10}-gram character fractions
    (characters inside any REPEAT occurrence of an n-gram, each word
    position counted ONCE — the paper's no-double-counting rule), plus
    the conjunctive ``keep`` at the published thresholds.

    Duplicate counting follows the published filter (and its public
    reference implementations, e.g. DataTrove's
    GopherRepetitionFilter): only occurrences BEYOND THE FIRST count
    as duplicates — a doc whose every line appears exactly twice has
    dup_line_frac 0.5, not 1.0, and the FIRST occurrence of a
    duplicated n-gram does not mark its words (round-9 ADVICE fix;
    the earlier form counted all occurrences, systematically
    over-filtering against the published Table A1 thresholds).
    Top-{2,3,4}-gram coverage intentionally keeps ALL occurrences of
    the winning gram — that is the published top-gram definition.

    Engine shape: per-row higher-order expressions staged over
    GENERATOR-BARRIERED projections (see evaluate_once — without
    the barriers, CollapseProject turns every lambda-internal column
    reference into a per-element re-derivation and the suite goes
    quadratic in document length; measured 64s → ~1s on a single
    2000-word document).  Per-document cost: O(G log G) for the
    sorted-run top-gram folds and duplicate detection, O(G·n) for the
    span marking, plus an adaptive duplicate-membership scan (linear
    list probe when few distinct grams repeat — every real document —
    falling to a positional sorted-pairs form when the document is
    spammy).  No shuffle, no UDF, no corpus-size term.  All signals
    are exact integer counts + single IEEE divisions; the oracle
    derives the same integers RELATIONALLY (unnest → group-by →
    θ-join) — an independent formulation, so a green hash certifies
    both."""
    df = spread_for_compute(df)
    base = evaluate_once(
        df.select(F.col(id_col), F.length(F.col(text_col)).alias("_nc"), F.col(text_col)),
        [id_col, "_nc"],
        _w=_words(text_col),
        _l=F.expr(lines_sql(text_col)),
        _p=F.expr(f"filter(split({text_col}, '\\n\\n'), p -> trim(p) <> '')"),
    )
    # r13: INCREMENTAL gram build — level n extends level n-1's gram
    # strings by one word (zip_with + concat) instead of re-deriving
    # each gram from scratch with array_join(slice(_w, i, n)).  The
    # output strings are byte-identical (grams are words joined by one
    # space either way; differential-pinned in tests/test_text_ops.py),
    # but the per-level cost drops from n element copies + an n-way
    # join per gram to ONE two-string concat per gram: measured 2.9×
    # less CPU for the whole 9-level build (19.9 → 6.9 JVM-cpu-s at
    # sf0.1).  Levels chain through evaluate_once barriers so
    # each consumes the previous as a plain attribute — without the
    # barrier CollapseProject would inline level n-1's definition into
    # level n and the build would go exponential.
    g = evaluate_once(
        base,
        [id_col, "_nc", "_w", "_l", "_p"],
        _g2=F.expr(
            "case when size(_w) >= 2 then zip_with(slice(_w, 1, size(_w) - 1), "
            "slice(_w, 2, size(_w) - 1), (a, b) -> concat(a, ' ', b)) else array() end"
        ),
    )
    for n in range(3, 11):
        g = evaluate_once(
            g,
            g.columns,
            **{
                f"_g{n}": F.expr(
                    f"case when size(_w) >= {n} then "
                    f"zip_with(slice(_g{n - 1}, 1, size(_w) - {n - 1}), "
                    f"slice(_w, {n}, size(_w) - {n - 1}), (g, w) -> concat(g, ' ', w)) "
                    f"else array() end"
                )
            },
        )
    keep_cols = [id_col, "_nc", "_w", "_l", "_p"]

    def _top_chars(n: int) -> str:
        # sorted-run fold tracking (current run, best count, chars of
        # the best-count gram); ties on count take greater coverage.
        # The sorted grams are lambda-bound (ss), so the sort runs once
        # per row however many times the fold references it.
        r = "if(e.eq, acc.run + 1, 1)"
        body = (
            f"aggregate({_sorted_runs_sql('ss')}, named_struct('run', 0, 'bc', 0, 'bch', 0), "
            f"(acc, e) -> named_struct("
            f"'run', {r}, "
            f"'bc', greatest(acc.bc, {r}), "
            f"'bch', if({r} > acc.bc, {r} * length(e.g), "
            f"if({r} = acc.bc, greatest(acc.bch, {r} * length(e.g)), acc.bch)))"
            f").bch"
        )
        return let_sql(f"array_sort(_g{n})", "ss", body)

    def _dup_firsts(arr: str) -> str:
        # sorted (value, idx) pairs — array_sort on structs orders by
        # (g, idx), so each run's first element carries the value's
        # FIRST document-order index.  A run START (prev value
        # differs) with an equal successor enumerates each duplicated
        # value exactly once as struct(g, idx-of-first-occurrence);
        # downstream flags can then exclude the first occurrence (the
        # published beyond-the-first duplicate rule).  if-guards: AND
        # may not short-circuit element_at's index-0 error.
        body = (
            "filter(sp, (e, i) -> "
            "if(i + 2 <= size(sp), element_at(sp, i + 2).g = e.g, false) "
            "and if(i > 0, element_at(sp, i).g <> e.g, true))"
        )
        return let_sql(
            f"array_sort(transform({arr}, (x, i) -> struct(x AS g, i + 1 AS idx)))", "sp", body
        )

    # ONE barrier stage materializes every duplicate-value list (each
    # is probed per element downstream, so they must be attributes);
    # the sorted copies themselves stay lambda-bound and never cross a
    # barrier.  Line/paragraph duplicate tallies need no value list:
    # sum(count-1) over duplicated values == total - distinct, so both
    # ride the later select as closed-form scalar pairs.
    g2 = evaluate_once(
        g,
        keep_cols + [f"_g{n}" for n in range(5, 11)] + [f"_g{n}" for n in (2, 3, 4)],
        **{f"_dv{n}": F.expr(_dup_firsts(f"_g{n}")) for n in range(5, 11)},
    )

    _DUP_SCAN_CAP = 16

    def _dup_flags(n: int) -> str:
        # ADAPTIVE duplicate-gram flags — a gram START is flagged iff
        # its value occurred EARLIER in the document (repeat beyond the
        # first occurrence; the published duplicate rule).  _dv{n} (the
        # distinct duplicated values, each with its first-occurrence
        # index) is a materialized attribute, so the membership scan is
        # a true O(|dv|) list probe per gram — the fast form whenever
        # few distinct grams repeat (every real document).  A SPAMMY
        # document (|dv| > cap, where the probe would degrade toward
        # O(G²)) falls to the positional O(G log G) branch: a pair in
        # the (gram, idx)-sorted order is a repeat exactly when its
        # PREDECESSOR holds the same gram, flags restored to document
        # order by a second sort, the whole pipeline bound behind a
        # one-element transform() lambda so non-spam rows never
        # evaluate it (CASE branches are lazy per row).
        contains = (
            f"transform(_g{n}, (x, i) -> "
            f"if(exists(_dv{n}, e -> e.g = x and e.idx < i + 1), 1, 0))"
        )
        prev_eq = "if(i > 0, element_at(sp, i).g = e.g, false)"
        positional = let_sql(
            f"array_sort(transform(_g{n}, (x, i) -> struct(x AS g, i AS idx)))",
            "sp",
            f"transform(array_sort(transform(sp, (e, i) -> "
            f"struct(e.idx AS idx, if({prev_eq}, 1, 0) AS f))), s -> s.f)",
        )
        return (
            f"case when size(_dv{n}) <= {_DUP_SCAN_CAP} then {contains} "
            f"else {positional} end"
        )

    # the duplicated-line/paragraph counts and the top-gram folds ride
    # the same barrier as the flags (no second branch, no join, no
    # re-scan)
    g3b = evaluate_once(
        g2,
        keep_cols + [f"_g{n}" for n in range(5, 11)],
        **{f"_df{n}": F.expr(_dup_flags(n)) for n in range(5, 11)},
        **{f"_t{n}": F.expr(_top_chars(n)) for n in (2, 3, 4)},
        # duplicates-beyond-the-first: sum over duplicated values of
        # (count - 1) == total - distinct, elementwise and in
        # characters — closed forms, no duplicate-value list needed
        _dlcnt=F.expr("size(_l) - size(array_distinct(_l))"),
        _dlch=F.expr(
            "aggregate(_l, 0L, (a, x) -> a + length(x)) "
            "- aggregate(array_distinct(_l), 0L, (a, x) -> a + length(x))"
        ),
        _dpcnt=F.expr("size(_p) - size(array_distinct(_p))"),
        _dpch=F.expr(
            "aggregate(_p, 0L, (a, x) -> a + length(x)) "
            "- aggregate(array_distinct(_p), 0L, (a, x) -> a + length(x))"
        ),
    )

    def _marked(n: int) -> str:
        # word j is inside a duplicated n-gram iff any start in
        # [j-n+1, j] is flagged.  r13: a SLIDING ACTIVE-FLAG COUNT
        # replaces the per-word slice + array_max — the fold carries
        # (chars, active): at word j one flag enters the window (start
        # j, if it exists) and one leaves (start j-n), so active > 0 is
        # exactly "some start in [j-n+1, j] is flagged" and each word
        # still counts once.  O(1) per word (two element_at reads)
        # instead of O(n) with a slice allocation; measured ~11 JVM-
        # cpu-s → ~0.3 on the six-level marked stage at sf0.1, values
        # bit-identical (differential-pinned in tests/test_text_ops.py).
        enter = f"if(j <= size(_g{n}), element_at(_df{n}, j), 0)"
        leave = f"if(j - {n} >= 1, element_at(_df{n}, j - {n}), 0)"
        return (
            f"case when size(_g{n}) >= 1 then "
            f"aggregate(sequence(1, size(_w)), named_struct('s', 0L, 'c', 0), "
            f"(acc, j) -> named_struct("
            f"'s', acc.s + if(acc.c + {enter} - {leave} > 0, "
            f"length(element_at(_w, j)), 0L), "
            f"'c', acc.c + {enter} - {leave}), acc -> acc.s) else 0L end"
        )

    g4 = g3b.select(
        F.col(id_col),
        F.col("_nc"),
        F.expr("size(_l)").alias("_nl"),
        F.expr("size(_p)").alias("_np"),
        *[F.col(f"_t{n}") for n in (2, 3, 4)],
        "_dlcnt", "_dlch", "_dpcnt", "_dpch",
        *[F.expr(_marked(n)).alias(f"_m{n}") for n in range(5, 11)],
    )

    sig = g4.select(
        F.col(id_col),
        _ratio_or_zero(F.col("_dlcnt"), F.col("_nl")).alias("dup_line_frac"),
        _ratio_or_zero(F.col("_dlch"), F.col("_nc")).alias("dup_line_char_frac"),
        _ratio_or_zero(F.col("_dpcnt"), F.col("_np")).alias("dup_para_frac"),
        _ratio_or_zero(F.col("_dpch"), F.col("_nc")).alias("dup_para_char_frac"),
        *[
            _ratio_or_zero(F.col(f"_t{n}"), F.col("_nc")).alias(f"top_{n}gram_char_frac")
            for n in (2, 3, 4)
        ],
        *[
            _ratio_or_zero(F.col(f"_m{n}"), F.col("_nc")).alias(f"dup_{n}gram_char_frac")
            for n in range(5, 11)
        ],
    )
    # the published thresholds, Rae et al. 2021 Table A1
    keep = (
        (F.col("dup_line_frac") <= 0.30)
        & (F.col("dup_para_frac") <= 0.30)
        & (F.col("dup_line_char_frac") <= 0.20)
        & (F.col("dup_para_char_frac") <= 0.20)
        & (F.col("top_2gram_char_frac") <= 0.20)
        & (F.col("top_3gram_char_frac") <= 0.18)
        & (F.col("top_4gram_char_frac") <= 0.16)
        & (F.col("dup_5gram_char_frac") <= 0.15)
        & (F.col("dup_6gram_char_frac") <= 0.14)
        & (F.col("dup_7gram_char_frac") <= 0.13)
        & (F.col("dup_8gram_char_frac") <= 0.12)
        & (F.col("dup_9gram_char_frac") <= 0.11)
        & (F.col("dup_10gram_char_frac") <= 0.10)
    )
    return sig.select("*", keep.alias("keep"))


# === HTML -> text extraction (the trafilatura/resiliparse role) ========
#
# The step every Common-Crawl pretraining pipeline runs between WARC
# ingestion (sources/warc.py) and quality filtering
# (gopher_quality_rules / gopher_repetition_suite): strip markup,
# scripts, styles and comments from raw HTML, decode character
# references, and segment the remaining text into blocks.  The
# reference's era-equivalent markup-aware scan is the streaming XML
# record reader (hadoop-streaming StreamXmlRecordReader.java:46);
# this is its modern role re-expressed for web corpora.
#
# Like the image/audio codecs (functions/multimodal.py), parsing HTML
# is genuinely imperative per document — Python IS the semantics — so
# the operator is an Arrow-batched pandas UDF over the html column
# (the allowlisted slow-path tier), with everything around it (the
# render, the joins, the downstream filters) staying JVM-side.  The
# extraction rules are deterministic and closed-form so fixture
# corpora carry an exact SQL oracle.

#: block-level elements: entering OR leaving one terminates the
#: current text block (the segmentation rule; the HTML5 flow-content
#: block set plus table/list internals)
HTML_BLOCK_TAGS = frozenset(
    "p div h1 h2 h3 h4 h5 h6 li ul ol dl dt dd blockquote pre table thead tbody "
    "tr td th section article header footer nav aside main figure figcaption "
    "form fieldset address br hr".split()
)
#: elements whose content is never text (CDATA-ish containers)
HTML_SKIP_TAGS = frozenset({"script", "style", "noscript", "template"})

#: C0/C1 control characters (tab/newline/CR excluded — those are
#: whitespace and collapse anyway); stripped from extracted blocks
_CONTROL_CHARS = re.compile(r"[\x00-\x08\x0b\x0c\x0e-\x1f\x7f-\x9f]")


def _make_html_extractor(drop_tags: frozenset):
    """Build the per-document extractor class (module-level factory so
    the pandas UDF closure pickles cleanly)."""
    from html.parser import HTMLParser

    class _Extractor(HTMLParser):
        """Tag/script/style/comment stripper + block segmenter.

        Rules (each SQL-oracle-predictable):
          - character references decode (convert_charrefs);
          - <script>/<style>/<noscript>/<template> content is dropped,
            nesting-safe, and ``drop_tags`` subtrees (e.g. nav/footer
            boilerplate) drop the same way;
          - entering or leaving a BLOCK tag flushes the pending text
            as one block; inline tags (a, em, b, span, ...) do not
            break text;
          - within a block, whitespace runs collapse to single spaces,
            C0/C1 control characters strip (binary junk in real crawl
            payloads must not leak into training text), and empty
            blocks vanish;
          - blocks join with a single newline; <title> text is
            captured separately and excluded from the body.
        HTMLParser is lenient by design: malformed markup (unclosed
        tags, stray '<', bad entities) never raises — the permissive
        contract the PERMISSIVE reader modes set elsewhere.
        """

        def __init__(self):
            super().__init__(convert_charrefs=True)
            self.blocks: list[str] = []
            self._buf: list[str] = []
            self._skip = 0
            self._drop = 0
            self._in_title = False
            self._title: list[str] = []

        def _flush(self):
            text = " ".join(_CONTROL_CHARS.sub("", "".join(self._buf)).split())
            if text:
                self.blocks.append(text)
            self._buf = []

        def handle_starttag(self, tag, attrs):
            if tag in HTML_SKIP_TAGS:
                self._skip += 1
            elif tag in drop_tags:
                self._drop += 1
                if tag in HTML_BLOCK_TAGS:
                    self._flush()
            elif tag == "title":
                self._in_title = True
            elif tag in HTML_BLOCK_TAGS:
                self._flush()

        def handle_endtag(self, tag):
            if tag in HTML_SKIP_TAGS:
                self._skip = max(0, self._skip - 1)
            elif tag in drop_tags:
                self._drop = max(0, self._drop - 1)
            elif tag == "title":
                self._in_title = False
            elif tag in HTML_BLOCK_TAGS:
                self._flush()

        def handle_data(self, data):
            if self._skip or self._drop:
                return
            if self._in_title:
                self._title.append(data)
            else:
                self._buf.append(data)

        def result(self) -> tuple:
            self._flush()
            title = " ".join("".join(self._title).split())
            return (title or None, "\n".join(self.blocks), len(self.blocks))

    return _Extractor


def html_to_text(df: DataFrame, html_col: str = "html", drop_tags: tuple = ()) -> DataFrame:
    """Extract visible text from an HTML column: adds ``title`` (from
    <title>, NULL when absent), ``text`` (newline-joined blocks) and
    ``n_blocks`` columns next to the input columns.

    ``drop_tags`` names extra element subtrees to drop whole — the
    boilerplate-removal knob (('nav', 'footer', 'aside') reproduces
    the common main-content recipe).  A document that defeats even the
    lenient parser maps to (NULL, NULL, 0) instead of failing the task
    (the SkipBadRecords disposition).

    Scale shape: ONE Arrow-batched stage over the html column — no
    shuffle, no driver involvement, linear in corpus bytes; at 100 TB
    the decode scales with cores exactly like the image codecs, and
    the html column itself never shuffles (spread_for_compute
    rebalances the scan when the file layout under-splits)."""
    # The natural re-extraction case — a frame that already carries a
    # text (or title/n_blocks) column — would otherwise yield duplicate
    # column names and ambiguous-reference failures downstream (the
    # sample_rank-collision stance reservoir_per_group takes).
    taken = sorted({"title", "text", "n_blocks"} & set(df.columns))
    if taken:
        raise ValueError(
            f"html_to_text output column(s) {taken} already exist in the "
            "input frame; drop or rename them first"
        )
    dropset = frozenset(drop_tags)
    df = spread_for_compute(df)

    @F.pandas_udf("struct<title: string, text: string, n_blocks: int>")
    def _extract(html: pd.Series) -> pd.DataFrame:
        extractor_cls = _make_html_extractor(dropset)
        out = []
        for doc in html:
            if doc is None:
                out.append((None, None, 0))
                continue
            try:
                p = extractor_cls()
                p.feed(doc)
                p.close()
                out.append(p.result())
            except Exception:
                out.append((None, None, 0))
        return pd.DataFrame(out, columns=["title", "text", "n_blocks"])

    return df.select(
        "*", _extract(F.col(html_col)).alias("_x")
    ).select("*", "_x.title", "_x.text", "_x.n_blocks").drop("_x")


# --- fasttext-style linear quality classifier -----------------------------
# The "gold vs crawl" quality-classifier stage of the CCNet / LLaMA
# pretraining recipes: a linear (logistic) model over hashed bag-of-words
# features, trained on a labeled split (wikipedia-like = 1, raw crawl = 0)
# and applied corpus-wide as a keep/score signal.  This is fastText's
# supervised model at wordNgrams=2 minus the embedding layer — the
# published ablations show the linear head carries almost all of the
# quality signal at this task shape.

QC_SIGMOID_BINS = 512
QC_SIGMOID_RANGE = 8.0


def qc_sigmoid_table_micro() -> list[int]:
    """fastText's precomputed sigmoid lookup (src/utils — the
    SIGMOID_TABLE_SIZE device), quantized to integer micro-units over
    bin MIDPOINTS of [-8, 8].  The distributed path never evaluates a
    transcendental: JVM, DuckDB and any python replica read the SAME
    integer table, so scores are bit-identical across engines (libm
    exp() differs by ulps between runtimes — the table removes it from
    the exactness surface entirely)."""
    import math

    step = 2 * QC_SIGMOID_RANGE / QC_SIGMOID_BINS
    return [
        round(1_000_000 / (1 + math.exp(QC_SIGMOID_RANGE - (i + 0.5) * step)))
        for i in range(QC_SIGMOID_BINS)
    ]


def _qc_gram_sql(words: str) -> str:
    """SQL expression for a doc's SALTED feature-gram strings from an
    already-evaluated word array: 'qc1:<w>' unigrams plus
    'qc2:<w_{i-1}> <w_i>' consecutive word bigrams.  fastText's
    published quality-classifier configs (the CCNet / LLaMA recipes)
    run wordNgrams=2; the bigrams share the unigram bucket space under
    their own salt — the hashing-trick simplification that keeps the
    weight vector exactly buckets+1 integers."""
    uni = f"transform({words}, t -> concat('qc1:', t))"
    return f"concat({uni}, transform({word_ngrams_sql(words, 2)}, g -> concat('qc2:', g)))"


def _qc_features(df: DataFrame, text_col: str, id_col: str, buckets: int) -> DataFrame:
    """(id, bucket) BINARY hashed gram presence features (unigrams +
    word bigrams) plus the always-on bias feature (bucket == ``buckets``) — set-of-grams
    logistic regression, the formulation that keeps every quantity in
    the training loop a plain integer (dots are sums of weights over a
    doc's distinct buckets; no count scaling, no division anywhere).
    ONE corpus-sized exchange, built once and reused by every training
    iteration."""
    from hadoop_3_3_6_spark.functions.dedup import portable_hash_expr

    grams = df.select(
        F.col(id_col),
        F.explode(F.expr(let_sql(words_sql(text_col), "ws", _qc_gram_sql("ws")))).alias("g"),
    )
    feats = (
        grams.select(
            F.col(id_col),
            F.expr(f"pmod({portable_hash_expr('g')}, {buckets})").alias("bucket"),
        )
        .distinct()
    )
    bias = df.select(F.col(id_col), F.lit(buckets).cast("bigint").alias("bucket"))
    return feats.select(
        F.col(id_col), F.col("bucket").cast("bigint")
    ).unionByName(bias)


def _qc_sigmoid_sql(dot_col: str) -> str:
    """The sigmoid-table lookup of a micro-unit dot: the table rides the
    plan as a literal, and its index clamp(((dot + R) * BINS) div 2R)
    is all-integer — no float touches it."""
    r_micro = int(QC_SIGMOID_RANGE * 1_000_000)
    idx = (
        f"least(greatest(cast((({dot_col} + {r_micro}) * {QC_SIGMOID_BINS}) "
        f"div {2 * r_micro} as int), 0), {QC_SIGMOID_BINS - 1})"
    )
    return f"element_at({array_sql(str(v) for v in qc_sigmoid_table_micro())}, {idx} + 1)"


def train_quality_classifier(
    df: DataFrame,
    text_col: str = "text",
    label_col: str = "label",
    id_col: str = "doc_id",
    buckets: int = 256,
    iters: int = 5,
    lr: float = 0.5,
) -> list[int]:
    """Full-batch logistic regression over hashed gram presence
    features (unigrams + word bigrams); returns the weight vector in integer micro-units (length
    ``buckets + 1``, bias last).

    Distribution contract (the BPE/unigram/Lloyd discipline): the
    corpus pass is ONE cached (id, bucket, cnt) feature exchange; each
    iteration runs two aggregates over it (per-doc dots, per-bucket
    gradients) and the driver state is exactly ``buckets + 1``
    integers.  At 100 TB the feature build dominates and distributes;
    iterations re-scan the cached columnar feature table.

    Exactness: per-doc dots are integer sums of w_micro x cnt; the
    logistic response is the shared integer sigmoid TABLE (index
    arithmetic all-integer, :func:`qc_sigmoid_table_micro`); per-doc
    residuals are exact integer micro-units (table value minus
    y x 1e6); gradients are integer sums accumulated in decimal(38,0)
    (order-independent, overflow-proof at any corpus size); the driver
    update rounds an exact integer ratio.  An independent replica
    reproduces every weight bit-for-bit."""
    feats = _qc_features(df, text_col, id_col, buckets).persist()
    labels = df.select(
        F.col(id_col), (F.col(label_col).cast("bigint") * 1_000_000).alias("_y_micro")
    )
    n_docs = df.count()
    w = [0] * (buckets + 1)
    try:
        for _ in range(iters):
            w_arr = array_sql(f"{x}L" for x in w)
            dots = feats.groupBy(id_col).agg(
                F.sum(F.expr(f"element_at({w_arr}, cast(bucket as int) + 1)")).alias("_dot")
            )
            resid = dots.join(labels, id_col).select(
                F.col(id_col),
                (F.expr(_qc_sigmoid_sql("_dot")) - F.col("_y_micro")).alias("_r_micro"),
            )
            grad_rows = (
                feats.join(resid, id_col)
                .groupBy("bucket")
                .agg(F.sum(F.col("_r_micro").cast("decimal(38,0)")).alias("_g"))
                .collect()
            )
            grad = {int(r["bucket"]): int(r["_g"]) for r in grad_rows}
            w = [
                w[b] - round(lr * grad.get(b, 0) / n_docs)
                for b in range(buckets + 1)
            ]
    finally:
        feats.unpersist()
    return w


def apply_quality_classifier(
    df: DataFrame,
    w_micro: list[int],
    text_col: str = "text",
    id_col: str = "doc_id",
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Score documents with a trained weight vector: (id, *keep_cols,
    score, predicted).  Pure per-row HOF projection — the
    weight array and sigmoid table ride the plan as literals, the
    corpus never shuffles, and scoring fuses into the scan (the
    Gopher-rules scale shape).  score = table[idx(dot)] / 1e6 rounded
    to 6 dp; predicted = score >= 0.5."""
    taken = sorted({"score", "predicted"} & set(keep_cols))
    if taken:
        # the html_to_text collision stance: fail fast with the named
        # columns instead of emitting ambiguous duplicates downstream
        raise ValueError(
            f"apply_quality_classifier output column(s) {taken} collide with "
            "keep_cols; rename them first"
        )
    buckets = len(w_micro) - 1
    w_arr = array_sql(f"{x}L" for x in w_micro)
    from hadoop_3_3_6_spark.functions.dedup import portable_hash_expr

    df = spread_for_compute(df, id_col)
    # the word array is evaluated once behind the barrier: the gram
    # builder reads it ~4x (unigram transform, size guard, bigram build)
    staged = evaluate_once(df, [id_col, *keep_cols], _warr=_words(text_col))
    # dot = sum of weights over the doc's DISTINCT gram buckets + bias:
    # term-for-term the training aggregate, so scores match the loop's
    barr = (
        f"transform({_qc_gram_sql('_warr')}, "
        f"g -> pmod({portable_hash_expr('g')}, {buckets}))"
    )
    dot = (
        f"aggregate(array_distinct({barr}), 0L, (acc, b) -> acc + "
        f"element_at({w_arr}, cast(b as int) + 1)) "
        f"+ element_at({w_arr}, {buckets + 1})"
    )
    staged = staged.select(
        F.col(id_col), *[F.col(c) for c in keep_cols], F.expr(dot).alias("_dot")
    )
    sig = _qc_sigmoid_sql("_dot")
    return staged.select(
        F.col(id_col),
        *[F.col(c) for c in keep_cols],
        F.expr(f"round({sig} / 1e6, 6)").alias("score"),
        F.expr(f"{sig} >= 500000").alias("predicted"),
    )
