"""Byte-pair-encoding tokenizer TRAINING on a document corpus
(north-star extension; SURVEY.md §7.2 M6 — the step beyond the
BPE-ish regex token counting in functions/text.py: learning the merge
table itself, the way a pretraining pipeline derives its tokenizer
from a corpus sample).

Algorithm (the public BPE formulation — Sennrich et al. 2016,
"Neural Machine Translation of Rare Words with Subword Units"):
start from character symbols per word (word-boundary marker on the
last symbol), repeatedly count adjacent symbol pairs weighted by word
frequency, and merge the most frequent pair; the ordered merge list
IS the tokenizer.

Distribution shape: the corpus-sized work — tokenizing documents and
counting word frequencies — is one distributed pass (explode + count,
map-side partials).  Training then operates on the DISTINCT-WORD
frequency table (vocabulary-sized, not corpus-sized — the classic BPE
trick): per iteration, adjacent pairs explode out of the symbol
arrays JVM-side and aggregate to one argmax row (count desc, pair
lexicographic tiebreak → deterministic), and the chosen merge is
applied to the symbol arrays in an Arrow-batched mapInPandas stage
(stateful adjacent-pair rewriting is genuinely iterative per word —
the allowlisted Python-is-the-semantics tier).  Driver traffic per
iteration is ONE row (the argmax), like IVF's k-row centroid collect;
lineage is truncated per iteration with localCheckpoint, as in
connected_components.

The TRAIN query is rows-only (iterative argmax isn't SQL-expressible
inside one oracle query) — exactness is pinned by a pure-Python
reference BPE over the same word frequencies (tests/test_bpe.py) AND,
since round 5, by the exact-oracle companion ``tokenizer_bpe_apply``:
its DuckDB oracle re-derives the merge table from scratch (SQL word
counts + ``reference_bpe``) and re-encodes the corpus in pure SQL
(nested replace over bracket-delimited symbol strings), so a green
hash certifies the distributed TRAINING OUTCOME end-to-end.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hadoop_3_3_6_spark.functions.text import words_sql

#: last symbol of each word carries the end-of-word marker so merges
#: never cross word boundaries (standard BPE formulation).
EOW = "</w>"


def _word_freqs(df: DataFrame, text_col: str, sample_cap_words: int | None) -> DataFrame:
    """Distributed word-frequency table: (word, freq).  The corpus
    never passes this point — everything after is vocabulary-sized."""
    words = df.select(F.explode(F.expr(words_sql(text_col))).alias("word"))
    freqs = words.groupBy("word").agg(F.count(F.lit(1)).alias("freq"))
    if sample_cap_words is not None:
        # deterministic cap: keep the most frequent words (freq desc,
        # word asc tiebreak) — at 100 TB, train on the head of the
        # distribution, which is what dominates pair counts anyway
        from pyspark.sql.window import Window

        w = Window.orderBy(F.col("freq").desc(), F.col("word").asc())
        freqs = (
            freqs.withColumn("_r", F.row_number().over(w))
            .filter(F.col("_r") <= sample_cap_words)
            .drop("_r")
        )
    return freqs


def _initial_symbols(freqs: DataFrame) -> DataFrame:
    """(word, freq, syms): character symbols with the EOW marker
    appended to the last character."""
    return freqs.select(
        "word",
        "freq",
        F.expr(
            "transform(split(word, ''), (c, i) -> "
            f"case when i = length(word) - 1 then concat(c, '{EOW}') else c end)"
        ).alias("syms"),
    )


def _pair_counts(symbols: DataFrame) -> DataFrame:
    """Adjacent-pair counts weighted by word frequency — JVM-side
    explode over zip(syms, tail(syms)), partial-aggregated."""
    pairs = symbols.select(
        "freq",
        F.explode(
            F.expr(
                "case when size(syms) >= 2 then "
                "transform(sequence(1, size(syms) - 1), i -> "
                "struct(element_at(syms, i) as left, element_at(syms, i + 1) as right)) "
                "else array() end"
            )
        ).alias("p"),
    )
    return pairs.groupBy("p.left", "p.right").agg(F.sum("freq").alias("pair_count"))


def _apply_merge(symbols: DataFrame, left: str, right: str) -> DataFrame:
    """Rewrite every symbol array replacing adjacent (left, right)
    with the merged symbol — Arrow-batched, leftmost-first within a
    word (the standard greedy application)."""
    schema = symbols.schema

    def rewrite(batches):
        for pdf in batches:
            out = []
            for syms in pdf["syms"]:
                syms = list(syms)
                i, res = 0, []
                while i < len(syms):
                    if i + 1 < len(syms) and syms[i] == left and syms[i + 1] == right:
                        res.append(left + right)
                        i += 2
                    else:
                        res.append(syms[i])
                        i += 1
                out.append(res)
            pdf = pdf.copy()
            pdf["syms"] = out
            yield pdf

    return symbols.mapInPandas(rewrite, schema=schema)


def train_bpe(
    df: DataFrame,
    text_col: str = "text",
    num_merges: int = 30,
    sample_cap_words: int | None = 4000,
) -> DataFrame:
    """Learn ``num_merges`` BPE merges from the corpus; returns the
    merge table as a (rank, left, right, merged, pair_count) batch
    DataFrame (created from the collected ranks — one tiny row per
    iteration crossed the driver, nothing corpus-sized).

    Stops early if no pair occurs at least twice (merging singletons
    is noise).  Deterministic: argmax ties break on (left, right)
    lexicographic order, and the word-frequency cap keeps the most
    frequent words with a word-order tiebreak."""
    spark = df.sparkSession
    freqs = _word_freqs(df, text_col, sample_cap_words)
    symbols = _initial_symbols(freqs).localCheckpoint()
    merges = []
    for rank in range(num_merges):
        top = (
            _pair_counts(symbols)
            .orderBy(F.col("pair_count").desc(), F.col("left").asc(), F.col("right").asc())
            .limit(1)
            .collect()
        )
        if not top or top[0]["pair_count"] < 2:
            break
        left, right, cnt = top[0]["left"], top[0]["right"], int(top[0]["pair_count"])
        merges.append((rank, left, right, left + right, cnt))
        symbols = _apply_merge(symbols, left, right).localCheckpoint()
    return spark.createDataFrame(
        merges, "rank int, left string, right string, merged string, pair_count bigint"
    )


def reference_bpe(word_freqs: dict[str, int], num_merges: int) -> list[tuple[str, str, int]]:
    """Pure-Python reference of the same algorithm (test cross-check):
    returns [(left, right, pair_count), ...] in merge order."""
    syms = {
        w: [c if i < len(w) - 1 else c + EOW for i, c in enumerate(w)]
        for w in word_freqs
    }
    out: list[tuple[str, str, int]] = []
    for _ in range(num_merges):
        counts: dict[tuple[str, str], int] = {}
        for w, ss in syms.items():
            for a, b in zip(ss, ss[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + word_freqs[w]
        if not counts:
            break
        (left, right), cnt = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        if cnt < 2:
            break
        out.append((left, right, cnt))
        for w, ss in syms.items():
            i, res = 0, []
            while i < len(ss):
                if i + 1 < len(ss) and ss[i] == left and ss[i + 1] == right:
                    res.append(left + right)
                    i += 2
                else:
                    res.append(ss[i])
                    i += 1
            syms[w] = res
    return out


def apply_bpe(
    df: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Encode documents with a learned merge table: per document the
    subword token count and the character count (their ratio is the
    compression the tokenizer buys).  The merge list (vocabulary-sized,
    learned by :func:`train_bpe`) ships to executors inside the
    closure — the DistributedCache/broadcast role; encoding itself is
    one Arrow-batched pass, no shuffle."""
    ordered = list(merges)

    def encode(batches):
        import pandas as pd

        def word_tokens(word: str) -> int:
            syms = [c if i < len(word) - 1 else c + EOW for i, c in enumerate(word)]
            for left, right in ordered:
                i, res = 0, []
                while i < len(syms):
                    if i + 1 < len(syms) and syms[i] == left and syms[i + 1] == right:
                        res.append(left + right)
                        i += 2
                    else:
                        res.append(syms[i])
                        i += 1
                syms = res
            return len(syms)

        cache: dict[str, int] = {}
        for pdf in batches:
            counts, chars = [], []
            for text in pdf[text_col]:
                words = [w for w in (text or "").split(" ") if w]
                n = 0
                for w in words:
                    if w not in cache:
                        cache[w] = word_tokens(w)
                    n += cache[w]
                counts.append(n)
                chars.append(sum(len(w) for w in words))
            yield pd.DataFrame(
                {id_col: pdf[id_col], "bpe_tokens": counts, "n_chars": chars}
            )

    return df.select(id_col, text_col).mapInPandas(
        encode, schema=f"{id_col} bigint, bpe_tokens bigint, n_chars bigint"
    )


# --- Unigram-LM tokenizer (SentencePiece's unigram model) ---------------

UNK_ID = -1  # apply-time fallback when a word has no in-vocab segmentation


def _viterbi_segment(word: str, lp: dict[str, int], max_len: int) -> list[str] | None:
    """Best segmentation of ``word`` under integer micro-nat piece
    log-probs: DP maximizing the piece-score sum; ties keep the SMALLER
    split point (= the longer final piece), which ascending-j iteration
    with a strict `>` realizes — fully deterministic, so an independent
    replica reproduces every segmentation.  None when no in-vocab
    segmentation exists (an out-of-vocabulary character)."""
    n = len(word)
    best: list[int | None] = [None] * (n + 1)
    best[0] = 0
    back = [0] * (n + 1)
    for i in range(1, n + 1):
        for j in range(max(0, i - max_len), i):
            if best[j] is None:
                continue
            s = lp.get(word[j:i])
            if s is None:
                continue
            cand = best[j] + s
            if best[i] is None or cand > best[i]:
                best[i], back[i] = cand, j
    if best[n] is None:
        return None
    out: list[str] = []
    i = n
    while i > 0:
        j = back[i]
        out.append(word[j:i])
        i = j
    out.reverse()
    return out


def train_unigram(
    df: DataFrame,
    text_col: str = "text",
    vocab_size: int = 80,
    seed_size: int = 400,
    max_piece_len: int = 6,
    iters: int = 2,
    max_train_words: int = 200_000,
) -> list[tuple[str, int, int]]:
    """Unigram-LM tokenizer training (Kudo 2018, "Subword
    Regularization" §3 — the SentencePiece unigram model), in the
    hard-EM (Viterbi) variant: seed the piece inventory with every
    single character plus the ``seed_size`` most frequent substrings
    (≤ ``max_piece_len`` chars), then alternate (E) Viterbi-segmenting
    every unique word under the current piece log-probs with (M)
    re-estimating piece probabilities from the segmentation counts,
    pruning to the ``vocab_size`` best multi-char pieces each sweep
    (single chars are never pruned — the coverage guarantee).

    Distribution contract (the BPE trainer's): the CORPUS pass is one
    distributed word-count aggregate; seeding, EM sweeps and pruning
    run over that vocabulary-sized table on the driver — at 100 TB
    the corpus pass dominates and distributes, driver state stays
    vocab-sized.  The driver table is BOUNDED: only the
    ``max_train_words`` most frequent distinct words reach the driver
    (deterministic (-count, word) top-N — a TakeOrdered, never a full
    collect), because a web-scale corpus's distinct-token set (URLs,
    hashes, typos) grows with corpus size and an uncapped collect
    would OOM the driver long before the corpus pass became the
    bottleneck (round-9 ADVICE fix; SentencePiece bounds its trainer
    input the same way).  The frequency tail this drops contributes
    negligibly to piece statistics by construction — it is the same
    cap every public subword trainer applies.  Exactness: counts are
    integers and every log-prob
    quantizes to integer micro-nats before any comparison (round()
    half-even on a float whose inputs are exact integer ratios), with
    lexicographic piece tie-breaks in seeding and pruning — the whole
    loop is bit-reproducible by an independent replica.

    Returns the trained inventory as [(piece, piece_id, logprob_micro)]
    with piece_id = rank in lexicographic piece order."""
    import math

    wc = (
        df.select(F.explode(F.expr(words_sql(text_col))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    rows = (
        wc.orderBy(F.col("c").desc(), F.col("w").asc())
        .limit(max_train_words)
        .collect()
    )
    word_counts = sorted((r["w"], int(r["c"])) for r in rows)
    from collections import Counter

    sub_counts: Counter = Counter()
    chars: set[str] = set()
    for w, c in word_counts:
        chars.update(w)
        for i in range(len(w)):
            for j in range(i + 1, min(i + max_piece_len, len(w)) + 1):
                sub_counts[w[i:j]] += c
    multi = sorted(
        (p for p in sub_counts if len(p) > 1),
        key=lambda p: (-sub_counts[p], p),
    )[:seed_size]
    pieces = {p: sub_counts[p] for p in multi}
    for ch in chars:
        pieces[ch] = sub_counts[ch]
    for _ in range(iters):
        total = sum(pieces.values())
        lp = {p: round(math.log(c / total) * 1_000_000) for p, c in pieces.items()}
        new: Counter = Counter()
        for w, c in word_counts:
            for p in _viterbi_segment(w, lp, max_piece_len) or []:
                new[p] += c
        kept = sorted(
            (p for p in new if len(p) > 1), key=lambda p: (-new[p], p)
        )[:vocab_size]
        pieces = {p: new[p] for p in kept}
        for ch in chars:
            # single chars survive with at least a count floor so any
            # training word stays segmentable in the next sweep
            pieces[ch] = max(new.get(ch, 0), 1)
    total = sum(pieces.values())
    lp = {p: round(math.log(c / total) * 1_000_000) for p, c in pieces.items()}
    ordered = sorted(pieces)
    return [(p, pid, lp[p]) for pid, p in enumerate(ordered)]


def apply_unigram(
    df: DataFrame,
    pieces: list[tuple[str, int, int]],
    text_col: str = "text",
    id_col: str = "doc_id",
    modulus: int = 1_000_000_007,
) -> DataFrame:
    """Encode documents with a trained unigram inventory — the
    Spark-first apply shape: the UNIQUE words of the apply corpus come
    from one distributed aggregate and each is Viterbi-segmented ONCE
    EXECUTOR-SIDE (an Arrow-batched pandas UDF over the distinct-word
    frame; the vocab-sized piece inventory ships in the closure — the
    DistributedCache role), and the word → (n_pieces, hash, 31^n) map
    equi-joins back; the per-document combine is a position-ordered
    integer fold in pure HOFs.  NOTHING corpus-sized ever reaches the
    driver: a web corpus's distinct-word set grows with corpus size,
    so the earlier collect-and-segment-on-the-driver form would OOM
    at scale (round-9 ADVICE fix) — now driver state is exactly the
    inventory, and the segment map stays distributed (AQE broadcasts
    it when it is small, which is every fixture tier).  A word with
    no in-vocab segmentation (OOV character) encodes as one UNK_ID
    piece — deterministic, replica-mirrorable.  Output: (id, n_pieces,
    pieces_hash) where pieces_hash folds piece ids document-wide in
    word order ((acc·31^len + word_hash) mod ``modulus``)."""
    lp = {p: s for p, _pid, s in pieces}
    pid = {p: i for p, i, _s in pieces}
    max_len = max((len(p) for p in lp), default=1)
    toks = df.select(F.col(id_col), F.posexplode(F.expr(words_sql(text_col))).alias("pos", "w"))

    @F.pandas_udf("struct<np: int, hw: bigint, pw: bigint>")
    def _segment(ws: pd.Series) -> pd.DataFrame:
        out = []
        for w in ws:
            ps = _viterbi_segment(w, lp, max_len)
            ids = [pid[p] for p in ps] if ps is not None else [UNK_ID]
            h = 0
            for x in ids:
                h = (h * 31 + x) % modulus
            out.append((len(ids), h, pow(31, len(ids), modulus)))
        return pd.DataFrame(out, columns=["np", "hw", "pw"])

    seg = (
        toks.select("w")
        .distinct()
        .select("w", _segment("w").alias("_s"))
        .select("w", "_s.np", "_s.hw", "_s.pw")
    )
    per_doc = (
        toks.join(seg, "w")
        .groupBy(id_col)
        .agg(
            F.sum("np").cast("int").alias("n_pieces"),
            F.expr(
                "aggregate(array_sort(collect_list(struct(pos, hw, pw))), 0L, "
                f"(acc, e) -> (acc * e.pw + e.hw) % {modulus})"
            ).alias("pieces_hash"),
        )
    )
    return (
        df.select(F.col(id_col))
        .join(per_doc, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("n_pieces", F.lit(0)).alias("n_pieces"),
            F.coalesce("pieces_hash", F.lit(0)).cast("bigint").alias("pieces_hash"),
        )
    )
