"""Unit tests for the round-2 text-pipeline ops on hand-built fixtures
(the synthetic corpus has no real PII / pathological repetition, so the
oracle-parity sweep alone would not exercise these edges)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hadoop_3_3_6_spark.functions.dedup import duplicated_span_fraction
from hadoop_3_3_6_spark.functions.text import let_sql, pii_redact, repetition_top_ngram


def _docs(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )


def test_pii_redact_categories_and_order(spark):
    df = _docs(
        spark,
        [
            "mail a.b+c@sub.example.org or b@x.io now",
            "server at 10.0.0.1 and 192.168.255.254 up",
            "call 555-010-1234 or +1 555.010.9999 ok",
            # email must win over phone/ip on its own digits+dots
            "mixed u1@e.co 8.8.8.8 555 010 1234",
            "clean text with no pii at all",
            # Luhn-valid counted AND scrubbed; invalid scrubbed only
            "pay 4111-1111-1111-1111 or 1234 5678 9012 3456 now",
        ],
    )
    rows = {r.doc_id: r for r in pii_redact(df, "text", "doc_id").collect()}
    assert (rows[0].n_email, rows[0].n_ipv4, rows[0].n_phone) == (2, 0, 0)
    assert rows[0].clean_text == "mail <EMAIL> or <EMAIL> now"
    assert (rows[1].n_email, rows[1].n_ipv4, rows[1].n_phone) == (0, 2, 0)
    assert rows[1].clean_text == "server at <IP> and <IP> up"
    assert rows[2].n_phone == 2 and "555" not in rows[2].clean_text
    assert (rows[3].n_email, rows[3].n_ipv4, rows[3].n_phone) == (1, 1, 1)
    assert rows[3].clean_text == "mixed <EMAIL> <IP> <PHONE>"
    assert rows[4].clean_text == "clean text with no pii at all"
    assert (rows[4].n_email, rows[4].n_ipv4, rows[4].n_ccard, rows[4].n_phone) == (0, 0, 0, 0)
    assert rows[5].n_ccard == 1  # only the Luhn-valid card counts
    assert rows[5].clean_text == "pay <CARD> or <CARD> now"  # both scrubbed


def test_normalize_text_collapses(spark):
    from hadoop_3_3_6_spark.functions.text import normalize_text

    df = _docs(spark, ["  Hello,   WORLD!! 42 ", "---", ""])
    rows = {r.doc_id: r for r in normalize_text(df, "text", "doc_id").collect()}
    assert rows[0].norm_text == "hello world 42" and rows[0].n_tokens == 3
    assert rows[1].norm_text == "" and rows[1].n_tokens == 0
    assert rows[2].n_tokens == 0


def test_language_id_multi_argmax_and_ties(spark):
    from hadoop_3_3_6_spark.functions.text import language_id_multi

    df = _docs(
        spark,
        [
            "the cat is on the mat with a hat",  # en
            "der hund ist nicht mit der katze zu hause",  # de
            "le chat est un animal et la souris aussi",  # fr
            "xyzzy plugh qwert",  # none
            "the der x x x x x x x x x x x x x x x x x x",  # tie en==de -> en wins
        ],
    )
    rows = {r.doc_id: r for r in language_id_multi(df, "text", "doc_id").collect()}
    assert [rows[i].pred_lang for i in range(5)] == ["en", "de", "fr", "unk", "en"]


def test_repetition_top_ngram_counts(spark):
    # "ab ab ab ab" -> 3 bigrams, all "ab ab" (5 chars); text len 11
    df = _docs(spark, ["ab ab ab ab", "w x y z", "solo", ""])
    rows = {r.doc_id: r for r in repetition_top_ngram(df, "text", "doc_id", n=2).collect()}
    assert rows[0].total_ngrams == 3 and rows[0].top_ngram_count == 3
    assert rows[0].top_ngram_char_fraction == round(3 * 5 / 11, 6)
    # all bigrams distinct -> top count 1
    assert rows[1].total_ngrams == 3 and rows[1].top_ngram_count == 1
    # fewer than n words / empty text -> zeros
    assert rows[2].total_ngrams == 0 and rows[2].top_ngram_count == 0
    assert rows[2].top_ngram_char_fraction == 0.0
    assert rows[3].top_ngram_char_fraction == 0.0


def test_chunk_documents_boundaries(spark):
    from hadoop_3_3_6_spark.functions.text import chunk_documents

    texts = ["a b c d e f g", "x y", ""]
    df = _docs(spark, texts)
    out = chunk_documents(df, "text", "doc_id", chunk_tokens=4, overlap=2).collect()
    rows = {}
    for r in out:
        rows.setdefault(r.doc_id, []).append(r)
    # 7 tokens, chunk 4, step 2 -> starts 0,2,4 -> 3 chunks
    c0 = sorted(rows[0], key=lambda r: r.chunk_idx)
    assert [r.chunk_text for r in c0] == ["a b c d", "c d e f", "e f g"]
    assert [r.n_chunk_tokens for r in c0] == [4, 4, 3]
    # overlap continuity: consecutive chunks share the last/first 2 tokens
    for a, b in zip(c0, c0[1:]):
        assert a.chunk_text.split()[-2:] == b.chunk_text.split()[:2]
    assert [r.chunk_text for r in rows[1]] == ["x y"]
    assert 2 not in rows  # empty doc -> no chunks

    import pytest as _pytest

    with _pytest.raises(ValueError):
        chunk_documents(df, "text", "doc_id", chunk_tokens=4, overlap=4)


def test_temperature_sample_rates(spark):
    from hadoop_3_3_6_spark.functions.sampling import temperature_sample

    rows = [(i, "big" if i < 400 else "small") for i in range(440)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    # alpha=1 -> every source keeps 100%
    assert temperature_sample(df, "doc_id", "source", alpha=1.0).count() == 440
    out = temperature_sample(df, "doc_id", "source", alpha=0.5).toPandas()
    by_src = out.groupby("source").size().to_dict()
    rates = dict(out[["source", "rate_ppm"]].drop_duplicates().itertuples(index=False))
    # smallest source is the anchor: keeps everything
    assert rates["small"] == 1_000_000 and by_src["small"] == 40
    # big source downsampled by ~sqrt(40/400): rate = sqrt(400)/400 normalized
    assert rates["big"] < 1_000_000
    assert 0 < by_src["big"] < 400


def test_score_conditioned_sample(spark):
    """GPT-3-style score acceptance: keep iff hash('qs:'+id)%1e6 <
    score_micro — deterministic, python-rederivable per row; score 1e6
    always keeps, 0 never, and acceptance tracks the score."""
    import hashlib

    from hadoop_3_3_6_spark.functions.sampling import score_conditioned_sample

    rows = [(i, [0, 250_000, 750_000, 1_000_000][i % 4]) for i in range(400)]
    df = spark.createDataFrame(rows, "doc_id long, score_micro bigint")
    kept = {r.doc_id for r in score_conditioned_sample(df).collect()}

    def h(i):
        return int(hashlib.md5(f"qs:{i}".encode()).hexdigest()[:15], 16) % 1_000_000

    expect = {i for i, s in rows if h(i) < s}
    assert kept == expect
    assert all(i in kept for i, s in rows if s == 1_000_000)
    assert all(i not in kept for i, s in rows if s == 0)
    # determinism under re-evaluation
    assert {r.doc_id for r in score_conditioned_sample(df).collect()} == kept


def test_pack_sequences_invariants(spark):
    """Packing invariants: offsets stay inside the bin, each block's
    layout is gapless (start = previous start + previous n_tokens), and
    every document appears exactly once."""
    from hadoop_3_3_6_spark.functions.sampling import pack_sequences

    df = _docs(spark, [f"{'w ' * (i % 7 + 1)}".strip() for i in range(40)])
    out = pack_sequences(df, "doc_id", "text", seq_len=10, num_blocks=4).collect()
    assert len(out) == 40 and len({r.doc_id for r in out}) == 40
    assert all(0 <= r.start_offset < 10 for r in out)
    by_block: dict[int, list] = {}
    for r in out:
        by_block.setdefault(r.block, []).append(r)
    for rows in by_block.values():
        rows.sort(key=lambda r: (r.bin_id, r.start_offset))
        cum = 0
        for r in rows:
            assert r.bin_id * 10 + r.start_offset == cum, r
            cum += r.n_tokens


def test_duplicated_spans_islands(spark):
    """Adjacent duplicated shingles merge into one run; disjoint
    duplicated regions yield separate runs with correct token bounds."""
    from hadoop_3_3_6_spark.functions.dedup import duplicated_spans

    df = _docs(
        spark,
        [
            "a b c d Z p q r s",  # shares 'a b c d' and 'p q r s' with doc 1, split by Z
            "a b c d w w w p q r s",
            "u v x y z1 z2 z3",  # nothing shared
        ],
    )
    out = duplicated_spans(df, "text", "doc_id", n=3).collect()
    runs = {}
    for r in out:
        runs.setdefault(r.doc_id, []).append((r.run_start, r.run_end, r.run_tokens))
    # doc 0: 'a b c d' = positions 0..3 (grams 0,1), 'p q r s' = 5..8 (grams 5,6)
    assert sorted(runs[0]) == [(0, 3, 4), (5, 8, 4)]
    assert sorted(runs[1]) == [(0, 3, 4), (7, 10, 4)]
    assert 2 not in runs


def test_duplicated_span_fraction_counts_every_duplicated_shingle(spark):
    texts = [
        "a b c d e",  # shares "a b c"/"b c d" with doc 1
        "a b c d x",
        "p q r s t",  # unique spans
        "zz",  # too short for 3-grams
    ]
    rows = {r.doc_id: r for r in duplicated_span_fraction(_docs(spark, texts), "text", "doc_id", n=3).collect()}
    assert rows[0].total_shingles == 3 and rows[0].dup_shingles == 2
    assert rows[0].dup_span_fraction == round(2 / 3, 6)
    assert rows[1].dup_shingles == 2
    assert rows[2].dup_shingles == 0 and rows[2].dup_span_fraction == 0.0
    assert rows[3].total_shingles == 0 and rows[3].dup_span_fraction == 0.0

    # a shingle in EVERY document ("h1 h2 h3") is duplicated by
    # definition and counts in both tallies, however hot (an earlier
    # form cut hot shingles, reporting ~0.0 for exactly the
    # boilerplate-heavy docs the signal exists to flag)
    hot = {
        r.doc_id: (r.total_shingles, r.dup_shingles, r.dup_span_fraction)
        for r in duplicated_span_fraction(
            _docs(spark, [t + " h1 h2 h3" for t in texts]), "text", "doc_id", n=3
        ).collect()
    }
    assert hot == {0: (6, 3, 0.5), 1: (6, 3, 0.5), 2: (6, 1, round(1 / 6, 6)), 3: (2, 1, 0.5)}


def test_minhash_verify_stage_filters_candidates(spark, sf_dir):
    """The verify stage must (a) emit a subset of the banded candidates,
    (b) actually drop at least one over-generated candidate at this
    threshold on this corpus, and (c) only keep pairs whose signature
    estimate clears the threshold (estimates are multiples of
    1/num_perm by construction)."""
    from pyspark.sql import functions as F

    from hadoop_3_3_6_spark.functions.dedup import minhash_candidate_pairs, minhash_verify_pairs
    from hadoop_3_3_6_spark.session import load_table

    docs = load_table(spark, "documents", sf_dir)
    cands = {
        (r.id_a, r.id_b)
        for r in minhash_candidate_pairs(
            docs, "text", "doc_id", n=3, num_perm=32, bands=8, portable=True
        ).collect()
    }
    ver = minhash_verify_pairs(
        docs, "text", "doc_id", n=3, num_perm=32, bands=8, est_threshold=0.9, portable=True
    ).collect()
    kept = {(r.id_a, r.id_b) for r in ver}
    assert kept <= cands
    assert len(kept) < len(cands), "verify stage dropped nothing at threshold 0.9"
    assert all(r.est_jaccard >= 0.9 for r in ver)
    assert all(abs(r.est_jaccard * 32 - round(r.est_jaccard * 32)) < 1e-12 for r in ver)


def test_gopher_rules_thresholds(spark):
    from hadoop_3_3_6_spark.functions.text import gopher_quality_rules

    good = "the cat sat with mats and " + " ".join(f"word{i}" for i in range(50))
    df = _docs(
        spark,
        [
            good,                                   # 0: passes every rule
            "the of short",                         # 1: < min_words
            good + " ### ### ### ### ### ### ###",  # 2: symbol ratio blown
            "- a\n- b\n- c\nthe end of it "         # 3: 3/4 bullet lines (ok)
            + " ".join(f"w{i}" for i in range(50)),
            "a... b...\nc...\nthe plain of line "   # 4: ellipsis lines blown
            + " ".join(f"w{i}" for i in range(50)),
            ("the of " + "9 " * 60).strip(),        # 5: alpha fraction blown
            " ".join(f"tok{i}" for i in range(60)), # 6: zero stopword hits
            good + " " + "…" * 10,                  # 7: single-char ellipsis
        ],
    )
    rows = {
        r.doc_id: r
        for r in gopher_quality_rules(df, "text", "doc_id", min_words=40).collect()
    }
    assert rows[0].keep and rows[0].stopword_hits >= 3
    assert not rows[1].keep and rows[1].n_words == 3
    assert not rows[2].keep and rows[2].symbol_word_ratio > 0.1
    # bullet tokens count as words (split on space): mean word length
    # sinks below 3 and 'c\nthe' glues across the newline, so the doc
    # fails on mean_word_len + stopwords while the LINE signal is 3/4
    assert not rows[3].keep and abs(rows[3].bullet_line_frac - 0.75) < 1e-12
    assert not rows[4].keep and abs(rows[4].ellipsis_line_frac - 2 / 3) < 1e-12
    assert not rows[5].keep and rows[5].alpha_word_frac < 0.8
    assert not rows[6].keep and rows[6].stopword_hits == 0
    # '...' occurrences count once per 3 chars, on top of '#' chars
    assert rows[4].symbol_word_ratio * rows[4].n_words == 3.0
    # the single-char ellipsis '…' counts per char like '#' (the rule
    # is the '#'-or-ellipsis ratio; round-9 ADVICE fix)
    assert not rows[7].keep and round(rows[7].symbol_word_ratio * rows[7].n_words) == 10


def test_gopher_repetition_suite_values(spark):
    from hadoop_3_3_6_spark.functions.text import gopher_repetition_suite

    df = _docs(
        spark,
        [
            "a b c d e f g h i j",                     # no repetition at all
            "one two three four five six one two three four five six tail",
            "l1\nl2\nl1\nl3",                          # duplicate lines only
            "aa bb aa bb cc dddd cc dddd",             # top-2-gram count tie
            "p q\n\np q\n\nzz",                        # duplicate paragraphs
        ],
    )
    rows = {r.doc_id: r for r in gopher_repetition_suite(df).collect()}
    r0 = rows[0]
    assert r0.dup_5gram_char_frac == 0.0 and r0.dup_line_frac == 0.0
    # with all-singleton grams the "top" gram still covers n words —
    # tiny docs fail the 3-gram threshold by construction (5/19 > .18)
    assert abs(r0.top_2gram_char_frac - 3 / 19) < 1e-15 and not r0.keep
    r1 = rows[1]
    # duplicates count occurrences BEYOND the first (the published
    # rule): repeat starts {7,8} (n=5) and {7} (n=6) mark words 7..12
    # = 22 of 60 chars; no 7-gram repeats
    assert abs(r1.dup_5gram_char_frac - 22 / 60) < 1e-15
    assert abs(r1.dup_6gram_char_frac - 22 / 60) < 1e-15
    assert r1.dup_7gram_char_frac == 0.0
    r2 = rows[2]
    # 'l1' twice in 4 lines -> ONE duplicate (beyond-first) = 1/4,
    # 2 duplicate chars of 11
    assert r2.dup_line_frac == 0.25 and abs(r2.dup_line_char_frac - 2 / 11) < 1e-15
    # count tie at 2 between 'aa bb' (5 ch) and 'cc dddd' (7 ch):
    # larger coverage wins (ALL occurrences — the top-gram definition)
    assert abs(rows[3].top_2gram_char_frac - 14 / 27) < 1e-15
    r4 = rows[4]
    assert abs(r4.dup_para_frac - 1 / 3) < 1e-15
    assert abs(r4.dup_para_char_frac - 3 / 12) < 1e-15
    assert abs(r4.dup_line_frac - 1 / 3) < 1e-15


def test_gopher_repetition_spammy_doc_adaptive_branch(spark):
    """A document where MANY distinct grams repeat (|dup values| above
    the adaptive cap) takes the positional branch and must produce the
    same kind of exact fractions — and in bounded time (the barrier +
    positional rewrite took a single 2000-word spam doc from 64s to
    ~3s; this pins the semantics, the perf regression would show in
    the bench tiers)."""
    from hadoop_3_3_6_spark.functions.text import gopher_repetition_suite

    spam = " ".join(f"w{i % 40}" for i in range(400))  # period-40 repetition
    clean = " ".join(f"u{i}" for i in range(400))
    df = _docs(spark, [spam, clean])
    rows = {r.doc_id: r for r in gopher_repetition_suite(df).collect()}
    # every 5-gram REPEATS after the first period (period 40 << 400):
    # words 41..400 sit inside a repeat-occurrence 5-gram (the first
    # period holds only first occurrences), so the char fraction is
    # the chars of words 41..400 over total
    r0 = rows[0]
    n_chars = len(spam)
    marked_chars = sum(len(w) for w in spam.split()[40:])
    assert abs(r0.dup_5gram_char_frac - marked_chars / n_chars) < 1e-15
    assert not r0.keep
    assert rows[1].dup_5gram_char_frac == 0.0 and rows[1].dup_10gram_char_frac == 0.0


def test_gopher_r13_rewrites_differential(spark):
    """r13 perf rewrites inside gopher_repetition_suite pinned against
    the pre-r13 formulations, evaluated side by side on edge docs:

    - INCREMENTAL gram build (level n = level n-1 + one word, zip_with
      concat) vs the original array_join(slice(_w, i, n)) per gram;
    - SLIDING ACTIVE-FLAG marked-span fold (O(1)/word) vs the original
      per-word slice + array_max (O(n)/word).

    Both must be value-identical for every n — the suite's oracle
    certifies the end numbers, this differential pins the two internal
    stages directly, on the edge shapes (empty doc, one word, exactly
    n words, multi-space runs, spammy period above the adaptive cap)."""
    from pyspark.sql import functions as F

    docs = [
        "",
        "solo",
        "a b",
        "x " * 9 + "x",                              # exactly 10 equal words
        "a  b   c    d  a  b   c    d",              # multi-space runs
        " ".join(f"w{i % 40}" for i in range(400)),  # spammy (positional branch)
        "one two three four five six one two three four five six tail",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(docs)], "doc_id bigint, text string"
    )
    w = "filter(split(text, ' '), w -> w <> '')"
    checks = []
    for n in range(2, 11):
        old_g = (
            f"case when size({w}) >= {n} then transform(sequence(1, size({w}) - {n - 1}), "
            f"i -> array_join(slice({w}, i, {n}), ' ')) else array() end"
        )
        prev = (
            f"case when size({w}) >= {n - 1} then transform(sequence(1, size({w}) - {n - 2}), "
            f"i -> array_join(slice({w}, i, {n - 1}), ' ')) else array() end"
        ) if n > 2 else w
        new_g = (
            f"case when size({w}) >= {n} then "
            f"zip_with(slice({prev}, 1, size({w}) - {n - 1}), "
            f"slice({w}, {n}, size({w}) - {n - 1}), (g, x) -> concat(g, ' ', x)) "
            f"else array() end"
        )
        checks.append((f"g{n}", old_g, new_g))
    bad = df.select(
        "doc_id",
        *[
            (F.expr(old) != F.expr(new)).alias(name)
            for name, old, new in checks
        ],
    ).filter(" or ".join(name for name, _, _ in checks))
    assert bad.count() == 0

    # marked-span fold differential: synth flag arrays (every possible
    # local shape around window entry/exit) against both formulations
    for n in (5, 7, 10):
        g = f"case when size({w}) >= {n} then transform(sequence(1, size({w}) - {n - 1}), i -> 'g') else array() end"
        flags = (
            f"transform(sequence(1, greatest(size({w}) - {n - 1}, 0)), "
            f"i -> if(pmod(i * 2654435761, 7) < 3, 1, 0))"  # pseudo-random 0/1
        )
        lo = f"greatest(1, j - {n - 1})"
        hi = f"least(j, size(_g))"
        old_m = (
            f"case when size(_g) >= 1 then "
            f"aggregate(sequence(1, size(_w)), 0L, (acc, j) -> acc + "
            f"if(array_max(slice(_df, {lo}, {hi} - {lo} + 1)) = 1, "
            f"length(element_at(_w, j)), 0)) else 0L end"
        )
        enter = "if(j <= size(_g), element_at(_df, j), 0)"
        leave = f"if(j - {n} >= 1, element_at(_df, j - {n}), 0)"
        new_m = (
            f"case when size(_g) >= 1 then "
            f"aggregate(sequence(1, size(_w)), named_struct('s', 0L, 'c', 0), "
            f"(acc, j) -> named_struct("
            f"'s', acc.s + if(acc.c + {enter} - {leave} > 0, "
            f"length(element_at(_w, j)), 0L), "
            f"'c', acc.c + {enter} - {leave}), acc -> acc.s) else 0L end"
        )
        staged = df.select(
            "doc_id",
            F.explode(
                F.array(
                    F.struct(
                        F.expr(w).alias("_w"),
                        F.expr(g).alias("_g"),
                        F.expr(flags).alias("_df"),
                    )
                )
            ).alias("_b"),
        ).select("doc_id", "_b._w", "_b._g", "_b._df")
        diff = staged.select(
            (F.expr(old_m) != F.expr(new_m)).alias("bad")
        ).filter("bad")
        assert diff.count() == 0, f"marked-span divergence at n={n}"


def _inline_binding(name: str):
    """``text.let_sql`` with the binding of lambda variable ``name``
    undone: its value written out at every use, as the operators
    spelled it before the value was let-bound.  Other bindings pass
    through."""
    import re

    def inline(value: str, var: str, body: str) -> str:
        if var != name:
            return let_sql(value, var, body)
        return re.sub(rf"\b{name}\b", lambda _: f"({value})", body)

    return inline


def _splits(df) -> int:
    return df._jdf.queryExecution().optimizedPlan().toString().count("split(")


_WORD_EDGE_DOCS = [
    "",
    None,
    "solo",
    "a b",  # fewer words than n = 3
    "a b c",  # exactly n words
    "  a  b   c  a b  ",  # runs of spaces, leading and trailing
    "x y z a b c",
    " ".join(f"w{i % 37}" for i in range(2000)),
]


@pytest.mark.parametrize(
    "module, op",
    [
        ("text", lambda m, df: m.repetition_top_ngram(df, n=2)),
        ("text", lambda m, df: m.chunk_documents(df, chunk_tokens=8, overlap=3)),
        ("text", lambda m, df: m.boilerplate_signals(df, n=3)),
        ("text", lambda m, df: m.bigram_lm_score(df)),
        ("text", lambda m, df: m.gopher_quality_rules(df)),
        ("dedup", lambda m, df: m.duplicated_span_fraction(df, n=3)),
        ("dedup", lambda m, df: m.duplicated_spans(df, n=3)),
        ("sampling", lambda m, df: m.importance_weights(df, F.col("doc_id") % 2 == 0)),
    ],
    ids=[
        "repetition_top_ngram", "chunk_documents", "boilerplate_signals", "bigram_lm_score",
        "gopher_quality_rules", "duplicated_span_fraction", "duplicated_spans", "importance_weights",
    ],
)
def test_let_bound_words_differential(spark, monkeypatch, module, op):
    """Each operator that reads its words inside a lambda binds them
    once per row (text.let_sql).  Pinned against the inline form, with
    the word rule re-derived at every use, on edge documents: empty,
    NULL, one word, fewer than / exactly n words, runs of spaces and
    one 2000-word document.  The values must be identical."""
    import importlib

    m = importlib.import_module(f"hadoop_3_3_6_spark.functions.{module}")
    df = _docs(spark, _WORD_EDGE_DOCS)
    new = op(m, df)
    monkeypatch.setattr(m, "let_sql", _inline_binding("ws"))
    old = op(m, df)
    assert _splits(old) > _splits(new)  # the inline form re-splits the text
    assert old.count() == new.count() > 0
    assert old.exceptAll(new).count() == 0 and new.exceptAll(old).count() == 0


def _replica_lm_scores(texts, order):
    """Pure-Python replica of the LM scorers: per document, the count
    of its order-``order`` grams and the integer sum of their micro-nat
    log-probs (round(ln(c / c_context) * 1e6), half away from zero like
    Spark's round); a document with no gram scores 0 over 0."""
    import math
    from collections import Counter
    from decimal import ROUND_HALF_UP, Decimal

    def half_up(x, places):
        return Decimal(repr(x)).quantize(Decimal(1).scaleb(-places), ROUND_HALF_UP)

    grams = {}
    for i, t in enumerate(texts):
        ws = [w for w in (t or "").split(" ") if w]
        grams[i] = [tuple(ws[j : j + order]) for j in range(len(ws) - order + 1)]
    counts = Counter(g for gs in grams.values() for g in gs)
    context = Counter()
    for g, c in counts.items():
        context[g[:-1]] += c
    lp = {g: int(half_up(math.log(c / context[g[:-1]]) * 1e6, 0)) for g, c in counts.items()}
    out = {}
    for i, gs in grams.items():
        total = sum(lp[g] for g in gs)
        avg = float(half_up(total / len(gs) / 1e6, 6)) if gs else 0.0
        out[i] = (len(gs), total, avg)
    return out


@pytest.mark.parametrize("op, order, n_col", [
    ("unigram_lm_score", 1, "n_tokens"),
    ("bigram_lm_score", 2, "n_bigrams"),
])
def test_lm_scores_match_replica(spark, op, order, n_col):
    """Both LM scorers share one per-document tail: integer micro-nat
    sums per document, and a zero-filled row for every document
    without a gram (empty, NULL, one word for the bigram order).
    Pinned against a pure-Python replica on the word-edge documents."""
    from hadoop_3_3_6_spark.functions import text

    df = _docs(spark, _WORD_EDGE_DOCS)
    got = {
        r.doc_id: (r[n_col], r.logprob_micro, r.avg_logprob)
        for r in getattr(text, op)(df, "text", "doc_id").collect()
    }
    want = _replica_lm_scores(_WORD_EDGE_DOCS, order)
    assert got == want
    assert got[0] == got[1] == (0, 0, 0.0)  # the empty and NULL documents


def test_language_id_ratio_equals_multi_en_ratio(spark):
    """language_id and language_id_multi count English stopword hits
    with the same rule: stopword_ratio rounded to 6 places is ratio_en."""
    from hadoop_3_3_6_spark.functions.text import language_id, language_id_multi

    df = _docs(spark, _WORD_EDGE_DOCS)
    single = language_id(df).select("doc_id", F.round("stopword_ratio", 6).alias("r"))
    multi = language_id_multi(df).select("doc_id", F.col("ratio_en").alias("r"))
    rows = single.collect()
    assert len(rows) == len(_WORD_EDGE_DOCS) and any(r.r > 0 for r in rows)
    assert single.exceptAll(multi).count() == 0 and multi.exceptAll(single).count() == 0


def _stopword_ratios_unbound(df, text_col, id_col, stops_by_lang):
    """``text._stopword_ratios`` as language ID spelled it before the
    words and hit counts were bound: every read of a ratio re-derives
    the word split and its stopword filter."""
    from hadoop_3_3_6_spark.functions.text import _ratio_or_zero, stopword_hits_sql, words_sql

    total = F.size(F.expr(words_sql(text_col)))
    return df, {
        lang: _ratio_or_zero(F.expr(stopword_hits_sql(words_sql(text_col), stops)), total)
        for lang, stops in stops_by_lang.items()
    }


_LANG_EDGE_DOCS = [
    "",
    None,
    "     ",  # only spaces: no words, every ratio 0
    "the der",  # en and de tie: en wins by declaration order
    "der le und et x",  # de and fr tie: de wins
    "the der le",  # three-way tie
    "zz yy xx",  # no stopword: unk
    " ".join(["der", "die", "the", "le", "w"][i % 5] for i in range(2000)),
]


@pytest.mark.parametrize("op", ["language_id", "language_id_multi"])
def test_language_id_bound_counts_differential(spark, monkeypatch, op):
    """Language ID reads its word count and per-language stopword hits
    from one let-bound word array.  Pinned against the unbound form,
    which re-derives the split at every read of a ratio, on edge
    documents: empty, NULL, only spaces, two- and three-way ties
    between languages and one 2000-word document.  The values must be
    identical."""
    from hadoop_3_3_6_spark.functions import text

    df = _docs(spark, _LANG_EDGE_DOCS)
    new = getattr(text, op)(df)
    monkeypatch.setattr(text, "_stopword_ratios", _stopword_ratios_unbound)
    old = getattr(text, op)(df)
    assert _splits(new) == 1 < _splits(old)
    rows = {r.doc_id: r.pred_lang for r in new.collect()}
    if op == "language_id_multi":
        assert [rows[i] for i in (3, 4, 5, 6)] == ["en", "de", "en", "unk"]
    assert old.count() == new.count() == len(_LANG_EDGE_DOCS)
    assert old.exceptAll(new).count() == 0 and new.exceptAll(old).count() == 0


_LINE_EDGE_DOCS = [
    "",
    None,
    "\n\n  \n",  # only blank lines: no lines, both fractions 0
    "one line, no newline",
    "- a\n* b\n• c\nplain",
    "end...\nend…\n \n  x...  \n- y",
    "\n".join(["- item", "text", "more..."][i % 3] for i in range(2000)),
]


def test_gopher_bound_lines_differential(spark, monkeypatch):
    """The Gopher rules read their line count and bullet / ellipsis
    line counts from one let-bound line array.  Pinned against the
    unbound form, with the line rule re-derived at every use, on line
    edge documents: empty, NULL, blank lines only, no newline, bullet
    and ellipsis lines with surrounding spaces and one 2000-line
    document.  The values must be identical."""
    from hadoop_3_3_6_spark.functions import text

    df = _docs(spark, _LINE_EDGE_DOCS)
    new = text.gopher_quality_rules(df)
    monkeypatch.setattr(text, "let_sql", _inline_binding("ls"))
    old = text.gopher_quality_rules(df)
    assert _splits(new) == 2 < _splits(old)  # one word split, one line split
    fracs = {r.doc_id: (r.bullet_line_frac, r.ellipsis_line_frac) for r in new.collect()}
    assert fracs[2] == (0.0, 0.0) and fracs[4] == (0.75, 0.0) and fracs[5] == (0.25, 0.75)
    assert old.count() == new.count() == len(_LINE_EDGE_DOCS)
    assert old.exceptAll(new).count() == 0 and new.exceptAll(old).count() == 0


_BOILERPLATE_DOCS = [
    f"home about contact us {body} copyright all rights reserved"
    for body in ["alpha beta gamma delta", "alpha beta gamma epsilon zeta", "one two three", "", "alpha beta"]
] + ["unique words only here please", "copyright all rights reserved", "home about contact"]


@pytest.mark.parametrize("texts", [_WORD_EDGE_DOCS, _BOILERPLATE_DOCS], ids=["word_edges", "boilerplate"])
def test_span_fraction_agrees_with_spans(spark, texts):
    """The two span operators mark the same shingle instances: per
    document, duplicated_span_fraction's dup_shingles equals the
    number of shingle positions inside its duplicated_spans runs (a
    run of run_tokens tokens holds run_tokens - n + 1 shingles)."""
    from hadoop_3_3_6_spark.functions.dedup import duplicated_spans

    n = 3
    df = _docs(spark, texts)
    frac = {r.doc_id: r.dup_shingles for r in duplicated_span_fraction(df, "text", "doc_id", n=n).collect()}
    in_runs = {i: 0 for i in frac}
    for r in duplicated_spans(df, "text", "doc_id", n=n).collect():
        in_runs[r.doc_id] += r.run_tokens - n + 1
    assert len(frac) == len(texts)
    assert any(frac.values())  # the corpus has duplicated spans to compare
    assert frac == in_runs


def test_sampling_null_edges(spark):
    """NULL-input contracts from the r8 review: a NULL source is a real
    stratum that temperature sampling must keep (null-safe join), and a
    NULL text packs as 0 tokens without corrupting later offsets."""
    from hadoop_3_3_6_spark.functions.sampling import pack_sequences, temperature_sample

    rows = [(i, "big" if i < 40 else None) for i in range(44)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = temperature_sample(df, "doc_id", "source", alpha=1.0)
    assert out.count() == 44  # alpha=1 keeps everything, NULL stratum included
    assert out.filter("source IS NULL").count() == 4

    docs = spark.createDataFrame(
        [(0, "a b c"), (1, None), (2, "d e")], "doc_id long, text string"
    )
    packed = {r.doc_id: r for r in pack_sequences(docs, seq_len=10, num_blocks=1).collect()}
    assert packed[1].n_tokens == 0
    assert all(r.start_offset >= 0 for r in packed.values())
    # offsets are gapless over the block regardless of the NULL doc
    ordered = sorted(packed.values(), key=lambda r: r.start_offset)
    cum = 0
    for r in ordered:
        assert r.bin_id * 10 + r.start_offset == cum
        cum += r.n_tokens


def test_html_to_text_extraction_rules(spark):
    """The extraction contract feature by feature: CDATA containers
    (with markup inside) drop nesting-safe, comments strip, named +
    numeric + hex character references decode, inline tags are
    transparent while block tags segment, br/hr break blocks,
    whitespace collapses per block, <title> is captured and excluded
    from the body, and drop_tags subtrees vanish whole."""
    from hadoop_3_3_6_spark.functions.text import html_to_text

    pages = [
        (
            0,
            '<html><head><title> My  Title </title>'
            '<script>if (a < b) { x = "<div>no</div>"; }</script>'
            "<style>p { margin: 0 }</style></head>"
            "<body><p>alpha <b>beta</b> gamma</p>"
            "<noscript><p>fallback</p></noscript>"
            "<div>x&amp;y &#65; &#x42; &lt;tag&gt;</div></body></html>",
        ),
        (1, "one<br>two<hr>three"),
        (2, "<ul><li>a</li><li>b</li></ul><pre>  keep   collapsing  </pre>"),
        (
            3,
            '<nav><a href="/">Home</a></nav><article>body text</article>'
            "<footer>legal</footer>",
        ),
        (4, None),
    ]
    df = spark.createDataFrame(pages, "doc_id long, html string")
    out = {r.doc_id: r for r in html_to_text(df, "html").collect()}
    assert out[0].title == "My Title"
    assert out[0].text == "alpha beta gamma\nx&y A B <tag>"
    assert out[0].n_blocks == 2
    assert out[1].text == "one\ntwo\nthree" and out[1].title is None
    assert out[2].text == "a\nb\nkeep collapsing" and out[2].n_blocks == 3
    assert out[3].text == "Home\nbody text\nlegal"
    assert out[4].text is None and out[4].n_blocks == 0
    # boilerplate dropping: nav/footer subtrees vanish whole
    dropped = {
        r.doc_id: r
        for r in html_to_text(df, "html", drop_tags=("nav", "footer")).collect()
    }
    assert dropped[3].text == "body text" and dropped[3].n_blocks == 1


def test_html_to_text_malformed_is_permissive(spark):
    """Malformed markup never fails the task: unclosed tags, stray
    '<', unterminated entities, truncated attributes and binary junk
    all extract best-effort (HTMLParser's lenient grammar)."""
    from hadoop_3_3_6_spark.functions.text import html_to_text

    pages = [
        (0, "<p>unclosed <b>bold <div>next</p>"),
        (1, "stray < bracket & naked ampersand &#; bad ref"),
        (2, "<p abc"),           # truncated mid-attribute
        (3, "<!"),               # bogus declaration
        (4, "\x00\x01<p>ok</p>"),
    ]
    df = spark.createDataFrame(pages, "doc_id long, html string")
    out = {r.doc_id: r for r in html_to_text(df, "html").collect()}
    assert out[0].text == "unclosed bold\nnext"
    assert "naked ampersand" in out[1].text
    # a tag truncated mid-attribute is un-parseable as markup; the
    # lenient grammar surfaces it as literal text rather than dropping
    # bytes (and never crashes)
    assert out[2].text == "<p abc" and out[2].n_blocks == 1
    assert out[3].text == "<!" and out[3].n_blocks == 1
    assert out[4].text == "ok"


def test_apply_span_dedup_conservation(spark):
    """The apply-the-cut contract: duplicated runs vanish from the
    rewritten text, unique docs pass through verbatim, kept + cut
    equals the word count for every doc, and cut equals the sum of
    the doc's run_tokens (runs are disjoint merged islands)."""
    from hadoop_3_3_6_spark.functions.dedup import apply_span_dedup, duplicated_spans

    df = _docs(
        spark,
        [
            "a b c d Z p q r s",   # shares 'a b c d' and 'p q r s' with doc 1
            "a b c d w w w p q r s",
            "u v x y z1 z2 z3",    # nothing shared -> verbatim
            "",                    # empty doc
        ],
    )
    out = {r.doc_id: r for r in apply_span_dedup(df, "text", "doc_id", n=3).collect()}
    assert out[0].clean_text == "Z" and (out[0].kept_tokens, out[0].cut_tokens) == (1, 8)
    assert out[1].clean_text == "w w w" and out[1].cut_tokens == 8
    assert out[2].clean_text == "u v x y z1 z2 z3" and out[2].cut_tokens == 0
    assert out[3].clean_text == "" and out[3].kept_tokens == 0 and out[3].cut_tokens == 0
    # conservation vs the span table itself
    runs = duplicated_spans(df, "text", "doc_id", n=3).collect()
    cut_by_doc: dict[int, int] = {}
    for r in runs:
        cut_by_doc[r.doc_id] = cut_by_doc.get(r.doc_id, 0) + r.run_tokens
    for i, text in [(0, "a b c d Z p q r s"), (1, "a b c d w w w p q r s"), (2, "u v x y z1 z2 z3"), (3, "")]:
        total = len([w for w in text.split(" ") if w])
        assert out[i].kept_tokens + out[i].cut_tokens == total
        assert out[i].cut_tokens == cut_by_doc.get(i, 0)


def test_remove_duplicate_lines_semantics(spark):
    """Line-dedup contract: a line shared by >= min_df docs cuts from
    EVERY doc (including the first), under-threshold duplicates and
    unique lines survive, whitespace-only lines always survive as
    structure, order is preserved, and kept + cut equals the line
    count per doc."""
    from hadoop_3_3_6_spark.functions.dedup import remove_duplicate_lines

    header = "SHARED NAV HEADER"
    df = _docs(
        spark,
        [
            f"{header}\nbody zero\n\nfooter zero",
            f"{header}\nbody one\npair line",
            f"{header}\nbody two\npair line",
            "no boilerplate here\n   \nat all",
            "",
        ],
    )
    out = {
        r.doc_id: r for r in remove_duplicate_lines(df, "text", "doc_id", min_df=3).collect()
    }
    # header in 3 docs >= min_df -> cut everywhere; 'pair line' in 2 < 3 -> kept
    assert out[0].clean_text == "body zero\n\nfooter zero"
    assert (out[0].kept_lines, out[0].cut_lines) == (3, 1)
    assert out[1].clean_text == "body one\npair line"
    assert out[2].clean_text == "body two\npair line"
    # whitespace-only line survives as structure
    assert out[3].clean_text == "no boilerplate here\n   \nat all"
    assert out[3].cut_lines == 0
    # empty doc: one empty line, kept
    assert out[4].clean_text == "" and (out[4].kept_lines, out[4].cut_lines) == (1, 0)
    # conservation per doc
    texts = {r.doc_id: r.text for r in df.collect()}
    for i, t in texts.items():
        assert out[i].kept_lines + out[i].cut_lines == len(t.split("\n"))


def test_html_to_text_rejects_output_column_collision(spark):
    """Re-extracting alongside an existing text/title/n_blocks column
    must fail fast with a named-column ValueError instead of yielding
    duplicate column names and ambiguous references downstream
    (round-9 ADVICE)."""
    import pytest

    from hadoop_3_3_6_spark.functions.text import html_to_text

    df = spark.createDataFrame(
        [(1, "<p>hi</p>", "old text")], "doc_id long, html string, text string"
    )
    with pytest.raises(ValueError, match=r"\['text'\].*already exist"):
        html_to_text(df, "html")
    # renamed input extracts fine
    ok = html_to_text(df.withColumnRenamed("text", "old_text"), "html").collect()[0]
    assert ok.text == "hi" and ok.old_text == "old text"


def test_quality_classifier_learns_and_is_integer_exact(spark):
    """The fasttext-style linear quality classifier: (a) learns a
    separating marker on a hand corpus (gold scores above crawl,
    correct keep decisions); (b) the shuffle-free apply projection
    reproduces the training loop's dots exactly (same distinct-bucket
    integer sum), pinned by re-deriving one doc's score from the
    returned weights in pure python."""
    import hashlib
    import math

    from hadoop_3_3_6_spark.functions.text import (
        QC_SIGMOID_BINS,
        QC_SIGMOID_RANGE,
        apply_quality_classifier,
        qc_sigmoid_table_micro,
        train_quality_classifier,
    )

    rows = [
        (i, f"common filler words plus {'goldsign' if i % 2 else 'dross'} tail {i % 3}", i % 2)
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, label int")
    w = train_quality_classifier(df, buckets=64, iters=15, lr=1.0)
    out = {r.doc_id: r for r in apply_quality_classifier(df, w, keep_cols=("label",)).collect()}
    gold = [r for r in out.values() if r.label == 1]
    crawl = [r for r in out.values() if r.label == 0]
    assert min(r.score for r in gold) > max(r.score for r in crawl)
    assert all(r.predicted for r in gold) and not any(r.predicted for r in crawl)

    # python re-derivation of doc 1's score from the returned weights
    # (wordNgrams=2: salted unigrams + consecutive word bigrams share
    # the bucket space)
    def bucket(g):
        return int(hashlib.md5(g.encode()).hexdigest()[:15], 16) % 64

    table = qc_sigmoid_table_micro()
    ws = [t for t in rows[1][1].split(" ") if t]
    gs = [f"qc1:{w}" for w in ws] + [
        f"qc2:{ws[i - 1]} {ws[i]}" for i in range(1, len(ws))
    ]
    bs = {bucket(g) for g in gs}
    dot = sum(w[b] for b in bs) + w[64]
    idx = min(max(((dot + 8_000_000) * QC_SIGMOID_BINS) // 16_000_000, 0), QC_SIGMOID_BINS - 1)
    assert out[1].score == table[idx] / 1e6
    # the table is the published logistic curve at bin midpoints
    mid = table[QC_SIGMOID_BINS // 2]
    z = (0.5) * (2 * QC_SIGMOID_RANGE / QC_SIGMOID_BINS)
    assert mid == round(1e6 / (1 + math.exp(-z)))


def test_quality_classifier_apply_rejects_output_collision(spark):
    """keep_cols naming score/predicted must fail fast with the named
    columns (the html_to_text collision stance)."""
    import pytest

    from hadoop_3_3_6_spark.functions.text import apply_quality_classifier

    df = spark.createDataFrame([(1, "a b", 0.5)], "doc_id long, text string, score double")
    with pytest.raises(ValueError, match=r"\['score'\].*keep_cols"):
        apply_quality_classifier(df, [0] * 65, keep_cols=("score",))


def test_canonicalize_urls_rules(spark):
    """Each canonicalization rule pinned: fragment, scheme/host case
    (path case preserved), default ports (http:80 / https:443,
    non-default kept), tracking params in every position, bare
    authority, and lookalike params that must survive."""
    from hadoop_3_3_6_spark.functions.text import canonicalize_urls

    cases = [
        ("http://h.com/A/B#frag", "http://h.com/A/B"),
        ("HTTP://WWW.Ex.COM/KeepCase/P", "http://www.ex.com/KeepCase/P"),
        ("http://h.com:80/p", "http://h.com/p"),
        ("https://h.com:443/p", "https://h.com/p"),
        ("http://h.com:8080/p", "http://h.com:8080/p"),  # non-default kept
        ("https://h.com:80/p", "https://h.com:80/p"),    # :80 is NOT https default
        ("http://h.com/p?utm_source=a&id=3", "http://h.com/p?id=3"),
        ("http://h.com/p?id=3&utm_source=a", "http://h.com/p?id=3"),
        ("http://h.com/p?utm_a=1&utm_b=2", "http://h.com/p"),
        ("http://h.com/p?fbclid=x", "http://h.com/p"),
        ("http://h.com/p?xutm_a=1", "http://h.com/p?xutm_a=1"),  # lookalike kept
        ("http://h.com", "http://h.com/"),
        ("HTTP://H.com:80", "http://h.com/"),
        ("http://h.com?gclid=z", "http://h.com/"),
        ("/relative/path", "/relative/path"),  # schemeless passthrough
    ]
    df = spark.createDataFrame([(i, u) for i, (u, _) in enumerate(cases)], "i long, url string")
    got = {r.i: r.canonical_url for r in canonicalize_urls(df, "url").collect()}
    for i, (u, want) in enumerate(cases):
        assert got[i] == want, f"{u!r}: got {got[i]!r}, want {want!r}"
    # idempotence: canonical keys must be FIXED POINTS, or re-running
    # the stage would silently re-key an already-deduped corpus
    df2 = spark.createDataFrame(
        [(i, v) for i, v in enumerate(got.values())], "i long, url string"
    )
    got2 = {r.i: r.canonical_url for r in canonicalize_urls(df2, "url").collect()}
    assert list(got2.values()) == list(got.values())
