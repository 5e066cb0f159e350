"""Sorts, limits, top-k, secondary sort, key-field sort DSL
(SURVEY.md §2.6, §2.12).

Reference parity targets (paths under /root/reference/):

- total-order sort via sampling + TotalOrderPartitioner
  MRC/mapreduce/lib/partition/TotalOrderPartitioner.java:50,
  InputSampler.java:97-312 — Spark's ``orderBy`` IS this algorithm
  (RangePartitioning with reservoir sampling), so a query sorts with
  ``orderBy`` directly (the ``sort`` query).
- secondary sort (values ordered within key group)
  MRX/SecondarySort.java:51-231 + grouping comparator Job.java:1026.
- Grep's top-k (single-reducer desc sort) MRX/Grep.java:82-92 —
  ``top_k`` uses orderBy+limit which Spark executes as TakeOrdered
  (per-partition heap + merge, no global shuffle).
- KeyFieldBasedComparator sort DSL (``-k pos1[,pos2][n][r]``)
  MRC/mapreduce/lib/partition/KeyFieldBasedComparator.java:38-53,
  parser KeyFieldHelper.java:296.
"""

from __future__ import annotations

import re
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def top_k(df: DataFrame, order: list[Column], k: int) -> DataFrame:
    """orderBy + limit → TakeOrdered physical op: each partition keeps a
    k-heap, driver merges k*partitions rows — no total sort at scale."""
    return df.orderBy(*order).limit(k)


def secondary_sort(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list[str],
    reduce_fn,
    schema,
) -> DataFrame:
    """Grouped iteration with values sorted within the group.

    Reference: SecondarySort.java:51-231 — composite key sorted on
    (group, order), partitioned/grouped on group only, so the reducer
    sees values in order.  Here: ``applyInPandas`` receives the whole
    group; we sort it before handing to ``reduce_fn(pdf) -> pdf``.

    Scale note: a group must fit in one task's memory (the reference
    had the same constraint via BackupStore, MRC/mapred/BackupStore.java).
    For giant groups prefer ``repartition(group).sortWithinPartitions``
    + ``mapInPandas`` streaming over the partition.
    """

    def apply(pdf: pd.DataFrame) -> pd.DataFrame:
        return reduce_fn(pdf.sort_values(order_cols, kind="mergesort"))

    return df.groupBy(*group_cols).applyInPandas(apply, schema=schema)


def grouped_sorted_apply(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list[str],
    apply_fn,
    schema,
    num_partitions: int | None = None,
) -> DataFrame:
    """Streamed secondary sort: repartition on the group key, sort
    within partitions on (group, order), then apply ``apply_fn(pdf)``
    to Arrow batches of COMPLETE groups — rows of a group are
    contiguous after the sort, and a carry buffer stitches groups that
    straddle batch boundaries.  Per-doc cost is one vectorized pandas
    pass per batch, not one Python call per group (the applyInPandas
    form in ``secondary_sort`` pays ~0.3 ms/group — prohibitive at
    millions of tiny groups; this form is the 100 TB path)."""
    import pandas as pd

    def run(batches) -> "Iterator[pd.DataFrame]":
        carry: pd.DataFrame | None = None
        for pdf in batches:
            if carry is not None:
                pdf = pd.concat([carry, pdf], ignore_index=True)
            if pdf.empty:
                carry = None
                continue
            # hold back the trailing group: it may continue next batch.
            # NULL-SAFE group comparison (round-9 review fix): pandas
            # `== None` / NaN equality is elementwise False, so a null
            # group key straddling a batch boundary would otherwise be
            # emitted split in two — exactly the bug the carry exists
            # to prevent
            last = tuple(pdf[c].iloc[-1] for c in group_cols)
            tail_mask = pd.Series(True, index=pdf.index)
            for c, v in zip(group_cols, last):
                if pd.isna(v):
                    tail_mask &= pdf[c].isna()
                else:
                    tail_mask &= pdf[c] == v
            carry = pdf[tail_mask]
            head = pdf[~tail_mask]
            if not head.empty:
                yield apply_fn(head)
        if carry is not None and not carry.empty:
            yield apply_fn(carry)

    parts = df.repartition(num_partitions, *group_cols) if num_partitions else df.repartition(*group_cols)
    ordered = parts.sortWithinPartitions(*group_cols, *order_cols)
    return ordered.mapInPandas(run, schema=schema)


# --- KeyFieldBasedComparator DSL ----------------------------------------


def parse_key_field_spec(spec: str) -> list[tuple[int, bool, bool]]:
    """Parse unix-sort-style specs like ``-k2,2nr -k1,1`` to
    [(begin_field_0based, numeric, reverse), ...] — the simple
    whole-field view.  Use ``parse_key_field_spec_full`` for the
    complete KeyDescription (char offsets, field ranges)."""
    return [(bf - 1, n, r) for bf, _bc, _ef, _ec, n, r in parse_key_field_spec_full(spec)]


def _parse_one_key(keyargs: str) -> tuple[int, int, int, int, bool, bool]:
    """KeyFieldHelper.parseKey reimplemented token-for-token
    (KeyFieldHelper.java:197-285): tokenize on the delimiter set
    'nr.,' (delimiters returned as tokens), walk
    ``f1[.c1][flags][,f2[.c2][flags]]``.  Flags may sit after either
    pos; a non-flag token where pos2's flags belong raises (the
    reference's IllegalArgumentException); ``int()`` on a non-number
    token raises ValueError like parseInt's NumberFormatException;
    running out of tokens mid-spec (e.g. ``-k2.``) raises like
    NoSuchElementException."""
    st = re.findall(r"[^nr.,]+|[nr.,]", keyargs)
    i = 0

    def nxt() -> str:
        nonlocal i
        if i >= len(st):
            raise ValueError(f"bad key-field spec -k{keyargs!r}: ran out of tokens")
        tok = st[i]
        i += 1
        return tok

    def has() -> bool:
        return i < len(st)

    bf, bc, ef, ec, num, rev = 1, 1, 0, 0, False, False
    if has():
        bf = int(nxt())
    if has():
        tok = nxt()
        if tok == ".":
            bc = int(nxt())
            if has():
                tok = nxt()
            else:
                return (bf, bc, ef, ec, num, rev)
        while True:
            if tok == "n":
                num = True
            elif tok == "r":
                rev = True
            else:
                break
            if has():
                tok = nxt()
            else:
                return (bf, bc, ef, ec, num, rev)
        if tok == ",":
            ef = int(nxt())
            if has():
                tok = nxt()
                if tok == ".":
                    ec = int(nxt())
                    if has():
                        tok = nxt()
                    else:
                        return (bf, bc, ef, ec, num, rev)
                while True:
                    if tok == "n":
                        num = True
                    elif tok == "r":
                        rev = True
                    else:
                        raise ValueError(
                            f"Invalid -k argument {keyargs!r}: must be of the "
                            "form -k pos1,[pos2], where pos is of the form f[.c]nr"
                        )
                    if has():
                        tok = nxt()
                    else:
                        break
            return (bf, bc, ef, ec, num, rev)
        raise ValueError(
            f"Invalid -k argument {keyargs!r}: must be of the form "
            "-k pos1,[pos2], where pos is of the form f[.c]nr"
        )
    return (bf, bc, ef, ec, num, rev)


def parse_key_field_spec_full(spec: str) -> list[tuple[int, int, int, int, bool, bool]]:
    """Full KeyFieldBasedComparator option grammar, REFERENCE-EXACT
    (KeyFieldBasedComparator.java:38-53, parser
    KeyFieldHelper.java:158-285 parseOption/parseKey): whitespace
    tokens are ``-n`` / ``-r`` / ``-nr`` global ordering options or
    ``-k<spec>`` / ``-k <spec>`` key descriptions; anything else is
    silently ignored (parseOption has no error arm).  Global flags
    apply to every keyspec that carries NO flags of its own; with no
    ``-k`` at all, the single global description (whole key, the
    global flags) is returned.

    Returns [(begin_field_1based, begin_char_1based,
    end_field_1based, end_char_1based, numeric, reverse)] mirroring
    KeyDescription — end_field 0 means 'to the end of the RECORD'
    (the -k2 form compares field 2 through the last character, like
    unix sort); end_char 0 means 'to the end of end_field'."""
    toks = spec.split()
    g_num = g_rev = False
    keys: list[list] = []
    i = 0
    while i < len(toks):
        arg = toks[i]
        if arg == "-n":
            g_num = True
        elif arg == "-r":
            g_rev = True
        elif arg == "-nr":
            g_num = True
            g_rev = True
        elif arg.startswith("-k"):
            keyargs = arg[2:]
            if not keyargs:
                i += 1
                if i >= len(toks):
                    break  # parseKey returns null on a bare trailing -k
                keyargs = toks[i]
            keys.append(list(_parse_one_key(keyargs)))
        i += 1
    for k in keys:
        if not (k[4] or k[5]):
            k[4], k[5] = g_num, g_rev
    if not keys:
        keys = [[1, 1, 0, 0, g_num, g_rev]]
    return [tuple(k) for k in keys]


def key_field_sort(df: DataFrame, text_col: str, spec: str, sep: str = "\t") -> DataFrame:
    """Sort separator-joined text records by a KeyFieldBasedComparator
    option string, compiling the FULL KeyDescription semantics
    (round-11 conformance review vs KeyFieldHelper.getStartOffset/
    getEndOffset): a key spans from position ``bc`` of field ``bf``
    through position ``ec`` of field ``ef``; ``ef = 0`` runs to the
    end of the record, ``ec = 0`` to the end of field ``ef``; an
    end-position past the record clamps to the record end (the
    reference's ``return end - 1`` arm — substring truncation here).

    BYTE-EXACT as of round 12 (ADVICE item): the reference's offset
    accumulators and comparator operate on the record's UTF-8 BYTES
    (getStartOffset/getEndOffset raw offset arithmetic;
    compareByteSequence unsigned byte order), so the ``.c`` positions
    in a keyspec are byte positions and the sort order is unsigned-
    byte lexicographic — this compiles every extent over
    ``encode(text,'utf-8')`` and compares BINARY keys (Spark binary
    ordering IS unsigned-byte lexicographic, like
    WritableComparator.compareBytes).  The r11 form counted CHARACTERS
    and compared strings — identical on ASCII, silently divergent on
    multi-byte UTF-8.

    Documented divergences (both deliberate): a record MISSING the
    begin field compares as the empty key — the reference's
    getStartOffset returns -1 and compareByteSequence then reports
    the pair unequal even when BOTH sides are missing, an asymmetric
    (unstable) comparator no total order can mirror; and ``n``
    compares via cast('double') (unparsable -> NULL, first in asc;
    a byte slice ending inside a multi-byte char can't parse as a
    number either way) instead of the reference's leading-digit
    parse — the oracle mirrors cast semantics and every registered
    spec sorts numeric-clean ASCII fields.

    ``F.split`` receives the pattern string as-is (no SQL-literal
    layer consumes backslashes), so a single ``re.escape`` is the
    correct escaping for regex-special separators like ``.`` or ``|``.
    """
    order: list[Column] = []
    for key, numeric, reverse in _key_field_slices(text_col, spec, sep):
        c = key
        if numeric:
            c = F.decode(c, "UTF-8").cast("double")
        order.append(c.desc() if reverse else c.asc())
    return df.orderBy(*order)


def _key_field_slices(
    text_col: str, spec: str, sep: str
) -> list[tuple[Column, bool, bool]]:
    """Compile each KeyDescription of ``spec`` to its BYTE-RANGE slice
    of the record (binary Column) plus the (numeric, reverse) flags —
    the shared extent algebra of KeyFieldBasedComparator and
    KeyFieldBasedPartitioner (both call the same
    KeyFieldHelper.getStartOffset/getEndOffset accumulators)."""
    fields = F.split(F.col(text_col), re.escape(sep))
    nf = F.size(fields)
    rec = F.encode(F.col(text_col), "UTF-8")
    rec_len = F.length(rec)  # bytes, not chars
    seplen = len(sep.encode("utf-8"))

    def prefix_len(f: int) -> Column:
        """Bytes before field ``f`` (fields 1..f-1 joined plus their
        trailing separators) — the reference's position accumulator."""
        if f == 1:
            return F.lit(0)
        return (
            F.length(F.encode(F.concat_ws(sep, F.slice(fields, 1, f - 1)), "UTF-8"))
            + seplen
        )

    out: list[tuple[Column, bool, bool]] = []
    for bf, bc, ef, ec, numeric, reverse in parse_key_field_spec_full(spec):
        # the key is a BYTE RANGE of the record (getStartOffset /
        # getEndOffset do raw offset arithmetic), so an offset past
        # its field legitimately runs INTO the following separator and
        # fields — slice the ORIGINAL record bytes, never a re-joined
        # field list
        start_pos = prefix_len(bf) + bc
        if ef == 0:
            end_pos = rec_len
        else:
            p = (
                prefix_len(ef)
                + (
                    F.length(F.encode(F.element_at(fields, ef), "UTF-8"))
                    if ec == 0
                    else F.lit(0)
                )
                + ec
            )
            # record shorter than the end field, or end past the
            # record: clamp to the record end (the `return end - 1`
            # arms of getEndOffset)
            end_pos = F.when(nf >= ef, F.least(p, rec_len)).otherwise(rec_len)
        key = rec.substr(start_pos, F.greatest(end_pos - start_pos + 1, F.lit(0)))
        # missing begin field (or begin position past the record) ->
        # the empty key: the stand-in for the -1 arm (documented
        # divergence for the comparator; EXACT for the partitioner,
        # whose `continue` and an empty fold hash identically)
        out.append((F.when(nf >= bf, key).otherwise(F.lit(b"")), numeric, reverse))
    return out


def key_field_partition(
    text_col: str, spec: str | None, num_partitions: int, sep: str = "\t"
) -> Column:
    """KeyFieldBasedPartitioner.getPartition, BYTE-EXACT
    (KeyFieldBasedPartitioner.java:85-131): each key spec's byte
    extent — the SAME KeyFieldHelper offset algebra the comparator
    compiles — is folded through ``hashCode(b, start, end,
    currentHash) = 31*currentHash + b[i]`` starting at 0 and CHAINED
    across specs, then ``(hash & Integer.MAX_VALUE) % n``.

    Reference edge cases, all exact: a record missing a spec's begin
    field skips that spec (``continue``, line 111 — an empty fold);
    an EMPTY record returns partition 0 (line 101 — automatic here:
    every fold stays at the 0 seed); NO key spec falls back to
    ``key.toString().hashCode()`` — java.lang.String's UTF-16
    hashCode, line 90 — pass ``spec=None`` for that arm.

    The ``-n``/``-r`` flags affect only the comparator; the
    partitioner hashes the raw bytes regardless, so they are accepted
    and ignored here exactly as the reference does."""
    from hadoop_3_3_6_spark.operators.partitioners import (
        hash_partition,
        java_hash_bytes,
        java_string_hash_code,
    )

    if not spec:
        return hash_partition(java_string_hash_code(F.col(text_col)), num_partitions)
    current: Column | int = 0
    for key, _numeric, _reverse in _key_field_slices(text_col, spec, sep):
        current = java_hash_bytes(key, init=current)
    return hash_partition(current if isinstance(current, Column) else F.lit(0), num_partitions)
