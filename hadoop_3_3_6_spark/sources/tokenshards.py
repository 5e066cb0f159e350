"""Tokenized training-shard sink/source — the Megatron-LM indexed
dataset layout (public format: NVIDIA/Megatron-LM
``megatron/core/datasets/indexed_dataset.py``; originally
fairseq's ``data/indexed_dataset.py``):

- ``shard-NNNNN.bin`` — every document's token ids concatenated,
  little-endian fixed-width ints;
- ``shard-NNNNN.idx`` — magic ``MMIDIDX\\x00\\x00``, version uint64=1,
  dtype code uint8, sequence count uint64, document count uint64,
  then int32 ``sizes[]``, int64 ``pointers[]`` (byte offsets into the
  .bin) and int64 ``doc_idx[]`` (0..n cumulative sequence index) —
  the exact field order the public readers mmap;
- ``shard-NNNNN.ids`` — an engine sidecar of int64 doc ids in shard
  order (the Megatron format is positional; training pipelines carry
  provenance out-of-band, this sidecar makes the roundtrip
  self-contained).

This is the LAST MILE of the pretraining pipeline (tokenize → pack →
shard export): at 100 TB each executor partition streams its documents
into exactly one shard triple, each file published whole by
``pydatasource.publish_file`` and ``.idx`` LAST (the reader lists
shards by it, so a task dying mid-shard leaves no unreadable listed
shard); the only driver state is the manifest of per-shard counts,
and read-back parallelizes over shard files with executor-side IO.
"""

from __future__ import annotations

import os
import struct
from collections.abc import Iterator

import numpy as np
from pyspark.sql import DataFrame, SparkSession

from hadoop_3_3_6_spark.sources.pydatasource import list_data_files, publish_file

_MAGIC = b"MMIDIDX\x00\x00"
# the public dtype registry (indexed_dataset.py); we write int32 (4)
_DTYPES = {1: np.uint8, 2: np.int8, 3: np.int16, 4: np.int32, 5: np.int64, 8: np.uint16}
_DTYPE_CODES = {v: k for k, v in _DTYPES.items()}


def encode_idx(sizes: list[int], dtype=np.int32) -> bytes:
    """The .idx payload for one shard: header + sizes + pointers +
    doc_idx, exactly as the public mmap reader expects."""
    code = _DTYPE_CODES[dtype]
    itemsize = np.dtype(dtype).itemsize
    out = bytearray(_MAGIC)
    out += struct.pack("<Q", 1)  # version
    out += struct.pack("<B", code)
    out += struct.pack("<Q", len(sizes))  # sequence count
    # document count = len(doc_idx) = sequences + 1 (doc_idx is the
    # 0..n cumulative boundary array) — the value the public
    # Megatron/fairseq readers use to size their doc_idx mmap; writing
    # len(sizes) here would silently drop the terminal boundary for a
    # foreign reader
    out += struct.pack("<Q", len(sizes) + 1)
    out += np.asarray(sizes, dtype=np.int32).tobytes()
    pointers = np.zeros(len(sizes), dtype=np.int64)
    if len(sizes) > 1:
        pointers[1:] = np.cumsum(np.asarray(sizes[:-1], dtype=np.int64)) * itemsize
    out += pointers.tobytes()
    out += np.arange(len(sizes) + 1, dtype=np.int64).tobytes()  # doc_idx
    return bytes(out)


def decode_idx(payload: bytes):
    """Parse a .idx payload -> (dtype, sizes, pointers).  Validates the
    magic/version so a corrupt or foreign file fails loudly."""
    if payload[:9] != _MAGIC:
        raise ValueError("not an MMIDIDX index file")
    version, = struct.unpack_from("<Q", payload, 9)
    if version != 1:
        raise ValueError(f"unsupported MMIDIDX version {version}")
    code, = struct.unpack_from("<B", payload, 17)
    if code not in _DTYPES:
        # codes 6/7 are float32/float64 in the public registry — valid
        # MMIDIDX, but not token-id data; name the contract instead of
        # surfacing a bare KeyError (round-10 binary-source review)
        raise ValueError(
            f"MMIDIDX dtype code {code} is not an integer token dtype; "
            f"this reader supports codes {sorted(_DTYPES)}"
        )
    dtype = _DTYPES[code]
    n_seq, = struct.unpack_from("<Q", payload, 18)
    n_doc, = struct.unpack_from("<Q", payload, 26)
    if n_doc != n_seq + 1:
        raise ValueError(
            f"MMIDIDX doc count {n_doc} != sequences+1 ({n_seq + 1}) — "
            "not a 1-sequence-per-document shard"
        )
    off = 34
    sizes = np.frombuffer(payload, dtype=np.int32, count=n_seq, offset=off)
    off += 4 * n_seq
    pointers = np.frombuffer(payload, dtype=np.int64, count=n_seq, offset=off)
    return dtype, sizes, pointers


def write_token_shards(
    df: DataFrame,
    path: str,
    id_col: str = "doc_id",
    ids_col: str = "token_ids",
    dtype=np.int32,
) -> DataFrame:
    """Write (id, token_ids array) rows as Megatron-style shard triples
    — ONE shard per partition, streamed executor-side, each file
    published through ``publish_file`` (``.idx`` last).  Returns the
    manifest DataFrame (shard, n_docs, n_tokens); empty partitions
    write nothing."""
    os.makedirs(path, exist_ok=True)
    import pandas as pd

    itemtype = np.dtype(dtype)

    def write(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        stem = os.path.join(path, f"shard-{pid:05d}")
        sizes: list[int] = []
        doc_ids: list[int] = []

        def write_bin(f) -> int:
            for pdf in batches:
                for i, ids in zip(pdf[id_col], pdf[ids_col]):
                    arr = np.asarray(list(ids), dtype=itemtype)
                    f.write(arr.tobytes())
                    sizes.append(len(arr))
                    doc_ids.append(int(i))
            return len(sizes)

        if not publish_file(f"{stem}.bin", write_bin):
            yield pd.DataFrame({"shard": [], "n_docs": [], "n_tokens": []}).astype(
                {"shard": str, "n_docs": "int64", "n_tokens": "int64"}
            )
            return
        publish_file(f"{stem}.ids", lambda f: f.write(np.asarray(doc_ids, dtype=np.int64).tobytes()))
        publish_file(f"{stem}.idx", lambda f: f.write(encode_idx(sizes, itemtype.type)))
        yield pd.DataFrame(
            {
                "shard": [os.path.basename(stem)],
                "n_docs": [len(sizes)],
                "n_tokens": [int(sum(sizes))],
            }
        )

    return df.select(id_col, ids_col).mapInPandas(
        write, schema="shard string, n_docs long, n_tokens long"
    )


def read_token_shards(spark: SparkSession, path: str) -> DataFrame:
    """Read a shard directory back to (doc_id, token_ids) — one task
    per shard triple, executor-side IO, ids restored from the sidecar.

    Output schema is ``array<bigint>``: the public dtype registry this
    reader honors includes int64 shards, and the earlier unconditional
    ``astype(int32)`` silently truncated token ids above 2^31 when
    reading a foreign int64-written shard (round-9 ADVICE fix) — every
    registered integer dtype widens into int64 losslessly."""
    import pandas as pd

    if not os.path.isdir(path):
        raise FileNotFoundError(f"no token-shard directory {path!r}")
    stems = [p[: -len(".idx")] for p in list_data_files(path, ".idx")]
    if not stems:
        return spark.createDataFrame([], "doc_id bigint, token_ids array<bigint>")
    # range-partition on a dense index: exactly one shard per task
    # (hash-repartition on the stem collides and serializes shards)
    files = spark.createDataFrame(
        [(i, s) for i, s in enumerate(stems)], "i long, stem string"
    ).repartitionByRange(len(stems), "i")

    def read(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for stem in pdf["stem"]:
                with open(f"{stem}.idx", "rb") as f:
                    dtype, sizes, pointers = decode_idx(f.read())
                with open(f"{stem}.bin", "rb") as f:
                    data = f.read()
                with open(f"{stem}.ids", "rb") as f:
                    doc_ids = np.frombuffer(f.read(), dtype=np.int64)
                itemsize = np.dtype(dtype).itemsize
                rows = [
                    np.frombuffer(
                        data, dtype=dtype, count=int(sz), offset=int(ptr)
                    ).astype(np.int64).tolist()
                    for sz, ptr in zip(sizes, pointers)
                ]
                assert len(data) == int(sizes.astype(np.int64).sum()) * itemsize
                yield pd.DataFrame({"doc_id": doc_ids, "token_ids": rows})

    return files.mapInPandas(read, schema="doc_id bigint, token_ids array<bigint>")
