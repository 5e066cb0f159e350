"""Tests for data-movement tools (DistCp / archives analogues,
SURVEY.md §2.11) and the multimodal / approximate pipelines."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from hadoop_3_3_6_spark.sources.tools import (
    archive_files,
    dist_copy,
    random_kv,
    random_text,
    unarchive_files,
)


@pytest.fixture()
def src_files(tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    for i in range(5):
        (src / f"f{i}.bin").write_bytes(bytes([i]) * (100 + i))
    return src


def test_dist_copy(spark, src_files, tmp_path):
    dst = tmp_path / "dst"
    n = dist_copy(spark, str(src_files / "*.bin"), str(dst))
    assert n == 5
    for i in range(5):
        assert (dst / f"f{i}.bin").read_bytes() == bytes([i]) * (100 + i)
    # -update: nothing to copy the second time (sizes match)
    assert dist_copy(spark, str(src_files / "*.bin"), str(dst), update=True) == 0
    # change one source file -> exactly one recopied
    (src_files / "f0.bin").write_bytes(b"changed!")
    assert dist_copy(spark, str(src_files / "*.bin"), str(dst), update=True) == 1
    assert (dst / "f0.bin").read_bytes() == b"changed!"


def test_dst_listing_handles_uri_destinations(spark, tmp_path):
    """Regression: -update used to gate its destination listing on
    os.path.isdir, silently degrading any URI destination to a full
    recopy.  URI destinations list distributedly when the scheme
    resolves (file: normalizes to the local branch), and the bounded
    driver-side pyarrow fallback must produce the identical
    (rel, _dst_length) listing for schemes the file source can't."""
    from hadoop_3_3_6_spark.sources.tools import _dst_listing, _dst_listing_pyarrow

    d = tmp_path / "remote"
    (d / "sub").mkdir(parents=True)
    (d / "a.bin").write_bytes(b"x" * 10)
    (d / "sub" / "b.bin").write_bytes(b"y" * 20)
    want = {("a.bin", 10), ("sub/b.bin", 20)}
    got = {(r.rel, r._dst_length) for r in _dst_listing(spark, f"file://{d}").collect()}
    assert got == want
    fb = {(r.rel, r._dst_length) for r in _dst_listing_pyarrow(spark, f"file://{d}").collect()}
    assert fb == want
    # absent URI destination -> None (full copy), not an exception
    assert _dst_listing(spark, f"file://{tmp_path}/nope") is None


def test_archive_roundtrip(spark, src_files, tmp_path):
    arch = str(tmp_path / "arch.parquet")
    archive_files(spark, str(src_files / "*.bin"), arch)
    out = tmp_path / "restored"
    assert unarchive_files(spark, arch, str(out)) == 5
    assert (out / "f3.bin").read_bytes() == bytes([3]) * 103
    # indexed single-file lookup (the .har random-access role)
    out2 = tmp_path / "one"
    assert unarchive_files(spark, arch, str(out2), path_filter="f1\\.bin$") == 1
    assert os.listdir(out2) == ["f1.bin"]


def test_random_generators_deterministic(spark):
    a = random_kv(spark, 100, seed=7).collect()
    b = random_kv(spark, 100, seed=7).collect()
    assert a == b
    assert all(len(r["key"]) == 10 and len(r["value"]) == 90 for r in a)
    t = random_text(spark, 50, words_per_row=5, seed=1)
    rows = t.collect()
    assert len(rows) == 50 and all(len(r["text"].split(" ")) == 5 for r in rows)


def test_multimodal_decode_stub(spark):
    from hadoop_3_3_6_spark.functions.multimodal import decode_stub

    with pytest.raises(NotImplementedError):
        decode_stub(b"xx")


def test_approx_distinct_tolerance(spark, sf_dir):
    from hadoop_3_3_6_spark.plans.queries import QUERIES

    rows = QUERIES["approx_distinct_suppliers"](spark, sf_dir).collect()
    for r in rows:
        rel_err = abs(r["approx_suppliers"] - r["exact_suppliers"]) / r["exact_suppliers"]
        assert rel_err < 0.1, f"{r['l_returnflag']}: {rel_err:.3f}"


def test_lsh_recall_vs_bruteforce(spark, sf_dir):
    """The DEFAULT (numpy-matmul buckets) LSH ANN path must find a
    decent fraction of the true top-5 (approximate by construction;
    recall floor keeps it honest).  The portable-bucket mode is exactly
    oracle-checked via the registered query instead."""
    from hadoop_3_3_6_spark.functions.similarity import lsh_bucketed_topk
    from hadoop_3_3_6_spark.plans.queries import QUERIES
    from hadoop_3_3_6_spark.session import load_table

    exact = QUERIES["similarity_topk"](spark, sf_dir).toPandas()
    emb = load_table(spark, "embeddings", sf_dir)
    probes = emb.filter(F.col("vec_id") < 25).select("vec_id")
    approx = lsh_bucketed_topk(
        emb, "vec_id", "embedding", k=5, num_tables=8, bits_per_table=4, dim=64, probes=probes
    ).toPandas()
    truth = set(zip(exact.probe_id, exact.neighbor_id))
    got = set(zip(approx.probe_id, approx.neighbor_id))
    recall = len(truth & got) / len(truth)
    assert recall >= 0.2, f"LSH recall {recall:.2f}"


def test_kmeans_trained_ivf_recall(spark, sf_dir):
    """Lloyd-trained IVF centroids must (a) strictly reduce k-means
    inertia vs the hash-seeded init and (b) give the IVF ANN path a
    reasonable recall floor vs exact brute force."""
    from hadoop_3_3_6_spark.functions.similarity import ivf_topk, train_kmeans_centroids
    from hadoop_3_3_6_spark.plans.queries import QUERIES
    from hadoop_3_3_6_spark.session import load_table

    emb = load_table(spark, "embeddings", sf_dir)

    def inertia(cents_df):
        dist = F.expr(
            "aggregate(zip_with(v, cvec, (x, y) -> (x - y) * (x - y)), cast(0.0 as double), (acc, d) -> acc + d)"
        )
        return (
            emb.select(F.col("vec_id"), F.col("embedding").cast("array<double>").alias("v"))
            .crossJoin(F.broadcast(cents_df))
            .select("vec_id", dist.alias("d"))
            .groupBy("vec_id")
            .agg(F.min("d").alias("d"))
            .agg(F.sum("d"))
            .collect()[0][0]
        )

    seeds = train_kmeans_centroids(emb, "vec_id", "embedding", k=8, iters=0)
    trained = train_kmeans_centroids(emb, "vec_id", "embedding", k=8, iters=3)
    assert inertia(trained) < inertia(seeds), "training did not reduce inertia"

    exact = QUERIES["similarity_topk"](spark, sf_dir).toPandas()
    probes = emb.filter(F.col("vec_id") < 25).select("vec_id")
    approx = ivf_topk(
        emb, "vec_id", "embedding", k=5, nprobe=3, probes=probes, centroids=trained
    ).toPandas()
    truth = set(zip(exact.probe_id, exact.neighbor_id))
    got = set(zip(approx.probe_id, approx.neighbor_id))
    recall = len(truth & got) / len(truth)
    assert recall >= 0.4, f"trained-IVF recall {recall:.2f}"


@pytest.mark.parametrize("trainer", ["kmeans", "pq_m1"])
def test_lloyd_empty_cell_and_tie_rules(spark, trainer):
    """One Lloyd iteration on a hand-built frame pins two rules of the
    shared trainer, for k-means and for PQ with m=1 alike: an
    equidistant vector joins the LOWER centroid id, and a centroid no
    vector picks keeps its previous value.  The 3 smallest md5 id ranks
    are ids 0, 5, 3, so those rows seed centroids 0, 1, 2.  Centroids
    0 and 1 are the same point, so every tie between them goes to 0
    and centroid 1 is left empty; (5, 5) is equidistant from all three
    and joins 0.  Means snap to the 1e-3 grid."""
    from hadoop_3_3_6_spark.functions.similarity import (
        train_kmeans_centroids,
        train_pq_codebooks,
    )

    rows = [
        (0, [0.0, 0.0]),    # seed of centroid 0
        (5, [0.0, 0.0]),    # seed of centroid 1: the same point
        (3, [10.0, 10.0]),  # seed of centroid 2
        (1, [1.0, 0.0]),    # tie 0/1 -> 0
        (2, [5.0, 5.0]),    # tie 0/1/2 -> 0
        (4, [9.0, 10.0]),   # -> 2
        (6, [10.0, 11.0]),  # -> 2
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    if trainer == "kmeans":
        trained = train_kmeans_centroids(emb, k=3, iters=1, quantize_decimals=3)
        got = {r.cent_id: list(r.cvec) for r in trained.collect()}
    else:
        book = train_pq_codebooks(emb, m=1, codes=3, iters=1, quantize_decimals=3)[0]
        got = dict(enumerate(book))
    # centroid 0: mean of (0,0) (0,0) (1,0) (5,5); centroid 1 kept;
    # centroid 2: mean of (10,10) (9,10) (10,11) = (29/3, 31/3)
    assert got == {0: [1.5, 1.25], 1: [0.0, 0.0], 2: [9.667, 10.333]}


def test_parse_jvm_mem():
    """JVM -Xmx grammar: suffixed and plain-byte forms."""
    from hadoop_3_3_6_spark.session import _parse_jvm_mem

    assert _parse_jvm_mem("8g") == 8 * 1024**3
    assert _parse_jvm_mem("512m") == 512 * 1024**2
    assert _parse_jvm_mem("4096K") == 4096 * 1024
    assert _parse_jvm_mem("1t") == 1024**4
    assert _parse_jvm_mem("12345") == 12345
    assert _parse_jvm_mem(" 2G ") == 2 * 1024**3


def test_diversity_sample_invariants(spark, sf_dir):
    """Cluster-balanced prototype pruning: every cluster keeps exactly
    ceil(f x |cluster|) rows, kept rows are the LEAST prototypical
    (farthest strategy), 'nearest' keeps the opposite end, and the two
    strategies agree on quota."""
    import math

    from hadoop_3_3_6_spark.functions.similarity import diversity_sample
    from hadoop_3_3_6_spark.session import load_table

    emb = load_table(spark, "embeddings", sf_dir)
    far = diversity_sample(emb, num_centroids=4, keep_fraction=0.25).toPandas()
    near = diversity_sample(
        emb, num_centroids=4, keep_fraction=0.25, strategy="nearest"
    ).toPandas()

    assert len(far) == emb.count()  # one verdict row per vector
    for cid, grp in far.groupby("cluster_id"):
        quota = math.ceil(0.25 * len(grp))
        kept = grp[grp.keep]
        assert len(kept) == quota, f"cluster {cid}: {len(kept)} != {quota}"
        # kept = lowest prototypicality scores (ties broken by id, so
        # compare against the score at the quota boundary)
        boundary = grp.sort_values(["proto_score", "vec_id"]).proto_score.iloc[quota - 1]
        assert (kept.proto_score <= boundary).all()
    for cid, grp in near.groupby("cluster_id"):
        kept = grp[grp.keep]
        assert len(kept) == math.ceil(0.25 * len(grp))
        boundary = grp.sort_values(["proto_score", "vec_id"], ascending=[False, True]).proto_score.iloc[len(kept) - 1]
        assert (kept.proto_score >= boundary).all()

    import pytest

    with pytest.raises(ValueError):
        diversity_sample(emb, strategy="random")


def test_simhash_near_duplicates_close(spark):
    """Property: near-identical documents get hamming-close simhashes,
    unrelated documents don't."""
    from hadoop_3_3_6_spark.functions.dedup import simhash

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog again and again today"),
            (2, "the quick brown fox jumps over the lazy dog again and again tonight"),
            (3, "completely unrelated text about spark shuffle partitions and codegen stages"),
        ],
        "doc_id long, text string",
    )
    fp = {r["doc_id"]: r["simhash"] for r in simhash(docs, "text", "doc_id").collect()}
    df = spark.createDataFrame(
        [(fp[1], fp[2]), (fp[1], fp[3])], "a long, b long"
    ).select(F.bit_count(F.expr("a ^ b")).alias("d"))
    near, far = [r["d"] for r in df.collect()]
    assert near < far
    assert near <= 16


def test_bbp_digits_correct(spark, sf_dir):
    """pi in hex is 3.243F6A8885A308D3... — positions 1.. give the
    fractional digits."""
    from hadoop_3_3_6_spark.plans.queries import QUERIES

    rows = {r["position"]: r["hex_digit"] for r in QUERIES["bbp_pi_digits"](spark, sf_dir).collect()}
    # position n = n-th fractional hex digit: pi = 3.243F6A8885A308D3…
    expected = [0x2, 0x4, 0x3, 0xF, 0x6, 0xA, 0x8, 0x8, 0x8, 0x5, 0xA, 0x3]
    assert [rows[i] for i in range(12)] == expected


def test_approx_quantiles_tolerance(spark, sf_dir):
    """approx_percentile must land within 2% relative error of the
    exact median at sketch accuracy 1000."""
    from hadoop_3_3_6_spark.plans.queries import QUERIES

    for r in QUERIES["approx_quantiles_lineitem"](spark, sf_dir).collect():
        assert r["p25"] <= r["p50"] <= r["p75"]
        rel = abs(r["p50"] - r["exact_median"]) / r["exact_median"]
        assert rel < 0.02, f"{r['l_returnflag']}: rel err {rel:.4f}"


def test_dist_ch_chmod_touch(spark, tmp_path):
    """DistCh analogue: distributed chmod + touch over a glob."""
    import os
    import stat

    from hadoop_3_3_6_spark.sources.tools import dist_ch

    for i in range(5):
        (tmp_path / f"f{i}.txt").write_text(f"data{i}")
    n = dist_ch(spark, str(tmp_path / "*.txt"), mode=0o600, mtime=1_600_000_000.0)
    assert n == 5
    for i in range(5):
        st = os.stat(tmp_path / f"f{i}.txt")
        assert stat.S_IMODE(st.st_mode) == 0o600
        assert int(st.st_mtime) == 1_600_000_000


def test_dist_copy_preserves_subdir_paths(spark, tmp_path):
    """Two sources with the SAME basename in different subdirs must not
    collide: destinations preserve the path relative to the glob base."""
    src = tmp_path / "tree"
    (src / "a").mkdir(parents=True)
    (src / "b").mkdir()
    (src / "a" / "same.bin").write_bytes(b"AAA")
    (src / "b" / "same.bin").write_bytes(b"BBBB")
    dst = tmp_path / "out"
    n = dist_copy(spark, str(src / "*" / "*.bin"), str(dst))
    assert n == 2
    assert (dst / "a" / "same.bin").read_bytes() == b"AAA"
    assert (dst / "b" / "same.bin").read_bytes() == b"BBBB"


def test_dist_copy_sync_snapshot_diff(spark, tmp_path):
    """DistCpSync semantics: first sync copies everything; after
    create/modify/delete in the source, only the delta is applied."""
    from hadoop_3_3_6_spark.sources.tools import dist_copy_sync

    src = tmp_path / "src"
    src.mkdir()
    for i in range(4):
        (src / f"f{i}.txt").write_bytes(b"x" * (10 + i))
    dst, manifest = tmp_path / "dst", str(tmp_path / "manifest")
    first = dist_copy_sync(spark, str(src / "*.txt"), str(dst), manifest)
    assert first == {"copied": 4, "deleted": 0}
    # no-op sync: nothing changed
    assert dist_copy_sync(spark, str(src / "*.txt"), str(dst), manifest) == {
        "copied": 0,
        "deleted": 0,
    }
    # modify one, create one, delete one
    (src / "f0.txt").write_bytes(b"y" * 10)  # same size, new mtime -> recopied
    (src / "new.txt").write_bytes(b"n")
    (src / "f3.txt").unlink()
    delta = dist_copy_sync(spark, str(src / "*.txt"), str(dst), manifest)
    assert delta == {"copied": 2, "deleted": 1}
    assert (dst / "f0.txt").read_bytes() == b"y" * 10
    assert (dst / "new.txt").read_bytes() == b"n"
    assert not (dst / "f3.txt").exists()


def test_archive_roundtrip_subdirs(spark, tmp_path):
    src = tmp_path / "tree"
    (src / "a").mkdir(parents=True)
    (src / "b").mkdir()
    (src / "a" / "same.bin").write_bytes(b"AAA")
    (src / "b" / "same.bin").write_bytes(b"BBBB")
    arch = str(tmp_path / "arch.parquet")
    archive_files(spark, str(src / "*" / "*.bin"), arch)
    out = tmp_path / "restored"
    assert unarchive_files(spark, arch, str(out)) == 2
    assert (out / "a" / "same.bin").read_bytes() == b"AAA"
    assert (out / "b" / "same.bin").read_bytes() == b"BBBB"


def test_image_codec_roundtrips():
    """PPM and BMP encode/decode are byte-exact inverses (incl. BMP
    4-byte row padding at odd widths)."""
    import numpy as np

    from hadoop_3_3_6_spark.functions.multimodal import decode_image, encode_bmp, encode_ppm

    rng = np.random.default_rng(7)
    for h, w in [(5, 3), (4, 4), (7, 13)]:
        arr = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        assert (decode_image(encode_ppm(arr)) == arr).all()
        assert (decode_image(encode_bmp(arr)) == arr).all()


def test_resize_nearest_known_values():
    import numpy as np

    from hadoop_3_3_6_spark.functions.multimodal import resize_nearest

    # 2x2 checkerboard scaled to 4x4: each source pixel becomes a 2x2 block
    arr = np.array(
        [[[255, 0, 0], [0, 255, 0]], [[0, 0, 255], [255, 255, 255]]], dtype=np.uint8
    )
    big = resize_nearest(arr, 4, 4)
    assert (big[0, 0] == [255, 0, 0]).all() and (big[1, 1] == [255, 0, 0]).all()
    assert (big[0, 3] == [0, 255, 0]).all() and (big[3, 3] == [255, 255, 255]).all()


def test_real_image_decode_and_resize_in_spark(spark):
    """The mapInPandas stages run the REAL numpy decoders end-to-end on
    PPM, BMP, PNG and JPEG payloads: true dimensions, and thumbnails
    re-encoded in the source's own container.  A lossless source's
    thumbnail decodes to exactly resize_nearest of the source."""
    import numpy as np

    from hadoop_3_3_6_spark.functions.jpeg import encode_jpeg
    from hadoop_3_3_6_spark.functions.multimodal import (
        decode_features,
        decode_image,
        encode_bmp,
        encode_png,
        encode_ppm,
        resize_images,
        resize_nearest,
    )

    rng = np.random.default_rng(3)
    sources = {  # doc_id -> (image, encoder, magic, lossless)
        1: (rng.integers(0, 256, size=(16, 12, 3), dtype=np.uint8), encode_ppm, b"P6", True),
        2: (rng.integers(0, 256, size=(9, 21, 3), dtype=np.uint8), encode_bmp, b"BM", True),
        3: (rng.integers(0, 256, size=(11, 7, 3), dtype=np.uint8), encode_png, b"\x89PNG\r\n\x1a\n", True),
        4: (np.full((16, 24, 3), 90, dtype=np.uint8), encode_jpeg, b"\xff\xd8", False),
    }
    df = spark.createDataFrame(
        [(i, bytearray(enc(img))) for i, (img, enc, _, _) in sources.items()],
        "doc_id long, payload binary",
    )
    feats = {r["doc_id"]: r for r in decode_features(df).collect()}
    for i, (img, _, _, _) in sources.items():
        assert (feats[i]["width"], feats[i]["height"]) == (img.shape[1], img.shape[0])
    exp_mean = sources[1][0].reshape(-1, 3).mean(axis=0) / 255.0
    assert abs(feats[1]["feature"][0] - exp_mean[0]) < 1e-9

    thumbs = {r["doc_id"]: bytes(r["thumbnail"]) for r in resize_images(df, width=4, height=4).collect()}
    for i, (img, _, magic, lossless) in sources.items():
        assert thumbs[i][: len(magic)] == magic  # the source's container
        t = decode_image(thumbs[i])
        assert t.shape == (4, 4, 3)
        if lossless:
            assert (t == resize_nearest(img, 4, 4)).all()


def test_connected_components_chain_and_singleton(spark):
    """Min-label propagation must cross multi-hop chains (worst case
    for banded dedup graphs) and leave singletons self-labeled."""
    from hadoop_3_3_6_spark.functions.dedup import connected_components

    # chain 1-2-3-4-5 (diameter 4), pair 10-11, singleton 20
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11)], "id_a long, id_b long"
    )
    verts = spark.createDataFrame([(i,) for i in [1, 2, 3, 4, 5, 10, 11, 20]], "doc_id long")
    out = {r["id"]: r["cluster_id"] for r in connected_components(edges, vertices=verts).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 10: 10, 11: 10, 20: 20}


def test_minhash_index_roundtrip_matches_live(spark, sf_dir, tmp_path):
    """The persisted parquet band index must dedup identically to the
    live band DataFrame (hash-the-corpus-once contract)."""
    from hadoop_3_3_6_spark.functions.dedup import (
        build_minhash_index,
        dedup_against_index,
        minhash_bands,
    )
    from hadoop_3_3_6_spark.session import load_table

    docs = load_table(spark, "documents", sf_dir)
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    batch = docs.filter(F.col("doc_id") % 2 == 1)
    idx_path = str(tmp_path / "band_index")
    build_minhash_index(corpus, idx_path)
    live = minhash_bands(corpus)
    via_live = set(map(tuple, dedup_against_index(batch, live).collect()))
    via_parquet = set(
        map(tuple, dedup_against_index(batch, spark.read.parquet(idx_path)).collect())
    )
    assert via_live == via_parquet


def test_quantized_topk_recall_floor(spark, sf_dir):
    """Int8-quantized cosine top-k must stay near the exact float
    baseline — quantization error is grid-bounded, so recall below
    0.9 would mean the integer scoring is wrong, not merely lossy."""
    from pyspark.sql import functions as F

    from hadoop_3_3_6_spark.functions.similarity import cosine_topk_bruteforce, quantized_topk
    from hadoop_3_3_6_spark.session import load_table

    emb = load_table(spark, "embeddings", sf_dir)
    probes = emb.filter(F.col("vec_id") < 15).select("vec_id")
    exact = {
        (r.probe_id, r.neighbor_id)
        for r in cosine_topk_bruteforce(emb, "vec_id", "embedding", k=5, probes=probes).collect()
    }
    quant = {
        (r.probe_id, r.neighbor_id)
        for r in quantized_topk(emb, "vec_id", "embedding", k=5, probes=probes).collect()
    }
    assert len(exact & quant) / len(exact) >= 0.9


def _exact_l2_truth(emb, n_probes: int = 10, k: int = 5) -> set:
    """Ground-truth (probe, neighbor) pairs by exact L2 — ONE
    definition shared by every ANN recall-floor test (stable argsort,
    self excluded), so a tie-handling fix applies everywhere at once."""
    import numpy as np

    rows = emb.select("vec_id", "embedding").collect()
    ids = np.array([r["vec_id"] for r in rows])
    vecs = np.array([r["embedding"] for r in rows], dtype=np.float64)
    truth = set()
    for p in range(n_probes):
        pi = int(np.where(ids == p)[0][0])
        d = ((vecs - vecs[pi]) ** 2).sum(axis=1)
        nn = [int(ids[ix]) for ix in np.argsort(d, kind="stable") if int(ids[ix]) != p][:k]
        truth.update((p, i) for i in nn)
    return truth


def test_pq_topk_recall_floor(spark, sf_dir):
    """PQ/ADC top-k must land a reasonable recall floor vs the exact L2
    baseline.  The fixture's near-uniform 64-dim embeddings are PQ's
    worst case (no subspace structure to exploit); measured recall@5 at
    m=16/codes=16 is 0.40 — the 0.25 floor catches a broken encoder or
    table lookup, not ordinary quantization loss."""
    import numpy as np

    from hadoop_3_3_6_spark.functions.similarity import pq_topk, train_pq_codebooks
    from hadoop_3_3_6_spark.session import load_table

    emb = load_table(spark, "embeddings", sf_dir)
    books = train_pq_codebooks(
        emb, "vec_id", "embedding", m=16, codes=16, iters=3, quantize_decimals=3
    )
    probes = emb.filter(F.col("vec_id") < 10).select("vec_id")
    approx = pq_topk(emb, books, "vec_id", "embedding", k=5, probes=probes).toPandas()
    truth = _exact_l2_truth(emb)
    got = set(zip(approx.probe_id, approx.neighbor_id))
    recall = len(truth & got) / len(truth)
    assert recall >= 0.25, f"PQ recall {recall:.2f}"


def test_ivf_pq_topk_recall_floor(spark, sf_dir):
    """Composed IVF-PQ recall vs exact L2: list pruning (nprobe=4 of
    16 cells) stacks on PQ's quantization loss, so the floor sits
    below pure PQ's — it catches a broken composition (empty lists,
    wrong cell join), not ordinary ANN loss.  Also pins the contract
    that results are a SUBSET of the full ADC scan's candidate space:
    every returned neighbor must share a probed cell with its probe."""
    import numpy as np

    from hadoop_3_3_6_spark.functions.similarity import ivf_pq_topk, train_pq_codebooks
    from hadoop_3_3_6_spark.session import load_table

    emb = load_table(spark, "embeddings", sf_dir)
    books = train_pq_codebooks(
        emb, "vec_id", "embedding", m=16, codes=16, iters=3, quantize_decimals=3
    )
    probes = emb.filter(F.col("vec_id") < 10).select("vec_id")
    approx = ivf_pq_topk(
        emb, books, "vec_id", "embedding", k=5, num_centroids=16, nprobe=4, probes=probes
    ).toPandas()
    assert (approx.groupby("probe_id").size() <= 5).all()
    truth = _exact_l2_truth(emb)
    got = set(zip(approx.probe_id, approx.neighbor_id))
    recall = len(truth & got) / len(truth)
    assert recall >= 0.15, f"IVF-PQ recall {recall:.2f}"


def test_opq_topk_recall_floor(spark, sf_dir):
    """OPQ (rotation-optimized PQ) recall vs exact L2.  On the
    near-isotropic synthetic embeddings the learned rotation has
    little structure to exploit, so the floor matches plain PQ's
    lower bound — the test catches a broken rotation (non-orthogonal
    R, mis-applied to probes vs corpus), not the absence of an
    anisotropy win.  Orthogonality of the trained R is asserted
    directly (R·Rᵀ = I), which pins the Procrustes step."""
    import numpy as np

    from hadoop_3_3_6_spark.functions.similarity import opq_topk, train_opq_rotation
    from hadoop_3_3_6_spark.session import load_table

    emb = load_table(spark, "embeddings", sf_dir)
    rmat, books = train_opq_rotation(
        emb, "vec_id", "embedding", m=16, codes=16, opq_iters=1, pq_iters=2,
        quantize_decimals=3,
    )
    R = np.array(rmat)
    assert np.abs(R @ R.T - np.eye(R.shape[0])).max() < 1e-9
    probes = emb.filter(F.col("vec_id") < 10).select("vec_id")
    approx = opq_topk(emb, rmat, books, "vec_id", "embedding", k=5, probes=probes).toPandas()
    truth = _exact_l2_truth(emb)
    got = set(zip(approx.probe_id, approx.neighbor_id))
    recall = len(truth & got) / len(truth)
    assert recall >= 0.2, f"OPQ recall {recall:.2f}"


def test_pq_encode_is_shuffle_free(spark, sf_dir):
    """PQ encoding must stay a pure projection over the 1-row codebook
    broadcast — an Exchange in the encode plan would mean the 64×-
    compression tier shuffles raw vectors, defeating its purpose.

    r13: pq_encode rebalances an UNDER-SPLIT scan first
    (spread_for_compute — a plan no-op at real scale, where the scan
    yields at least session-parallelism splits).  The shuffle-free
    contract is therefore pinned on a WELL-SPLIT input, the only shape
    that exists at scale; the under-split local fixture is separately
    pinned to add exactly the one gated rebalance and nothing else."""
    from hadoop_3_3_6_spark.functions.similarity import pq_encode, train_pq_codebooks
    from hadoop_3_3_6_spark.session import load_table

    emb = load_table(spark, "embeddings", sf_dir)
    books = train_pq_codebooks(
        emb, "vec_id", "embedding", m=16, codes=16, iters=1, quantize_decimals=3
    )
    par = spark.sparkContext.defaultParallelism
    well_split = emb.repartition(par, "vec_id")
    enc = pq_encode(well_split, books, "vec_id", "embedding")
    plan = enc._jdf.queryExecution().executedPlan().toString()
    # exactly the caller's own repartition — pq_encode adds NO exchange
    assert plan.replace("BroadcastExchange", "").count("Exchange") == 1, plan
    pdf = enc.toPandas()
    assert len(pdf) == emb.count()
    assert all(0 <= c < 16 for codes in pdf.codes for c in codes)
    # under-split fixture: the gate fires once (REPARTITION_BY_NUM on
    # the id), and that is the ONLY non-broadcast exchange
    enc_gated = pq_encode(emb, books, "vec_id", "embedding")
    gplan = enc_gated._jdf.queryExecution().executedPlan().toString()
    assert gplan.replace("BroadcastExchange", "").count("Exchange") <= 1, gplan


def test_importance_resample_upweights_target(spark, sf_dir):
    """DSIR importance weights must separate target-like documents:
    the mean milli-nat weight of English docs (the target) must exceed
    the non-English mean, and the Gumbel-top-k draw must return exactly
    n_keep uniquely-ranked rows, deterministically."""
    from hadoop_3_3_6_spark.functions.sampling import importance_resample, importance_weights
    from hadoop_3_3_6_spark.session import load_table

    docs = load_table(spark, "documents", sf_dir)
    w = importance_weights(docs, F.col("lang") == "en", "text", "doc_id")
    joined = w.join(docs.select("doc_id", "lang"), "doc_id")
    means = {
        r["is_en"]: r["mw"]
        for r in joined.groupBy((F.col("lang") == "en").alias("is_en"))
        .agg(F.avg("logw_milli").alias("mw"))
        .collect()
    }
    assert means[True] > means[False], means
    kept = importance_resample(docs, F.col("lang") == "en", "text", "doc_id", n_keep=40)
    pdf = kept.toPandas()
    assert len(pdf) == 40
    assert sorted(pdf["rank"]) == list(range(1, 41))
    pdf2 = importance_resample(
        docs, F.col("lang") == "en", "text", "doc_id", n_keep=40
    ).toPandas()
    assert sorted(pdf.doc_id) == sorted(pdf2.doc_id)


def test_blocked_neardup_matches_all_pairs_within_cluster(spark, sf_dir):
    """The cluster-blocked near-dup join must return EXACTLY the
    all-pairs result restricted to cell-sharing pairs — blocking
    changes which pairs are compared, never a compared pair's score —
    and, with nprobe=2 multi-probe, keep recall >= 0.5 even on this
    weak-similarity synthetic corpus (real near-dup thresholds land
    higher and recall with them)."""
    from collections import defaultdict

    from hadoop_3_3_6_spark.functions.similarity import (
        assign_clusters,
        cosine_pairs_above,
        cosine_pairs_above_blocked,
    )
    from hadoop_3_3_6_spark.session import load_table

    emb = load_table(spark, "embeddings", sf_dir)
    blocked = {
        (r.id_a, r.id_b): r.score
        for r in cosine_pairs_above_blocked(
            emb, "vec_id", "embedding", threshold=0.45, num_probes=2
        ).collect()
    }
    all_pairs = {
        (r.id_a, r.id_b): r.score
        for r in cosine_pairs_above(emb, "vec_id", "embedding", threshold=0.45).collect()
    }
    cells = defaultdict(set)
    for r in assign_clusters(
        emb, "vec_id", "embedding", num_centroids=None, num_probes=2
    ).collect():
        cells[r["vec_id"]].add(r.cluster_id)
    expected = {
        pair: s for pair, s in all_pairs.items() if cells[pair[0]] & cells[pair[1]]
    }
    assert blocked == expected
    if all_pairs:
        assert len(blocked) / len(all_pairs) >= 0.5


def test_cosine_pairs_above_bounded_corpus_guard(spark, sf_dir):
    """The all-pairs form fails fast IN-PLAN when the corpus exceeds
    max_rows (the unregistered-quadratic-entry-point guard): execution
    raises, while the same corpus under the bound runs clean."""
    import pytest

    from hadoop_3_3_6_spark.functions.similarity import cosine_pairs_above
    from hadoop_3_3_6_spark.session import load_table

    emb = load_table(spark, "embeddings", sf_dir)
    n = emb.count()
    with pytest.raises(Exception, match="ALL-PAIRS"):
        cosine_pairs_above(emb, "vec_id", "embedding", threshold=0.45, max_rows=n - 1).count()
    assert (
        cosine_pairs_above(emb, "vec_id", "embedding", threshold=0.99, max_rows=n).count()
        >= 0
    )


def test_cli_driver_list_run_explain(tmp_path):
    """ExampleDriver parity surface: the module CLI lists programs,
    runs one to a parquet output, and prints a plan — via real
    subprocesses, like `hadoop jar examples.jar wordcount in out`."""
    import os
    import subprocess
    import sys

    env = {**os.environ, "SPARK_GRAFT_CPUS": "4"}
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

    ls = subprocess.run(
        [sys.executable, "-m", "hadoop_3_3_6_spark", "list"],
        capture_output=True, text=True, cwd=root, env=env, timeout=120,
    )
    assert ls.returncode == 0
    # terasort_validate graduated to an exact oracle in round 6 (the
    # closed-form verdict row); approx_quantiles stays rows-only by
    # design (GK sketch), pinning both branches of the list output.
    assert "wordcount\toracle" in ls.stdout and "terasort_validate\toracle" in ls.stdout
    assert "approx_quantiles_lineitem\trows-only" in ls.stdout

    out = str(tmp_path / "wc")
    run = subprocess.run(
        [sys.executable, "-m", "hadoop_3_3_6_spark", "run", "wordcount",
         "--sf-dir", "/root/testdata/sf0.001", "--out", out],
        capture_output=True, text=True, cwd=root, env=env, timeout=300,
    )
    assert run.returncode == 0, run.stderr[-2000:]
    import pyarrow.parquet as pq
    import glob as g

    n = sum(pq.ParquetFile(f).metadata.num_rows for f in g.glob(out + "/part-*.parquet"))
    assert n == 31  # wordcount rows at sf0.001 (driver-verified count)

    bad = subprocess.run(
        [sys.executable, "-m", "hadoop_3_3_6_spark", "run", "wordcoun"],
        capture_output=True, text=True, cwd=root, env=env, timeout=120,
    )
    assert bad.returncode == 2 and "did you mean" in bad.stderr


def test_cloud_scheme_passthrough_via_hadoop_fs_registry(spark, tmp_path):
    """Cloud-FS connector claim (SURVEY §2.1: s3a/abfs route through the
    Hadoop FileSystem API): every read/write in this engine takes a URI
    resolved by Hadoop's scheme->FileSystem registry, so a scheme with a
    registered impl works with NO engine code changes.  Pin that with a
    NON-file scheme end-to-end: a `viewfs://mockcluster/` mount table
    (ViewFileSystem is the bundled registry client) routed onto a local
    target — the same resolution path `fs.s3a.impl=S3AFileSystem` takes
    when the hadoop-aws jar is present (reference:
    hadoop-tools/hadoop-aws/.../S3AFileSystem.java:266)."""
    import os

    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    hconf.set("fs.viewfs.mounttable.mockcluster.link./data", f"file://{tmp_path}")
    try:
        base = "viewfs://mockcluster/data/t"
        df = spark.range(100).selectExpr("id", "id * 2 AS v")
        df.write.mode("overwrite").parquet(base)
        # the write materialized on the mount target through the scheme
        assert any(n.endswith(".parquet") for n in os.listdir(f"{tmp_path}/t"))
        back = spark.read.parquet(base)
        assert back.count() == 100
        assert {(r.id, r.v) for r in back.filter("id < 3").collect()} == {(0, 0), (1, 2), (2, 4)}
        # the text surface rides the same registry
        df.selectExpr("cast(id as string) AS s").write.mode("overwrite").text(
            "viewfs://mockcluster/data/txt"
        )
        assert spark.read.text("viewfs://mockcluster/data/txt").count() == 100
    finally:
        hconf.unset("fs.viewfs.mounttable.mockcluster.link./data")


def test_fs_for_resolves_uris_and_plain_paths(tmp_path):
    from pyarrow import fs as pafs

    from hadoop_3_3_6_spark.sources.tools import _fs_for

    for p, want_path in [
        (str(tmp_path / "a"), str(tmp_path / "a")),
        (f"file:{tmp_path}/b", f"{tmp_path}/b"),
        (f"file://{tmp_path}/c", f"{tmp_path}/c"),
    ]:
        fs, inner = _fs_for(p)
        assert isinstance(fs, pafs.LocalFileSystem)
        assert inner == want_path


def test_stream_copy_across_uri_and_plain(tmp_path):
    from hadoop_3_3_6_spark.sources.tools import _stream_copy

    src = tmp_path / "deep" / "src.bin"
    src.parent.mkdir()
    payload = bytes(range(256)) * 5000  # > 1 chunk boundary exercised via small chunk
    src.write_bytes(payload)
    dst = tmp_path / "out" / "nested" / "dst.bin"
    _stream_copy(f"file://{src}", str(dst), chunk=64 * 1024)
    assert dst.read_bytes() == payload


def test_dist_copy_accepts_file_uri_destination(spark, tmp_path):
    from hadoop_3_3_6_spark.sources.tools import dist_copy

    srcd = tmp_path / "cpsrc"
    srcd.mkdir()
    for i in range(4):
        (srcd / f"f{i}.txt").write_text(f"payload-{i}")
    dstd = tmp_path / "cpdst"
    n = dist_copy(spark, str(srcd) + "/*", f"file://{dstd}")
    assert n == 4
    assert sorted(p.name for p in dstd.iterdir()) == [f"f{i}.txt" for i in range(4)]
    assert (dstd / "f2.txt").read_text() == "payload-2"


def test_shuffle_partition_sizing(spark, sf_dir):
    """sized_shuffle_partitions: full-core floor for small inputs;
    large inputs bounded by min(128 MB, execution-memory-per-task /
    sort_inflation) per partition — the round-7 TeraSort lesson (150
    parts = 238 s vs 416 = 88 s on the same 20 GB sort) made engine
    behavior; estimate_input_bytes matches the on-disk listing."""
    import glob
    import math
    import os

    from hadoop_3_3_6_spark.session import (
        estimate_input_bytes,
        execution_memory_per_task,
        load_table,
        sized_shuffle_partitions,
    )

    cores = spark.sparkContext.defaultParallelism
    mem_task = execution_memory_per_task(spark)
    assert mem_task >= 16 * 1024 * 1024  # floor holds on any rig
    target = min(128 * 1024 * 1024, max(int(mem_task / 3.0), 1024 * 1024))
    assert sized_shuffle_partitions(spark, 1) == 2 * cores
    assert sized_shuffle_partitions(spark, 100 * 1024**4) == max(
        2 * cores, math.ceil(100 * 1024**4 / target)
    )
    assert sized_shuffle_partitions(spark, 10 * 1024**3) == max(
        2 * cores, math.ceil(10 * 1024**3 / target)
    )
    # the memory cap binds whenever a task's unified-memory share / 3
    # is under 128 MB (it is at 8g/32 slots); a huge inflation factor
    # must push the count UP, never down
    assert sized_shuffle_partitions(
        spark, 10 * 1024**3, sort_inflation=1000.0
    ) >= sized_shuffle_partitions(spark, 10 * 1024**3)

    li = load_table(spark, "lineitem", sf_dir)
    expect = sum(
        os.path.getsize(p)
        for pat in (f"{sf_dir}/lineitem.parquet", f"{sf_dir}/lineitem.parquet/*")
        for p in glob.glob(pat)
        if os.path.isfile(p)
    )
    assert estimate_input_bytes(li) == expect > 0


def test_ivf_pq_residual_recall_floor(spark, sf_dir):
    """Residual IVF-PQ end-to-end recall vs exact L2 — same contract
    as the raw-codebook composition's floor (broken composition, not
    ANN loss, is what it catches)."""
    import numpy as np

    from hadoop_3_3_6_spark.functions.similarity import (
        ivf_pq_residual_topk,
        train_residual_pq_codebooks,
    )
    from hadoop_3_3_6_spark.session import load_table

    emb = load_table(spark, "embeddings", sf_dir)
    books = train_residual_pq_codebooks(
        emb, "vec_id", "embedding", num_centroids=16, m=16, codes=16, iters=3,
        quantize_decimals=3,
    )
    probes = emb.filter(F.col("vec_id") < 10).select("vec_id")
    approx = ivf_pq_residual_topk(
        emb, books, "vec_id", "embedding", k=5, num_centroids=16, nprobe=4, probes=probes
    ).toPandas()
    assert (approx.groupby("probe_id").size() <= 5).all()
    truth = _exact_l2_truth(emb)
    got = set(zip(approx.probe_id, approx.neighbor_id))
    recall = len(truth & got) / len(truth)
    assert recall >= 0.15, f"residual IVF-PQ recall {recall:.2f}"


def test_residual_pq_reconstruction_beats_raw_on_clustered_data():
    """The by_residual design claim (Jégou 2011 §IV-A): at the SAME
    m×codes budget, PQ-encoding coarse residuals reconstructs x with
    lower MSE than PQ-encoding raw vectors.  The claim's PREMISE is a
    coarse quantizer that captures structure — on the isotropic
    sf0.01 fixture the 16 arbitrary seed centroids capture none and
    residuals are actually LARGER than the unit vectors (max cosine to
    any seed ~0.2, so ||x - c||² ≈ 2), which is why this pins the
    claim on a corpus with real clusters, via the oracle replicas (the
    engine's bit-exact twins, pinned by the parity gate)."""
    import numpy as np

    from hadoop_3_3_6_spark.plans.queries import _pq_train_encode_np

    rng = np.random.default_rng(7)
    K, per, dim = 16, 32, 64
    protos = rng.normal(size=(K, dim))
    protos /= np.linalg.norm(protos, axis=1, keepdims=True)
    # ids 0..K-1 land one per cluster, so the engine's id < K seeding
    # spreads the coarse centroids across the real clusters
    vecs = np.array(
        [protos[i % K] + 0.05 * rng.normal(size=dim) for i in range(K * per)]
    )
    ids = np.arange(K * per)
    seeds = vecs[:K]
    cs = (vecs @ seeds.T) / (
        np.linalg.norm(vecs, axis=1)[:, None] * np.linalg.norm(seeds, axis=1)[None, :]
    )
    resid = vecs - seeds[np.argmax(cs, axis=1)]
    assert resid.var() < vecs.var()

    def mse(target, barr, enc):
        rec = np.concatenate([barr[j][enc[:, j]] for j in range(len(barr))], axis=1)
        return float(((target - rec) ** 2).sum(axis=1).mean())

    _, barr_raw, enc_raw = _pq_train_encode_np(ids, vecs, 16, 16, 3, 3)
    _, barr_res, enc_res = _pq_train_encode_np(ids, resid, 16, 16, 3, 3)
    err_raw = mse(vecs, barr_raw, enc_raw)
    # residual tier reconstructs x̂ = centroid + decoded residual, so
    # its x-space error IS the residual-space reconstruction error
    err_res = mse(resid, barr_res, enc_res)
    assert err_res < err_raw, f"residual MSE {err_res:.4f} !< raw {err_raw:.4f}"


def test_phash_near_duplicates_hamming_edges(spark):
    """Banded Hamming dedup contract on hand-built hashes: exact and
    3-bit pairs dedup; a 5-bit pair survives the candidate stage but
    fails the popcount verify; a 4-bit pair spread one-per-band is
    MISSED by banding (the documented recall guarantee is only
    Hamming < bands); sign-bit hashes band correctly via the unsigned
    shift."""
    from hadoop_3_3_6_spark.functions.multimodal import phash_near_duplicates

    base = 0x0123456789ABCDEF
    neg = 0x8000000000000000 - (1 << 64)  # signed BIGINT with bit 63 set
    rows = [
        (0, base),
        (1, base),                      # exact duplicate of 0
        (2, base ^ 0b111),              # 3 bits, one band -> dup (ham 3)
        (3, base ^ 0b11111000000),      # 5 bits, one band (disjoint from
                                        # doc 2's) -> candidate, ham 5 > 4
        (4, base ^ (1 | 1 << 16 | 1 << 32 | 1 << 48)),  # ham 4, one per band
        (5, neg),
        (6, neg),                       # exact duplicate of 5
    ]
    df = spark.createDataFrame(rows, "doc_id long, dhash long")
    out = {
        r.doc_id: r
        for r in phash_near_duplicates(df, "doc_id", "dhash", max_hamming=4).collect()
    }
    assert out[0].keep and out[0].dup_with is None
    assert not out[1].keep and out[1].dup_with == 0
    assert not out[2].keep and out[2].dup_with == 0
    assert out[3].keep                  # verified away: hamming 5 > 4
    assert out[4].keep                  # banding miss: differs in every band
    assert out[5].keep
    assert not out[6].keep and out[6].dup_with == 5


def test_phash_bands_requires_divisor_of_64(spark):
    """Non-divisor band counts would silently ignore the top hash bits
    in banding (degraded recall, no error) — the guard mirrors
    minhash_bands' divisor check (round-9 ADVICE fix)."""
    import pytest

    from hadoop_3_3_6_spark.functions.multimodal import phash_near_duplicates

    df = spark.createDataFrame([(0, 1), (1, 1)], "doc_id long, dhash long")
    for bad in (0, 3, 5, -4, 48):
        with pytest.raises(ValueError, match="divisor of 64"):
            phash_near_duplicates(df, "doc_id", "dhash", bands=bad).collect()
    # every true divisor still works
    assert phash_near_duplicates(df, "doc_id", "dhash", bands=2).count() == 2


def test_ivf_pq_refined_recall_dominates(spark, sf_dir):
    """The refine stage's whole point: at the same shortlist source,
    exact re-scoring must reach at-least the unrefined composition's
    recall vs exact L2 (re-ranking a superset of the final answer can
    only fix ADC ordering errors, never introduce new ones)."""
    import numpy as np

    from hadoop_3_3_6_spark.functions.similarity import (
        ivf_pq_refined_topk,
        ivf_pq_topk,
        train_pq_codebooks,
    )
    from hadoop_3_3_6_spark.session import load_table

    emb = load_table(spark, "embeddings", sf_dir)
    books = train_pq_codebooks(
        emb, "vec_id", "embedding", m=16, codes=16, iters=3, quantize_decimals=3
    )
    probes = emb.filter(F.col("vec_id") < 10).select("vec_id")
    plain = ivf_pq_topk(
        emb, books, "vec_id", "embedding", k=5, num_centroids=16, nprobe=4, probes=probes
    ).toPandas()
    refined = ivf_pq_refined_topk(
        emb, books, "vec_id", "embedding", k=5, num_centroids=16, nprobe=4,
        shortlist=20, probes=probes,
    ).toPandas()
    assert (refined.groupby("probe_id").size() <= 5).all()
    truth = _exact_l2_truth(emb)
    r_plain = len(truth & set(zip(plain.probe_id, plain.neighbor_id))) / len(truth)
    r_ref = len(truth & set(zip(refined.probe_id, refined.neighbor_id))) / len(truth)
    assert r_ref >= r_plain, f"refined {r_ref:.2f} < unrefined {r_plain:.2f}"
    assert r_ref >= 0.15


def test_phash_incremental_matches_batch_contract(spark, tmp_path):
    """Incremental phash dedup on hand-built hashes: exact and 1-bit
    neighbors of the index are caught with their Hamming distance,
    far hashes come back novel, and the persisted index
    (build_phash_index) round-trips to the same pairs as live bands."""
    import numpy as np

    from hadoop_3_3_6_spark.functions.multimodal import (
        _hash_bands,
        build_phash_index,
        encode_ppm,
        phash_dedup_incremental,
    )

    base = 0x0123456789ABCDEF
    idx = spark.createDataFrame(
        [(0, base), (2, base ^ 1)], "doc_id long, dhash long"
    )
    batch = spark.createDataFrame(
        [(1, base), (3, base ^ ((1 << 64) - 1) - (1 << 63))],  # far: ~all bits
        "doc_id long, dhash long",
    )
    pairs = {
        (r.new_id, r.corpus_id): r.hamming
        for r in phash_dedup_incremental(
            batch, _hash_bands(idx, "doc_id", "dhash", 4), max_hamming=4
        ).collect()
    }
    assert pairs == {(1, 0): 0, (1, 2): 1}

    # persisted-index roundtrip: build from real images, read back,
    # same join contract
    imgs = spark.createDataFrame(
        [
            (10, bytearray(encode_ppm(np.full((4, 4, 3), 7, dtype=np.uint8)))),
            (11, bytearray(encode_ppm(np.full((4, 4, 3), 250, dtype=np.uint8)))),
        ],
        "doc_id long, payload binary",
    )
    path = str(tmp_path / "phash_index")
    build_phash_index(imgs, path, "payload", "doc_id")
    stored = spark.read.parquet(path)
    assert set(stored.columns) == {"doc_id", "dhash", "band_idx", "band_val"}
    # constant-color images share the all-equal-luma hash (all zeros)
    live = phash_dedup_incremental(
        spark.createDataFrame([(12, 0)], "doc_id long, dhash long"), stored
    ).collect()
    assert {(r.new_id, r.corpus_id, r.hamming) for r in live} == {(12, 10, 0), (12, 11, 0)}


def test_semantic_contamination_zero_norm_guard(spark):
    """Zero-norm vectors must never poison the cosine fold: an all-zero
    EVAL vector is dropped (NaN sorts greater than any double in Spark,
    so it would otherwise become everyone's top match), and an all-zero
    CORPUS vector scores the -2.0 sentinel with contaminated=false."""
    from hadoop_3_3_6_spark.functions.similarity import semantic_contamination

    rows = [
        (0, [0.0, 0.0]),          # zero eval vector: dropped
        (1, [1.0, 0.0]),
        (10, [1.0, 0.0]),         # identical to eval 1 -> cos 1.0
        (11, [0.0, 0.0]),         # zero corpus vector -> sentinel
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {
        r.vec_id: r
        for r in semantic_contamination(
            df.filter("vec_id >= 10"), df.filter("vec_id < 10"), threshold=0.9
        ).collect()
    }
    assert out[10].top_eval_id == 1 and out[10].max_eval_cosine == 1.0
    assert out[10].contaminated
    assert out[11].max_eval_cosine == -2.0 and not out[11].contaminated


def test_ivf_pq_candidate_count_is_list_pruned(spark, sf_dir):
    """The composed tier's structural claim, measured: each probe's
    ADC scan touches ~N·nprobe/K candidates, not pq_topk's N.  The
    candidate set is re-derived through the same joins ivf_pq_topk
    composes (corpus cell assignment x probe cell lists); the fraction
    of the full-scan volume must sit near nprobe/K (0.25 at the
    registered hyperparameters — measured 0.246 at sf0.01) and
    categorically below it with imbalance slack."""
    from hadoop_3_3_6_spark.functions.similarity import (
        _seed_centroids,
        assign_clusters,
    )
    from hadoop_3_3_6_spark.session import load_table

    K, NPROBE, P = 16, 4, 8
    emb = load_table(spark, "embeddings", sf_dir)
    n = emb.count()
    cents = _seed_centroids(emb, "vec_id", "embedding", K)
    sizes = (
        assign_clusters(emb, "vec_id", "embedding", centroids=cents)
        .groupBy("cluster_id")
        .count()
    )
    probes = emb.filter(F.col("vec_id") < P).select("vec_id", "embedding")
    probe_cells = assign_clusters(
        probes, "vec_id", "embedding", centroids=cents, num_probes=NPROBE
    )
    cand = probe_cells.join(sizes, "cluster_id").agg(F.sum("count")).first()[0]
    frac = cand / (n * P)
    assert cand >= P * 5          # enough candidates to rank top-5
    assert frac <= 1.8 * NPROBE / K, f"fraction {frac:.3f} not list-pruned"


def test_rowwise_assignment_matches_with_zero_norm_centroid(spark):
    """The bit-identical-ties claim under NULL scores (round-9 ADVICE):
    a zero-norm centroid makes round(cos, 6) NULL, which array_min
    would sort FIRST (always wins) while max_by orders it SMALLEST
    (never wins).  With the coalesce(-2) pin the two forms must agree
    everywhere — including the all-NULL case (a zero-norm VECTOR),
    where both fall through to the lowest cent_id.  Multi-probe
    assignment sorts by the same pinned score, so the zero-norm
    centroid is never among a real vector's two cells."""
    from hadoop_3_3_6_spark.functions.similarity import (
        assign_clusters,
        assign_clusters_rowwise,
    )

    rows = [
        (0, [0.0, 0.0]),            # zero-norm CENTROID (id < k seeds it)
        (1, [1.0, 0.0]),
        (2, [0.0, 1.0]),
        (10, [0.9, 0.1]),           # nearest real centroid: 1
        (11, [0.1, 0.9]),           # nearest real centroid: 2
        (12, [-1.0, -1.0]),         # negative cosines everywhere
        (13, [0.0, 0.0]),           # zero-norm VECTOR: all scores NULL
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = emb.filter("vec_id < 3").select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("cvec")
    )
    grouped = {
        r.vec_id: r.cluster_id
        for r in assign_clusters(
            emb, "vec_id", "embedding", centroids=cents
        ).collect()
    }
    rowwise = {
        r.vec_id: r.cluster_id
        for r in assign_clusters_rowwise(emb, cents, "vec_id", "embedding").collect()
    }
    assert rowwise == grouped
    assert rowwise[10] == 1 and rowwise[11] == 2
    assert rowwise[10] != 0 and rowwise[12] != 0   # zero-norm centroid never wins
    # multi-probe ranks the NULL score last too: the two best cells of
    # a vector with real cosines never include the zero-norm centroid
    cells = {}
    for r in assign_clusters(
        emb, "vec_id", "embedding", centroids=cents, num_probes=2
    ).collect():
        cells.setdefault(r.vec_id, set()).add(r.cluster_id)
    assert cells[10] == cells[11] == cells[12] == {1, 2}


def test_cell_pair_join_zero_norm_and_duplicates(spark):
    """The within-cell pair join that the blocked near-dup and SemDeDup
    share, pinned on literals: exact duplicates score 1.0, a zero-norm
    vector (NULL cosine) pairs with nothing and SemDeDup keeps it, and
    with one cell per vector only cell-sharing pairs meet (0-6 and 5-6
    straddle the cells).  The ids below 2 seed the two cells."""
    from hadoop_3_3_6_spark.functions.similarity import cosine_pairs_above_blocked, semdedup

    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.0, 1.0, 0.0]),
        (2, [0.0, 0.0, 0.0]),   # zero-norm
        (3, [1.0, 0.0, 0.0]),   # duplicate of 0
        (4, [0.0, 1.0, 0.0]),   # duplicate of 1
        (5, [0.9, 0.1, 0.0]),   # near-duplicate of 0 and 3
        (6, [0.6, 0.8, 0.0]),   # nearer cell 1
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def pairs(**kw):
        out = cosine_pairs_above_blocked(emb, threshold=0.5, num_centroids=2, **kw)
        return sorted(tuple(r) for r in out.collect())

    assert pairs() == [
        (0, 3, 0, 1.0), (0, 5, 0, 0.993884), (0, 6, 0, 0.6), (1, 4, 0, 1.0), (1, 6, 0, 0.8),
        (3, 5, 0, 0.993884), (3, 6, 0, 0.6), (4, 6, 0, 0.8), (5, 6, 0, 0.684675),
    ]
    assert pairs(num_probes=1) == [
        (0, 3, 0, 1.0), (0, 5, 0, 0.993884), (1, 4, 1, 1.0), (1, 6, 1, 0.8),
        (3, 5, 0, 0.993884), (4, 6, 1, 0.8),
    ]
    kept = sorted(tuple(r) for r in semdedup(emb, num_centroids=2, threshold=0.5).collect())
    assert kept == [
        (0, 0, True), (1, 1, True), (2, 0, True), (3, 0, False),
        (4, 1, False), (5, 0, False), (6, 1, False),
    ]


def test_teravalidate_detects_out_of_order_records(spark):
    """The faithful record-level validator (round-10 review): an
    UNSORTED frame must fail globally_sorted even when every
    partition's min/max ranges happen not to overlap — the case the
    old per-partition min/max check could never catch."""
    from hadoop_3_3_6_spark.sources.terasort import (
        teragen,
        terachecksum,
        terasort,
        teravalidate,
    )

    gen = teragen(spark, 5000, partitions=4)
    cksum = terachecksum(gen)
    good = teravalidate(terasort(gen), cksum)
    assert good.globally_sorted and good.checksum_match and good.rows == 5000
    # shuffle WITHIN partitions but keep the global range structure:
    # sort, then reverse each partition's rows (ranges still disjoint)
    import pandas as pd

    def rev(batches):
        for pdf in batches:
            yield pdf.iloc[::-1]

    scrambled = terasort(gen).mapInPandas(rev, "key string, value string")
    bad = teravalidate(scrambled, cksum)
    assert not bad.globally_sorted          # record-level check catches it
    assert bad.checksum_match               # content untouched


def test_teravalidate_on_read_back_output(spark, tmp_path):
    """A sorted output written as parquet and read back must validate:
    Spark packs part files into read partitions by size, not by name,
    so a partition-order check reports a correctly sorted output as
    unsorted.  The segments are the input file splits, in file name
    then block order — checked with whole files per read partition
    (the two short files packed into one) and with the files split
    into blocks, packed across partitions by size."""
    from hadoop_3_3_6_spark.sources.terasort import (
        teragen,
        terachecksum,
        terasort,
        teravalidate,
    )

    gen = teragen(spark, 20000, partitions=4)
    cksum = terachecksum(gen)
    path = str(tmp_path / "sorted")
    # several files per write task, the last one short: file sizes are
    # not in name order, so neither are the read partitions; small row
    # groups so a file split at a block boundary has rows in both
    terasort(gen).write.option("maxRecordsPerFile", 3000).option(
        "parquet.block.size", 65536
    ).parquet(path)

    def read_order(df):
        return [
            r.f
            for r in df.select(F.input_file_name().alias("f"))
            .withColumn("i", F.monotonically_increasing_id())
            .groupBy("f")
            .agg(F.min("i").alias("i"))
            .orderBy("i")
            .collect()
        ]

    # the second read splits each file into 200 kB blocks
    blocks = {"spark.sql.files.openCostInBytes": "1", "spark.sql.files.maxPartitionBytes": "200000"}
    for confs in ({}, blocks):
        prev = {k: spark.conf.get(k) for k in confs}
        try:
            for k, val in confs.items():
                spark.conf.set(k, val)
            back = spark.read.parquet(path)
            order = read_order(back)
            assert len(order) > 1 and order != sorted(order), order  # the case under test
            out = teravalidate(back, cksum)
        finally:
            for k, val in prev.items():
                spark.conf.set(k, val)
        assert out.rows == 20000 and out.globally_sorted and out.checksum_match, (confs, out)


def test_terasort_gen_matches_generic_path(spark):
    """r14: terasort_gen (the key-proxy form — the total-order shuffle
    carries (id, key) and derives the 90-byte value AFTER placement)
    must produce exactly what terasort(teragen(...)) produces: same
    records, same global key order, checksum preserved.  Differential-
    pinned so the sampling/shuffle optimization can never drift the
    record bytes."""
    from hadoop_3_3_6_spark.sources.terasort import (
        teragen,
        terachecksum,
        terasort,
        terasort_gen,
        teravalidate,
    )

    n = 4000
    old = terasort(teragen(spark, n, partitions=4)).collect()
    new = terasort_gen(spark, n, partitions=4).collect()
    # identical multisets AND identical key sequence (ties may permute
    # their values between the two forms; keys must agree positionally)
    assert [r["key"] for r in old] == [r["key"] for r in new]
    assert sorted(map(tuple, old)) == sorted(map(tuple, new))
    # the fused form passes the reference validator against the
    # generic generator's checksum
    v = teravalidate(
        terasort_gen(spark, n, partitions=4), terachecksum(teragen(spark, n, partitions=4))
    )
    assert v.globally_sorted and v.checksum_match and v.rows == n


def test_gensort_reference_vectors():
    """BYTE-EXACT conformance of the gensort generator against output
    captured from the reference generator itself (GenSort.java compiled
    and run once: `GenSort -c 10 out` and `GenSort -c -b5000 3 out`;
    the expected strings below are that binary's bytes, not a port's):
    record 0 in full (note the key spells the LCG constant's tribute),
    the record-5000 key after a mid-stream skip-ahead, and the
    CRC-32 checksum sum of the first 10 records."""
    import zlib

    from hadoop_3_3_6_spark.sources.terasort import (
        _GENSORT_A,
        _GENSORT_C,
        _M128,
        gensort_record,
        gensort_skip_ahead,
    )

    def rand_after(n_steps):
        return gensort_skip_ahead(n_steps)

    # record 0: skipAhead(0) then one nextRand -> state f(0) = C
    r = (_GENSORT_A * rand_after(0) + _GENSORT_C) & _M128
    k, v = gensort_record(r, 0)
    assert (k + v).hex() == (
        "4a696d47726179524950"
        "0011"
        "3030303030303030303030303030303030303030303030303030303030303030"
        "8899aabb"
        "3232323230303030323232323030303032323232303030303232323230303030"
        "32323232303030303030303031313131"
        "ccddeeff"
    )
    # record 5000 (the -b5000 capture's first record)
    r = (_GENSORT_A * rand_after(5000) + _GENSORT_C) & _M128
    k, _v = gensort_record(r, 5000)
    assert k.hex() == "a3acbb844a5169f61678"
    # checksum of records 0..9 (GenSort -c prints the hex sum)
    rand, s = 0, 0
    for rid in range(10):
        rand = (_GENSORT_A * rand + _GENSORT_C) & _M128
        kk, vv = gensort_record(rand, rid)
        s += zlib.crc32(kk + vv)
    assert hex(s)[2:] == "5b2d1434d"


def test_gensort_skip_ahead_closed_form_and_sequence():
    """Differential: the engine's square-and-compose skip-ahead must
    equal the independent closed-form modular-geometric-sum
    formulation (x_n = C * (A^n - 1)/(A-1) mod 2^128, the division
    done exactly over the scaled modulus), and skipping then stepping
    must equal skipping further."""
    from hadoop_3_3_6_spark.sources.terasort import (
        _GENSORT_A,
        _GENSORT_C,
        _M128,
        gensort_skip_ahead,
    )

    M = 1 << 128

    def closed_form(n):
        an = pow(_GENSORT_A, n, M * (_GENSORT_A - 1))
        s = ((an - 1) // (_GENSORT_A - 1)) % M
        return (_GENSORT_C * s) % M

    for n in (0, 1, 2, 3, 7, 64, 5000, 2**31 + 17, 2**63 + 5):
        assert gensort_skip_ahead(n) == closed_form(n), n
    r = gensort_skip_ahead(41)
    for k in range(5):
        r = (_GENSORT_A * r + _GENSORT_C) & _M128
    assert r == gensort_skip_ahead(46)


def test_teragen_gensort_distributed_matches_serial(spark):
    """The distributed generator (per-partition skip-ahead + step, the
    SortGenMapper discipline) must produce exactly the serial
    sequence regardless of partitioning."""
    from hadoop_3_3_6_spark.sources.terasort import (
        _GENSORT_A,
        _GENSORT_C,
        _M128,
        gensort_record,
        teragen_gensort,
    )

    n = 500
    rows = {
        r["id"]: (bytes(r["key"]), bytes(r["value"]))
        for r in teragen_gensort(spark, n, partitions=7, with_id=True).collect()
    }
    assert len(rows) == n
    rand = 0
    for rid in range(n):
        rand = (_GENSORT_A * rand + _GENSORT_C) & _M128
        assert rows[rid] == gensort_record(rand, rid), rid


def test_terasort_on_gensort_binary_records(spark):
    """The full reference pipeline shape on REAL gensort bytes: sort
    5000 binary-key records (Spark binary ordering IS TeraSort's
    unsigned-byte comparator) and validate record-level global order
    + CRC checksum preservation — teravalidate's pandas compare works
    on bytes (python bytes order = unsigned lexicographic)."""
    from hadoop_3_3_6_spark.sources.terasort import (
        teragen_gensort,
        terachecksum,
        terasort,
        teravalidate,
    )

    gen = teragen_gensort(spark, 5000, partitions=4)
    cksum = terachecksum(gen)
    out = teravalidate(terasort(gen), cksum)
    assert out.rows == 5000 and out.globally_sorted and out.checksum_match
