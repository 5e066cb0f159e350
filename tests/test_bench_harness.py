"""bench.py harness safety contracts (round-7 ADVICE).

Pinned here:
- the stale-scratch sweep deletes ONLY Spark-scratch-named entries,
  resolves its base through the same helper get_spark uses, and keys
  staleness off the tree's max mtime (a live session writing into
  nested hash-bucket subdirs must not be swept) — pure-function tests,
  no SparkSession;
- the JVM CPU and GC probes read a live session and move forward;
- each timed capstone chain run re-executes into a fresh stage dir and
  removes the previous run's dir.
"""

from __future__ import annotations

import importlib
import os
import time


def _bench(monkeypatch, tmp_path):
    monkeypatch.setenv("SPARK_GRAFT_LOCAL_DIR", str(tmp_path))
    import bench

    return importlib.reload(bench)


_UUID = "12345678-1234-1234-1234-123456789abc"


def _age(path: str, seconds_ago: float) -> None:
    t = time.time() - seconds_ago
    os.utime(path, (t, t))


def test_sweep_only_matches_spark_scratch_naming(monkeypatch, tmp_path):
    bench = _bench(monkeypatch, tmp_path)
    stale = tmp_path / f"blockmgr-{_UUID}"
    stale.mkdir()
    # prefix alone must NOT match: the /tmp fallback base holds
    # spark-graft-warehouse, which an unfiltered sweep would delete
    bystanders = [tmp_path / "spark-graft-warehouse", tmp_path / "data", tmp_path / "spark-notauuid"]
    for b in bystanders:
        b.mkdir()
    for p in [stale, *bystanders]:
        _age(str(p), 7 * 3600)
    bench._sweep_stale_local_dirs()
    assert not stale.exists()
    assert all(b.exists() for b in bystanders)


def test_sweep_keeps_live_tree_with_fresh_nested_child(monkeypatch, tmp_path):
    """Spark writes shuffle blocks into nested hash-bucket subdirs, so
    the TOP directory's mtime goes stale on a legitimately live >6h
    session — staleness must key off the tree's max mtime."""
    bench = _bench(monkeypatch, tmp_path)
    live = tmp_path / f"spark-{_UUID}"
    bucket = live / "0b"
    bucket.mkdir(parents=True)
    fresh = bucket / "shuffle_0_0_0.data"
    fresh.write_text("x")
    _age(str(live), 7 * 3600)
    _age(str(bucket), 7 * 3600)
    # fresh file keeps its current mtime
    bench._sweep_stale_local_dirs()
    assert fresh.exists()


def test_sweep_base_resolution_is_shared_with_session(monkeypatch, tmp_path):
    """The sweep must target the SAME directory get_spark configures —
    one helper, no drift (round-7 ADVICE)."""
    monkeypatch.setenv("SPARK_GRAFT_LOCAL_DIR", str(tmp_path))
    from hadoop_3_3_6_spark.session import spark_local_dir

    assert spark_local_dir() == str(tmp_path)
    monkeypatch.delenv("SPARK_GRAFT_LOCAL_DIR")
    resolved = spark_local_dir()
    assert resolved == ("/dev/shm/spark-local" if os.path.isdir("/dev/shm") else "/tmp")


def test_jvm_probes_live(monkeypatch, tmp_path, spark):
    """_jvm_cpu_sec reads the gateway JVM's /proc utime+stime (local
    mode: driver + executors in one process, so a query's compute is
    bounded by the delta) and _jvm_gc_stats reads the GC MXBeans —
    both must survive a live session and move in the right direction."""
    bench = _bench(monkeypatch, tmp_path)
    c0 = bench._jvm_cpu_sec(spark)
    spark.range(5_000_000).selectExpr("sum(id * 3 % 7)").collect()
    c1 = bench._jvm_cpu_sec(spark)
    assert c0 is not None and c1 is not None and c1 > c0
    gc, old = bench._jvm_gc_stats(spark)
    assert gc is not None and gc >= 0
    assert old is not None and old >= 0


def test_pretraining_chain_removes_the_dir_it_drops(monkeypatch, tmp_path, spark, sf_dir):
    """_pretraining_chain drops the cached capstone stage dir before
    each run, so every run re-executes all stages into a fresh dir, and
    the dropped dir is removed then, not at process exit."""
    from hadoop_3_3_6_spark.plans import queries as Q

    bench = _bench(monkeypatch, tmp_path)
    sf = os.path.join(os.path.dirname(sf_dir), "sf0.001")  # the smallest fixture tier
    key = ("pretrain_full_", sf)
    bench._pretraining_chain(spark, sf).collect()
    first = Q._BUILT[key]
    bench._pretraining_chain(spark, sf).collect()
    second = Q._BUILT[key]
    assert second != first and os.path.isdir(second)
    assert not os.path.exists(first)
