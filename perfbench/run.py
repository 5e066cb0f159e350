#!/usr/bin/env python3
"""Run one benchmark workload in this (fresh) process and print its metrics.

    python3 perfbench/run.py --workload llm_corpus --seed 1 --seconds 8 --trace 0

Run from the repository root.  The run generates its inputs from
``--seed``, sets up the session, makes one cold pass over the workload,
then about ``--seconds`` of warm passes, checks every output
outside the timed region, and prints a ``{"record": ...}`` line followed
by the result line ``{"correct", "attempted", "failed", "metrics"}``.
``--trace 0`` reports the end-to-end metrics; ``--trace 1`` turns on
spans, the Spark UI's REST API and a streaming listener, and reports the
per-layer metrics.  See README.md in this directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "hadoop_3_3_6_spark"

import stats  # noqa: E402  (sibling modules: HERE is sys.path[0])
import workloads as W  # noqa: E402

DRIVER_MEM = "1g"


def prepare_env(work: str, trace: bool) -> int:
    """Pin the session to this machine and keep every file it writes in ``work``."""
    cores = len(os.sched_getaffinity(0))
    for sub in ("local", "tmp", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(cores),
            "SPARK_GRAFT_SHUFFLE_PARTITIONS": str(cores),
            "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
            "SPARK_GRAFT_LOCAL_DIR": os.path.join(work, "local"),
            "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
            "SPARK_GRAFT_WAREHOUSE": os.path.join(work, "warehouse"),
            "SPARK_GRAFT_UI": "true" if trace else "false",
            "TMPDIR": os.path.join(work, "tmp"),
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
            "PYSPARK_PYTHON": sys.executable,
            # Python workers import the engine by name
            "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        }
    )
    # the engine, and the test suite's oracle compare (tests/util.py)
    for p in (os.path.join(ROOT, "tests"), ROOT):
        if p not in sys.path:
            sys.path.insert(0, p)
    return cores


def commit() -> str:
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return "unknown (not a git checkout)"
    r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True)
    return r.stdout.strip() or "unknown"


class Run:
    def __init__(self, workload: str, seed: int, seconds: float, trace: bool, work: str, cores: int):
        self.workload, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.cores = cores
        self.data_dir = os.path.join(work, "data")
        self.spark = None
        self.tracer = None
        self.setup_times: dict = {}
        self.steps: list[dict] = []  # one per query per pass
        self.passes: list[dict] = []  # pass 0 is cold
        self.failed = 0
        self.attempted = 0
        self.checks: dict[str, str] = {}
        self.outputs: dict[str, object] = {}  # last pass's DataFrame per query
        self.clock = time.time() - time.perf_counter()  # perf_counter -> epoch

    # -- spans -----------------------------------------------------------
    def span(self, name: str):
        from contextlib import nullcontext

        return self.tracer.span(name) if self.tracer else nullcontext()

    # -- set-up ----------------------------------------------------------
    def setup(self) -> None:
        t0 = time.perf_counter()
        with self.span("session.start"):
            from hadoop_3_3_6_spark.session import get_spark

            self.spark = get_spark(f"perfbench-{self.workload}")
        t1 = time.perf_counter()
        with self.span("session.load_tables"):
            from hadoop_3_3_6_spark.session import load_table

            for t in W.QUERY_WORKLOADS[self.workload]["tables"]:
                load_table(self.spark, t, self.data_dir)
        t2 = time.perf_counter()
        self.setup_times = {"start_s": t1 - t0, "load_tables_s": t2 - t1, "total_s": t2 - t0}

    # -- passes ----------------------------------------------------------
    def ops(self):
        """(name, build) for each query of one pass."""
        from hadoop_3_3_6_spark.plans.queries import QUERIES

        return [
            (q, (lambda q=q: QUERIES[q](self.spark, self.data_dir)))
            for q in W.QUERY_WORKLOADS[self.workload]["queries"]
        ]

    def one_pass(self, index: int) -> dict:
        from procstat import tree_usage, read_procs

        u0 = tree_usage(read_procs(), self.jvm_pid)
        gc0 = self.gc_seconds() if self.tracer else 0.0
        t0 = time.perf_counter()
        with self.span("pass"):
            if index == 0 and self.tracer:
                import tracing

                # after set-up (some engine modules need a session to
                # import), before plans.queries binds the engine's names
                tracing.install()
            ops = self.ops()  # the cold pass imports plans.queries here
            for name, build in ops:
                self.attempted += 1
                step = {"pass": index, "name": name}
                s0 = time.perf_counter()
                try:
                    with self.span(f"query:{name}") as qid:
                        if self.tracer:
                            self.tracer.query, self.tracer.root = name, qid
                        with self.span("plans.build") as bid:
                            if self.tracer:
                                self.tracer.root = bid
                            df = build()
                        if self.tracer:
                            self.tracer.root = qid
                        s1 = time.perf_counter()
                        with self.span("spark.plan"):
                            df._jdf.queryExecution().executedPlan()
                        s2 = time.perf_counter()
                        with self.span("spark.exec"):
                            df.write.format("noop").mode("overwrite").save()
                        s3 = time.perf_counter()
                    step.update(t0=s0, build_s=s1 - s0, plan_s=s2 - s1, exec_s=s3 - s2, wall_s=s3 - s0)
                    self.outputs[name] = df
                except Exception as e:  # a failing step is counted, and the pass goes on
                    self.failed += 1
                    step.update(t0=s0, wall_s=time.perf_counter() - s0, error=f"{type(e).__name__}: {e}"[:500])
                    self.outputs.pop(name, None)
                    traceback.print_exc(file=sys.stderr)
                finally:
                    if self.tracer:
                        self.tracer.query = self.tracer.root = None
                self.steps.append(step)
        t1 = time.perf_counter()
        u1 = tree_usage(read_procs(), self.jvm_pid)
        p = {
            "index": index,
            "t0": t0,
            "t1": t1,
            "wall_s": t1 - t0,
            "jvm_cpu_s": u1.jvm_cpu - u0.jvm_cpu,
            "py_cpu_s": u1.py_cpu - u0.py_cpu,
            "rss_mb": u1.rss / 1e6,
        }
        if self.tracer:
            p["gc_s"] = self.gc_seconds() - gc0
        self.passes.append(p)
        return p

    def gc_seconds(self) -> float:
        beans = self.spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(b.getCollectionTime() for b in beans) / 1000.0

    # -- checks ----------------------------------------------------------
    def check_outputs(self) -> None:
        """Compare each query's output of the last pass with its DuckDB
        oracle over the same files, by the test suite's exact compare."""
        import duckdb
        from util import assert_frames_match

        from hadoop_3_3_6_spark.plans.queries import ORACLES

        con = duckdb.connect()
        for t in W.QUERY_WORKLOADS[self.workload]["tables"]:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{os.path.join(self.data_dir, t)}.parquet')")
        self.rows_out = 0
        for q in W.QUERY_WORKLOADS[self.workload]["queries"]:
            self.attempted += 1
            df = self.outputs.get(q)
            try:
                if df is None:
                    raise RuntimeError("no output: the query failed in the last pass")
                got = df.toPandas()
                self.rows_out += len(got)
                assert_frames_match(got, con.execute(ORACLES[q]).df(), q)
                diff = None
            except Exception as e:  # AssertionError from the compare, or the query's own error
                diff = f"{type(e).__name__}: {e}"[:500]
            self.checks[q] = "exact: ok" if diff is None else f"exact: FAILED {diff}"
            self.failed += diff is not None
        con.close()

    # -- the run ---------------------------------------------------------
    def execute(self) -> tuple[dict, dict]:
        import datagen
        import procstat

        data_bytes = datagen.write_tables(self.data_dir, self.seed, W.QUERY_WORKLOADS[self.workload]["tables"])
        if self.trace:
            import tracing

            self.tracer = tracing.ACTIVE = tracing.Tracer()
        self.setup()
        self.jvm_pid = int(self.spark._jvm.java.lang.ProcessHandle.current().pid())
        self.java_version = str(self.spark._jvm.java.lang.System.getProperty("java.version"))
        layer = {}
        with procstat.Sampler(self.jvm_pid) as sampler:
            if self.trace:
                progress = tracing.StreamingProgress()
                self.spark.streams.addListener(progress.listener())
            for i in range(W.warm_passes(self.workload, self.seconds) + 1):
                self.one_pass(i)
            self.check_outputs()
            if self.trace:
                layer = self.layer_metrics(progress, sampler)
            peak_rss = sampler.peak_rss
        result = {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": layer if self.trace else self.end_to_end(),
        }
        return result, self.record(data_bytes, peak_rss)

    # -- metrics ---------------------------------------------------------
    def warm(self) -> list[dict]:
        """The steady-state warm passes: the later half, once JIT
        compilation and the caches have settled."""
        warm = self.passes[1:]
        return warm[len(warm) // 2 :]

    def warm_steps(self) -> list[dict]:
        first = self.warm()[0]["index"]
        return [s for s in self.steps if s["pass"] >= first and "error" not in s]

    def end_to_end(self) -> dict:
        cpu = [p["jvm_cpu_s"] + p["py_cpu_s"] for p in self.passes]
        values = {
            "setup_s": self.setup_times["total_s"],
            "cold_cpu_s": cpu[0],
            # the mean over every warm pass: more work than the steady half
            "cpu_s": sum(cpu[1:]) / len(cpu[1:]),
        }
        return {k: {"value": v, "unit": W.END_TO_END[k]} for k, v in values.items()}

    def walls(self) -> dict:
        """Wall times of the run.  Reported in the record, not as bounded
        metrics: on a shared host they move with other tenants' load."""
        return {
            "cold_s": self.passes[0]["wall_s"],
            "warm_s": stats.median(p["wall_s"] for p in self.warm()),
            "query_p50_s": stats.median(s["wall_s"] for s in self.warm_steps()),
        }

    def per_pass(self, items: list[dict], key, reduce=sum) -> float:
        """Median over warm passes of ``reduce`` over the items (with an
        epoch ``t``) submitted during each pass."""
        vals = []
        for p in self.warm():
            lo, hi = p["t0"] + self.clock, p["t1"] + self.clock
            vals.append(reduce([key(i) for i in items if lo <= i["t"] < hi] or [0]))
        return stats.median(vals)

    def layer_metrics(self, progress, sampler) -> dict:
        import sparkrest

        spark = self.spark
        floor = []
        for _ in range(5):
            t0 = time.perf_counter()
            spark.range(1).count()
            floor.append(time.perf_counter() - t0)

        rest = sparkrest.SparkRest(spark)
        rest.settle()
        jobs, stages, pybytes = rest.jobs(), rest.stages(), rest.python_bytes()

        cold_builds = [
            (s["t0"] + self.clock, s["t0"] + s["build_s"] + self.clock)
            for s in self.steps
            if s["pass"] == 0 and "build_s" in s
        ]
        eager_jobs = sum(1 for j in jobs if any(lo <= j["t"] < hi for lo, hi in cold_builds))

        # worst stage per query, last warm pass
        last = [s for s in self.warm_steps() if s["pass"] == self.passes[-1]["index"]]
        skews = []
        for s in last:
            lo, hi = s["t0"] + self.clock, s["t0"] + s["wall_s"] + self.clock
            skews.append(max([rest.task_skew(st) for st in stages if lo <= st["t"] < hi] or [1.0]))

        spans = self.tracer.spans
        selfs = stats.self_times(spans)
        span_pass = self.span_passes(spans)

        def layer_self(layer: str) -> float:
            per = {p["index"]: 0.0 for p in self.warm()}
            for s in spans:
                i = span_pass.get(s["id"])
                if i in per and stats.layer_of(s["name"]) == layer:
                    per[i] += selfs[s["id"]]
            return stats.median(per.values())

        cold_functions = sum(
            selfs[s["id"]] for s in spans if span_pass.get(s["id"]) == 0 and stats.layer_of(s["name"]) == "functions"
        )

        # streaming progress: an event belongs to the last pass started before it arrived
        starts = [p["t0"] for p in self.passes]

        def stream(field: str, per_query) -> float:
            vals = []
            for p in self.warm():
                evs = [e for e in progress.events if max((i for i, t in enumerate(starts) if t <= e["t"]), default=-1) == p["index"]]
                by_q: dict[str, list] = {}
                for e in evs:
                    by_q.setdefault(e["id"], []).append(e[field])
                vals.append(sum(per_query(v) for v in by_q.values()))
            return stats.median(vals)

        warm_steps = self.warm_steps()
        v = {
            "session.start_s": self.setup_times["start_s"],
            "session.load_tables_s": self.setup_times["load_tables_s"],
            "plans.build_s": self.median_pass_sum(warm_steps, "build_s"),
            "plans.build_cold_s": sum(s.get("build_s", 0) for s in self.steps if s["pass"] == 0),
            "plans.eager_jobs": eager_jobs,
            "plans.self_s": layer_self("plans"),
            "spark.plan_s": self.median_pass_sum(warm_steps, "plan_s"),
            "spark.exec_s": self.median_pass_sum(warm_steps, "exec_s"),
            "spark.jvm_cpu_s": stats.median(p["jvm_cpu_s"] for p in self.warm()),
            "spark.cpu_util": stats.cpu_util(
                sum(p["jvm_cpu_s"] for p in self.warm()),
                sum(p["py_cpu_s"] for p in self.warm()),
                sum(p["wall_s"] for p in self.warm()),
                self.cores,
            ),
            "spark.jobs": self.per_pass(jobs, lambda j: 1),
            "spark.stages": self.per_pass(stages, lambda s: 1),
            "spark.tasks": self.per_pass(stages, lambda s: s["tasks"]),
            "spark.job_floor_s": stats.median(floor),
            "spark.gc_s": stats.median(p["gc_s"] for p in self.warm()),
            "spark.peak_rss_mb": sampler.peak_rss / 1e6,
            "operators.shuffle_write_bytes": self.per_pass(stages, lambda s: s["shuffle_write_bytes"]),
            "operators.shuffle_records": self.per_pass(stages, lambda s: s["shuffle_records"]),
            "operators.spill_bytes": self.per_pass(stages, lambda s: s["spill_bytes"]),
            "operators.peak_exec_mem_bytes": self.per_pass(stages, lambda s: s["peak_exec_mem"], max),
            "operators.task_skew": max(skews or [1.0]),
            "operators.rows_out": self.rows_out,
            "operators.self_s": layer_self("operators"),
            "functions.py_cpu_s": stats.median(p["py_cpu_s"] for p in self.warm()),
            "functions.arrow_bytes_to_python": self.per_pass(pybytes, lambda e: e["sent"]),
            "functions.arrow_bytes_from_python": self.per_pass(pybytes, lambda e: e["recv"]),
            "functions.py_workers_started": len(sampler.worker_pids),
            "functions.driver_s": cold_functions,
            "functions.self_s": layer_self("functions"),
            "sources.scan_bytes": self.per_pass(stages, lambda s: s["input_bytes"]),
            "sources.self_s": layer_self("sources"),
            "streaming.batches": stream("trigger_ms", len),
            "streaming.trigger_ms": stream("trigger_ms", sum),
            "streaming.state_commit_ms": stream("commit_ms", sum),
            "streaming.state_stores": stream("stores", max),
            "streaming.state_rows": stream("rows", lambda xs: xs[-1]),
            "streaming.state_mem_bytes": stream("mem", max),
            "streaming.self_s": layer_self("streaming"),
            "failed_frac": stats.failed_frac(self.failed, self.attempted),
            "trace.cold_s": self.passes[0]["wall_s"],
            "trace.warm_s": stats.median(p["wall_s"] for p in self.warm()),
        }
        return {k: {"value": v[k], "unit": unit} for k, unit in W.PER_LAYER.items()}

    def median_pass_sum(self, steps: list[dict], key: str) -> float:
        per: dict[int, float] = {}
        for s in steps:
            per[s["pass"]] = per.get(s["pass"], 0.0) + s[key]
        return stats.median(per.values())

    def span_passes(self, spans: list[dict]) -> dict[int, int]:
        """span id -> index of the pass whose time window holds its start."""
        out = {}
        for s in spans:
            for p in self.passes:
                if p["t0"] <= s["t0"] <= p["t1"]:
                    out[s["id"]] = p["index"]
                    break
        return out

    # -- record ----------------------------------------------------------
    def record(self, data_bytes: dict, peak_rss: int) -> dict:
        import pyspark

        walls = [s["wall_s"] for s in self.warm_steps()]
        tail, pct, n = stats.tail(walls)
        steps: dict[str, dict] = {}
        for s in self.steps:
            d = steps.setdefault(s["name"], {"cold": None, "warm": []})
            t = {k: round(s[k], 4) for k in ("build_s", "plan_s", "exec_s", "wall_s") if k in s}
            if "error" in s:
                t["error"] = s["error"]
            if s["pass"] == 0:
                d["cold"] = t
            else:
                d["warm"].append(t)
        return {
            "workload": self.workload,
            "seed": self.seed,
            "trace": self.trace,
            "commit": commit(),
            "nproc": self.cores,
            "master": f"local[{self.cores}]",
            "pyspark": pyspark.__version__,
            "java": self.java_version,
            "python": sys.version.split()[0],
            "data": {
                "location": os.path.relpath(self.data_dir, ROOT),
                "generator": "perfbench/datagen.py",
                "bytes": data_bytes,
                "flush_policy": "files written through Spark's committer to the checkout's file system; "
                "no fsync, removed at the end of the run",
            },
            "setup": {k: round(v, 4) for k, v in self.setup_times.items()},
            "walls": {k: round(v, 4) for k, v in self.walls().items()},
            "passes": [{k: round(v, 4) for k, v in p.items()} for p in self.passes],
            # the median until the steady passes hold 20 query samples
            "query_tail": {"value_s": round(tail, 4), "percentile": pct, "samples": n},
            "steps": steps,
            "checks": self.checks,
            "peak_rss_bytes": peak_rss,
        }


def stop_jvm(run: Run) -> None:
    """Stop the session, then the JVM, and wait until the JVM and every
    Python worker it started have exited."""
    import procstat
    from pyspark import SparkContext

    if run.spark is not None:
        run.spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    pids = [p.pid for p in procstat.descendants(procstat.read_procs(), proc.pid)] if proc else []
    gateway.shutdown()
    if proc is not None:
        proc.terminate()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while pids and time.time() < deadline:
        pids = [p for p in pids if os.path.exists(f"/proc/{p}")]
        time.sleep(0.1)
    for p in pids:
        try:
            os.kill(p, 9)
        except ProcessLookupError:
            pass


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=W.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: the engine package {PACKAGE}/ is not in {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    # a terminated run still stops its JVM and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    cores = prepare_env(work, bool(args.trace))
    run = Run(args.workload, args.seed, args.seconds, bool(args.trace), work, cores)
    try:
        result, record = run.execute()
        if run.tracer:
            out = os.path.join(HERE, ".out")
            os.makedirs(out, exist_ok=True)
            with open(os.path.join(out, f"spans-{args.workload}-seed{args.seed}.json"), "w") as f:
                json.dump(run.tracer.spans, f)
    finally:
        stop_jvm(run)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"record": record}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
