"""Normalized optimized logical plans of every registered query, for a
plan diff between two trees (a parent export and the change).

    cd <tree> && PYTHONPATH=. PYSPARK_PYTHON="$(command -v python)" \
        python tests/plan_diff.py build <out.json> [sf_dir]
    python tests/plan_diff.py diff <parent.json> <change.json>

``build`` constructs every query of ``__spark_entry__.queries()`` in
registration order in ONE session and writes ``{"registry": {...},
"plans": {name: optimized logical plan}}``; ``registry`` pins the
sha256 of the ``queries()`` names in order and of the ``oracle_sql()``
items (names plus SQL, in order).  ``sf_dir`` defaults to the test
suite's (``tests/conftest.py``: sf0.01 or ``SPARK_GRAFT_TEST_SF_DIR``).
A query whose construction raises records ``ERROR <type>: <first
line>``.  Run it from the tree being
measured: the plans must come from that tree's code.  ``diff`` prints
each name whose plan differs (with the first differing line) and the
count of identical plans, and each registry hash that differs; it exits
1 on any difference.

Normalized, so two fresh runs of one tree are identical: expression
ids ``#123`` / ``#123L`` -> ``#``; paths under the temp dir, /dev/shm,
``SPARK_LOCAL_DIRS`` and the tree's own root -> ``<path>``; memory-sink
names ``s<12 hex>`` -> ``<sink>``; application ids ``local-<n>`` ->
``<app>``.  Without ``PYSPARK_PYTHON`` the Python-worker queries that
run a job while being built fail.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import sys
import tempfile


def _path_roots(tree: str) -> list[str]:
    roots = {tempfile.gettempdir(), "/tmp", "/dev/shm", tree}
    roots.update(d for d in os.environ.get("SPARK_LOCAL_DIRS", "").split(",") if d)
    # longest first: a root nested in another is replaced whole
    return sorted((os.path.realpath(r) for r in roots), key=len, reverse=True)


def normalize(plan: str, roots: list[str]) -> str:
    for root in roots:
        plan = re.sub(re.escape(root.rstrip("/")) + r"(/[^\s,\]\)}']*)?", "<path>", plan)
    plan = re.sub(r"#\d+L?", "#", plan)
    plan = re.sub(r"\bs[0-9a-f]{12}\b", "<sink>", plan)
    return re.sub(r"\blocal-\d+\b", "<app>", plan)


def _sha256(value) -> str:
    return hashlib.sha256(json.dumps(value).encode()).hexdigest()


def build(out: str, sf_dir: str | None) -> None:
    tree = os.path.realpath(os.getcwd())
    sys.path.insert(0, tree)
    # the test suite's session sizing (tests/conftest.py), so the plans
    # are the ones the plan tests see
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    os.environ.setdefault("SPARK_GRAFT_SHUFFLE_PARTITIONS", "8")
    import __spark_entry__ as e
    from tests.conftest import SF_DIR
    from hadoop_3_3_6_spark.session import get_spark

    spark = get_spark("plan-diff")
    roots = _path_roots(tree)
    plans = {}
    try:
        for name, fn in e.queries().items():
            try:
                plan = fn(spark, sf_dir or SF_DIR)._jdf.queryExecution().optimizedPlan().toString()
            except Exception as exc:  # recorded, so the diff names it
                first = (str(exc).strip().splitlines() or [""])[0]
                plan = f"ERROR {type(exc).__name__}: {first}"
            plans[name] = normalize(plan, roots)
    finally:
        spark.stop()
    registry = {"queries_sha256": _sha256(list(e.queries())),
                "oracle_sql_sha256": _sha256(list(e.oracle_sql().items()))}
    with open(out, "w") as f:
        json.dump({"registry": registry, "plans": plans}, f, indent=0)
    errors = sum(p.startswith("ERROR ") for p in plans.values())
    print(f"{len(plans)} plans written to {out} ({errors} construction errors)")


def diff(a_path: str, b_path: str) -> int:
    with open(a_path) as f:
        ra = json.load(f)
    with open(b_path) as f:
        rb = json.load(f)
    a, b = ra["plans"], rb["plans"]
    registry_moved = [k for k in ra["registry"] if ra["registry"][k] != rb["registry"].get(k)]
    for k in registry_moved:
        print(f"registry {k}: {ra['registry'][k]} -> {rb['registry'].get(k)}")
    if list(a) != list(b):
        print(f"names differ: only in {a_path}: {sorted(set(a) - set(b))}; "
              f"only in {b_path}: {sorted(set(b) - set(a))}; same set, other order: {set(a) == set(b)}")
    moved = [n for n in a if n in b and a[n] != b[n]]
    for n in moved:
        la, lb = a[n].splitlines(), b[n].splitlines()
        i = next((i for i, (x, y) in enumerate(zip(la, lb)) if x != y), min(len(la), len(lb)))
        print(f"{n}: line {i}\n  - {la[i] if i < len(la) else '<end>'}\n  + {lb[i] if i < len(lb) else '<end>'}")
    same = sum(1 for n in a if n in b and a[n] == b[n])
    print(f"{same}/{len(a)} plans identical, {len(moved)} differ; "
          f"registry hashes {'differ' if registry_moved else 'identical'}")
    return 1 if moved or registry_moved or list(a) != list(b) else 0


if __name__ == "__main__":
    if len(sys.argv) >= 3 and sys.argv[1] == "build":
        build(sys.argv[2], sys.argv[3] if len(sys.argv) > 3 else None)
    elif len(sys.argv) == 4 and sys.argv[1] == "diff":
        sys.exit(diff(sys.argv[2], sys.argv[3]))
    else:
        sys.exit(__doc__)
