"""Read jobs, stages and SQL metrics from the Spark UI's REST API."""

from __future__ import annotations

import json
import re
import time
import urllib.request
from datetime import datetime, timezone
from urllib.parse import urlparse

_UNITS = {"B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4}
_SIZE = re.compile(r"([0-9.]+)\s*(B|KiB|MiB|GiB|TiB)\b")


def parse_time(s: str) -> float:
    """'2026-10-16T18:45:01.123GMT' -> epoch seconds."""
    return datetime.strptime(s, "%Y-%m-%dT%H:%M:%S.%fGMT").replace(tzinfo=timezone.utc).timestamp()


def parse_size(s: str) -> int:
    """A SQL size metric as bytes.  Multi-task metrics read
    'total (min, med, max ...)\\n<total> (<min>, ...)': take the total."""
    line = s.split("\n", 1)[1] if "\n" in s else s
    m = _SIZE.search(line)
    return int(float(m.group(1)) * _UNITS[m.group(2)]) if m else 0


class SparkRest:
    def __init__(self, spark):
        sc = spark.sparkContext
        port = urlparse(sc.uiWebUrl).port
        self.base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"

    def get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def settle(self, timeout_s: float = 10.0) -> None:
        """Wait until every submitted job has finished being recorded."""
        deadline = time.time() + timeout_s
        while time.time() < deadline:
            if all(j.get("status") != "RUNNING" for j in self.get("/jobs")):
                return
            time.sleep(0.2)

    def jobs(self) -> list[dict]:
        return [{"t": parse_time(j["submissionTime"]), "id": j["jobId"]} for j in self.get("/jobs") if "submissionTime" in j]

    def stages(self) -> list[dict]:
        out = []
        for s in self.get("/stages"):
            if "submissionTime" not in s or s.get("status") == "SKIPPED":
                continue
            out.append(
                {
                    "t": parse_time(s["submissionTime"]),
                    "id": s["stageId"],
                    "attempt": s["attemptId"],
                    "tasks": s["numTasks"],
                    "input_bytes": s.get("inputBytes", 0),
                    "shuffle_write_bytes": s.get("shuffleWriteBytes", 0),
                    "shuffle_records": s.get("shuffleWriteRecords", 0),
                    "spill_bytes": s.get("diskBytesSpilled", 0),
                    "peak_exec_mem": s.get("peakExecutionMemory", 0),
                }
            )
        return out

    def task_skew(self, stage: dict) -> float:
        """max / median task run time of one stage (1.0 for a single task)."""
        if stage["tasks"] < 2:
            return 1.0
        q = self.get(f"/stages/{stage['id']}/{stage['attempt']}/taskSummary?quantiles=0.5,1.0")
        med, top = q["executorRunTime"]
        return top / med if med > 0 else 1.0

    def python_bytes(self) -> list[dict]:
        """Bytes each SQL execution sent to and received from Python workers."""
        out = []
        # the endpoint returns 20 executions unless asked for more
        for e in self.get("/sql?details=true&planDescription=false&offset=0&length=100000"):
            sent = recv = 0
            for node in e.get("nodes", []):
                for m in node.get("metrics", []):
                    if m["name"] == "data sent to Python workers":
                        sent += parse_size(m["value"])
                    elif m["name"] == "data returned from Python workers":
                        recv += parse_size(m["value"])
            out.append({"t": parse_time(e["submissionTime"]), "sent": sent, "recv": recv})
        return out
