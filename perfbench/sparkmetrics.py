"""Spark's own metrics, read from outside the program.

* :func:`parse_metric` turns a SQL-metric display string into a number.
* :class:`SparkUI` reads a finished job's SQL-node and stage metrics
  from the REST API of the running application's UI.
* :func:`worker_peak_rss_mb` reads the PySpark Python workers' peak
  resident set size from ``/proc``.
"""

from __future__ import annotations

import json
import os
import re
import time
import urllib.request
from urllib.parse import urlsplit

__all__ = ["SparkUI", "node_metric", "parse_metric", "worker_peak_rss_mb"]

_SCALE = {
    "ns": 1e-9,
    "ms": 1e-3,
    "s": 1.0,
    "m": 60.0,
    "h": 3600.0,
    "B": 1.0,
    "KiB": 2.0**10,
    "MiB": 2.0**20,
    "GiB": 2.0**30,
    "TiB": 2.0**40,
    "PiB": 2.0**50,
    "EiB": 2.0**60,
}
_VALUE = re.compile(
    r"\s*(-?[\d,]*\.?\d+)\s*(ns|ms|s|m|h|B|KiB|MiB|GiB|TiB|PiB|EiB)?(?!\w)"
)
_TOTAL_HEADER = "total (min, med, max"


def parse_metric(text: str) -> float:
    """The total of one SQL-metric display string: seconds for timings,
    bytes for sizes, the plain number for counts.

    Spark renders per-task metrics as
    ``"total (min, med, max (stageId: taskId))\\n8.8 s (328 ms, ...)"``
    and sums as ``"1,024"``; sizes use binary units (``"12.3 MiB"``).
    """
    body = text
    if text.startswith(_TOTAL_HEADER) and "\n" in text:
        body = text.split("\n", 1)[1]
    m = _VALUE.match(body)
    if m is None:
        raise ValueError(f"not a Spark SQL metric value: {text!r}")
    return float(m.group(1).replace(",", "")) * _SCALE.get(m.group(2), 1.0)


def node_metric(nodes: dict, node: str, metric: str) -> float:
    """Sum of the metrics named ``metric`` over the plan nodes named ``node``."""
    return sum(v for (n, m), v in nodes.items() if n == node and m == metric)


class SparkUI:
    """Client of one application's monitoring REST API (``/api/v1``)."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        port = urlsplit(sc.uiWebUrl).port
        self._base = "http://127.0.0.1:%d/api/v1/applications/%s" % (
            port,
            sc.applicationId,
        )

    def _get(self, path: str):
        with urllib.request.urlopen(self._base + path, timeout=30) as r:
            return json.load(r)

    def _executions(self, details: bool) -> list:
        flag = "true" if details else "false"
        return self._get(
            f"/sql?details={flag}&planDescription=false&offset=0&length=1000000"
        )

    def last_execution(self) -> int:
        """Id of the newest SQL execution so far (-1 when none)."""
        return max((e["id"] for e in self._executions(False)), default=-1)

    def metrics_since(self, after: int, timeout: float = 30.0) -> dict:
        """Metrics of the SQL executions newer than ``after``, once all of
        them have ended: ``{"nodes": {(node, metric): total}, "stages":
        [completed stage attempts]}``."""
        deadline = time.monotonic() + timeout
        while True:
            execs = [e for e in self._executions(True) if e["id"] > after]
            if execs and all(e["status"] != "RUNNING" for e in execs):
                break
            if time.monotonic() > deadline:
                raise TimeoutError(f"SQL executions after {after} did not end")
            time.sleep(0.05)
        nodes: dict = {}
        for e in execs:
            for node in e["nodes"]:
                for m in node["metrics"]:
                    try:
                        v = parse_metric(m["value"])
                    except ValueError:
                        continue
                    key = (node["nodeName"], m["name"])
                    nodes[key] = nodes.get(key, 0.0) + v
        stages = []
        for e in execs:
            for jid in e["successJobIds"]:
                for sid in self._get(f"/jobs/{jid}")["stageIds"]:
                    stages += [
                        s for s in self._get(f"/stages/{sid}") if s["status"] == "COMPLETE"
                    ]
        return {"nodes": nodes, "stages": stages}

    def task_skew(self, stages: list) -> float:
        """Max ÷ median task run time of the busiest stage that reads a
        shuffle: how evenly the exchange spread the work after it."""
        post = [s for s in stages if s["shuffleReadBytes"] > 0]
        if not post:
            return 1.0
        st = max(post, key=lambda s: s["executorRunTime"])
        q = self._get(
            f"/stages/{st['stageId']}/{st['attemptId']}/taskSummary?quantiles=0.5,1.0"
        )["executorRunTime"]
        return q[1] / max(q[0], 1.0)


def worker_peak_rss_mb() -> float:
    """Largest peak RSS (``VmHWM``), in MB, among the PySpark Python
    worker processes that descend from this process."""
    parent: dict = {}
    workers = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
            with open(f"/proc/{name}/cmdline", "rb") as f:
                cmd = f.read()
        except OSError:  # the process ended while we looked
            continue
        pid = int(name)
        parent[pid] = int(stat.rsplit(")", 1)[1].split()[1])
        if b"pyspark.daemon" in cmd or b"pyspark.worker" in cmd:
            workers.append(pid)
    me = os.getpid()
    peak_kb = 0
    for pid in workers:
        p = pid
        for _ in range(64):
            if p in (me, 0, 1):
                break
            p = parent.get(p, 0)
        if p != me:
            continue
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        peak_kb = max(peak_kb, int(line.split()[1]))
        except OSError:
            continue
    return peak_kb * 1024 / 1e6
