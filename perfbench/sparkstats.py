"""Read Spark's own per-operator SQL metrics and job counts from outside
the engine.

Works with ``spark.ui.enabled=false``: the SQL status store behind
``sharedState().statusStore()`` is still populated, and the
``statusTracker`` still answers job/stage questions. Spark renders metric
values as display strings (``"683 ms (327 ms, 356 ms, 356 ms (stage 3.0:
task 3))"``, ``"2.9 MiB"``, ``"38,859"``); :func:`parse_metric` turns the
leading total back into a number (seconds for timings, bytes for sizes).
"""

from __future__ import annotations

import re
from collections import defaultdict

_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40, "PiB": 1 << 50, "EiB": 1 << 60}
_TIME = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_TOTAL = re.compile(r"^\s*(-?[\d,]*\.?\d+)\s*([A-Za-z]+)?")


def parse_metric(text: str) -> float:
    """Total of one rendered SQL metric value.

    Timings come back in seconds, sizes in bytes, counts as counts. The
    ``total (min, med, max ...)`` header that some Spark versions put on
    a line of its own is skipped; the bracketed min/med/max is ignored.
    """
    lines = [ln for ln in str(text).strip().splitlines() if ln.strip()]
    if lines and lines[0].lstrip().startswith("total"):
        lines = lines[1:]
    if not lines:
        return 0.0
    m = _TOTAL.match(lines[0])
    if m is None:
        raise ValueError(f"unparseable metric value {text!r}")
    value = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if unit is None:
        return value
    if unit in _SIZE:
        return value * _SIZE[unit]
    if unit in _TIME:
        return value * _TIME[unit]
    raise ValueError(f"unknown metric unit {unit!r} in {text!r}")


def node_class(name: str) -> str:
    """Layer of a plan node, from its display name."""
    if name.startswith("Scan"):
        return "scan"
    if name.endswith("Aggregate") and "InPandas" not in name:
        return "aggregate"
    if name in ("Exchange", "BroadcastExchange", "AQEShuffleRead", "ShuffleQueryStage"):
        return "exchange"
    if name in ("Sort", "Window", "WindowGroupLimit", "RunningWindowFunction"):
        return "sort"
    if "Python" in name or "Pandas" in name or "Arrow" in name:
        return "python"
    if name.startswith("Execute InsertInto") or name.startswith("WriteFiles"):
        return "write"
    return "other"


#: (layer, Spark metric name) -> per-layer metric. Timings are busy time
#: summed over tasks, not wall time. The only files the workloads write
#: are the bar store's, so write nodes count as ``sources.bars_io``.
_WANTED = {
    ("scan", "scan time"): "sources.scan_s",
    ("scan", "number of output rows"): "sources.scan_rows",
    ("scan", "size of files read"): "sources.scan_bytes",
    ("scan", "number of files read"): "sources.files_read",
    ("aggregate", "time in aggregation build"): "aggregate.build_s",
    ("aggregate", "number of sort fallback tasks"): "aggregate.sort_fallback_tasks",
    ("aggregate", "spill size"): "aggregate.spill_bytes",
    ("exchange", "shuffle bytes written"): "exchange.shuffle_bytes",
    ("exchange", "shuffle records written"): "exchange.shuffle_records",
    ("sort", "sort time"): "sort.s",
    ("sort", "spill size"): "sort.spill_bytes",
    ("python", "number of output rows"): "python.rows",
    ("python", "data sent to Python workers"): "python.bytes_sent",
    ("python", "data returned from Python workers"): "python.bytes_returned",
    ("write", "written output"): "bars_io.bytes_written",
    ("write", "number of written files"): "bars_io.files_written",
}


#: every per-layer metric :meth:`StatusReader.since` can report
METRICS = (*_WANTED.values(), "exchange.single_partition")


def _seq(jvm, scala_seq) -> list:
    return list(jvm.scala.jdk.javaapi.CollectionConverters.asJava(scala_seq))


class StatusReader:
    """Per-call deltas of SQL executions and jobs for one session.

    :meth:`mark` remembers the newest execution id; :meth:`since` then
    aggregates every execution started after the mark by node layer.
    """

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.jvm = spark._jvm
        self.store = spark._jsparkSession.sharedState().statusStore()
        self.last_eid = self._newest_eid()

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        status store holds the final metrics of finished executions."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def _newest_eid(self) -> int:
        n = self.store.executionsCount()
        if n == 0:
            return -1
        tail = _seq(self.jvm, self.store.executionsList(int(n) - 1, 1))
        return int(tail[-1].executionId()) if tail else -1

    def _new_eids(self) -> list[int]:
        n = int(self.store.executionsCount())
        if n == 0:
            return []
        k = 8
        while True:
            rows = _seq(self.jvm, self.store.executionsList(max(0, n - k), min(k, n)))
            eids = [int(r.executionId()) for r in rows]
            if not eids or eids[0] <= self.last_eid or k >= n:
                return [e for e in eids if e > self.last_eid]
            k *= 4

    def mark(self) -> None:
        self.last_eid = self._newest_eid()

    def since(self) -> dict[str, float]:
        """Per-layer metrics summed over the executions after the mark;
        the mark moves to the newest execution."""
        self.drain()
        out: dict[str, float] = defaultdict(float)
        eids = self._new_eids()
        for eid in eids:
            values = None  # the execution's accumulator id -> rendered value
            for node in _seq(self.jvm, self.store.planGraph(eid).allNodes()):
                layer = node_class(str(node.name()))
                if layer == "other":
                    continue
                if layer == "exchange" and "SinglePartition" in str(node.desc()):
                    out["exchange.single_partition"] += 1
                for m in _seq(self.jvm, node.metrics()):
                    key = _WANTED.get((layer, str(m.name())))
                    if key is None:
                        continue
                    if values is None:
                        values = self.jvm.scala.jdk.javaapi.CollectionConverters.asJava(self.store.executionMetrics(eid))
                    text = values.get(m.accumulatorId())
                    if text is not None:
                        out[key] += parse_metric(text)
        out["executions"] = float(len(eids))
        if eids:
            self.last_eid = max(eids)
        return dict(out)

    def jobs(self, group: str) -> dict[str, float]:
        """Jobs, stages and tasks run under one job group."""
        tracker = self.sc.statusTracker()
        jids = tracker.getJobIdsForGroup(group)
        stages = tasks = 0
        for jid in jids:
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            for sid in info.stageIds:
                st = tracker.getStageInfo(sid)
                if st is not None and st.numCompletedTasks > 0:
                    stages += 1
                    tasks += st.numCompletedTasks
        return {"jobs": float(len(jids)), "stages": float(stages), "tasks": float(tasks)}

    def cached(self) -> dict[str, float]:
        """Bytes and count of RDDs the block manager holds right now."""
        infos = self.sc._jsc.sc().getRDDStorageInfo()
        pinned = sum(int(i.memSize()) + int(i.diskSize()) for i in infos)
        return {"cache.pinned_bytes": float(pinned), "cache.rdds": float(len(infos))}

