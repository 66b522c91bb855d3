"""Spark engine counters read from the SQL status store.

``spark._jsparkSession.sharedState().statusStore()`` keeps per-node plan
metrics even with ``spark.ui.enabled=false``. The store hands them out
as Spark's display strings ("20,000", "3.4 MiB", "total (min, med,
max ...)\\n2.3 s (...)"); ``parse_metric`` turns them back into numbers.
Row and file counts come back exact; sizes and timings carry the
precision of Spark's formatter (one decimal in the printed unit).
"""

from __future__ import annotations

import re
from collections import defaultdict

_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TIME_MS = {"ms": 1.0, "s": 1e3, "m": 60e3, "h": 3600e3}
_VALUE = re.compile(r"^\s*(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]*)")

# (folded name, node-name prefix or None for any node, metric name, how)
_FOLDS = [
    ("codegen_ms", "WholeStageCodegen", "duration", "sum"),
    ("broadcast_collect_ms", "BroadcastExchange", "time to collect", "sum"),
    ("scan_bytes", None, "size of files read", "sum"),
    ("shuffle_bytes", None, "shuffle bytes written", "sum"),
    ("peak_memory_bytes", None, "peak memory", "max"),
    ("spill_bytes", None, "spill size", "sum"),
    ("python_ms", None, "time to run Python workers", "sum"),
    ("arrow_bytes_in", None, "data sent to Python workers", "sum"),
    ("arrow_bytes_out", None, "data returned from Python workers", "sum"),
    # rows through the widest Python-evaluated node of each execution:
    # summed over a batch's executions, more than the input rows means a
    # parse was recomputed
    ("python_rows", "ArrowEvalPython", "number of output rows", "max"),
]
FOLDED = [f[0] for f in _FOLDS]


def parse_metric(text: str, metric_type: str) -> float:
    """Spark's formatted SQL metric string → number (bytes, ms or count).

    Aggregated task metrics print a ``total (min, med, max ...)`` header
    line; the total is the first value on the next line."""
    if "\n" in text:
        text = text.split("\n", 1)[1]
    m = _VALUE.match(text)
    if m is None:
        raise ValueError(f"unparseable {metric_type} metric: {text!r}")
    num, unit = float(m.group(1).replace(",", "")), m.group(2)
    if metric_type == "size":
        return num * _SIZE[unit]
    if metric_type in ("timing", "nsTiming"):
        return num * _TIME_MS[unit]
    return num


class StatusStoreReader:
    """Folds the SQL executions started since the previous call."""

    def __init__(self, spark):
        self._ss = spark._jsparkSession.sharedState().statusStore()
        self._bus = spark.sparkContext._jsc.sc().listenerBus()
        self._seen = -1
        self.take()  # everything before now belongs to no batch

    def take(self) -> tuple[int, dict[str, float]]:
        """(number of new executions, folded counters over them)."""
        self._bus.waitUntilEmpty(30_000)
        new = []
        it = self._ss.executionsList().iterator()
        while it.hasNext():
            eid = it.next().executionId()
            if eid > self._seen:
                new.append(eid)
        if new:
            self._seen = max(new)
        folded: dict[str, float] = defaultdict(float)
        for eid in new:
            for key, value in self._fold(eid).items():
                if key == "peak_memory_bytes":
                    folded[key] = max(folded[key], value)
                else:
                    folded[key] += value
        return len(new), {k: folded.get(k, 0.0) for k in FOLDED}

    def _fold(self, eid: int) -> dict[str, float]:
        values = self._ss.executionMetrics(eid)
        out: dict[str, float] = defaultdict(float)
        nodes = self._ss.planGraph(eid).allNodes().iterator()
        while nodes.hasNext():
            node = nodes.next()
            node_name = node.name()
            metrics = node.metrics().iterator()
            while metrics.hasNext():
                pm = metrics.next()
                for key, prefix, metric, how in _FOLDS:
                    if pm.name() != metric or (
                        prefix and not node_name.startswith(prefix)
                    ):
                        continue
                    text = values.get(pm.accumulatorId())
                    if not text.isDefined():
                        continue
                    v = parse_metric(text.get(), pm.metricType())
                    out[key] = max(out[key], v) if how == "max" else out[key] + v
        return out
