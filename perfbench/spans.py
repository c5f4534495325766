"""Traced-mode instruments: in-memory spans, prefix forcing, and the
counters Spark already keeps (SQL metrics of an executed plan, the
status store's per-stage totals).

Spans are recorded from the benchmark's own files, around the calls
into each engine layer; nothing inside the engine is instrumented.
Spark is lazy, so a layer call only returns a plan: :func:`force`
executes a prefix of the chain with no sink (``queryExecution.toRdd``
counted, the noop-sink equivalent whose SQL metrics stay readable on
the same plan), and a layer's self time is the difference between
consecutive prefixes.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager

Nodes = list[tuple[str, dict[str, int]]]


class Tracer:
    """Spans (name, start, end, parent, run id) kept in memory and
    written out once, at the end of the run."""

    def __init__(self, run_id: str) -> None:
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        self.spans.append(
            {
                "id": sid,
                "name": name,
                "parent": self._stack[-1] if self._stack else None,
                "run": self.run_id,
                "start": time.perf_counter(),
                "end": None,
            }
        )
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[sid]["end"] = time.perf_counter()

    def self_time(self, sid: int) -> float:
        """Span duration minus the part its direct children cover."""
        s = self.spans[sid]
        kids = sum(
            c["end"] - c["start"] for c in self.spans if c["parent"] == sid
        )
        return (s["end"] - s["start"]) - kids

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({**s, "self": self.self_time(s["id"])}) + "\n")


def plan_nodes(plan) -> Nodes:
    """(node name, SQL metrics) for every node of an executed physical
    plan, descending into AQE's final plan and query stages (the same
    walk as observability.execute_with_metrics, which collects rows and
    so cannot drive a large prefix)."""
    out: Nodes = []

    def walk(node) -> None:
        metrics = {}
        it = node.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            m = kv._2()
            opt = m.name()
            metrics[str(opt.get()) if opt.isDefined() else str(kv._1())] = int(m.value())
        out.append((str(node.nodeName()), metrics))
        kids = node.children()
        for i in range(kids.size()):
            walk(kids.apply(i))
        for accessor in ("executedPlan", "plan"):
            try:
                inner = getattr(node, accessor)()
            except Exception:  # noqa: BLE001 - accessor absent on this node
                continue
            walk(inner)
            break

    walk(plan)
    return out


def force(df) -> tuple[float, int, Nodes]:
    """Execute ``df``'s plan with no sink: (seconds, rows, plan nodes)."""
    qe = df._jdf.queryExecution()
    t0 = time.perf_counter()
    rows = int(qe.toRdd().count())
    dt = time.perf_counter() - t0
    return dt, rows, plan_nodes(qe.executedPlan())


def metric_sum(nodes: Nodes, metric: str, node_prefix: str = "") -> int:
    return sum(
        m.get(metric, 0) for name, m in nodes if name.startswith(node_prefix)
    )


def node_count(nodes: Nodes, node_prefix: str, metric: str | None = None) -> int:
    """Nodes named ``node_prefix...``; with ``metric``, only those whose
    metric is non-zero (a scan that actually read files)."""
    return sum(
        1
        for name, m in nodes
        if name.startswith(node_prefix) and (metric is None or m.get(metric, 0) > 0)
    )


def top_shuffle_bytes(nodes: Nodes) -> int:
    """Shuffle bytes of the plan's topmost exchange: the one the last
    operator of a prefix added (nodes are in pre-order)."""
    for name, m in nodes:
        if name.startswith("Exchange"):
            return m.get("shuffle bytes written", 0)
    return 0


def executed_scans(df, prefix: str = "Scan parquet") -> list[dict[str, int]]:
    """SQL metrics of the file scans ``df``'s last execution ran. AQE
    swaps the final plan for an empty relation once a stage proves the
    result empty (the duplicate audit of a correct mart), dropping the
    stages that scanned; its initial plan still holds those scan nodes,
    and they share their metrics with the stages that ran."""
    plan = df._jdf.queryExecution().executedPlan()
    try:
        plan = plan.initialPlan()
    except Exception:  # noqa: BLE001 - not an adaptive plan
        pass
    return [m for name, m in plan_nodes(plan) if name.startswith(prefix)]


class StageTotals:
    """Task, failure, shuffle and spill totals over the stages Spark
    ran since construction (the status store keeps them whether or not
    the UI is on)."""

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext
        self._seen = {s.stageId() for s in self._stages()}

    def _stages(self):
        sc = self._sc
        store = sc._jsc.sc().statusStore()
        no_quantiles = sc._gateway.new_array(sc._gateway.jvm.double, 0)
        seq = store.stageList(None, False, False, no_quantiles, None)
        return [seq.apply(i) for i in range(seq.size())]

    def _ran(self):
        return [
            s
            for s in self._stages()
            if s.stageId() not in self._seen and s.status().toString() != "SKIPPED"
        ]

    def last_stage_tasks(self) -> int:
        """Tasks of the newest stage that ran (a write's output stage)."""
        ran = self._ran()
        return max(ran, key=lambda s: s.stageId()).numTasks() if ran else 0

    def totals(self) -> dict[str, int]:
        ran = self._ran()
        return {
            "spark.tasks": sum(s.numTasks() for s in ran),
            "spark.failed_tasks": sum(s.numFailedTasks() for s in ran),
            "spark.shuffle_bytes": sum(s.shuffleWriteBytes() for s in ran),
            "spark.spill_bytes": sum(
                s.memoryBytesSpilled() + s.diskBytesSpilled() for s in ran
            ),
        }


def dir_files(root: str, suffix: str = ".parquet") -> list[str]:
    out = []
    for d, _dirs, files in os.walk(root):
        out += [os.path.join(d, f) for f in files if f.endswith(suffix)]
    return sorted(out)


def dir_bytes(root: str, suffix: str = ".parquet") -> int:
    return sum(os.path.getsize(f) for f in dir_files(root, suffix))
