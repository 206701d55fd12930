"""Per-operator SQL metrics read from Spark's SQL status store after an
action: the final (adaptive) plan graph of every SQL execution the action
ran, with each operator's metrics parsed, when read, to base units
(seconds, bytes, counts) and, where Spark keeps them, the per-task (min,
med, max).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

_UNITS = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0,
    "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
}
_SEP = "\x01"
_NUM = r"([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]+)?"


def _value(text: str) -> float:
    m = re.fullmatch(_NUM, text.strip())
    if not m:
        raise ValueError(f"unparsed SQL metric value {text!r}")
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2) or "", 1)


@dataclass(frozen=True)
class Metric:
    total: float
    min: float | None = None
    med: float | None = None
    max: float | None = None

    @property
    def skew(self) -> float:
        """max/median over tasks; 1.0 when Spark kept one value."""
        if self.med is None or self.max is None:
            return 1.0
        return self.max / self.med if self.med > 0 else (
            1.0 if self.max == 0 else float("inf"))


def parse_metric(text: str) -> Metric:
    """``'1,000'``, ``'400 ms'`` or ``'total (min, med, max (stageId:
    taskId))\\n1.5 s (323 ms, 396 ms, 444 ms (stage 12.0: task 41))'``,
    where the last parenthesis may read ``(driver)``."""
    lines = text.strip().split("\n")
    if len(lines) == 1:
        return Metric(_value(lines[0]))
    # average metrics print no total: '(min, med, max ...):\n(1, 1, 1 (...))';
    # a max that no task reported (driver-side updates) reads '(driver)'
    m = re.fullmatch(
        r"(?:(.+?) )?\((.+?), (.+?), (.+?) \((?:stage .*|driver)\)\)",
        lines[-1].strip(),
    )
    if not m:
        raise ValueError(f"unparsed SQL metric value {text!r}")
    total, lo, med, hi = m.groups()
    return Metric(_value(total if total is not None else med),
                  _value(lo), _value(med), _value(hi))


@dataclass
class Node:
    id: int
    name: str
    desc: str
    texts: dict[str, str]  # metric name -> value as the status store prints it
    children: list["Node"] = field(default_factory=list)

    def metric(self, name: str) -> Metric | None:
        # parsed on read, so a format only unread metrics use cannot fail a run
        text = self.texts.get(name)
        return parse_metric(text) if text is not None else None

    def get(self, name: str) -> float:
        m = self.metric(name)
        return m.total if m else 0.0

    def below(self):
        """This node's descendants, nearest first."""
        todo = list(self.children)
        while todo:
            node = todo.pop(0)
            yield node
            todo.extend(node.children)


@dataclass
class Execution:
    id: int
    nodes: list[Node]

    def named(self, prefix: str) -> list[Node]:
        return [n for n in self.nodes if n.name.startswith(prefix)]


class StatusStore:
    """Reads executions from the session's SQL status store, with few
    JVM round trips (the store holds every execution of the session)."""

    def __init__(self, spark):
        self._bus = spark.sparkContext._jsc.sc().listenerBus()
        self._store = spark._jsparkSession.sharedState().statusStore()
        self._conv = spark._jvm.scala.jdk.javaapi.CollectionConverters

    def _settle(self) -> None:
        # the listener that fills the store runs after the action returns
        self._bus.waitUntilEmpty()

    def mark(self) -> int:
        """Number of executions so far."""
        self._settle()
        return self._store.executionsCount()

    def since(self, mark: int) -> list[Execution]:
        """Every execution the session ran after ``mark``."""
        self._settle()
        new = self._conv.asJava(
            self._store.executionsList(mark, self._store.executionsCount()))
        return [self._execution(e.executionId()) for e in new]

    def _execution(self, eid: int) -> Execution:
        # Scala's mkString turns a collection into one string per round
        # trip: Map entries print as 'accumulatorId -> value', metrics as
        # 'SQLPlanMetric(name,accumulatorId,type)' and edges as
        # 'SparkPlanGraphEdge(fromId,toId)'.
        values = {}
        for entry in self._store.executionMetrics(eid).mkString(_SEP) \
                .split(_SEP):
            if entry:
                acc, text = entry.split(" -> ", 1)
                values[int(acc)] = text
        graph = self._store.planGraph(eid)
        nodes = {}
        for jn in self._conv.asJava(graph.allNodes()):
            texts = {}
            for desc in jn.metrics().mkString(_SEP).split(_SEP):
                if desc:
                    name, acc, _type = desc[len("SQLPlanMetric("):-1] \
                        .rsplit(",", 2)
                    if int(acc) in values:
                        texts[name] = values[int(acc)]
            name = jn.name().strip()
            nodes[jn.id()] = Node(
                jn.id(), name,
                jn.desc() if name.startswith("Scan") else "", texts)
        for edge in graph.edges().mkString(_SEP).split(_SEP):
            if edge:
                child, parent = map(
                    int, edge[len("SparkPlanGraphEdge("):-1].split(","))
                if parent in nodes and child in nodes:
                    nodes[parent].children.append(nodes[child])
        return Execution(eid, list(nodes.values()))
