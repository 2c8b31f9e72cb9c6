"""Spark SQL-metric harvest from the plan of the action that actually ran.

SQL metrics only fill in on the QueryExecution whose action ran: ``collect``
on a DataFrame runs that DataFrame's own QueryExecution, so read it from
``df._jdf.queryExecution()`` after the action. ``df.write`` builds another
QueryExecution internally, whose metrics cannot be reached this way.
Adaptive execution hides the final plan behind ``AdaptiveSparkPlanExec``
and each stage behind a ``*QueryStageExec``; the walk descends through both.
"""

from __future__ import annotations


def _children(node):
    cls = node.getClass().getSimpleName()
    if cls == "AdaptiveSparkPlanExec":
        return [node.executedPlan()]
    if cls.endswith("QueryStageExec"):
        return [node.plan()]
    if cls == "ReusedExchangeExec":
        return [node.child()]
    seq = node.children()
    return [seq.apply(i) for i in range(seq.length())]


def _metrics(node) -> dict[str, int]:
    out = {}
    it = node.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = kv._2().value()
    return out


def plan_nodes(df) -> list[tuple[str, dict[str, int]]]:
    """(node name, metric values) for every node of ``df``'s executed plan,
    pre-order; call after an action on ``df`` itself has run."""
    out = []
    todo = [df._jdf.queryExecution().executedPlan()]
    while todo:
        node = todo.pop()
        out.append((node.nodeName(), _metrics(node)))
        todo.extend(reversed(_children(node)))
    return out


def summed(nodes, name_prefixes: tuple[str, ...]) -> dict[str, int]:
    """Sum each metric over the nodes whose name starts with a prefix."""
    total: dict[str, int] = {}
    for name, metrics in nodes:
        if name.startswith(name_prefixes):
            for k, v in metrics.items():
                total[k] = total.get(k, 0) + v
    return total
