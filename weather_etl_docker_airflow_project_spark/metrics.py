"""Executed-plan SQLMetrics access: measure what a plan actually moved.

Used by the Bloom-join shuffle-reduction gate (tests/test_bloomjoin.py):
assertions about shuffles should be metric-backed (SQLMetrics), not
prose.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def shuffle_written(df: DataFrame) -> tuple[int, int]:
    """Execute ``df`` and return ``(records, bytes)`` summed over every
    ShuffleExchangeExec in the executed plan. AQE wrappers
    (AdaptiveSparkPlanExec, *QueryStageExec) are unwrapped, so the walk
    sees the plan that actually ran."""
    df.collect()
    recs = nbytes = 0
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            stack.append(node.plan())
            continue
        if cls == "ShuffleExchangeExec":
            it = node.metrics().iterator()
            while it.hasNext():
                kv = it.next()
                if kv._1() == "shuffleRecordsWritten":
                    recs += kv._2().value()
                elif kv._1() == "shuffleBytesWritten":
                    nbytes += kv._2().value()
        ch = node.children()
        for i in range(ch.length()):
            stack.append(ch.apply(i))
    return recs, nbytes
