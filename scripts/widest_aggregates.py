#!/usr/bin/env python
"""Scan every registry query's executed plans for its widest aggregate.

Usage: python scripts/widest_aggregates.py <sf_dir>

Runs each registered query once (a ``noop`` write of its result) in one
engine session and reads every SQL execution it started (eager pins and
streaming micro-batches included) from Spark's status store. An
aggregate's width is the field count of its result row (``Results [n]``
in the formatted plan); whole-stage codegen gives up on an operator wider
than ``spark.sql.codegen.maxFields`` (Spark's default: 100). Prints the
ten queries with the widest aggregates.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

AGG = re.compile(
    r"^\(\d+\) (?:HashAggregate|SortAggregate|ObjectHashAggregate)\b.*\n"
    r"(?:.*\n)*?Results \[(\d+)\]",
    re.M,
)


def main() -> None:
    from split_kinesis_streams_with_glue_spark import get_spark
    from split_kinesis_streams_with_glue_spark.plans import all_queries

    if len(sys.argv) != 2:
        raise SystemExit(__doc__)
    sf_dir = sys.argv[1]
    # keep every execution in the status store (Spark's default keeps the
    # newest 1000), so the per-query count deltas below stay exact
    spark = get_spark(
        app_name="widest-aggregates",
        extra_conf={"spark.sql.ui.retainedExecutions": str(10**6)},
    )
    spark.sparkContext.setLogLevel("ERROR")
    store = spark._jsparkSession.sharedState().statusStore()
    widest, failed = {}, []
    for name, spec in sorted(all_queries().items()):
        seen = store.executionsCount()
        try:
            spec.fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        except Exception as exc:  # report and go on: the scan is about plans
            failed.append(f"{name}: {type(exc).__name__}")
        new = store.executionsCount() - seen
        runs = store.executionsList(seen, new)
        widths = [
            int(m.group(1))
            for i in range(new)
            for m in AGG.finditer(runs.apply(i).physicalPlanDescription())
        ]
        widest[name] = max(widths, default=0)
    print(f"{len(widest)} queries, {sum(w > 0 for w in widest.values())} with an aggregate")
    for name, width in sorted(widest.items(), key=lambda kv: -kv[1])[:10]:
        print(f"  {width:5d}  {name}")
    print(f"failed: {failed}")


if __name__ == "__main__":
    main()
