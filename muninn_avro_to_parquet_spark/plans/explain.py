"""Plan dump for named registry entries.

    SPARK_GRAFT_SF_DIR=<tpch parquet dir> \\
        python -m muninn_avro_to_parquet_spark.plans.explain <suffix> <name> [<name> ...]

Writes each entry's ``.explain("formatted")`` to
``plans/$SPARK_GRAFT_PLANS_ROUND/<name>_<suffix>.txt`` under the
repository root (round defaults to r16) and prints one JSON line
``{"name", "path", "bytes", "operators"}``, ``operators`` being
``operator_counts`` of the executed plan. Use the bench's scale so plan
shapes match the timed runs.
"""

from __future__ import annotations

import json
import os
import re
import sys

# the nodes that decide an entry's cost at scale: shuffles and broadcasts,
# the join strategy, Python crossings, cached-table scans
OPERATORS = (
    "Exchange", "BroadcastExchange", "SortMergeJoin", "BroadcastHashJoin",
    "ShuffledHashJoin", "BroadcastNestedLoopJoin", "CartesianProduct",
    "MapInPandas", "MapInArrow", "ArrowEvalPython", "BatchEvalPython",
    "InMemoryTableScan",
)

# tree-drawing prefix, optional whole-stage codegen marker, node name
_NODE = re.compile(r"(?P<prefix>[\s:+-]*)(?:\*\(\d+\)\s*)?(?P<name>\w+)")


def operator_counts(plan: str) -> dict[str, int]:
    """Count each of ``OPERATORS`` in an executed-plan tree string
    (``queryExecution().executedPlan().toString()``). The subtree under an
    ``InMemoryRelation`` is skipped: that cached plan ran when the table
    was cached. Its ``InMemoryTableScan`` parent is counted."""
    counts = dict.fromkeys(OPERATORS, 0)
    skip_deeper_than = None  # prefix width of the InMemoryRelation skipped
    for line in plan.splitlines():
        m = _NODE.match(line)
        if not m:
            continue
        width = len(m["prefix"])
        if skip_deeper_than is not None and width > skip_deeper_than:
            continue
        skip_deeper_than = width if m["name"] == "InMemoryRelation" else None
        if m["name"] in counts:
            counts[m["name"]] += 1
    return counts


def main(argv: list[str]) -> int:
    from muninn_avro_to_parquet_spark.queries import QUERIES
    from muninn_avro_to_parquet_spark.session import get_spark

    sf = os.environ.get("SPARK_GRAFT_SF_DIR")
    if len(argv) < 2 or not sf:
        print(__doc__, file=sys.stderr)
        return 2
    suffix, names = argv[0], argv[1:]
    repo = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    out_dir = os.path.join(repo, "plans", os.environ.get("SPARK_GRAFT_PLANS_ROUND", "r16"))
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("explain")
    try:
        for name in names:
            df = QUERIES[name].spark(spark, sf)
            qe = df._jdf.queryExecution()
            plan = df._sc._jvm.PythonSQLUtils.explainString(qe, "formatted")
            path = os.path.join(out_dir, f"{name}_{suffix}.txt")
            with open(path, "w") as f:
                f.write(plan)
            counts = operator_counts(qe.executedPlan().toString())
            record = {"name": name, "path": path, "bytes": len(plan), "operators": counts}
            print(json.dumps(record), flush=True)
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
