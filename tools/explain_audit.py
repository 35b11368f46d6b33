"""Physical-plan audit: prints, for every registered query, the properties
that matter at 100 TB — shuffle (Exchange) count, broadcast joins, pushed
filters, scanned columns — and flags smells (cartesian products, full-width
scans, row-at-a-time Python UDFs). Usage:

    python tools/explain_audit.py [sf_dir] [query ...]
"""

from __future__ import annotations

import io
import os
import re
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def plan_text(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def scan_schemas(plan: str) -> list[list[str]]:
    """Top-level field names of each ``ReadSchema: struct<…>`` in a plan.
    Fields split on commas at bracket depth 0, so a complex-typed field
    (``array<…>``, ``map<…>``, ``struct<…>``, ``decimal(p,s)``) neither ends
    the schema nor splits in two."""
    schemas = []
    for m in re.finditer(r"ReadSchema: struct<", plan):
        fields, depth, start = [], 0, m.end()
        for i in range(m.end(), len(plan)):
            ch = plan[i]
            if ch in "<(":
                depth += 1
            elif ch in ">)" and depth:
                depth -= 1
            elif ch == ">" or (ch == "," and depth == 0):
                fields.append(plan[start:i].split(":")[0])
                start = i + 1
                if ch == ">":
                    break
        schemas.append([f for f in fields if f])
    return schemas


def audit(name: str, df) -> dict:
    p = plan_text(df)
    read_schemas = scan_schemas(p)
    return {
        "query": name,
        "exchanges": len(re.findall(r"\bExchange\b", p)),
        "broadcast_joins": len(re.findall(r"BroadcastHashJoin", p)),
        "sort_merge_joins": len(re.findall(r"SortMergeJoin", p)),
        "nested_loop": len(re.findall(r"NestedLoopJoin|CartesianProduct", p)),
        "pushed_filters": len(re.findall(r"PushedFilters: \[[^\]]", p)),
        "python_row_udf": len(re.findall(r"BatchEvalPython", p)),
        "arrow_udf": len(re.findall(r"ArrowEvalPython|FlatMapGroupsInPandas|FlatMapCoGroupsInPandas|MapInPandas", p)),
        "wscg": len(re.findall(r"WholeStageCodegen", p)),
        "scan_cols": [len(s) for s in read_schemas],
        # field NAMES per scan (schema-level: 'bytes' leaking into a scan
        # is invisible in the count alone) — consumed by the plan guard
        "scan_fields": [sorted(s) for s in read_schemas],
    }


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    from spark_pit.queries import QUERIES
    from spark_pit.session import get_spark

    spark = get_spark(app_name="explain_audit", master="local[4]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    names = sys.argv[2:] or list(QUERIES)
    print(f"{'query':<24} exch bcast smj nlj push pyrow arrow wscg scan_cols")
    for name in names:
        try:
            a = audit(name, QUERIES[name](spark, sf_dir))
            print(
                f"{a['query']:<24} {a['exchanges']:>4} {a['broadcast_joins']:>5} "
                f"{a['sort_merge_joins']:>3} {a['nested_loop']:>3} {a['pushed_filters']:>4} "
                f"{a['python_row_udf']:>5} {a['arrow_udf']:>5} {a['wscg']:>4} {a['scan_cols']}"
            )
        except Exception as e:  # noqa: BLE001
            print(f"{name:<24} ERROR {type(e).__name__}: {e}")
    spark.stop()


if __name__ == "__main__":
    main()
