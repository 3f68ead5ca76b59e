"""Physical-plan audit: assert the scale-hygiene properties hold.

For the headline queries, checks the formatted plan for:
- parquet scans carry PushedFilters / pruned ReadSchema where expected
- dimension joins are BroadcastHashJoin (no shuffle of the big side)
- WholeStageCodegen spans cover the JVM expression work
- no CartesianProduct outside the explicitly-brute-force queries

Prints a per-query verdict; exits 1 on violation. Run after plan
changes: python tools/explain_audit.py
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = "/root/testdata/sf0.001"

RULES = {
    # query -> (must_contain regexes, must_not_contain regexes)
    # NB: AQE formatted plans (isFinalPlan=false) do not print
    # WholeStageCodegen spans, so JVM-side-ness is asserted via
    # "no ArrowEvalPython/PythonMapInArrow" + Batched parquet scans.
    "q1_pricing_summary": ([r"PushedFilters: \[IsNotNull\(l_shipdate\)", r"partial_"], [r"CartesianProduct", r"ArrowEvalPython"]),
    "q3_top_orders": ([r"BroadcastHashJoin|broadcast", r"TakeOrderedAndProject"], [r"CartesianProduct"]),
    "q5_local_supplier_volume": ([r"BroadcastHashJoin", r"PushedFilters: \[IsNotNull\(r_name\), EqualTo\(r_name,ASIA\)"], [r"CartesianProduct", r"ArrowEvalPython"]),
    "broadcast_dim_join": ([r"BroadcastHashJoin"], [r"SortMergeJoin", r"CartesianProduct"]),
    # the point encode (with_s2_cell) and the ray-cast refine are both JVM
    "pip_join_customers": ([r"BroadcastHashJoin"], [r"SortMergeJoin", r"CartesianProduct", r"ArrowEvalPython"]),
    "tile_assign_customers": ([r"HashAggregate", r"ReadSchema: struct<c_custkey:bigint>", r"partial_count"], [r"ArrowEvalPython", r"CartesianProduct"]),
    "inventory_matrix": ([r"HashAggregate"], [r"ArrowEvalPython", r"CartesianProduct"]),
    "skew_salted_join": ([r"BroadcastHashJoin"], []),
    "scalar_function_sweep": ([r"PushedFilters: \[IsNotNull\(p_partkey\), LessThanOrEqual\(p_partkey"], [r"Filter.*WholeStageCodegen.*Filter"]),
    "dedup_exact_docs": ([r"HashAggregate", r"partial_min|partial_count|merge_min"], [r"ArrowEvalPython"]),
    "minhash_lsh_pairs": ([r"HashAggregate"], [r"ArrowEvalPython", r"CartesianProduct"]),
    "jaccard_top1_docs": ([r"Generate explode|Generate"], [r"ArrowEvalPython", r"CartesianProduct"]),
    "cosine_topk_bruteforce": ([r"BroadcastNestedLoopJoin|CartesianProduct"], [r"ArrowEvalPython"]),
    "token_quality_langid": ([r"PushedFilters: \[IsNotNull\(doc_id\), LessThan\(doc_id"], [r"ArrowEvalPython"]),
    "range_join_windows": ([r"Generate"], [r"CartesianProduct", r"BroadcastNestedLoopJoin"]),
    "asof_purchase_click": ([r"Window"], [r"CartesianProduct"]),
    "near_dedup_decision": ([r"HashAggregate"], [r"ArrowEvalPython", r"CartesianProduct"]),
    "grouping_sets_inventory": ([r"Expand"], [r"ArrowEvalPython", r"CartesianProduct"]),
}


def main() -> int:
    from gipspark import get_spark
    from gipspark.queries import REGISTRY

    spark = get_spark("explain-audit", parallelism=4, extra={"spark.ui.showConsoleProgress": "false"})
    bad = []
    for name, (must, must_not) in RULES.items():
        fn, _ = REGISTRY[name]
        df = fn(spark, SF)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        )
        errs = []
        for pat in must:
            if not re.search(pat, plan):
                errs.append(f"missing /{pat}/")
        for pat in must_not:
            if re.search(pat, plan):
                errs.append(f"forbidden /{pat}/ present")
        if errs:
            bad.append(name)
            print(f"VIOLATION {name}: {'; '.join(errs)}")
        else:
            print(f"ok {name}")
    print("\n==", "ALL PLANS CLEAN" if not bad else f"VIOLATIONS: {bad}")
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
