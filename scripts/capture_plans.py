#!/usr/bin/env python
"""Capture .explain("formatted") for every headline bench query into
plans/<tag>/<query>_<suffix>.txt (OPTIMIZATION round deliverable: the judge
checks plan claims against these files without running Spark).

Usage:
    python scripts/capture_plans.py <tag> <suffix> [key ...]
    # e.g. python scripts/capture_plans.py r12 before
    #      python scripts/capture_plans.py r12 after tpch_q1 grouped_stats
    #      SPARK_GRAFT_PLAN_CACHE=1 python scripts/capture_plans.py r12 prepared
Plans are fresh-build shapes unless SPARK_GRAFT_PLAN_CACHE is set.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from airflow_etl_elt_spark.session import get_session  # noqa: E402


def main() -> None:
    tag = sys.argv[1] if len(sys.argv) > 1 else "r12"
    suffix = sys.argv[2] if len(sys.argv) > 2 else "before"
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from bench import HEADLINE  # noqa: E402
    from airflow_etl_elt_spark.queries import QUERIES  # noqa: E402

    keys = sys.argv[3:] or HEADLINE
    out_dir = os.path.join(os.path.dirname(__file__), "..", "plans", tag)
    os.makedirs(out_dir, exist_ok=True)

    spark = get_session(app_name=f"capture-plans-{tag}")
    # Match the bench's layout: plans must describe what the bench times.
    from airflow_etl_elt_spark.sources import layout as _layout

    if os.environ.get("SPARK_GRAFT_AT_REST_LAYOUT", "1") != "0":
        _layout.prepare_at_rest_layout(spark, sf_dir)
    # fresh-build plans unless the caller chose a mode
    # (SPARK_GRAFT_PLAN_CACHE=1 dumps the prepared-mode shapes)
    os.environ.setdefault("SPARK_GRAFT_PLAN_CACHE", "0")

    for key in keys:
        try:
            df = QUERIES[key](spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as exc:  # a failing key still gets a file: loud, not silent
            plan = f"PLAN CAPTURE FAILED: {type(exc).__name__}: {exc}"
        path = os.path.join(out_dir, f"{key}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(f"# {key} @ {sf_dir} ({suffix}, {tag})\n")
            fh.write(plan)
        print(f"wrote {path} ({len(plan)} chars)")
    spark.stop()


if __name__ == "__main__":
    main()
