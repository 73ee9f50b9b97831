from flinkproj_spark.plans.checks import executed_plan, assert_no_python_eval

__all__ = ["executed_plan", "assert_no_python_eval"]
