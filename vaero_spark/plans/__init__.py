from vaero_spark.plans.plan import OpNode, Plan, plan_from_json  # noqa: F401
