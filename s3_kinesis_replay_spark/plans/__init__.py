"""Physical-plan inspection (SURVEY §4/§5.4).

The 100 TB design point is enforced by asserting on plans, not hoping:
broadcast where dims are small, TakeOrdered for top-k, pushed filters and
pruned schemas at the parquet scan, partial aggregation before shuffles.
``plans.audit.audit_plan`` extracts those features; tests and
``tools/gen_plans.py`` use it.
"""
