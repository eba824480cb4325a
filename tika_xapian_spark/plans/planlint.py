"""Physical-plan linter: the plan-audit checklist the repo applies to every
scale-critical operator (tests/test_plan_shapes.py), packaged as a callable
so any registered query can be audited on demand — `python -m
tika_xapian_spark explain --query <name>` prints the executed plan plus the
verdicts, and exits non-zero on a violation.

The rules encode the 100 TB failure modes this codebase has actually hit:

  cartesian      CartesianProduct anywhere — an unkeyed pair explosion
                 (the round-6 curate-at-600k disk-filler).
  nested-loop    a NON-Cross BroadcastNestedLoopJoin — a real join whose
                 condition lost its equi key, evaluated O(n*m). The
                 ``Cross`` variant is counted as info instead: in this
                 codebase it is always the broadcast-SCALAR pattern (a
                 crossJoin against a 1-row aggregate — tau bounds, corpus
                 totals) and is the sanctioned way to attach a scalar
                 without an eager collect.
  row-python     BatchEvalPython — a row-at-a-time Python UDF in the data
                 path (Arrow/pandas evaluation shows as ArrowEvalPython /
                 MapInPandas and is allowed, as is the grouped
                 FlatMapGroupsInPandas).
Informational (printed, never a violation, because intent is query-specific):
exchange count, broadcast-join count, pushed-filter fragments, Arrow-eval
stages, WholeStageCodegen span count (higher-order-function projections are
legitimately interpreted — HOF lambdas are outside codegen — so absence is
not by itself a defect).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame

VIOLATION_RULES: tuple[tuple[str, str, str], ...] = (
    ("cartesian", "CartesianProduct", "unkeyed pair explosion"),
    ("row-python", "BatchEvalPython", "row-at-a-time Python UDF on the data path"),
)


@dataclass
class LintReport:
    violations: list[str] = field(default_factory=list)
    info: dict[str, object] = field(default_factory=dict)

    @property
    def ok(self) -> bool:
        return not self.violations


def lint_plan_text(plan: str) -> LintReport:
    rep = LintReport()
    for name, needle, why in VIOLATION_RULES:
        n = plan.count(needle)
        if n:
            rep.violations.append(f"{name}: {n}x {needle} ({why})")
    n_bnlj = plan.count("BroadcastNestedLoopJoin")
    n_scalar = sum(
        1
        for line in plan.splitlines()
        if "BroadcastNestedLoopJoin" in line and ", Cross" in line
    )
    if n_bnlj > n_scalar:
        rep.violations.append(
            f"nested-loop: {n_bnlj - n_scalar}x non-Cross "
            "BroadcastNestedLoopJoin (join lost its equi key; O(n*m))"
        )
    rep.info["scalar_cross_joins"] = n_scalar
    rep.info["codegen_spans"] = plan.count("WholeStageCodegen")
    rep.info["exchanges"] = plan.count("Exchange")
    rep.info["broadcast_joins"] = plan.count("BroadcastHashJoin")
    rep.info["sort_merge_joins"] = plan.count("SortMergeJoin")
    rep.info["arrow_python_stages"] = plan.count("ArrowEvalPython") + plan.count(
        "MapInPandas"
    ) + plan.count("FlatMapGroupsInPandas")
    rep.info["pushed_filters"] = [
        line.strip()[:120]
        for line in plan.splitlines()
        if "PushedFilters: [" in line and "PushedFilters: []" not in line
    ][:8]
    return rep


def lint_df(df: DataFrame) -> LintReport:
    return lint_plan_text(df._jdf.queryExecution().executedPlan().toString())
