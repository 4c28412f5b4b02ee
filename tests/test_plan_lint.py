"""Registry-wide plan lint: no hard anti-patterns anywhere; warn-level
nodes must match the standing allowlist exactly (new ones need a reason,
stale entries must be pruned)."""

from __future__ import annotations

from api_etl_pipeline_spark.ops import plan_lint
from tests.conftest import SF_SMOKE


def test_registry_plans_are_clean(spark):
    findings = plan_lint.lint_registry(spark, SF_SMOKE)

    hard = [f for f in findings if f.severity == "hard"]
    assert not hard, f"hard plan anti-patterns: {[(f.query, f.node) for f in hard]}"

    fired = {(f.query, f.node) for f in findings if f.severity == "warn"}
    unexplained = fired - set(plan_lint.ALLOWED)
    assert not unexplained, f"warn nodes without a recorded reason: {sorted(unexplained)}"
    stale = set(plan_lint.ALLOWED) - fired
    assert not stale, f"allowlist entries that no longer fire: {sorted(stale)}"


def test_lint_capture_is_order_independent(spark):
    """A shared-build memo warmed BEFORE linting must not make +ckpt
    coverage vacuous: lint_registry resets the session construction
    caches so each group's first consumer always captures its
    pre-checkpoint plans (regression: a test that constructed gr01
    earlier in the process made gr01's +ckpt allowlist entries
    go stale)."""
    from api_etl_pipeline_spark import _memo
    from api_etl_pipeline_spark.checkpoint import checkpoint_observer
    from api_etl_pipeline_spark.registry import all_queries

    gr01 = all_queries()["gr01_pagerank"].fn
    gr01(spark, SF_SMOKE)  # warm the gr01_ranks session memo
    app_id = spark.sparkContext.applicationId
    assert any(
        k[0] == app_id and k[1] == "gr01_ranks" for k in _memo._MEMO
    ), "expected gr01_ranks memo to be warm before the lint-style reset"

    # the reset lint_registry now performs up front
    _memo._MEMO.clear()
    captured: list[str] = []
    with checkpoint_observer(lambda df: captured.append(plan_lint.plan_text(df))):
        gr01(spark, SF_SMOKE)
    assert captured, "cold construction after the reset must capture +ckpt plans"
    assert any("SortMergeJoin" in p for p in captured) and any(
        "BroadcastNestedLoopJoin" in p for p in captured
    ), "gr01's per-round join shapes must be visible to the lint"


def test_shared_build_checkpoints_carry_the_build_name(spark):
    """A shared build's checkpoint is labelled with the build, not with
    whichever consumer constructs first: sim11 before ret02 still lints
    the sim01_truth plan under its one allowlist entry."""
    from api_etl_pipeline_spark import _memo
    from api_etl_pipeline_spark.checkpoint import checkpoint_observer
    from api_etl_pipeline_spark.registry import all_queries

    _memo._MEMO.clear()
    captured: list[tuple[str | None, str]] = []
    with checkpoint_observer(
        lambda df: captured.append((_memo.building(), plan_lint.plan_text(df)))
    ):
        all_queries()["sim11_ann_recall_at_k"].fn(spark, SF_SMOKE)
    truth = [plan for build, plan in captured if build == "sim01_truth"]
    assert truth, f"no sim01_truth capture: {[b for b, _ in captured]}"
    findings = plan_lint.lint_plan("sim01_truth+ckpt", truth[0])
    assert any(f.node == "BroadcastNestedLoopJoin" and f.allowed for f in findings)
