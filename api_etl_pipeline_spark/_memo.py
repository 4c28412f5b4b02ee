"""Session-scoped construction memo (round 14, optimization round 1).

The r13 verdict's construction-wall finding: query fn()s re-run bounded
driver-phase work — parquet footer probes, fixed query-vector collects,
codebook training — on every construction, and the bench constructs each
query 5 times (min-of-runs). The sanctioned fix (verdict task 2a, the
``dd04_components`` / ``_codebook_rows`` device) is one keyed cache per
(SparkSession, inputs): the cached value is exactly what every caller
would have rebuilt, so driver hashes are untouched, and the one-time
build wall is recorded so the bench's ``construction_shared_sec`` /
``construction_total_sec`` drift guards still see the cost.

WHAT MAY BE MEMOIZED: bounded construction-time state that feeds a plan
as data (collected codebooks/query vectors, analyzed scan relations,
shared component maps). NEVER memoize a materialized subtree of the
timed query region itself (e.g. a lazy_checkpoint the noop sink would
otherwise recompute) — that would hollow out the benched computation,
which the round rules treat as gaming, not optimization.

Keys carry the applicationId so a fresh SparkSession (tests spin many)
never sees another session's state; stale-session entries are pruned on
insert, so the memo cannot grow across a long pytest run.
"""

from __future__ import annotations

import contextvars
import time
from collections.abc import Callable
from typing import Any

from pyspark.sql import SparkSession

_MEMO: dict[tuple, Any] = {}

# one-time build walls, keyed by label — bench.shared_walls() reports
# them as construction_shared_sec
SHARED_BUILD_WALLS: dict[str, float] = {}

# name (key[0]) of the build whose builder is running on this context
# (the innermost one when builds nest); plan-lint labels the checkpoints
# a shared build takes with it, so they lint the same whichever consumer
# constructs first
_BUILDING: contextvars.ContextVar[str | None] = contextvars.ContextVar(
    "memo_building", default=None
)


def building() -> str | None:
    """Name of the memo build currently running its builder, if any."""
    return _BUILDING.get()


def session_memo(
    spark: SparkSession,
    key: tuple,
    builder: Callable[[], Any],
    wall_label: str | None = None,
) -> Any:
    """Return the memoized value for ``key`` in this SparkSession,
    building (and wall-recording under ``wall_label``) on first use."""
    full = (spark.sparkContext.applicationId, *key)
    if full in _MEMO:
        return _MEMO[full]
    t0 = time.perf_counter()
    token = _BUILDING.set(key[0])
    try:
        val = builder()
    finally:
        _BUILDING.reset(token)
    if wall_label is not None:
        SHARED_BUILD_WALLS[wall_label] = SHARED_BUILD_WALLS.get(wall_label, 0.0) + (
            time.perf_counter() - t0
        )
    for stale in [k for k in _MEMO if k[0] != full[0]]:
        del _MEMO[stale]
    _MEMO[full] = val
    return val
