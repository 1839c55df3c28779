"""Session-lifetime cache bookkeeping for operators that MUST persist.

Some operators persist an intermediate frame that must outlive the
call. Entity resolution (operators/dedup.py) pins its record and edge
frames as a correctness device, so the connected-components probe and
every contraction round read one invariant edge set; MinHash banding
(dedup.lsh_candidate_pairs) pins its banded frame so the two sides of
its self-join do not each recompute the shingle and MinHash lineage;
PageRank and the link predictors (operators/graph.py) pin the edge
frame so every iteration reads one invariant adjacency. Those frames cannot be unpersisted inside the operator — the cache
must outlive the caller's action — so in a long-running driver that
executes many catalog queries the InMemoryRelations would accumulate
for the session lifetime.

This module is the release valve: operators register such frames with
``track``; query runners (tools/parity.py, tools/smoke_plain.py, the
parity test) call ``release_all()`` AFTER materializing each
query's result. Releasing between queries is always safe — results are
already collected; re-collecting a released frame would recompute its
whole lineage, which is why release happens at query boundaries, never
mid-plan.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame

log = logging.getLogger(__name__)

# Process-global, NOT thread-safe by design: the tracking list models
# "the persists of the query being built right now", which is only
# well-defined for a serial build-then-materialize runner (tools/parity.py,
# tools/smoke_plain.py and the parity test all are).
# Drivers that overlap queries across threads must scope their own
# tracking — calling release_all() between one thread's build and
# another's action would unpersist a correctness persist mid-plan and
# silently recompute e.g. entity resolution's edge set separately for
# the connected-components probe and each contraction round.
_LIVE: list[DataFrame] = []


def track(df: DataFrame) -> DataFrame:
    """Register an intentionally-persisted frame for later release."""
    _LIVE.append(df)
    return df


# Mid-loop plan capture (r13): the star-contraction CC
# (dedup.connected_components_star) checkpoints every round, so a dump
# of the final frame shows only the trivial assembled plan.
# tools/explain_dump.py sets this sink to a list; each round then
# appends (label, formatted plan) for the round frame JUST BEFORE its
# checkpoint truncates the lineage. None (the default) is a no-op on
# every query path.
_PLAN_SINK: list | None = None


def snap_plan(label: str, df: DataFrame) -> None:
    if _PLAN_SINK is not None:
        _PLAN_SINK.append(
            (
                label,
                df._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted"
                ),
            )
        )


def release_all() -> int:
    """Unpersist every tracked frame; returns how many were released.

    Call between queries (after the previous result is materialized),
    never while a plan that reads a tracked frame is still pending —
    and only from the single driver thread that built those queries
    (see the module note on _LIVE).
    """
    n = 0
    for df in _LIVE:
        try:
            df.unpersist()
            n += 1
        except Exception:
            # expected when the owning session was already stopped;
            # logged (not raised) so a genuine unpersist failure is
            # still visible at DEBUG instead of vanishing
            log.debug("release_all: unpersist failed", exc_info=True)
    _LIVE.clear()
    return n
