"""The engine's one Spark fixpoint loop.

Every iterative plan in the package — the ``hasParent*`` context closure and
DESCRIBE neighborhood of plans.query, the SPARQL property-path closures,
PageRank and the dedup connected components — runs its rounds here, so the
bound, the depth error, lineage truncation and block release are decided
once. Two entry points share one lifecycle:

- :func:`closure` is the semi-naive, accumulating form (the incremental
  delta iteration of *Incrementalization of Graph Partitioning Algorithms*,
  VLDB 2020): each round extends only the previous round's NEW rows, so
  round k discovers exactly the distance-k rows;
- :func:`iterate` is the replace-state form: each round's output is the
  next round's whole input.

Lifecycle of a round: the round's output is ``localCheckpoint``-ed once
(the plan stays linear in depth) and re-aliased to fresh attribute ids;
when the caller did not fix the round count, one probe decides whether the
loop has converged, and a loop still running after :data:`MAX_ROUNDS`
rounds raises :class:`PathDepthError` — it never returns a truncated
result.
"""

from __future__ import annotations

from functools import reduce
from typing import Callable

from pyspark.sql import Column, DataFrame, functions as F

# Round bound of every unfixed loop. Module-level and mutable so a caller
# with legitimately deeper data can raise it; exceeding it raises
# PathDepthError.
MAX_ROUNDS = 64

# closure() folds the deltas of the last _COMPACT_EVERY rounds into one
# checkpointed block, so the accumulated union has ~d/_COMPACT_EVERY leaves
# after d rounds (analysis cost grows with leaves) while each row is still
# written only twice.
_COMPACT_EVERY = 8


class PathDepthError(RuntimeError):
    """A fixpoint loop did not converge within ``MAX_ROUNDS`` rounds: the
    query is LEGAL but the data is deeper along it (a property path's
    diameter, a context tree's height, a duplicate cluster's chain) than the
    configured bound. Typed (not a bare ValueError, not a syntax error) so
    callers can distinguish a depth-bound abort — raise
    ``rdf2hk_spark.fixpoint.MAX_ROUNDS`` and retry — from a parse failure
    or an internal fault."""


def _realias(df: DataFrame) -> DataFrame:
    """Fresh attribute ids: localCheckpoint PRESERVES exprIds, so a frame
    checkpointed from ``edges`` would conflict with ``edges`` itself in a
    later join ('Conflicting attributes') without this."""
    return df.select(*[F.col(c).alias(c) for c in df.columns])


def checkpoint(df: DataFrame) -> DataFrame:
    """``df`` materialized (eager ``localCheckpoint``, lineage cut) under
    fresh attribute ids, ready to join against the frames it came from."""
    return _realias(df.localCheckpoint())


def _union(parts: list[DataFrame]) -> DataFrame:
    return _realias(reduce(DataFrame.unionByName, parts))


def _run(advance, state, rounds: int | None):
    """The one round loop. ``advance(state, probe)`` runs a round and
    returns ``(state, converged)``; it probes for convergence only when
    ``probe`` is set, i.e. when the caller did not fix ``rounds``.

    Checkpointed blocks are released by dropping the last reference to
    their frame (Spark's ContextCleaner removes the blocks once the JVM
    collects the RDD); ``unpersist()`` on a ``localCheckpoint``-ed frame
    releases nothing. So a round keeps only what the next round reads, and
    the error path drops ``state`` before raising — the traceback would
    otherwise pin every block of the loop."""
    probe = rounds is None
    for _ in range(MAX_ROUNDS if probe else rounds):
        state, converged = advance(state, probe)
        if converged:
            return state
    if probe:
        del state
        raise PathDepthError(
            f"fixpoint did not converge within MAX_ROUNDS={MAX_ROUNDS} rounds"
            " — raise rdf2hk_spark.fixpoint.MAX_ROUNDS for deeper data"
        )
    return state


def closure(
    step: Callable[[DataFrame], DataFrame],
    frontier: DataFrame,
    seen: DataFrame,
    rounds: int | None = None,
) -> DataFrame:
    """Semi-naive fixpoint: ``seen`` ∪ every round's delta.

    Round k computes ``delta = step(frontier)`` minus every row seen so far
    (left-anti join on all of ``seen``'s columns); the delta becomes the
    next frontier. ``step`` must return ``seen``'s columns, each row once.
    Without ``rounds`` the loop stops at the first empty delta; with it,
    exactly ``rounds`` rounds run and nothing is probed.

    The result is a lazy union over the checkpointed deltas (plus
    ``seen``) — never a re-materialized seen∪delta per round, which would
    copy every reached row at every hop — with every ``_COMPACT_EVERY``
    consecutive deltas folded into one block."""

    def advance(state, probe):
        frontier, blocks, recent = state
        acc = _union(blocks + recent)
        delta = checkpoint(step(frontier).join(acc, acc.columns, "left_anti"))
        if probe and delta.isEmpty():
            return state, True
        recent = recent + [delta]
        if len(recent) == _COMPACT_EVERY:
            blocks, recent = blocks + [checkpoint(_union(recent))], []
        return (delta, blocks, recent), False

    _, blocks, recent = _run(
        advance, (_realias(frontier), [_realias(seen)], []), rounds
    )
    return _union(blocks + recent)


def iterate(
    step: Callable[[DataFrame], DataFrame],
    state: DataFrame,
    rounds: int | None = None,
    changed: Column | None = None,
) -> DataFrame:
    """Replace-state fixpoint: ``state := step(state)``, checkpointed each
    round. With ``rounds`` exactly that many rounds run; without it the
    loop stops after the first round whose output has no row matching
    ``changed`` (a predicate over the round's output columns)."""

    def advance(state, probe):
        new = checkpoint(step(state))
        return new, probe and new.filter(changed).limit(1).count() == 0

    return _run(advance, state, rounds)
