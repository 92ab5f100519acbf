"""The shared fixpoint loop: depth bound, compaction, typed error — and the
JVM-reflection guard for session.materialize_pending_caches."""

import logging

import pytest

from rdf2hk_spark import constants as C, fixpoint
from rdf2hk_spark.ops import dedup
from rdf2hk_spark.plans import query as Q
from rdf2hk_spark.session import materialize_pending_caches


def _context_chain(spark, depth):
    """Contexts c0 <- c1 <- ... <- c{depth}: a context tree of height
    ``depth`` rooted at c0."""
    rows = [("c0", C.CONTEXT, None)] + [
        (f"c{i}", C.CONTEXT, f"c{i - 1}") for i in range(1, depth + 1)
    ]
    return spark.createDataFrame(rows, "id string, type string, parent string")


@pytest.fixture(scope="module")
def closure_60(spark):
    return Q.context_closure(_context_chain(spark, 60), "c0")


def test_deep_context_chain_raises_instead_of_truncating(spark):
    with pytest.raises(fixpoint.PathDepthError):
        Q.context_closure(_context_chain(spark, 100), "c0")


def test_context_chain_within_bound_is_complete(closure_60):
    got = {r["id"] for r in closure_60.collect()}
    assert got == {f"c{i}" for i in range(61)}


def test_accumulated_union_is_compacted(closure_60):
    # 60 rounds of deltas fold into blocks of 8: the plan grows as d/8
    leaves = closure_60._jdf.queryExecution().analyzed().collectLeaves().size()
    assert leaves <= 60 // 8 + 8, leaves


def test_duplicate_clusters_bound_is_the_shared_typed_error(spark, monkeypatch):
    pairs = spark.createDataFrame([(0, 1), (1, 2)], "a long, b long")
    monkeypatch.setattr(fixpoint, "MAX_ROUNDS", 1)
    with pytest.raises(fixpoint.PathDepthError):
        dedup.duplicate_clusters(pairs)


def test_materialize_pending_caches_populates_lazy_persist(spark, caplog):
    # a Spark upgrade that breaks the JVM plan reflection makes the function
    # return 0 (logged, not raised); this pins that it still finds and
    # fills the cache, and that both outcomes reach the rdf2hk_spark logger
    caplog.set_level(logging.INFO, logger="rdf2hk_spark")
    cached = spark.range(37).selectExpr("id * 7919 AS x").persist()
    try:
        df = cached.filter("x % 2 = 0")
        assert materialize_pending_caches(df) == 1
        assert materialize_pending_caches(df) == 0
    finally:
        cached.unpersist()
    assert "populated 1 caches" in caplog.text
    assert not any(r.exc_info for r in caplog.records)
    # not a DataFrame: the reflection fails, is logged with its traceback,
    # and the function still reports 0
    assert materialize_pending_caches(object()) == 0
    failed = [r for r in caplog.records if r.exc_info]
    assert len(failed) == 1 and failed[0].levelno == logging.WARNING
