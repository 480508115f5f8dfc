"""Session-level execution helpers (functions/partitioning.py): the one
shuffle-width cap and the one per-session memo every operator family
routes through.
"""

from __future__ import annotations

import pytest

from jsonld_ex_spark.functions.partitioning import capped_shuffle, session_memo
from jsonld_ex_spark.operators import bgp
from tests.spark_fixtures import spark  # noqa: F401

pytestmark = pytest.mark.spark

_CONF = "spark.sql.shuffle.partitions"


@pytest.mark.parametrize("prev", ["1", "3", "200"])
def test_capped_shuffle_sets_min_of_prev_and_core_floor(spark, prev):  # noqa: F811
    old = spark.conf.get(_CONF)
    spark.conf.set(_CONF, prev)
    try:
        dp = spark.sparkContext.defaultParallelism
        with capped_shuffle(spark):
            assert int(spark.conf.get(_CONF)) == min(int(prev), max(dp, 2))
        assert spark.conf.get(_CONF) == prev
    finally:
        spark.conf.set(_CONF, old)


def test_capped_shuffle_restores_when_body_raises(spark):  # noqa: F811
    old = spark.conf.get(_CONF)
    spark.conf.set(_CONF, "200")
    try:
        with pytest.raises(RuntimeError, match="boom"):
            with capped_shuffle(spark):
                assert spark.conf.get(_CONF) != "200"
                raise RuntimeError("boom")
        assert spark.conf.get(_CONF) == "200"
    finally:
        spark.conf.set(_CONF, old)


def test_session_memo_builds_once_per_key(spark):  # noqa: F811
    store: dict = {}
    calls: list[str] = []

    def build(k):
        def run():
            calls.append(k)
            return f"value-{k}"

        return run

    for _ in range(3):
        assert session_memo(store, spark, "a", build("a")) == "value-a"
        assert session_memo(store, spark, "b", build("b")) == "value-b"
    assert calls == ["a", "b"]
    app = spark.sparkContext.applicationId
    assert set(store) == {(app, "a"), (app, "b")}


def test_session_memo_evicts_other_applications(spark):  # noqa: F811
    store: dict = {("app-from-a-stopped-session", "k"): "dead checkpoint"}
    app = spark.sparkContext.applicationId
    assert session_memo(store, spark, "k", lambda: "fresh") == "fresh"
    assert store == {(app, "k"): "fresh"}


def test_predicate_stats_memo_stays_bounded(spark, monkeypatch):  # noqa: F811
    monkeypatch.setattr(bgp, "_PRED_STATS_MEMO", {})
    schema = "subj string, pred string, obj string, obj_is_iri boolean"
    tables = [
        spark.createDataFrame([(f"s{i}", "p", "o", True)], schema) for i in range(40)
    ]
    stats = [bgp.predicate_stats(t) for t in tables]
    assert len(bgp._PRED_STATS_MEMO) <= 32
    assert all(s == {"total": 1, "preds": {"p": (1, 1, 1)}} for s in stats)
    # the newest table is still memoized, the oldest was evicted
    assert bgp.predicate_stats(tables[-1]) is stats[-1]
    app = spark.sparkContext.applicationId
    assert (app, tables[0].semanticHash()) not in bgp._PRED_STATS_MEMO
