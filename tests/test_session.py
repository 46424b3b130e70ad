"""Session helpers: the scoped session-global conf."""

from __future__ import annotations

import threading

import pytest


def test_scoped_conf_serializes_scopes_and_restores_on_error(spark):
    """A scope opened from a second thread waits until the open one
    closes, and every conf is restored (or unset again) after an
    exception inside a scope."""
    from data_framework_spark.session import scoped_conf

    key = "spark.sql.shuffle.partitions"
    unset = "spark.graft.test.scoped_conf"
    before = spark.conf.get(key)
    entered = threading.Event()

    def second_scope():
        with scoped_conf(spark, {key: "3"}):
            entered.set()

    with scoped_conf(spark, {key: "7", unset: "x"}):
        t = threading.Thread(target=second_scope)
        t.start()
        assert not entered.wait(1.0)
        assert spark.conf.get(key) == "7"
        assert spark.conf.get(unset) == "x"
    t.join(30)
    assert not t.is_alive() and entered.is_set()
    assert spark.conf.get(key) == before

    with pytest.raises(RuntimeError):
        with scoped_conf(spark, {key: "5", unset: "y"}):
            raise RuntimeError("inside the scope")
    assert spark.conf.get(key) == before
    assert spark.conf.get(unset, None) is None
