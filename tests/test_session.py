"""Session factory: host-sized defaults and the ``SPARK_GRAFT_EXTRA_CONF``
hook's validation. Nothing here starts a session."""

from __future__ import annotations

import os
import re

import pytest

from oroboro_dw_dbt_spark.session import extra_conf_pairs, get_spark, host_cpus


def test_extra_conf_pairs_parse():
    raw = " spark.a = 1 ;;spark.b=x=y; "
    assert extra_conf_pairs(raw) == [("spark.a", "1"), ("spark.b", "x=y")]
    assert extra_conf_pairs("") == []


@pytest.mark.parametrize("bad", ["spark.sql.shuffle.partitions", "=4", " = 4"])
def test_malformed_extra_conf_fails_at_session_start(monkeypatch, bad):
    monkeypatch.setenv("SPARK_GRAFT_EXTRA_CONF", f"spark.a=1;{bad}")
    with pytest.raises(ValueError, match=re.escape(repr(bad))):
        get_spark("malformed_conf")


def test_cpus_default_to_host(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert host_cpus() == os.cpu_count()
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert host_cpus() == 3
