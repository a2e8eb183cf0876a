"""Session settings: scan split sizing applies to local masters only."""

from __future__ import annotations

from types import SimpleNamespace

import pytest

from gchq_data_quality_spark.sources.session import (
    LOCAL_SPLIT_CONF,
    apply_local_split_sizing,
    engine_conf,
)


def _stub_session(master: str, preset: tuple[str, ...] = ()):
    applied: dict[str, str] = {}
    conf = SimpleNamespace(contains=lambda key: key in preset)
    session = SimpleNamespace(
        sparkContext=SimpleNamespace(master=master, getConf=lambda: conf),
        conf=SimpleNamespace(set=applied.__setitem__),
    )
    return session, applied


@pytest.mark.parametrize("master", ["local", "local[4]", "local[*]", "local[4,2]"])
def test_local_master_gets_small_splits(master):
    session, applied = _stub_session(master)
    apply_local_split_sizing(session)
    assert applied == LOCAL_SPLIT_CONF


@pytest.mark.parametrize(
    "master", ["yarn", "spark://host:7077", "k8s://https://host:443", "local-cluster[2,1,1024]"]
)
def test_cluster_master_keeps_spark_defaults(master):
    session, applied = _stub_session(master)
    apply_local_split_sizing(session)
    assert applied == {}
    # the jobs apply engine_conf() on every master: it must not carry them
    assert not set(LOCAL_SPLIT_CONF) & set(engine_conf())


def test_deploy_setting_wins_on_local_master():
    key = "spark.sql.files.maxPartitionBytes"
    session, applied = _stub_session("local[2]", preset=(key,))
    apply_local_split_sizing(session)
    assert key not in applied and len(applied) == len(LOCAL_SPLIT_CONF) - 1


def test_get_spark_session_has_local_splits(spark):
    for key, value in LOCAL_SPLIT_CONF.items():
        assert spark.conf.get(key) == value
