"""Session factory: the AQE default and the log line of its implicit flip."""

from __future__ import annotations

import logging
import types

import pytest

from cassandra_pv_archiver_spark import session


class _Builder:
    """Records the builder's confs instead of touching the live session."""

    def __init__(self):
        self.conf = {}

    def master(self, _):
        return self

    def appName(self, _):  # noqa: N802 (pyspark API name)
        return self

    def config(self, k, v):
        self.conf[k] = v
        return self

    def getOrCreate(self):  # noqa: N802 (pyspark API name)
        return self.conf


@pytest.mark.parametrize(
    "parts, aqe, want_aqe, logged",
    [
        ("64", None, "true", True),  # the implicit flip
        ("64", "0", "false", False),  # explicitly kept off
        ("64", "1", "true", False),  # explicitly on: nothing implied
        (None, None, "false", False),  # env-less local default
    ],
)
def test_implicit_aqe_flip_is_logged_once(
    monkeypatch, caplog, parts, aqe, want_aqe, logged
):
    for name, value in (
        ("SPARK_GRAFT_SHUFFLE_PARTITIONS", parts), ("SPARK_GRAFT_AQE", aqe)
    ):
        if value is None:
            monkeypatch.delenv(name, raising=False)
        else:
            monkeypatch.setenv(name, value)
    monkeypatch.setattr(
        session, "SparkSession", types.SimpleNamespace(builder=_Builder())
    )
    with caplog.at_level(logging.INFO, logger=session.__name__):
        conf = session.get_spark()
    assert conf["spark.sql.adaptive.enabled"] == want_aqe
    flips = [r for r in caplog.records if "turns AQE on" in r.getMessage()]
    assert len(flips) == (1 if logged else 0)
    if logged:
        assert "SPARK_GRAFT_AQE=0" in flips[0].getMessage()
