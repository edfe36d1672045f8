from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from cassandra_pv_archiver_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    s = get_spark("tests")
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture
def count_jobs(spark):
    """``count_jobs(fn, *args)`` runs ``fn`` under a fresh job group and
    returns ``(result, number of Spark jobs it launched)``."""
    import uuid

    sc = spark.sparkContext

    def run(fn, *args, **kwargs):
        group = f"count-jobs-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            out = fn(*args, **kwargs)
        finally:
            sc._jsc.clearJobGroup()
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return run


@pytest.fixture(params=["before_publish", "before_rename", "after_commit"])
def crash_commit(request, monkeypatch):
    """Parametrizes a test over three crash points of one publish:
    before any staged file moves, after the files moved but before the
    manifest rename, and after the commit landed. ``crash_commit(suffix)``
    makes the next publish on the ``ManifestTable`` whose root ends with
    ``suffix`` raise ``IOError("simulated crash ...")`` once, at the
    point ``crash_commit.point``."""
    from cassandra_pv_archiver_spark.sources.manifest import ManifestTable

    point = request.param
    publish, commit = ManifestTable.publish_stage, ManifestTable.commit

    def arm(root_suffix: str) -> None:
        fired = []

        def due(table) -> bool:
            if fired or not table.root.endswith(root_suffix):
                return False
            fired.append(point)
            return True

        def crash():
            raise IOError(f"simulated crash {point}")

        if point == "before_publish":
            def patched(self, stage, *a, **k):
                if due(self):
                    crash()
                return publish(self, stage, *a, **k)

            monkeypatch.setattr(ManifestTable, "publish_stage", patched)
        elif point == "before_rename":
            def patched(self, *a, **k):
                if due(self):
                    crash()
                return commit(self, *a, **k)

            monkeypatch.setattr(ManifestTable, "commit", patched)
        else:
            def patched(self, stage, *a, **k):
                out = publish(self, stage, *a, **k)
                if due(self):
                    crash()
                return out

            monkeypatch.setattr(ManifestTable, "publish_stage", patched)

    arm.point = point
    return arm
