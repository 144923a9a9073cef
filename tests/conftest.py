from __future__ import annotations

import os

import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
# A bounded driver heap: the suite's live old generation is about 1.8 GB,
# and get_spark's 48g default lets the heap grow past a 16 GB host's
# memory instead of collecting.
os.environ.setdefault("SPARK_DRIVER_MEM", "6g")
# Executor python workers must be able to unpickle classes defined in
# test modules (e.g. sink doubles) — put tests/ on their path.
_here = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(_here)
os.environ["PYTHONPATH"] = _here + os.pathsep + os.environ.get("PYTHONPATH", "")

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from vanus_spark.session import get_spark

    s = get_spark("vanus_spark_tests")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def entry_mod():
    """The driver contract, loaded from this checkout's __spark_entry__.py."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "__spark_entry__", os.path.join(REPO, "__spark_entry__.py")
    )
    m = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(m)
    return m


@pytest.fixture(scope="session")
def events(spark, sf_dir):
    from vanus_spark.sources.tables import load_table

    return load_table(spark, sf_dir, "events")


@pytest.fixture(scope="session")
def cloudevents(events):
    from vanus_spark.model import events_to_cloudevents

    return events_to_cloudevents(events).cache()
