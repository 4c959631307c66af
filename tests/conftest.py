"""Shared Spark session + fixtures (session startup is ~50 s in this
container, so one session serves the whole test run)."""

from __future__ import annotations

import os
import shutil
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from pydala2_spark.session import get_spark

    s = get_spark(app_name="pydala2_spark_tests", cpus=8)
    yield s


@pytest.fixture()
def tmp_ds_path(tmp_path):
    p = str(tmp_path / "ds")
    yield p
    shutil.rmtree(p, ignore_errors=True)


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


def make_simple_pdf(n_rows: int = 10, seed: int = 0):
    """The reference's canonical unit-test table (FIXTURES.md §1)."""
    import pandas as pd

    ids = list(range(seed, seed + n_rows))
    return pd.DataFrame(
        {
            "id": ids,
            "name": [f"row_{i}" for i in ids],
            "value": [i * 1.5 for i in ids],
            "timestamp": pd.to_datetime([f"2024-01-{(i % 28) + 1:02d}" for i in ids]),
        }
    )


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "flaky_under_load: timing-sensitive under machine saturation; "
        "the test retries once when loadavg exceeds the core count, so "
        "a co-tenant-load red is machine-adjudicated (retry) rather "
        "than prose-adjudicated (NOTES)",
    )


def _group_jobs(spark, fn):
    """``fn()``'s result and the ids of the Spark jobs it issued,
    counted through a job group of its own and ``statusTracker()``
    (which works with the UI disabled)."""
    import contextlib
    import uuid

    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job-count probe")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # job-start events reach the tracker through the async listener bus
    with contextlib.suppress(Exception):
        sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    return out, sorted(sc.statusTracker().getJobIdsForGroup(group))


def spark_jobs(spark, fn):
    """``fn()``'s result and the number of Spark jobs it issued."""
    out, ids = _group_jobs(spark, fn)
    return out, len(ids)


def spark_job_labels(spark, fn):
    """``fn()``'s result and the description of each Spark job it
    issued, in job order, read from the status store (jobs outside any
    labelled block carry the probe's own "job-count probe")."""
    out, ids = _group_jobs(spark, fn)
    store = spark.sparkContext._jsc.sc().statusStore()
    labels = []
    for jid in ids:
        d = store.job(jid).description()
        labels.append(d.get() if d.isDefined() else None)
    return out, labels


@pytest.fixture(params=["driver", "distributed"])
def vector_loop(request, monkeypatch):
    """Runs a test once per path of the vector loops
    (``similarity.kmeans_lloyd`` and ``kcenter_coreset``): ``driver``
    asserts at teardown that the vectors were fetched;
    ``distributed`` sets the budget to 0 and makes the fetch raise —
    the scale contract: over budget nothing reaches the driver."""
    from pydala2_spark.operators import similarity as S

    fetched = []
    if request.param == "driver":
        real = S._fetch_local
        monkeypatch.setattr(
            S, "_fetch_local", lambda df, label: fetched.append(label) or real(df, label)
        )
    else:

        def refuse(df, label):
            raise AssertionError(f"fetched over budget: {label}")

        monkeypatch.setattr(S, "DRIVER_VECTOR_BUDGET", 0)
        monkeypatch.setattr(S, "_fetch_local", refuse)
    yield request.param
    assert bool(fetched) == (request.param == "driver"), fetched
