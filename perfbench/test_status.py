"""Pins what the status-store reader sees for a known groupBy.

Run from the root of a checkout:

    python3 -m pytest perfbench/test_status.py -q -p no:cacheprovider
"""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))
sys.path.insert(0, str(Path(__file__).resolve().parent))

from spans import Tracer, layer_metrics  # noqa: E402
from status import StatusStore, totals  # noqa: E402


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from relationaldecomposition_spark.session import get_spark

    with pytest.MonkeyPatch.context() as mp:
        mp.setenv("SPARK_GRAFT_CPUS", "2")
        mp.setenv("SPARK_DRIVER_MEM", "1g")
        mp.setenv("SPARK_LOCAL_DIRS", str(tmp_path_factory.mktemp("spark")))
        session = get_spark("perfbench-test")
        yield session
        session.stop()


def _group_count(spark):
    from pyspark.sql import functions as F

    return (spark.range(0, 1000, 1, 4)
            .groupBy((F.col("id") % 10).alias("k")).count().collect())


def test_groupby_counts(spark):
    store = StatusStore(spark)
    store.window()
    rows = _group_count(spark)
    assert len(rows) == 10
    jobs = store.window()
    t = totals(jobs)
    # AQE runs the map stage as its own job (4 tasks, one per range
    # partition), then the result job: its copy of the map stage is
    # skipped and its reduce stage coalesces the two shuffle partitions
    # of ten tiny groups into one task
    assert t.jobs == 2
    assert t.stages == 2
    assert t.tasks == 5
    assert t.shuffle_bytes > 0
    assert t.task_s > 0
    # a new window starts empty and does not see the old jobs again
    assert store.window() == []


def test_jobs_attributed_by_group(spark):
    store = StatusStore(spark)
    store.window()
    tracer = Tracer(spark, "t")
    with tracer.span("outer"):
        _group_count(spark)
        with tracer.span("inner"):
            _group_count(spark)
    _group_count(spark)  # outside any span
    layers, unattributed = layer_metrics(tracer.spans, store.window(), 2)
    assert unattributed == 2
    assert layers["inner"]["jobs"] == 2
    assert layers["outer"]["jobs"] == 4  # inclusive of the child span
    assert layers["outer"]["tasks"] == 10
    assert 0 < layers["outer"]["self_s"] < layers["outer"]["wall_s"]
