"""Resource-scope tests: every query and build releases what it acquired
(caches, stage dirs, threads) on success and on failure, and a fixture's
partition clamp stays on its own cloned session."""

from __future__ import annotations

import glob
import os
import re
import tempfile
import threading
from types import SimpleNamespace

import pytest
from pyspark.sql import functions as F

from gossiphs_spark.config import PipelineConfig
from gossiphs_spark.datagen import pages_df
from gossiphs_spark.plans import pipeline
from gossiphs_spark.plans import queries as Q
from gossiphs_spark.session import Scope, scope


def _persistent_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def _stage_dirs() -> set:
    return set(glob.glob(os.path.join(tempfile.gettempdir(), "gossiphs_stage_*")))


def _planned_partitions(df) -> int:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return int(re.search(r"hashpartitioning\([^)]*, (\d+)\)", plan).group(1))


@pytest.mark.parametrize("layer", ["filter_pointless_full", "_candidates"])
def test_build_graph_failure_releases_everything(spark, monkeypatch, layer):
    """A build that raises midway — before the fm stage write, or after it —
    leaves no cache, no thread and no stage dir behind."""
    pages, evidence, _ = pages_df(spark, n_pages=40, seed=3)
    rdds, threads, dirs = _persistent_rdds(spark), threading.active_count(), _stage_dirs()

    def boom(*_a, **_k):
        raise RuntimeError("injected")

    monkeypatch.setattr(pipeline, layer, boom)
    with pytest.raises(RuntimeError, match="injected"):
        pipeline.build_graph(spark, pages, evidence, PipelineConfig())
    assert _persistent_rdds(spark) == rdds
    assert threading.active_count() == threads
    assert _stage_dirs() == dirs


def test_query_failure_leaves_no_cache(spark, sf_dir, monkeypatch):
    """A composed query that raises inside its scope releases the mention
    caches it registered before the error propagates."""
    spark.catalog.clearCache()

    def boom(*_a, **_k):
        raise RuntimeError("injected")

    monkeypatch.setattr(Q.tm, "edges", boom)
    with pytest.raises(RuntimeError, match="injected"):
        Q.a8_edges(spark, sf_dir)
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_scope_clamp_invisible_to_other_threads(spark):
    """While one thread holds scope(spark, rows=120), another thread sees
    the session's shuffle partitions unchanged, in its conf and in the
    plan of its own groupBy."""
    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)

    def grouped(session):
        return session.range(1000).groupBy((F.col("id") % 7).alias("k")).count()

    held, release = threading.Event(), threading.Event()
    seen = {}

    def hold():
        with scope(spark, rows=120) as s:
            seen["clamped"] = _planned_partitions(grouped(s.spark))
            held.set()
            release.wait(120)

    def observe():
        seen["conf"] = spark.conf.get(key)
        seen["planned"] = _planned_partitions(grouped(spark))

    a = threading.Thread(target=hold)
    a.start()
    try:
        assert held.wait(120)
        b = threading.Thread(target=observe)
        b.start()
        b.join(120)
        assert not b.is_alive()
    finally:
        release.set()
        a.join(120)
    assert not a.is_alive()
    assert seen["clamped"] == 2
    assert seen["conf"] == before
    assert seen["planned"] == int(before)


def test_queries_leave_no_persistent_rdds(spark, sf_dir):
    """Composed query results are collected on the driver, and their
    caches and builds are released: no persistent RDD outlives a query,
    even while the caller still holds the results (a checkpointed result
    would pin its RDD until the JVM garbage-collects it)."""
    start = _persistent_rdds(spark)
    results = [Q.a8_edges(spark, sf_dir), Q._kg_build_scored_impl(spark, 40, 4)]
    assert all(r.count() > 0 for r in results)
    assert _persistent_rdds(spark) == start


def test_stage_uri_requires_shared_scratch_off_local():
    """On a non-local master, the fm stage needs a shared scratch URI; a
    driver-local tempdir would be read back truncated."""
    conf = SimpleNamespace(get=lambda _key, _default=None: "yarn")
    s = Scope(SimpleNamespace(conf=conf))
    with pytest.raises(ValueError, match="stage_scratch_uri"):
        pipeline._stage_uri(s, PipelineConfig())
    uri = pipeline._stage_uri(s, PipelineConfig(stage_scratch_uri="s3://b/tmp/"))
    assert uri.startswith("s3://b/tmp/fm_")
