from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from gossiphs_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
SF_DIR_ORACLE = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    # one heap serves driver+executors in local mode and the full suite
    # runs ~2500 stages through it — give it headroom beyond the 8g default,
    # but at most half the host's RAM: the JVM grows its heap toward -Xmx
    # over a long suite, and a heap larger than the host leaves it to be
    # killed by the kernel's OOM killer partway through (a 15 GiB host)
    ram_gib = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**30
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", f"{min(16, max(4, ram_gib // 2))}g")
    s = get_spark(app_name="gossiphs_spark_tests", cores=8, shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="module", autouse=True)
def _clear_cache_after_module(spark):
    """Every pipeline build caches intermediates (mentions/fm/kept/…); a
    full-suite session accumulates them across ~10 modules until the
    shared driver heap chokes (observed as a late py4j failure ~2500
    stages in). Module-scoped fixtures stay cached while their module
    runs; everything unpersists at module end."""
    yield
    try:
        spark.catalog.clearCache()
    except Exception:
        pass
