"""SparkSession factory with scale-oriented defaults.

The engine targets a large multi-executor cluster; locally we run
``local[$SPARK_GRAFT_CPUS]``. All tuning lives here so tests, bench and
the driver harness share one config surface:

- AQE on (runtime coalescing, skew-join splitting, dynamic join
  strategy switch) — at 100 TB the static plan is always wrong
  somewhere; AQE fixes partition counts and skew at runtime.
- shuffle.partitions sized for the local harness (32); on a real
  cluster AQE's coalescing makes a high initial value safe. AQE does
  not coalesce stateful-streaming shuffles, so stateful streams take
  their partition count from the task slots through
  ``streaming.stateful.stream_session``, not from the global 32.
- Arrow enabled for any pandas-UDF path (vectorized, batched transfer).
- Session timezone pinned to UTC: the testdata timestamps are naive
  (timestamp_ntz) and the DuckDB oracle is timezone-less, so every
  date/time derivation must be wall-clock-stable.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import tempfile
import warnings

from py4j.protocol import Py4JError
from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = "32"


def tune(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable engine confs to an existing session.

    Used both by :func:`get_spark` and on driver-provided sessions
    (the verify harness passes its own SparkSession).
    """
    conf = spark.conf
    conf.set("spark.sql.session.timeZone", "UTC")
    conf.set("spark.sql.adaptive.enabled", "true")
    conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    # Whole-stage codegen bails out above 100 fields by default; the
    # banded-simhash vote aggregate carries 8 bands × 30 bit counters
    # (241 columns) and falls back to the interpreted row path without
    # this — measured 80s → ~2s at sf0.1 on that stage alone. Codegen
    # splits wide update functions into sub-methods, so larger field
    # counts compile fine; 512 bounds it far above any plan we build.
    conf.set("spark.sql.codegen.maxFields", "512")
    # The events table is written with parquet TIMESTAMP(NANOS) which the
    # Spark vectorized reader cannot decode natively; read as long nanos
    # and convert (sources/bronze.py floors to micros, matching DuckDB).
    conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    _ship_package(spark)
    return spark


def _ship_package(spark: SparkSession) -> None:
    """Make the engine package importable in PYTHON WORKERS regardless
    of the driver process's cwd/PYTHONPATH. Pandas-UDF closures
    (extractive_summary, the ML pipeline, stateful streaming)
    reference this package by name; cloudpickle serializes them by
    reference, so a worker spawned by a driver that imported us via a
    sys.path hack from another cwd raises ModuleNotFoundError at the
    first UDF batch. addPyFile of a package zip fixes that for every
    session shape. Idempotent per JVM (addPyFile dedups by filename).
    A failure is non-fatal, because the common layouts (cwd=repo, or
    PYTHONPATH set) never needed the zip, but it is raised as a
    warning."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    try:
        spark.sparkContext.addPyFile(_package_zip(root))
    except (OSError, Py4JError) as e:
        warnings.warn(
            f"engine package not shipped to Python workers: {e!r}",
            RuntimeWarning,
            stacklevel=2,
        )


def _package_zip(root: str) -> str:
    """Path of a zip of ``root``'s engine package, rebuilt when any
    package source is newer than it. A zip cached by an EARLIER session
    otherwise ships stale UDF code to the Python workers: cloudpickle
    serializes pandas-UDF closures by reference, so the worker resolves
    module attributes against the zip's old copy and dies with
    AttributeError (or, worse, silently runs old logic) after any edit
    to a UDF-referenced module. The name carries a hash of ``root``, so
    two checkouts sharing a temp dir never ship each other's code: an
    mtime check alone would take a newer zip built from another
    checkout as current."""
    tag = hashlib.sha1(root.encode()).hexdigest()[:12]
    base = os.path.join(tempfile.gettempdir(), f"multi_crm_cross_sell_spark_pkg_{tag}")
    src_mtime = 0.0
    pkg_dir = os.path.join(root, "multi_crm_cross_sell_spark")
    for dirpath, _dirnames, filenames in os.walk(pkg_dir):
        for fn in filenames:
            if fn.endswith(".py"):
                src_mtime = max(src_mtime, os.path.getmtime(os.path.join(dirpath, fn)))
    if not os.path.exists(base + ".zip") or os.path.getmtime(base + ".zip") <= src_mtime:
        shutil.make_archive(
            base, "zip", root_dir=root, base_dir="multi_crm_cross_sell_spark"
        )
    return base + ".zip"


def get_spark(
    app_name: str = "multi-crm-cross-sell-spark",
    master: str | None = None,
    shuffle_partitions: str | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config(
            "spark.sql.shuffle.partitions",
            shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS,
        )
        # local mode = one JVM for driver+executors: with 32 concurrent
        # tasks, an 8g heap GC-thrashes once a few queries' broadcast
        # and shuffle state accumulates. Size for the harness box.
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "48g"))
        # Shuffle/spill files on tmpfs: local-mode shuffles are small
        # (MBs) but the backing block device occasionally stalls for
        # seconds; RAM-backed local dirs remove that variance. On a
        # real cluster this maps to fast local NVMe for shuffle.
        .config(
            "spark.local.dir",
            os.environ.get("SPARK_LOCAL_DIRS", "/dev/shm/spark-local"),
        )
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # STATIC conf (builder-only): the generated-class cache holds
        # 100 entries; a session that runs the full query catalog
        # executes well over 100 codegen stages, so the LARGEST class
        # (the banded-simhash vote aggregate, Janino compile measured
        # in seconds) gets evicted between repeat runs and recompiled
        # EVERY run — measured as ngram_jaccard_dedup at ~12s inside
        # the 22-query bench vs ~4s isolated, with min-of-5 unable to
        # recover. 1000 entries keeps the whole catalog warm; the
        # cache stores compiled classes, so the cost is tens of MB.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        # The other half of the same failure mode, one layer down: the
        # JVM's JIT code cache (ReservedCodeCacheSize, default 240 MB)
        # holds the C2-COMPILED native code for those generated
        # classes. A catalog-wide session compiles hundreds of codegen
        # stages; once the code cache fills, HotSpot stops (or, with
        # flushing, keeps evicting) compilation — and the largest
        # class (the banded-simhash vote aggregate) runs INTERPRETED,
        # measured ~10s in-bench vs ~1.3s once C2-compiled in a
        # dedicated session, with min-of-n unable to recover. 1 GB
        # keeps every stage's native code resident.
        # CAVEAT (like every builder-only conf here): driver JVM
        # options only apply when THIS call launches the JVM; under
        # getOrCreate against an existing SparkContext, or in
        # spark-submit client mode (where the JVM pre-exists), they
        # are silently ignored — deployments there pass
        # --driver-java-options themselves. Any options the caller
        # already set via SPARK_GRAFT_DRIVER_JAVA_OPTIONS or the
        # spark.driver.extraJavaOptions env-conf are MERGED in front
        # rather than clobbered.
        .config(
            "spark.driver.extraJavaOptions",
            (
                os.environ.get("SPARK_GRAFT_DRIVER_JAVA_OPTIONS", "")
                + " -XX:ReservedCodeCacheSize=1g -XX:+UseCodeCacheFlushing"
            ).strip(),
        )
        .config("spark.ui.enabled", "false")
    )
    return tune(builder.getOrCreate())
