"""SparkSession factory tuned for the engine.

Local-mode testing runs on ``local[$SPARK_GRAFT_CPUS]``; the same
config block is what we would ship to a real cluster (AQE on, UTC
session timezone, Arrow enabled) — only master/memory are local-mode
specific.

Scale notes (100 TB target):
- AQE handles runtime partition coalescing and skew-join splitting,
  so static ``spark.sql.shuffle.partitions`` only needs to be an
  upper bound; on a cluster it would be ~2-3x total cores.
- ``spark.sql.session.timeZone=UTC`` pins timestamp semantics so
  results are stable across driver environments (and match the
  DuckDB oracle, which is UTC-naive).
- Arrow is enabled for the pandas-UDF path (the per-series fitting
  stage); everything else stays JVM-side.

Python worker daemon: on ``local``, ``local[...]`` and
``local-cluster[...]`` masters the session runs its Python workers under
:mod:`trendengine_spark._daemon` instead of ``pyspark.daemon``. pyspark
calls ``importlib.invalidate_caches()`` at the start of every task, and
on CPython 3.11 that eagerly re-reads the central directory of every
cached zip importer (``pyspark.zip``, the shipped package zip) — the
fixed cost of every ``fit_series``/``map_rows``/``mapInArrow`` task.
The engine daemon skips that re-read while an archive's (mtime, size)
is unchanged; ``.py`` files that ``addPyFile`` drops into the Spark
files directory are still seen. (CPython 3.13 made the re-read lazy.)
The daemon starts before any ``addPyFile`` lands, so it can only run
where this checkout is on the worker's path: the session exports the
package's parent directory through ``spark.executorEnv.PYTHONPATH``.
Other masters keep pyspark's own daemon. Turn it off with
``extra_conf={"spark.python.daemon.module": "pyspark.daemon"}``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "trendengine_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    Defaults read ``SPARK_GRAFT_CPUS`` (driver contract) for local
    parallelism; on a real cluster, pass ``master=None`` and submit
    via spark-submit with cluster conf instead.

    Local masters run Python workers under the engine daemon, which
    skips CPython 3.11's per-task zip re-reads (module docstring;
    :func:`python_worker_conf`). ``extra_conf`` wins over every key
    set here, so ``{"spark.python.daemon.module": "pyspark.daemon"}``
    turns the daemon off; a ``spark.executorEnv.PYTHONPATH`` in it is
    kept, ahead of the package's parent directory.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.filterPushdown", "true")
    )
    for k, v in python_worker_conf(master, extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    ship_package(spark)
    return spark


def python_worker_conf(master: str, extra_conf: dict[str, str]) -> dict[str, str]:
    """``extra_conf`` plus, on a local or local-cluster master, the
    engine daemon and the ``spark.executorEnv.PYTHONPATH`` entry it
    needs to import this package whatever the driver's cwd. A caller's
    daemon module wins; a caller's PYTHONPATH is kept, ahead of the
    package's parent directory. Other masters get ``extra_conf`` as
    is."""
    if master != "local" and not master.startswith(("local[", "local-cluster[")):
        return dict(extra_conf)
    key = "spark.executorEnv.PYTHONPATH"
    pkg_parent = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    paths = [p for p in (extra_conf.get(key), pkg_parent) if p]
    return {
        "spark.python.daemon.module": "trendengine_spark._daemon",
        **extra_conf,
        key: os.pathsep.join(paths),
    }


def ship_package(spark: SparkSession) -> None:
    """Ship the ``trendengine_spark`` package to the executors
    (r14, VERDICT r13 #6 — found by the first real-exchange run).

    Every Arrow-UDF closure in the operators is a module-level
    function, so cloudpickle serializes it BY REFERENCE and the
    executor-side Python worker must ``import trendengine_spark``.
    ``local[*]`` hides a missing package: its workers fork with the
    driver's ``sys.path``. Separate executor JVMs
    (``local-cluster``, a real cluster) spawn workers WITHOUT the
    repo checkout on their path — 7 of 28 validation queries died in
    ``read_udfs`` with ModuleNotFoundError. The standard mechanism is
    ``sc.addPyFile`` of a package zip: Spark distributes the file to
    every executor and prepends it to the worker PYTHONPATH, which
    also holds on a real multi-host cluster where an env-var
    PYTHONPATH would not. The zip is rebuilt per session start
    (sub-second for ~1 MB of sources) so executors always see the
    session's code; idempotent per SparkContext."""
    sc = spark.sparkContext
    if getattr(sc, "_te_pkg_shipped", False):
        return
    import tempfile
    import zipfile

    pkg_root = os.path.dirname(os.path.abspath(__file__))
    zip_path = os.path.join(
        tempfile.gettempdir(), f"te_spark_pkg_{os.getpid()}.zip"
    )
    with zipfile.ZipFile(zip_path, "w", zipfile.ZIP_DEFLATED) as zf:
        for root, _dirs, files in os.walk(pkg_root):
            for f in files:
                if not f.endswith(".py"):
                    continue
                full = os.path.join(root, f)
                rel = os.path.join(
                    "trendengine_spark", os.path.relpath(full, pkg_root)
                )
                zf.write(full, rel)
    sc.addPyFile(zip_path)
    sc._te_pkg_shipped = True
