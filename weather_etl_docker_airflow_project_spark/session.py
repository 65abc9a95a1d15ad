"""SparkSession factory.

The reference converts epoch seconds to UTC wall-clock strings
(``airflow/dags/weather_etl.py:119,129-130``); to reproduce that with
``F.timestamp_seconds`` + ``F.date_format`` the session timezone MUST be
UTC (SURVEY.md §2.8 F1/F3).

Scale posture: AQE on (runtime re-plan, skew-join splitting, partition
coalescing), shuffle partitions sized for the local harness but meant to be
overridden (``spark.sql.shuffle.partitions`` ~ 2-3x total cores on a real
cluster). Arrow enabled for any Pandas-UDF path.

Python workers: PySpark's worker calls ``importlib.invalidate_caches()``
before every task (``pyspark/worker_util.py:setup_spark_files``). Under
Python 3.11 and 3.12 every ``zipimporter`` answers that by re-reading its
whole archive directory, and a worker's path always holds ``pyspark.zip``,
the py4j zip and the ``spark-core`` jar: 16 importers, 150-230 ms before
each task runs its function. ``build_session`` sets two things so the
engine's sessions skip the re-read of unchanged archives:

- ``spark.python.daemon.module`` = ``worker_daemon``, which re-reads an
  archive only when its mtime or size changed, then runs PySpark's daemon;
- ``spark.executorEnv.PYTHONPATH`` = the directory holding this package, so
  workers can import that module whatever the driver's cwd and PYTHONPATH.
  On a cluster the package must sit at that path or be installed on the
  executors.

Call-site capture: ``build_session`` sets
``spark.python.sql.dataFrameDebugging.enabled=false``, PySpark's own switch
for this cost. At its default (true) every ``F.*`` and Column call runs
through ``_with_origin``, which walks the Python stack, retries
``import IPython, ipykernel`` (a ``sys.path`` re-scan whenever one is not
installed), and makes a ``conf.get`` plus an origin set and clear on the
JVM. Building ``minhash_signatures(shingles(...))`` over a 10-row frame
took 1375 py4j round trips and ~120 ms with it, 465 round trips and
~80 ms without (4 cores, Spark 4.1.2). What error messages lose: the
"DataFrame" query context naming the Python line that built the failing
expression; the error class, message and JVM stack are unchanged.
PySpark reads the setting once per process, from the first active
session it sees.

Python worker memory: neither ``spark.executor.pyspark.memory`` nor
``spark.executor.memoryOverhead`` is set. In local mode the workers are
processes outside the driver heap, so neither applies. On a cluster the
workers' memory counts against the executor's overhead; size it for
cores-per-executor times the largest data file as decoded Arrow, because
the position-vector scan and the Python DataSources read one whole file
per task (``versioned.read_projected``).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = os.environ.get("SPARK_GRAFT_SHUFFLE", "32")
DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")
# The directory holding this package: the Python workers import the daemon
# module from it whatever the driver's cwd or PYTHONPATH.
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _default_driver_mem() -> str:
    """Library-default driver heap: 8g, never more than half of detected
    system memory (floor 2g). Small-SF tests and sf0.01 runs fit in 8g;
    hosts below ~16 GB get a heap the OS can actually grant instead of
    an OOM-kill under load. Decade-scale harnesses opt into more via
    SPARK_GRAFT_DRIVER_MEM — a bench-host sizing, not a library one."""
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    total_gb = int(line.split()[1]) // (1024 * 1024)
                    return f"{max(2, min(8, total_gb // 2))}g"
    except OSError:
        pass
    return "8g"


def build_session(
    app_name: str = "weather-etl-spark-engine",
    master: str | None = None,
    shuffle_partitions: str | int = DEFAULT_SHUFFLE_PARTITIONS,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or get) a SparkSession configured for this engine.

    Every knob here is plain public Spark configuration; on a real cluster
    only ``master`` and the partition counts change.
    """
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{DEFAULT_CPUS}]")
        # UTC fidelity for the reference's timestamp semantics.
        .config("spark.sql.session.timeZone", "UTC")
        # Runtime adaptivity: coalesce small shuffle partitions, split skew.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Arrow for pandas_udf / applyInPandas / mapInPandas paths.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Generated-class cache (static conf, default 100 entries): an
        # application that plans many DISTINCT queries (this engine's
        # registry is ~280) evicts constantly at the default, so every
        # re-run re-pays Janino compilation — measured 2-6s per
        # expression-heavy query (16-aggregate minhash, quantized-vector
        # dots) once the cache thrashes. Generated classes are KBs;
        # 5000 entries bounds the cache at tens of MB of driver
        # metaspace at any cluster scale.
        .config("spark.sql.codegen.cache.maxEntries", "5000")
        # Keep broadcast joins available for dimension tables.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Join strategy (guide §3.1): AQE converts a planned sort-merge
        # join to shuffled-hash at runtime when every MEASURED
        # post-shuffle partition fits locally — the runtime gate is what
        # makes the conversion scale-safe. The r15 STATIC half
        # (preferSortMergeJoin=false) is REVERTED this round (r15
        # verdict item 1 / ADVICE): sf1 A/B plans show ZERO
        # ShuffledHashJoin or SortMergeJoin with the flag either way on
        # the queries it claimed to speed up (q9/a19/q8/q17/j13 are
        # all-broadcast; OPTIMIZATION_r16.md), so the flag bought
        # nothing measurable while letting the planner pick a
        # non-spillable hash build off the same static size estimates
        # the repo documents as broken on corpus-derived frames (the r9
        # broadcast-OOM lesson). Spark's default preferSortMergeJoin=
        # true therefore stands; the AQE threshold below carries the
        # measured-size conversion.
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
            str(64 * 1024 * 1024),
        )
        # local[32] is driver == all 32 executor threads in ONE JVM: heap
        # must cover 32 concurrent task sort/hash buffers plus pinned
        # localCheckpoint blocks. The LIBRARY default stays 8g — enough
        # for every test/sf0.01 path and safe on small hosts (a 32g
        # default would get the JVM OOM-killed on a <32 GB container).
        # The headline harness (bench.py) exports
        # SPARK_GRAFT_DRIVER_MEM=32g itself: 8g tipped over at the
        # 30x decade (accumulated checkpoints + one 36M-edge
        # orientation), but that is a bench-host sizing, not a library
        # policy. On a real cluster this is per-executor ordinary.
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", _default_driver_mem()),
        )
        .config("spark.ui.enabled", "false")
        # Python workers fork from the library's daemon, which stops the
        # per-task re-read of unchanged zip archives (module docstring).
        .config("spark.python.daemon.module", f"{__package__}.worker_daemon")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_ROOT)
        # No Python call-site capture per Column call (module docstring).
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
