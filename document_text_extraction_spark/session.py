"""SparkSession factory tuned for this engine.

Local mode is the sandbox stand-in for a multi-executor cluster; every
setting here is also what we'd ship in ``spark-submit --conf`` form at
cluster scale (AQE on, Arrow on, shuffle partitions sized to cores).
"""

from __future__ import annotations

import os
import re

from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

# defaultJavaOptions, not extraJavaOptions: callers set their own
# extraJavaOptions, which would replace a value set here; the JVM gets
# both
_DEFAULT_JAVA_OPTIONS = "spark.driver.defaultJavaOptions"
_LOCAL_JIT_CAP = "-XX:TieredStopAtLevel=1"


def _local_driver_java_options(caller_value: str | None) -> str:
    """The local JIT cap followed by the caller's defaultJavaOptions,
    or else by spark-defaults.conf's: spark-submit lets a value set
    here replace the file's, so the file's value is read and kept.
    A later option wins, so a caller's own ``-XX:TieredStopAtLevel``
    overrides the cap."""
    if caller_value is None:
        caller_value = _spark_defaults().get(_DEFAULT_JAVA_OPTIONS)
    return " ".join(filter(None, [_LOCAL_JIT_CAP, caller_value]))


def _spark_defaults() -> dict[str, str]:
    """The properties in the spark-defaults.conf that spark-submit
    reads (``key value`` or ``key=value`` lines, ``#`` comments)."""
    conf_dir = (os.environ.get("SPARK_CONF_DIR")
                or os.path.join(_find_spark_home(), "conf"))
    try:
        with open(os.path.join(conf_dir, "spark-defaults.conf")) as f:
            lines = f.read().splitlines()
    except OSError:
        return {}
    props = {}
    for line in lines:
        m = re.match(r"\s*([^\s=:#!][^\s=:]*)\s*[=:\s]\s*(.*)", line)
        if m:
            props[m.group(1)] = m.group(2).strip()
    return props


def get_spark(
    app_name: str = "document_text_extraction_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        # local[N] → N; at cluster scale this is 2-3x total cores
        shuffle_partitions = int(master[6:-1]) if master.startswith("local[") \
            and master[6:-1].isdigit() else cpus
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # the extraction map is CPU-bound per byte (~0.25 core-s/MB);
        # the 64MB SQL default would coalesce it into minute-long tasks
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "4m")
        .config("spark.sql.session.timeZone", "UTC")
        # HotSpot never JIT-compiles methods above 8000 bytecode bytes
        # (-XX:DontCompileHugeMethods, default on), so a whole-stage-
        # codegen method between 8000 and Spark's 65535 default limit
        # runs in the BYTECODE INTERPRETER for the stage's lifetime.
        # The wide-aggregate plans here (32 min(xxhash64) columns in
        # the MinHash signature, the simhash bit majorities) generate
        # exactly such methods: measured on the minhash query at sf1.0,
        # first-run 153 s / steady-state 129 s with the default vs
        # 7.6 s / 3.6 s with the limit at the HotSpot threshold, which
        # makes Spark fall back to its interpreted-expression path
        # (many small, JIT-able methods) for those stages only. Not a
        # local-mode tweak: every fresh executor JVM on a cluster pays
        # the same penalty.
        .config("spark.sql.codegen.hugeMethodLimit", "8000")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    if master.startswith("local"):
        # In local mode the driver JVM is also the only executor, and
        # HotSpot's C2 compiler threads take cores from the Python
        # tasks. On 4 cores one run of the crawl benchmark (session
        # start to stop, 25k pages) spent 44 s of JIT compile time
        # (summed over compiler threads) and 61 JVM core-s; stopping
        # tiered compilation at C1 cut that to 7 s and 35 core-s and
        # the extraction job ran faster. Keeping one C2 thread
        # (-XX:CICompilerCount=2) still compiled for 28-33 s and gained
        # little. JVM-bound query suites lose some speed to C1 code
        # (dedup benchmark: about -10 %). A cluster's executors are
        # separate JVMs and keep C2.
        b = b.config(_DEFAULT_JAVA_OPTIONS, _local_driver_java_options(
            (extra_conf or {}).get(_DEFAULT_JAVA_OPTIONS)))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
