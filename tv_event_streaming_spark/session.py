"""SparkSession factory.

Defaults are tuned for correctness-vs-oracle and for scale-out behavior:

- AQE on (runtime shuffle-partition coalescing, skew-join splitting,
  broadcast demotion/promotion) — on a 1000-executor cluster this is the
  knob that keeps one static ``spark.sql.shuffle.partitions`` choice from
  being wrong at every stage.
- UTC session timezone so timestamp semantics match the DuckDB oracle
  (DuckDB timestamps are UTC-naive).
- Arrow enabled for every pandas_udf / applyInPandas boundary.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def _java_major_version() -> int | None:
    """Best-effort JVM major version from ``$JAVA_HOME/release`` (the
    file every JDK image ships; no subprocess). None when undetectable."""
    java_home = os.environ.get("JAVA_HOME")
    if not java_home:
        return None
    try:
        with open(os.path.join(java_home, "release"), encoding="utf-8") as f:
            for line in f:
                if line.startswith("JAVA_VERSION="):
                    ver = line.split("=", 1)[1].strip().strip('"')
                    major = ver.split(".", 1)[0]
                    # pre-9 scheme: "1.8.0_392" → major is the 2nd field
                    if major == "1":
                        major = ver.split(".")[1]
                    return int(major)
    except (OSError, ValueError, IndexError):
        return None
    return None


def _driver_java_options() -> str:
    """Driver JVM flags, gated on the detected Java version
    (overridable wholesale via ``SPARK_GRAFT_DRIVER_JAVA_OPTS``).

    GCLockerRetryAllocationCount is a JDK-17-era diagnostic flag; the
    GCLocker itself was removed in JDK 24 (JEP-defunct), where an
    unrecognized -XX option makes the JVM refuse to start — so the flag
    is appended only when the detected major version still has it, and
    ``-XX:+IgnoreUnrecognizedVMOptions`` rides along defensively for
    point releases that drop individual flags early."""
    override = os.environ.get("SPARK_GRAFT_DRIVER_JAVA_OPTS")
    if override is not None:
        return override
    opts = (
        "-XX:+IgnoreUnrecognizedVMOptions "
        "-XX:ReservedCodeCacheSize=1g -XX:+UseCodeCacheFlushing"
    )
    major = _java_major_version()
    if major is None or major < 24:
        opts += (
            " -XX:+UnlockDiagnosticVMOptions"
            " -XX:GCLockerRetryAllocationCount=64"
        )
    return opts


def get_spark(
    app_name: str = "tv-event-streaming-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session with the engine's standard config.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` locally; on a real
    cluster the caller passes none of this and the cluster manager decides.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        # A catalog-wide run generates hundreds of whole-stage-codegen
        # classes; the JVM default 240 MB code cache fills, HotSpot starts
        # emergency flushing/recompiling, and identical plans swing
        # 0.5s→50s. A bigger cache keeps compiled code resident. The
        # compiler thread count is left to HotSpot, which sizes it from
        # the CPUs the process may use (3 at 4 cores, 15 at 32): a fixed
        # pool larger than that only competes with the session's own
        # threads for cores during a cold start.
        #
        # GCLockerRetryAllocationCount: JDK 17 retries an allocation only
        # 2× when a GC is blocked by threads in JNI critical regions
        # (parquet/compression codecs enter them constantly with 32
        # executor threads); under allocation pressure the retry budget
        # exhausts and the task dies with "Retried waiting for GCLocker
        # too often" despite free heap — observed on 500 k-doc dedup
        # sweeps. The standard Spark-on-JDK17 mitigation is a bigger
        # retry budget (the lock holder exits within microseconds). The
        # flag is diagnostic in JDK 17 (must follow the unlock flag) and
        # GONE in JDK 24+ — _driver_java_options gates it on the
        # detected Java version.
        .config("spark.driver.extraJavaOptions", _driver_java_options())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.spill.compress", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
