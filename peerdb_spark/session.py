"""SparkSession factory with scale-oriented defaults.

Tuned for local[N] testing but every setting is chosen for how it behaves on a
large cluster: AQE on (runtime re-plan, skew-join splitting, partition
coalescing), Arrow on (Pandas-UDF batches), sensible shuffle partitioning.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "peerdb_spark", cpus: int | None = None) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    Defaults follow the deployment guidance in the project docs:
    - AQE enabled: coalesces post-shuffle partitions and splits skewed joins at
      runtime — at 100 TB this is what keeps a static shuffle-partition count
      from being wrong in both directions.
    - shuffle.partitions sized to cores locally; on a real cluster this is
      overridden (AQE coalescing makes the static number a ceiling, not a target).
    - Arrow for any pandas interchange.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # pin the default parser mode the SQL-text builders (normalize._qstr)
        # escape for: backslash-doubling assumes escaped string literals are
        # OFF (r12 ADVICE)
        .config("spark.sql.parser.escapedStringLiterals", "false")
        .config("spark.sql.parquet.compression.codec", "snappy")
        # driver testdata stores events.ts as parquet TIMESTAMP(NANOS); Spark
        # has no nanos timestamp — read as long and convert on load
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
    )
    if not SparkSession.getActiveSession():
        builder = builder.master(os.environ.get("SPARK_MASTER", f"local[{cpus}]"))
    spark = builder.getOrCreate()
    _ship_package(spark)
    return spark


def _ship_package(spark: SparkSession) -> None:
    """Make peerdb_spark importable on Python workers regardless of where the
    driver script lives: zip the package once and addPyFile it. Without this,
    any module-level function reaching a Python worker (UDF hooks) fails with
    ModuleNotFoundError when the driver wasn't launched from the repo root."""
    try:
        import atexit
        import tempfile
        import zipfile

        pkg_dir = os.path.dirname(os.path.abspath(__file__))
        marker = "_peerdb_spark_shipped"
        if spark.conf.get(f"spark.{marker}", None):
            return
        # one zip per session: sessions from other checkouts sharing the
        # temp dir must not overwrite a zip their executors still fetch
        fd, zpath = tempfile.mkstemp(prefix="peerdb_spark_pkg-", suffix=".zip")
        os.close(fd)
        atexit.register(lambda: os.path.exists(zpath) and os.remove(zpath))
        with zipfile.ZipFile(zpath, "w") as z:
            for root, _dirs, files in os.walk(pkg_dir):
                for f in files:
                    if f.endswith(".py"):
                        full = os.path.join(root, f)
                        rel = os.path.join(
                            "peerdb_spark", os.path.relpath(full, pkg_dir)
                        )
                        z.write(full, rel)
        spark.sparkContext.addPyFile(zpath)
        spark.conf.set(f"spark.{marker}", "true")
    except Exception:
        pass  # best-effort; closures are self-contained anyway


def load_tables(spark: SparkSession, sf_dir: str, names: tuple[str, ...] | None = None):
    """Load the driver parquet tables as temp views; returns dict name→DataFrame."""
    if names is None:
        names = (
            "region",
            "nation",
            "customer",
            "supplier",
            "part",
            "orders",
            "lineitem",
            "events",
            "documents",
            "embeddings",
        )
    # The caller may pass a session we didn't build (the correctness driver
    # does); events.parquet uses TIMESTAMP(NANOS) which Spark rejects unless
    # this runtime-settable legacy conf is on.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    out = {}
    for n in names:
        path = os.path.join(sf_dir, f"{n}.parquet")
        if os.path.exists(path):
            df = spark.read.parquet(path)
            # nanos timestamps surface as LongType under nanosAsLong — convert
            # to microsecond timestamps so downstream semantics match the oracle
            if n == "events" and dict(df.dtypes).get("ts") == "bigint":
                from pyspark.sql import functions as F

                df = df.withColumn("ts", F.timestamp_micros((F.col("ts") / 1000).cast("long")))
            df.createOrReplaceTempView(n)
            out[n] = df
    return out
