"""SparkSession construction with scale-appropriate defaults.

The same builder serves local tests (local[32]) and a real cluster: every
config below is semantic (AQE, Arrow, UTC) or a per-deployment knob with a
sane default, not a hard-coded local-mode assumption.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Runtime-settable confs we (re)assert on sessions handed to us by the
# driver harness — correctness-critical (timezone) or cheap wins (AQE).
_RUNTIME_CONFS = {
    # DuckDB and Spark must hash timestamps identically -> pin UTC.
    "spark.sql.session.timeZone": "UTC",
    # events.parquet carries TIMESTAMP(NANOS) which Spark 4 rejects by
    # default; read as LONG nanos (exact, no truncation) and derive
    # epoch-ms columns explicitly (tables.py). DuckDB keeps ns precision
    # too, so both engines do identical integer time math.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Adaptive execution: runtime re-plan, skew-join splitting, and
    # small-partition coalescing. At 100 TB this is what turns a static
    # 200-partition plan into one sized by the actual shuffle volume.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for any pandas-UDF path (batched, not per-row pickling).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # The precomputed-SQL-text paths (aprs/parse.py _packet_select_exprs,
    # the similarity/dedup sketch builders) embed \\d/\\. regex escapes
    # that parse correctly only under the default escaping rules; a
    # harness session with escapedStringLiterals=true would mis-parse
    # every escape and turn all packets into parse errors (ADVICE r16) —
    # pin it like the timezone.
    "spark.sql.parser.escapedStringLiterals": "false",
}


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def _external_master_defined() -> bool:
    """True when a deploy master is already decided, so get_spark() must
    NOT force local[N] over it.

    Checked in order: an active session (getOrCreate() will return it
    unchanged anyway); the environment a spark-submit launcher sets
    (PYSPARK_SUBMIT_ARGS / MASTER) — visible even BEFORE any
    SparkContext exists, when SparkConf(loadDefaults=True) still reads
    an empty dict on the Python side; finally the JVM system properties
    via SparkConf, which work once a gateway is up."""
    if SparkSession.getActiveSession() is not None:
        return True
    if "MASTER" in os.environ:
        return True
    if "--master" in os.environ.get("PYSPARK_SUBMIT_ARGS", ""):
        return True
    from py4j.protocol import Py4JError
    from pyspark import SparkConf

    try:
        return SparkConf(loadDefaults=True).contains("spark.master")
    except (RuntimeError, Py4JError):
        # a half-initialized gateway (launcher race) — the only failure
        # mode here; treat as "no external master decided yet"
        return False


def get_spark(app_name: str = "aprsdb_spark", shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``shuffle_partitions`` defaults to 2x cores locally; on a cluster this
    should be set to ~2-3x total executor cores, or left to AQE's
    coalescing with a high initial count.
    """
    cores = default_parallelism()
    if shuffle_partitions is None:
        shuffle_partitions = 2 * cores
    b = SparkSession.builder.appName(app_name)
    if not _external_master_defined():
        # Streaming checkpoints on local disk: the default FileContext
        # manager reaches RawLocalFs, which without libhadoop (the pip
        # pyspark ships none) forks `readlink` for every link-status
        # probe of a rename. Measured per ingest trigger at local[4]: the
        # stations sink call forked 256 `readlink` + 73 `chmod`, the
        # offset/commit-log writes 20-30 more; through FileSystem
        # (File.renameTo) that is 0 `readlink`, 73 `chmod` and 4-6 forks
        # outside the sink, with the same checkpoint files. Only this
        # branch sets it: a master decided outside the engine (cluster,
        # driver harness, tune()) keeps Spark's default, and a session
        # conf set later still wins.
        b = b.master(f"local[{cores}]").config(
            "spark.sql.streaming.checkpointFileManagerClass",
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager",
        )
    b = (
        b.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # Files: split large parquet into ~128MB tasks (default), but
        # coalesce tiny test files into few tasks to cut scheduling overhead.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
    )
    for k, v in _RUNTIME_CONFS.items():
        b = b.config(k, v)
    return b.getOrCreate()


def _ship_package(spark: SparkSession) -> None:
    """Make aprsdb_spark importable on executor python workers.

    Worker processes don't inherit the driver's sys.path, so any pandas
    UDF / mapInPandas kernel defined in this package would die with
    ModuleNotFoundError when the driver runs from another cwd. Shipping
    the package as a zip via addPyFile fixes it everywhere (local and
    cluster) — this is also exactly how the package deploys to a real
    1000-executor cluster.
    """
    if getattr(spark, "_aprsdb_pkg_shipped", False):
        return
    import tempfile
    import zipfile
    from pathlib import Path

    pkg = Path(__file__).resolve().parent
    zpath = Path(tempfile.gettempdir()) / "aprsdb_spark_pkg.zip"
    with zipfile.ZipFile(zpath, "w") as z:
        for f in sorted(pkg.rglob("*.py")):
            z.write(f, "aprsdb_spark/" + str(f.relative_to(pkg)))
    from pyspark.errors import PySparkException

    try:
        spark.sparkContext.addPyFile(str(zpath))
    except (AttributeError, PySparkException):
        # Spark Connect sessions expose no sparkContext (and classic
        # sessions can reject a duplicate addPyFile) — ship via the
        # Connect artifact API instead; if THAT fails the package is
        # already importable on the workers or the first UDF call will
        # say so loudly, so degrade silently here.
        try:
            spark.addArtifacts(str(zpath), pyfile=True)  # Spark Connect path
        except (AttributeError, PySparkException, OSError):
            pass
    spark._aprsdb_pkg_shipped = True


def tune(spark: SparkSession) -> SparkSession:
    """Assert runtime-settable confs on an externally-provided session.

    The driver harness builds its own SparkSession; timezone pinning in
    particular is required for oracle hash-matching (FIXTURES.md §A).

    Memoized per session object: every registered query calls tune() on
    build (registry.py wrapper) and again through tables.load(), so a
    434-qid bench sweep re-asserted the same confs thousands of
    times — each conf.set is a py4j round-trip (~1 ms on this host,
    measured; driver-side latency exists on real clusters too). After
    the first full tune, later calls re-verify only the two confs whose
    drift silently corrupts RESULTS (two round-trips): the UTC pin
    (oracle hash-matching) and escapedStringLiterals (the SQL-text
    parse paths — ADVICE r16's second sentinel). Either drifting
    triggers the full re-tune, so a caller that toggles session confs
    mid-run (the test_tables.py contract) still gets healed. The flag
    lives on the Python session object: a different session (or a
    restarted one) gets tuned afresh.
    """
    if getattr(spark, "_aprsdb_tuned", False):
        if (
            spark.conf.get("spark.sql.session.timeZone", "") == "UTC"
            and spark.conf.get("spark.sql.parser.escapedStringLiterals", "false")
            == "false"
        ):
            return spark
    from pyspark.errors import AnalysisException

    for k, v in _RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except AnalysisException:
            # CANNOT_MODIFY_CONFIG: the conf is static in this build —
            # non-fatal, the session-level default applies
            pass
    _ship_package(spark)
    spark._aprsdb_tuned = True
    return spark
