"""SparkSession factory with the engine's frozen configuration.

Scale posture (tuned for a 1000-executor cluster, exercised on local[N]):
  - AQE on: runtime shuffle-partition coalescing + skew-join splitting.
  - Arrow on with a bounded records-per-batch so giant `html` binaries
    (100-1000x median, FIXTURES.md §1) cannot blow the Python worker heap —
    the analog of the reference's fixed-height resize bound
    (/root/reference/ai_documents/detection/template_matching.py:169-188).
  - shuffle.partitions defaults to a local master's task slots
    (`local_slots`, the same count the young cap below uses); on a real
    cluster AQE coalesces from a deliberately high initial number.
  - lower()/upper() case-map with the JVM (`spark.sql.icu.caseMappings
    .enabled=false`), not ICU4J. The first non-ASCII ICU call in each JVM
    loads ICU's case data: on a 4-core host, the first `lower` over the
    5000-doc sf0.1 `documents` table took 2.3 s and +1.2 GB of driver
    RSS with ICU, 0.34 s and +29 MB with the JVM. The JVM mapping also
    differs from the DuckDB oracle's on fewer strings
    (tests/test_shared_expressions.py names them). SQL confs travel with
    each query, so executors case-map the same way.
  - a local master caps the driver JVM's young generation at
    `-XX:MaxNewSize=<64 MiB x task slots>` (`young_cap`). In local mode
    the driver JVM also runs every task, and G1 otherwise lets eden grow
    to ~60% of the heap between collections: under perfbench's fixed 3 GB
    heap a `pipeline` pass ended with a `2526M->170M` young collection,
    its driver JVM at 2.6 GB RSS for ~200 MB of live data. Allocation
    scales with the concurrent tasks, so the cap scales per slot. It
    rides `spark.driver.defaultJavaOptions` whenever `get_spark`
    launches the JVM (with or without a class archive); a caller's own
    `defaultJavaOptions` come after it and `extraJavaOptions` after
    those, so either one's `MaxNewSize` wins. spark-submit launches, a
    running JVM, non-local masters and a spark-defaults.conf that sets
    the default options get no cap. `session_report` reads the cap and
    the driver's GC count and time.

Driver JVM startup: when `get_spark` launches the JVM itself, it starts
it from a dynamic AppCDS archive (a saved copy of the classes an earlier
driver on this host loaded), so class loading is not paid again on every
run. One archive per host, keyed by (java build, Spark version, driver
classpath), lives in `${XDG_CACHE_HOME:-~/.cache}/spark-docext/cds/`:
  - reuse: the archive exists -> `-XX:SharedArchiveFile` through
    `spark.driver.defaultJavaOptions`, after the young cap (it combines
    with a caller's `extraJavaOptions`);
  - create: it does not -> the JVM records dump info, and an `atexit`
    hook dumps the archive with `jcmd` when the Python process exits,
    outside `get_spark` and before the JVM is gone;
  - absent: spark-submit launches, a JVM that is already running, a
    user conf dir or real files in Spark's default one (CDS refuses a
    non-empty directory on the classpath) get no option at all.
The archive state is `cds_state(spark)`. A mismatched archive is
rejected by the JVM, which then runs without it; deleting the cache
directory is always safe.
"""

from __future__ import annotations

import atexit
import hashlib
import os
import re
import shutil
import subprocess
from collections.abc import Mapping

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

# Cap Arrow batch rows: html averages ~1-10 KB but giants reach MBs; the cap
# bounds a batch's memory worst-case (BENCH/BASELINE.md has the measured
# sweep).
ARROW_MAX_RECORDS = 256
# 64-bit Arrow offsets for the binary html column: avoids 2 GiB chunk
# overflow handling on wide batches of giant pages
ARROW_LARGE_VARTYPES = "true"

# young-generation cap per local task slot (see "Scale posture" above)
YOUNG_MB_PER_SLOT = 64
# the creating JVM would print ~350 `[cds]` warnings (pre-JDK-6 classes it
# cannot archive) when it dumps
CDS_QUIET = "-Xlog:cds=off,cds+dynamic=off"
# the state of the archive for this process's driver JVM: absent (no
# archive), created (dumped at interpreter exit) or reused
_cds_state = "absent"


def get_spark(
    app_name: str = "document_ai_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    global _cds_state
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if master is None:
        # honor a master already set by spark-submit (--master); only
        # default to local[cpus] for bare `python` launches
        from pyspark import SparkConf

        master = SparkConf().get("spark.master", None)
        submitted = master is not None
        master = master or f"local[{cpus}]"
    else:
        submitted = False
    if shuffle_partitions is None:
        shuffle_partitions = local_slots(master) or (
            int(cpus) if cpus.isdigit() else 32
        )
    b = SparkSession.builder.appName(app_name)
    if not submitted:
        b = b.master(master)
    b = (
        b
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # JVM case mapping, not ICU4J (see "Scale posture" above)
        .config("spark.sql.icu.caseMappings.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            str(ARROW_MAX_RECORDS),
        )
        .config(
            "spark.sql.execution.arrow.useLargeVarTypes",
            ARROW_LARGE_VARTYPES,
        )
        # large `html` binaries overflow the vectorized parquet reader's
        # contiguous column buffer at the default 4096 rows/batch
        .config("spark.sql.parquet.columnarReaderBatchSize", "512")
        # zstd over snappy for parquet output: interleaved pinned A/B on
        # the extraction write path measured ~5-10% higher docs/s AND
        # better compression — the right default for 100 TB text outputs
        # (BENCH/BASELINE.md r3 codec table)
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    conf = dict(extra_conf or {})
    for k, v in conf.items():
        b = b.config(k, v)
    java_opts, cds = _launch_plan(master, conf)
    if java_opts:
        b = b.config("spark.driver.defaultJavaOptions", java_opts)
    if cds is None:
        spark = b.getOrCreate()
    else:
        state, _, conf_dir, prefix = cds
        # only the launcher reads it: _cds_launch returned because it was unset
        os.environ["SPARK_CONF_DIR"] = conf_dir
        try:
            spark = b.getOrCreate()
        finally:
            del os.environ["SPARK_CONF_DIR"]
        _cds_state = state
        if state == "created":
            pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
            atexit.register(_dump_archive, os.getpid(), pid, prefix)
    spark._das_cds = _cds_state
    spark.sparkContext.setLogLevel("WARN")
    if not getattr(spark, "_das_warmed", False):
        _warm_session(spark)
        spark._das_warmed = True
    return spark


def cds_state(spark: SparkSession) -> str:
    """How the session's driver JVM used the class archive: 'absent',
    'created' or 'reused'."""
    return getattr(spark, "_das_cds", "absent")


def session_report(spark: SparkSession) -> dict:
    """How the session's driver JVM runs, read over py4j (no Spark job):
    the class-archive state, the young generation's cap in MiB and the
    collections so far, summed over every collector."""
    jvm = spark.sparkContext._jvm
    mf = jvm.java.lang.management.ManagementFactory
    hotspot = mf.getPlatformMXBean(jvm.java.lang.Class.forName(
        "com.sun.management.HotSpotDiagnosticMXBean"))
    count = ms = 0
    for bean in mf.getGarbageCollectorMXBeans():
        # -1 for a value the collector does not track
        count += max(bean.getCollectionCount(), 0)
        ms += max(bean.getCollectionTime(), 0)
    return {
        "cds": cds_state(spark),
        "young_max_mb": int(hotspot.getVMOption("MaxNewSize").getValue())
        // 2**20,
        "gc": {"count": count, "ms": ms},
    }


def local_slots(master: str) -> int | None:
    """Task slots of a local master (`local[N]` and `local[N, F]` N,
    `local[*]` os.cpu_count(), bare `local` one); None for any other
    master, whose tasks run outside the driver JVM (or that Spark
    rejects)."""
    m = re.fullmatch(r"local(?:\[(\*|[1-9]\d*)(?:\s*,\s*\d+)?\])?", master)
    if m is None:
        return None
    return (os.cpu_count() or 1) if m[1] == "*" else int(m[1] or 1)


def young_cap(master: str) -> str | None:
    """`-XX:MaxNewSize` for a local master, YOUNG_MB_PER_SLOT per task
    slot; None for any other master."""
    slots = local_slots(master)
    if slots is None:
        return None
    return f"-XX:MaxNewSize={YOUNG_MB_PER_SLOT * slots}m"


def _launches_jvm() -> bool:
    """Whether getOrCreate launches the driver JVM itself, so its java
    options still apply: not under spark-submit, nor once a JVM runs."""
    from pyspark import SparkContext

    return ("PYSPARK_GATEWAY_PORT" not in os.environ
            and SparkContext._gateway is None)


def _defaults_set_java_options(env: Mapping[str, str]) -> bool:
    """Whether the spark-defaults.conf the launcher reads sets the
    driver's default java options: a value set here would replace it."""
    conf_dir = env.get("SPARK_CONF_DIR") or os.path.join(
        _spark_home(env), "conf")
    try:
        with open(os.path.join(conf_dir, "spark-defaults.conf")) as f:
            return "spark.driver.defaultJavaOptions" in f.read()
    except OSError:
        return False


def _launch_plan(
    master: str, conf: Mapping[str, str]
) -> tuple[str, tuple[str, str, str, str] | None]:
    """The one place the driver JVM's launch options are assembled:
    (spark.driver.defaultJavaOptions, the `_cds_launch` plan). The young
    cap comes first and the caller's own default options after it, so a
    caller's MaxNewSize wins (as does any `extraJavaOptions`, which
    Spark appends after these); the archive options come last. ('',
    None) when the JVM is not launched here or the launcher's
    spark-defaults.conf already sets the default options."""
    if not _launches_jvm() or _defaults_set_java_options(os.environ):
        return "", None
    cds = _cds_launch(conf.get("spark.driver.extraClassPath", ""))
    return " ".join(filter(None, [
        young_cap(master),
        conf.get("spark.driver.defaultJavaOptions"),
        cds and cds[1],
    ])), cds


def _cds_dir() -> str:
    base = os.environ.get("XDG_CACHE_HOME", "")
    if not os.path.isabs(base):
        base = os.path.join(os.path.expanduser("~"), ".cache")
    return os.path.join(base, "spark-docext", "cds")


def _java_home(env: Mapping[str, str]) -> str | None:
    # the one spark-submit's launcher runs: $JAVA_HOME, else `java` on PATH
    if env.get("JAVA_HOME"):
        return env["JAVA_HOME"]
    java = shutil.which("java", path=env.get("PATH"))
    return os.path.dirname(os.path.dirname(os.path.realpath(java))) if java else None


def _spark_home(env: Mapping[str, str]) -> str:
    from pyspark.find_spark_home import _find_spark_home

    return env.get("SPARK_HOME") or _find_spark_home()


def cds_key(env: Mapping[str, str], extra_classpath: str = "") -> str | None:
    """The archive's key: a hash of the java build, the Spark version and
    the driver classpath (each jar's name, size and mtime). It reads files
    only, never starts a JVM, and takes in no JVM option text, so a
    per-run `_JAVA_OPTIONS` leaves it unchanged. None without a java."""
    from pyspark import __version__

    java_home = _java_home(env)
    if java_home is None:
        return None
    h = hashlib.sha256(f"spark {__version__}\n".encode())
    try:
        with open(os.path.join(java_home, "release"), "rb") as f:
            h.update(f.read())
    except OSError:
        st = os.stat(os.path.join(java_home, "bin", "java"))
        h.update(f"java {java_home} {st.st_size} {st.st_mtime_ns}\n".encode())
    jars = os.path.join(_spark_home(env), "jars")
    entries = [os.path.join(jars, n) for n in sorted(os.listdir(jars))]
    for p in entries + [p for p in extra_classpath.split(os.pathsep) if p]:
        try:
            st = os.stat(p)
            h.update(f"{p} {st.st_size} {st.st_mtime_ns}\n".encode())
        except OSError:
            h.update(f"{p} missing\n".encode())
    return h.hexdigest()[:20]


def _cds_launch(extra_classpath: str) -> tuple[str, str, str, str] | None:
    """(state, driver java options, empty conf dir, archive prefix) when
    this call will launch the driver JVM and can start it from an
    archive, else None. A published archive is `<prefix>.<bytes>.jsa`
    and is reused only at that size: a truncated archive crashes the JVM
    with SIGBUS."""
    env = os.environ
    if not _launches_jvm():
        return None  # spark-submit launched the JVM, or it already runs
    if any(env.get(v) for v in ("SPARK_CONF_DIR", "HADOOP_CONF_DIR",
                                "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH")):
        return None  # user directories go on the classpath
    try:
        default_conf = os.path.join(_spark_home(env), "conf")
        names = os.listdir(default_conf) if os.path.isdir(default_conf) else []
        if not all(n.endswith(".template") for n in names):
            return None
        key = cds_key(env, extra_classpath)
        if key is None:
            return None
        cache = _cds_dir()
        conf_dir = os.path.join(cache, "conf")
        os.makedirs(conf_dir, exist_ok=True)
        prefix = os.path.join(cache, key)
        for name in os.listdir(cache):
            path = os.path.join(cache, name)
            k, _, size = name.removesuffix(".jsa").partition(".")
            if (name.endswith(".jsa") and k == key
                    and size == str(os.path.getsize(path))):
                return ("reused", f"-XX:SharedArchiveFile={path}", conf_dir,
                        prefix)
        if not os.access(_jcmd(), os.X_OK):
            return None
        return ("created", f"-XX:+RecordDynamicDumpInfo {CDS_QUIET}",
                conf_dir, prefix)
    except OSError:
        return None


def _jcmd() -> str:
    return os.path.join(_java_home(os.environ) or "", "bin", "jcmd")


def _dump_archive(owner: int, jvm_pid: int, prefix: str) -> None:
    """atexit hook of the creating process: dump the running driver JVM's
    classes with `jcmd VM.cds dynamic_dump`, publish the archive as
    `<key>.<bytes>.jsa` with one rename, and delete every other file in
    the cache directory (archives of other keys, dumps left by killed
    processes). It runs while the JVM is still alive (the JVM
    exits when this process closes its stdin); a dump at JVM exit would
    be cut short by a caller that kills the process tree right after
    Python exits. Failures leave no archive and no partial file."""
    if os.getpid() != owner:
        return  # a forked child inherited the hook
    tmp = f"{prefix}.{owner}.tmp"
    try:
        subprocess.run(
            [_jcmd(), str(jvm_pid), "VM.cds", "dynamic_dump", tmp],
            stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
            timeout=300, check=True,
        )
        archive = f"{prefix}.{os.path.getsize(tmp)}.jsa"
        os.replace(tmp, archive)
        cache = os.path.dirname(prefix)
        for name in os.listdir(cache):
            path = os.path.join(cache, name)
            if path != archive and os.path.isfile(path):
                os.remove(path)
    except (OSError, subprocess.SubprocessError):
        pass
    finally:
        if os.path.exists(tmp):
            os.remove(tmp)


def local_frame(
    spark: SparkSession, rows: list, schema: str | T.StructType
) -> DataFrame:
    """Driver-built rows -> DataFrame through one Arrow table, which the
    JVM reads as a LocalRelation. `spark.createDataFrame(list)` pickles
    the rows into a plain PythonRDD instead, and that RDD starts a second
    Python daemon and worker pool next to the one the SQL Python stages
    use. `schema` is a DDL string or a StructType; values go through the
    same Python-to-internal conversion createDataFrame applies (naive
    datetimes as local time), so both forms give the same rows."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    cols = list(zip(*rows)) or [()] * len(schema.fields)
    arrays = [
        pa.array(
            [f.dataType.toInternal(v) for v in vals]
            if f.dataType.needConversion() else list(vals),
            af.type,
        )
        for f, af, vals in zip(schema.fields, arrow_schema, cols)
    ]
    return spark.createDataFrame(
        pa.Table.from_arrays(arrays, schema=arrow_schema), schema
    )


def _warm_session(spark: SparkSession) -> None:
    """Warm the session's one-time machinery at creation (extending the
    posture document_ai_spark/__main__.py's extract verb established: on
    a real cluster these costs amortize over hours, so they belong to
    session setup, not to whichever query happens to run first):

      1. whole-stage codegen + hash aggregate + a shuffle exchange
         (janino compiler init, shuffle writer/reader classloading);
      2. a broadcast join (BroadcastExchange machinery);
      3. one tiny parquet write + vectorized read (output committer and
         parquet reader classloading);
      4. a pandas-path Arrow crossing with one task per core —
         pre-spawns the Python worker pool AND imports pyarrow+pandas
         in every worker (the reused workers then serve mapInArrow,
         mapInPandas and pandas_udf stages alike), which otherwise
         serializes per-worker interpreter+import startup into the
         first Python-stage job.

    No user data is touched and nothing is cached — this initializes
    infrastructure, never results. Failures are non-fatal: a warm-up
    must never break a job."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    try:
        par = spark.sparkContext.defaultParallelism
        (
            spark.range(0, 100_000, 1, 4)
            .groupBy((F.col("id") % 97).alias("k"))
            .count()
            .join(F.broadcast(spark.range(97).selectExpr("id as k")), "k")
            .write.format("noop").mode("overwrite").save()
        )
        td = tempfile.mkdtemp(prefix="das_warm_")
        try:
            spark.range(1024).withColumn(
                "s", F.md5(F.col("id").cast("string"))
            ).write.mode("overwrite").parquet(td)
            spark.read.parquet(td).write.format("noop").mode(
                "overwrite"
            ).save()
        finally:
            shutil.rmtree(td, ignore_errors=True)

        def _identity(batches):
            # worker-side module warm: the engine's Python-stage
            # functions are pickled by reference, so every reused
            # worker imports these modules on its first real task —
            # numpy, pandas and the kernel's compiled regexes. Doing
            # it here moves that one-time import out of the first
            # measured Python-stage job (guide §4.5's init-once-per-
            # task posture, applied at pool spawn).
            try:
                import document_ai_spark.kernel.extract  # noqa: F401
                import document_ai_spark.queries_text  # noqa: F401
            except ImportError:
                pass
            for b in batches:
                yield b

        (
            spark.range(0, 4 * par, 1, par)
            .mapInPandas(_identity, schema="id long")
            .write.format("noop").mode("overwrite").save()
        )
    except Exception:
        pass
