"""SparkSession factory with scale-appropriate defaults."""

from __future__ import annotations

import os
import re
import stat
import tempfile

from pyspark.sql import SparkSession

# Hadoop's local filesystem sets the mode of every file and directory
# it creates; without the native Hadoop library (pyspark ships none)
# it forks a `chmod` for each: every part file and its .crc, every
# committer dir, _SUCCESS and streaming checkpoint log entry. Measured
# on 4 cores: about 2 ms per fork from an idle driver JVM, 83 forks per
# `routed_job` pass and 392 per 5-micro-batch `stream_microbatch`
# drain. jvm/ForklessLocalFileSystem.java sets the same mode bits with
# java.nio and keeps the checksummed layout: a 3,000-line micro-batch
# went from 0.36-0.39 s to 0.29-0.30 s.
_FORKLESS_FS = "rotel_spark.jvm.ForklessLocalFileSystem"
_FORKLESS_SRC = os.path.join(os.path.dirname(__file__), "jvm",
                             "ForklessLocalFileSystem.java")


def _mem_total_kb() -> int | None:
    """MemTotal from /proc/meminfo, or None where it cannot be read."""
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    return int(line.split()[1])
    except (OSError, ValueError, IndexError):
        pass
    return None


def _default_driver_mem(mem_total_kb: int | None) -> str:
    """Heap when ROTEL_SPARK_DRIVER_MEM is unset: half of physical
    memory in whole GiB (at least 1g), capped at 16g. The heap and its
    pretouched ¾ young gen then stay within half of memory, leaving the
    rest to Python workers, the page cache and off-heap buffers; a
    fixed size overshoots small hosts, where the JVM fails to map its
    pretouched heap at startup. 16g where MemTotal is unknown."""
    if mem_total_kb is None:
        return "16g"
    return f"{max(1, min(16, mem_total_kb // (2 * 1024 * 1024)))}g"


def _gc_options(driver_mem: str) -> str:
    """ParallelGC with a fixed young gen at ¾ of the heap + pretouch
    (see build_spark comment). Falls back to plain ParallelGC when the
    heap size isn't a simple '<N>g'."""
    base = "-XX:+UseParallelGC"
    if driver_mem.endswith("g") and driver_mem[:-1].isdigit():
        young = max(1, int(int(driver_mem[:-1]) * 3 / 4))
        return f"{base} -Xmn{young}g -XX:+AlwaysPreTouch"
    return base


def _forkless_cache() -> str | None:
    """This user's dir for compiled classes under the temp dir, made
    0700. None where that path is not a dir owned by this user that no
    one else can write: classes another user put there would run in
    the driver JVM."""
    base = os.path.join(tempfile.gettempdir(),
                        f"rotel_spark_fs-{os.getuid()}")
    try:
        os.mkdir(base, 0o700)
    except FileExistsError:
        pass
    except OSError:
        return None
    st = os.lstat(base)
    if (not stat.S_ISDIR(st.st_mode) or st.st_uid != os.getuid()
            or st.st_mode & 0o022):
        return None
    return base


def _forkless_compiled(classes: str) -> bool:
    """Whether every class of the filesystem is in dir `classes`: a tmp
    cleaner may have aged some out and left the dir."""
    return all(
        os.path.isfile(os.path.join(classes, "rotel_spark", "jvm",
                                    f"ForklessLocalFileSystem{c}.class"))
        for c in ("", "$Raw", "$Fs", "$RawFs")
    )


def _forkless_classes() -> str | None:
    """Dir of the compiled ForklessLocalFileSystem, compiled once per
    temp dir with the JDK's javac against Spark's Hadoop API jar; None
    where that cannot be done (no javac, no jar, a failed compile, a
    cache dir others can write).

    The dir name carries a digest of the source and the jar name, so a
    changed source or Hadoop is compiled anew. A compile goes to its own
    temp dir that is renamed into place, so concurrent starts are safe."""
    import glob
    import hashlib
    import shutil
    import subprocess

    from pyspark.find_spark_home import _find_spark_home

    javac = os.path.join(os.environ.get("JAVA_HOME", ""), "bin", "javac")
    if not os.path.isfile(javac):
        javac = shutil.which("javac")
    jars = glob.glob(os.path.join(_find_spark_home(), "jars",
                                  "hadoop-client-api-*.jar"))
    cache = _forkless_cache()
    if not javac or not jars or cache is None:
        return None
    with open(_FORKLESS_SRC, "rb") as f:
        src = f.read()
    digest = hashlib.sha256(
        src + os.path.basename(jars[0]).encode()
    ).hexdigest()[:12]
    out = os.path.join(cache, digest)
    if _forkless_compiled(out):
        return out
    shutil.rmtree(out, ignore_errors=True)
    tmp = tempfile.mkdtemp(prefix=f"{digest}.", dir=cache)
    try:
        # --release 17: loadable by any JVM Spark 4 runs on
        r = subprocess.run(
            [javac, "--release", "17", "-nowarn", "-cp", jars[0],
             "-d", tmp, _FORKLESS_SRC],
            capture_output=True, timeout=300,
        )
        if r.returncode == 0:
            os.rename(tmp, out)
    except (OSError, subprocess.SubprocessError):
        pass  # a rename that lost a race finds out in place
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out if _forkless_compiled(out) else None


def _spark_defaults() -> dict[str, str]:
    """The deployment's spark-defaults.conf, which spark-submit reads
    under the confs a session passes."""
    from pyspark.find_spark_home import _find_spark_home

    conf_dir = os.environ.get("SPARK_CONF_DIR") or os.path.join(
        _find_spark_home(), "conf")
    try:
        with open(os.path.join(conf_dir, "spark-defaults.conf")) as f:
            lines = f.read().splitlines()
    except OSError:
        return {}
    pairs = (re.split(r"\s*[=:\s]\s*", ln.strip(), maxsplit=1)
             for ln in lines if ln.strip() and ln.strip()[0] not in "#!")
    return {p[0]: p[1] if len(p) > 1 else "" for p in pairs}


def _forkless_fs_conf(
    master: str, conf: dict[str, str] | None = None
) -> dict[str, str]:
    """Confs that install ForklessLocalFileSystem for file: paths, both
    as FileSystem and as FileContext (Structured Streaming's checkpoint
    logs). Empty, keeping Hadoop's stock filesystem, unless this call
    starts the JVM and the master is local, whose driver JVM runs every
    task. A JVM already running (started by spark-submit or an earlier
    session) lacks the class on its classpath, and so do a cluster's
    executors; PYSPARK_SUBMIT_ARGS can set a driver classpath that wins
    over this one.

    `conf` is the caller's own confs. Where it or spark-defaults.conf
    names a filesystem for file:, that one stays; a driver classpath
    they set is kept, with the classes dir appended."""
    from pyspark import SparkContext

    if SparkContext._gateway is not None or os.environ.get(
        "PYSPARK_GATEWAY_PORT"
    ) or os.environ.get("PYSPARK_SUBMIT_ARGS"):
        return {}
    if master != "local" and not master.startswith("local["):
        return {}
    conf = {**_spark_defaults(), **(conf or {})}
    impl = ("spark.hadoop.fs.file.impl",
            "spark.hadoop.fs.AbstractFileSystem.file.impl")
    if any(k in conf for k in impl):
        return {}
    classes = _forkless_classes()
    if classes is None:
        return {}
    cp = conf.get("spark.driver.extraClassPath")
    return {
        "spark.driver.extraClassPath":
            f"{cp}{os.pathsep}{classes}" if cp else classes,
        impl[0]: _FORKLESS_FS,
        impl[1]: f"{_FORKLESS_FS}$Fs",
    }


def build_spark(
    app_name: str = "rotel_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build a SparkSession tuned for the log-pipeline workload.

    Local mode here; on a real cluster the same confs apply (AQE,
    Arrow, UTC, skew-join) and master/memory come from spark-submit.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        # match parallelism in local mode; a real cluster would size by
        # data volume (~128MB per shuffle partition at 100TB scale AQE
        # coalesces from a high initial number instead)
        n = master.split("[")[-1].rstrip("]")
        shuffle_partitions = cpus if n in ("*", "") else int(n)
    driver_mem = os.environ.get("ROTEL_SPARK_DRIVER_MEM")
    if driver_mem is None:
        driver_mem = _default_driver_mem(_mem_total_kb())
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", driver_mem)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # explicit utf-8 error policy (SURVEY.md §7 hard part #1):
        # invalid bytes decode to U+FFFD instead of failing the task —
        # web-crawl html is routinely malformed
        .config("spark.sql.legacy.codingErrorAction", "true")
        # throughput GC for the allocation-heavy parse workload:
        # ParallelGC beats G1 by ~45% at 32 threads on the string-churn
        # pipeline; a FIXED large young gen (¾ of the heap) beats
        # adaptive sizing by ~17% at 32 threads AND removes
        # run-to-run variance (adaptive young-gen resizing thrashes
        # under 32-thread allocation bursts: measured 598-692k rec/s
        # adaptive vs 801-873k fixed+pretouch on the 15M-row noop
        # bench). AlwaysPreTouch keeps first-touch page zeroing out of
        # the measured region. Parse state is transient, so the old
        # gen can stay small. On a real cluster executors set the same
        # via spark.executor.extraJavaOptions.
        .config("spark.driver.extraJavaOptions", _gc_options(driver_mem))
        # dynamic-partition writes otherwise insert a per-task sort on
        # the partition column that spills at high concurrency
        # (measured: routed write 62-78s → 35-39s at 32 cores / 15M rows)
        .config("spark.sql.maxConcurrentOutputFileWriters", "8")
        # commit algorithm v2: tasks move their files into the final
        # location at task commit (parallel) instead of a serial
        # driver-side rename of every task dir at job commit — the
        # serial job-commit is a fixed cost that dominates Amdahl at
        # high core counts (routed writes produce cores×routes files)
        .config(
            "spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version",
            "2",
        )
        # zstd for parquet sinks: log archives are storage-bound; zstd
        # spends (parallel) CPU to cut (serial, shared-disk) write
        # bytes ~40% vs snappy — on this one-disk host that converts
        # the non-scaling I/O term into scaling compute (measured
        # 461k→494k rec/s at 32c), and on a real cluster cuts object-
        # store bytes at rest
        .config("spark.sql.parquet.compression.codec", "zstd")
    )
    extra_conf = extra_conf or {}
    conf = {**extra_conf, **_forkless_fs_conf(master, extra_conf)}
    for k, v in conf.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
