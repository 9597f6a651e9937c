"""SparkSession factory.

One place for the engine's Spark configuration so tests, bench.py and the
driver entrypoint all run the same way. The settings are chosen for a real
multi-executor cluster (AQE re-planning, skew-join handling, partition
coalescing) and merely *tested* on local[N]:

- AQE on: runtime shuffle-partition coalescing + skew-join splitting means
  the static ``spark.sql.shuffle.partitions`` is only an upper bound; at
  100 TB you raise it (or leave AQE to coalesce) without code changes.
- Session timezone pinned to UTC so timestamp semantics are independent of
  the host machine (the fixtures store naive timestamps).
- Arrow enabled for every pandas interchange (Pandas UDFs, toPandas).

The driver JVM starts from a class-data-sharing archive (JEP 350) kept in
the user cache, which halves session start (see ``_cds_options``).
"""

from __future__ import annotations

import atexit
import hashlib
import logging
import os
import shlex
import shutil
import subprocess
from pathlib import Path

from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

log = logging.getLogger("csv2db_spark.session")

DEFAULT_SHUFFLE_PARTITIONS = "32"
# The archive-writing JVM warns once per class it cannot archive: hundreds
# of lines for Spark's signed jars.
_CDS_QUIET = "-Xlog:cds=off -Xlog:cds+dynamic=off"
# Variables that put more entries on the driver classpath. A non-empty
# directory there makes the archive-writing JVM exit 1 without an archive.
_CLASSPATH_ENV = ("SPARK_CLASSPATH", "HADOOP_CONF_DIR", "YARN_CONF_DIR",
                  "SPARK_DIST_CLASSPATH")
# The archive dump takes 8-11 s at JVM exit.
_DUMP_WAIT_S = 120


def get_spark(app_name: str = "csv2db-spark") -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    ``SPARK_GRAFT_CPUS`` controls local parallelism (default: all cores).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    driver_mem = os.environ.get("SPARK_DRIVER_MEM", "12g")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", DEFAULT_SHUFFLE_PARTITIONS)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", driver_mem)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
    )
    cds = _cds_options(driver_mem)
    if cds is None:
        return builder.getOrCreate()
    java_opts, conf_dir, tmp = cds
    # defaultJavaOptions, not extraJavaOptions: spark-submit arguments
    # from PYSPARK_SUBMIT_ARGS (--driver-java-options) come after the
    # builder's and would replace extraJavaOptions.
    builder = builder.config("spark.driver.defaultJavaOptions", java_opts)
    prior = os.environ.get("SPARK_CONF_DIR")
    os.environ["SPARK_CONF_DIR"] = str(conf_dir)
    try:
        spark = builder.getOrCreate()
    finally:
        if prior is None:
            del os.environ["SPARK_CONF_DIR"]
        else:
            os.environ["SPARK_CONF_DIR"] = prior
    if tmp is not None:
        atexit.register(_promote_archive, SparkContext._gateway.proc, tmp)
    return spark


def _cds_dir() -> Path:
    """Where the driver's class-data-sharing archives live."""
    base = os.environ.get("XDG_CACHE_HOME") or os.path.expanduser("~/.cache")
    return Path(base, "csv2db_spark", "cds")


def _cds_key(driver_mem: str) -> str | None:
    """Name of the archive for this JDK, this set of Spark jars and this
    heap size (which picks the JVM's compressed-pointer mode), or None
    when the java binary or Spark's jars are not where the launcher
    looks."""
    java_home = os.environ.get("JAVA_HOME")
    java = os.path.join(java_home, "bin", "java") if java_home else shutil.which("java")
    jars = Path(_find_spark_home(), "jars")
    if not java or not os.path.isfile(java) or not jars.is_dir():
        return None
    java = os.path.realpath(java)
    h = hashlib.sha256(f"{java}\0{driver_mem}\n".encode())
    for p in [Path(java).parents[1] / "lib" / "modules", *sorted(jars.iterdir())]:
        try:
            st = p.stat()
        except OSError:
            continue
        h.update(f"{p}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()[:16]


def _cds_options(driver_mem: str) -> tuple[str, Path, Path | None] | None:
    """(java options, empty conf dir, archive temp file) for a driver JVM
    about to start, or None to start it as Spark alone would.

    A complete archive is used as is. Otherwise this JVM writes one at
    exit to a temp file named by this process's pid, and
    ``_promote_archive`` renames it into place once the JVM has exited
    with status 0.

    Dynamic CDS refuses a non-empty directory on the classpath, and Spark
    puts its conf dir first there, so the JVM gets an empty conf dir from
    the cache. That is only done when the effective conf dir holds
    nothing but ``*.template`` files: a real ``spark-defaults.conf``,
    ``spark-env.sh`` or ``log4j2.properties`` is never hidden; the JVM
    then starts without an archive."""
    if SparkContext._gateway is not None or "PYSPARK_GATEWAY_PORT" in os.environ:
        return None  # the JVM is already running
    conf = os.environ.get("SPARK_CONF_DIR") or os.path.join(_find_spark_home(), "conf")
    try:
        user_conf = [n for n in os.listdir(conf) if not n.endswith(".template")]
    except FileNotFoundError:
        user_conf = []
    except OSError as e:
        user_conf = [str(e)]
    user_conf += [v for v in _CLASSPATH_ENV if os.environ.get(v)]
    if user_conf:
        log.debug("driver starts without a CDS archive: %s", user_conf)
        return None
    key = _cds_key(driver_mem)
    if key is None:
        return None
    cache = _cds_dir()
    try:
        (cache / "conf").mkdir(parents=True, exist_ok=True)
        archive = _find_archive(cache, key)
    except OSError as e:
        log.debug("driver starts without a CDS archive: %s", e)
        return None
    # the launcher splits these options as a shell would
    if archive is not None:
        opt = shlex.quote(f"-XX:SharedArchiveFile={archive}")
        return f"{opt} {_CDS_QUIET}", cache / "conf", None
    if not os.access(cache, os.W_OK):
        return None
    tmp = cache / f"{key}.{os.getpid()}.tmp"
    opt = shlex.quote(f"-XX:ArchiveClassesAtExit={tmp}")
    return f"{opt} {_CDS_QUIET}", cache / "conf", tmp


def _find_archive(cache: Path, key: str) -> Path | None:
    """The complete archive for ``key``: ``<key>.<bytes>.jsa`` whose size
    is still the size recorded in its name when it was promoted (a
    truncated archive kills the JVM before the gateway opens). Deletes
    truncated archives, duplicates, and temp files whose writer is gone."""
    found = None
    for path in cache.iterdir():
        name, _, ext = path.name.rpartition(".")
        owner, _, tag = name.partition(".")
        if ext == "tmp" and not (tag.isdigit() and _pid_alive(int(tag))):
            path.unlink(missing_ok=True)
        elif ext == "jsa" and owner == key:
            if found is None and tag.isdigit() and path.stat().st_size == int(tag):
                found = path
            else:
                path.unlink(missing_ok=True)
    return found


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        pass  # alive, another user's
    return True


def stop_spark(spark: SparkSession) -> None:
    """Stop ``spark`` and wait for its driver JVM to exit. ``spark.stop()``
    alone leaves PySpark's gateway JVM running until EOF on its stdin,
    which comes only when this process exits."""
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        _wait_jvm(gateway.proc)
        SparkContext._gateway = SparkContext._jvm = None


def _wait_jvm(proc: subprocess.Popen) -> int | None:
    """Let the driver JVM exit (it stops on EOF on its stdin) and wait for
    it, while it writes an archive too. Its exit status, or None when it
    did not exit in time."""
    try:
        proc.stdin.close()
        return proc.wait(timeout=_DUMP_WAIT_S)
    except (OSError, subprocess.TimeoutExpired) as e:
        log.debug("driver JVM did not exit: %s", e)
        return None


def _promote_archive(proc: subprocess.Popen, tmp: Path) -> None:
    """At interpreter exit: wait for the driver JVM and rename a complete
    archive to ``<key>.<bytes>.jsa``. A JVM that did not exit with status
    0 leaves no archive."""
    rc = _wait_jvm(proc)
    if rc is None:
        return  # a later start deletes the temp file once this pid is gone
    try:
        size = tmp.stat().st_size if rc == 0 else 0
        if size:
            key = tmp.name.split(".")[0]
            os.replace(tmp, tmp.with_name(f"{key}.{size}.jsa"))
        else:
            tmp.unlink(missing_ok=True)
    except OSError as e:
        log.debug("CDS archive not promoted: %s", e)
