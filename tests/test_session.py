"""The engine session: the driver's per-call gateway cost, and the driver
JVM's class-data-sharing archive. Each archive test starts a fresh
Python process with its own ``XDG_CACHE_HOME``, since only a process that
has not started a JVM yet can pick the JVM's options, and checks that the
session loads rows whatever the cache holds."""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parents[1]

PROBE = """
import json, sys
from csv2db_spark import get_spark
from csv2db_spark.ingest import read_csv
spark = get_spark("cds-probe")
jvm = spark._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
print(json.dumps({
    "rows": read_csv(spark, sys.argv[1]).count(),
    "args": list(jvm.getInputArguments()),
    "jvm_pid": jvm.getPid(),
    "probe": spark.conf.get("spark.csv2db.probe", None),
}))
"""


def _session(tmp_path: Path, cache: Path, **env: str) -> dict:
    """Start a session in a new process, load a 3-row CSV, and report
    the JVM's options (only those naming ``cache``), pid and conf."""
    csv = tmp_path / "rows.csv"
    csv.write_text("a,b\n1,x\n2,y\n3,z\n")
    full_env = {k: v for k, v in os.environ.items() if k != "SPARK_CONF_DIR"}
    full_env.update(
        XDG_CACHE_HOME=str(cache),
        PYTHONPATH=str(REPO),
        SPARK_GRAFT_CPUS="1",
        SPARK_DRIVER_MEM="1g",
        **env,
    )
    out = subprocess.run(
        [sys.executable, "-c", PROBE, str(csv)],
        env=full_env, cwd=tmp_path, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    res = json.loads(out.stdout.strip().splitlines()[-1])
    res["cds"] = [a for a in res.pop("args") if str(cache) in a]
    return res


def _archives(cache: Path) -> list[Path]:
    return sorted((cache / "csv2db_spark" / "cds").glob("*.jsa"))


def _writes(res: dict) -> bool:
    return len(res["cds"]) == 1 and res["cds"][0].endswith(".tmp")


def _uses(res: dict, archive: Path) -> bool:
    return len(res["cds"]) == 1 and res["cds"][0].endswith(f"={archive}")


def _complete(cache: Path) -> Path:
    """The one archive in ``cache``, checked complete: its size is the
    one recorded in its name, and no temp file is left beside it."""
    (archive,) = _archives(cache)
    assert archive.stat().st_size == int(archive.name.split(".")[1]) > 10**6
    assert not list(archive.parent.glob("*.tmp"))
    return archive


@pytest.fixture(scope="module")
def written(tmp_path_factory):
    """A session started with an empty cache, and the archive its JVM
    wrote at exit."""
    tmp = tmp_path_factory.mktemp("cds_written")
    res = _session(tmp, tmp / "cache")
    yield tmp / "cache", res
    shutil.rmtree(tmp / "cache", ignore_errors=True)


def _seed(tmp_path: Path, written, data: bytes, name: str | None = None) -> Path:
    """A cache holding ``data`` under the name of ``written``'s archive
    (or under ``<key>.<name>.jsa``)."""
    (src,) = _archives(written[0])
    cache = tmp_path / "cache"
    d = cache / "csv2db_spark" / "cds"
    (d / "conf").mkdir(parents=True)
    key = src.name.split(".")[0]
    (d / (src.name if name is None else f"{key}.{name}.jsa")).write_bytes(data)
    return cache


def test_first_session_writes_the_archive_and_the_next_uses_it(tmp_path, written):
    cache, first = written
    assert first["rows"] == 3
    assert _writes(first), first["cds"]
    archive = _complete(cache)
    # the writing process waited for its JVM: nothing is left running
    with pytest.raises(ProcessLookupError):
        os.kill(first["jvm_pid"], 0)
    second = _session(tmp_path, cache)
    assert second["rows"] == 3
    assert _uses(second, archive), second["cds"]


def test_truncated_archive_still_loads_rows(tmp_path, written):
    """An archive cut short after it was promoted (the JVM dies of
    SIGBUS on one) is not handed to the JVM: the session starts as on
    a cache miss and writes a complete archive in its place."""
    (src,) = _archives(written[0])
    cache = _seed(tmp_path, written, src.read_bytes()[:4096])
    try:
        res = _session(tmp_path, cache)
        assert res["rows"] == 3
        assert _writes(res), res["cds"]
        _complete(cache)
    finally:
        shutil.rmtree(cache, ignore_errors=True)


def test_garbage_archive_still_loads_rows(tmp_path, written):
    """A file whose size matches its name but that is no archive is
    handed to the JVM, which ignores it."""
    cache = _seed(tmp_path, written, b"garbage!", name="8")
    res = _session(tmp_path, cache)
    assert res["rows"] == 3
    assert _uses(res, _archives(cache)[0]), res["cds"]


@pytest.mark.slow
def test_user_conf_dir_is_never_hidden(tmp_path):
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf").write_text("spark.csv2db.probe 42\n")
    res = _session(tmp_path, tmp_path / "cache", SPARK_CONF_DIR=str(conf))
    assert res["rows"] == 3
    assert res["cds"] == []
    assert res["probe"] == "42"


@pytest.mark.slow
def test_unwritable_cache_starts_normally(tmp_path):
    cache = tmp_path / "cache"
    cache.write_text("a file where the cache dir would be")
    res = _session(tmp_path, cache)
    assert res["rows"] == 3
    assert res["cds"] == []


# Py4J commands sent to build the load's cast over the 6 columns of
# perfbench's load table: about 980 with PySpark's call-site capture,
# 360 without it.
CAST_BUILD_MAX_COMMANDS = 600


def test_session_skips_call_site_capture(spark, tmp_path, monkeypatch):
    """PySpark captures a Python call site on every Column method call
    unless ``spark.python.sql.dataFrameDebugging.enabled`` is off, at
    about 10 gateway round trips each. The engine session turns it off,
    so building the load's cast stays under a bound on gateway commands."""
    from pyspark.errors.utils import is_debugging_enabled
    from pyspark.sql import types as T

    from csv2db_spark.ingest import align_and_cast, read_csv

    key = "spark.python.sql.dataFrameDebugging.enabled"
    assert spark.conf.get(key, None) == "false"
    assert is_debugging_enabled() is False

    csv = tmp_path / "load.csv"
    csv.write_text("ID,QTY,AMOUNT,TS,CODE,NOTE\n1,2,3.5,2020-01-01 00:00:00,A,b\n")
    target = T.StructType([
        T.StructField("ID", T.LongType(), False),
        T.StructField("QTY", T.IntegerType()),
        T.StructField("AMOUNT", T.DoubleType()),
        T.StructField("TS", T.TimestampType()),
        T.StructField("CODE", T.StringType(), False),
        T.StructField("NOTE", T.StringType(), False),
    ])
    raw = read_csv(spark, str(csv), True)
    client = spark.sparkContext._gateway._gateway_client
    send, sent = client.send_command, []

    def counting(*args, **kwargs):
        sent.append(args[0])
        return send(*args, **kwargs)

    monkeypatch.setattr(client, "send_command", counting)
    df = align_and_cast(raw, target, True)
    monkeypatch.undo()
    assert len(sent) < CAST_BUILD_MAX_COMMANDS, len(sent)
    assert df.collect() == [
        (1, 2, 3.5, dt.datetime(2020, 1, 1), "A", "b")
    ]
