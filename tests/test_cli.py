"""CLI surface (reference main.go / load_config.go / config.go): flag
parsing, preset merge + store, stdin mode, and end-to-end loads into both
the parquet store and embedded Derby."""

from __future__ import annotations

import io
import json
import os
import subprocess
import sys
from pathlib import Path

import pytest

from csv2db_spark.cli import Config, load_config, build_parser, main


@pytest.fixture
def config_path(tmp_path, monkeypatch):
    p = tmp_path / "presets.json"
    monkeypatch.setenv("CSV2DB_SPARK_CONFIG", str(p))
    return p


def parse(argv):
    return load_config(build_parser().parse_args(argv))


def test_schema_table_split(config_path):
    conf = parse(["-t", "public.users", "-m", "create"])
    assert conf.schema == "public" and conf.table == "users"
    assert conf.qualified_table == "public.users"


def test_defaults_after_merge(config_path):
    conf = parse([])
    assert conf.delimiter == "," and conf.encoding == "UTF-8"
    assert conf.table_mode == "as-is"


def test_bad_delimiter_and_mode_fatal(config_path):
    with pytest.raises(SystemExit):
        parse(["-d", ";;"])
    with pytest.raises(SystemExit):
        parse(["-m", "bogus"])


def test_store_then_apply_preset(config_path):
    parse(["--url", "jdbc:x", "-t", "tt", "-d", ";", "-s", "mine"])
    saved = json.loads(config_path.read_text())
    assert saved["presets"]["mine"]["db_url"] == "jdbc:x"
    # empty cli fields fill from the preset; explicit flags win
    conf = parse(["-p", "mine", "-t", "other"])
    assert conf.db_url == "jdbc:x" and conf.table == "other"
    assert conf.delimiter == ";"


def test_reference_yaml_presets_fallback(config_path, tmp_path, monkeypatch):
    """A reference user's ~/.csv2db.yaml (go-yaml field spellings,
    config.go:151-165) works unconverted when the native JSON config is
    absent; once a preset is SAVED, the JSON file takes precedence."""
    monkeypatch.setenv("HOME", str(tmp_path))
    (tmp_path / ".csv2db.yaml").write_text(
        "# migrated from csv2db\n"
        "presets:\n"
        "  default:\n"
        "    dburl: jdbc:pg\n"
        "    tablemode: create\n"
        "    delimiter: ';'\n"
        "    hasheader: true\n"
        "  alt:\n"
        '    filename: "/data/in.csv"\n'
        "    encoding: latin1\n"
    )
    conf = parse(["-p", "default", "-t", "t1"])
    assert conf.db_url == "jdbc:pg" and conf.table_mode == "create"
    assert conf.delimiter == ";"
    conf2 = parse(["-p", "alt", "-t", "t2"])
    assert conf2.file_name == "/data/in.csv" and conf2.encoding == "latin1"
    # JSON config (written by a save) wins over the YAML fallback
    parse(["--url", "jdbc:new", "-t", "tt", "-s", "default"])
    conf3 = parse(["-p", "default", "-t", "t3"])
    assert conf3.db_url == "jdbc:new"


def test_yaml_presets_document_marker_and_quoted_key(
    config_path, tmp_path, monkeypatch
):
    """A ``---`` document start and a quoted key are plain YAML that
    go-yaml reads: a ~/.csv2db.yaml holding them loads every preset."""
    monkeypatch.setenv("HOME", str(tmp_path))
    (tmp_path / ".csv2db.yaml").write_text(
        "---\n"
        "presets:\n"
        "  one:\n"
        '    "dburl": jdbc:x\n'
        "  two:\n"
        "    tablemode: truncate\n"
    )
    assert parse(["-p", "one", "-t", "t"]).db_url == "jdbc:x"
    assert parse(["-p", "two", "-t", "t"]).table_mode == "truncate"


def test_yaml_preset_with_lone_surrogate_is_ignored(
    config_path, tmp_path, monkeypatch, caplog
):
    """A lone surrogate escape cannot come from go-yaml (go strings are
    UTF-8) and would fail on the first UTF-8 encode, so the file is
    warned about and ignored, like any unreadable config."""
    monkeypatch.setenv("HOME", str(tmp_path))
    (tmp_path / ".csv2db.yaml").write_text(
        'presets:\n  default:\n    dburl: jdbc:x\n    delimiter: "\\ud800"\n'
    )
    with caplog.at_level("WARNING", logger="csv2db_spark.cli"):
        conf = parse(["-t", "t"])
    assert conf.db_url == "" and conf.delimiter == ","
    assert "cannot load config" in caplog.text


def test_parse_flat_yaml_rejects_rich_structures():
    import pytest as _pytest

    from csv2db_spark.cli import _parse_flat_yaml

    assert _parse_flat_yaml("presets:\n  a:\n    k: v\n") == {
        "presets": {"a": {"k": "v"}}
    }
    # empty mapping value and trailing comment scalars
    got = _parse_flat_yaml("presets:\n  a:\n    k: v # c\n    b: true\n")
    assert got["presets"]["a"] == {"k": "v", "b": True}
    with _pytest.raises(ValueError):
        _parse_flat_yaml("presets:\n  - listitem\n")


def test_parse_flat_yaml_advice_r10_fixes():
    """Tab indentation must raise (not silently flatten the mapping), a
    quoted scalar with a trailing inline comment must drop both quotes
    and comment, and go-yaml escapes inside double quotes must decode (a
    "\\t" delimiter preset must reach read_csv as one tab character, not
    a two-char backslash-t)."""
    import pytest as _pytest

    from csv2db_spark.cli import _parse_flat_yaml

    with _pytest.raises(ValueError, match=r"found character '\\t'"):
        _parse_flat_yaml("presets:\n\ta:\n\t\tk: v\n")
    got = _parse_flat_yaml('presets:\n  a:\n    k: "x" # c\n')
    assert got["presets"]["a"]["k"] == "x"
    got = _parse_flat_yaml(
        'presets:\n  a:\n    delimiter: "\\t"\n    n: "a\\"b"\n'
        "    s: 'it''s' # q\n"
    )
    assert got["presets"]["a"] == {"delimiter": "\t", "n": 'a"b', "s": "it's"}
    # unterminated quote / junk after the closing quote stay fatal
    with _pytest.raises(ValueError):
        _parse_flat_yaml('presets:\n  a:\n    k: "x\n')
    with _pytest.raises(ValueError):
        _parse_flat_yaml('presets:\n  a:\n    k: "x" y\n')
    # the FULL go-yaml emitter escape set decodes — \xXX/\uXXXX/\UXXXXXXXX
    # included — so a preset holding any control or special char does not
    # get the whole file warn-and-ignored
    got = _parse_flat_yaml(
        'presets:\n  a:\n    k: "\\x1f\\a\\e\\v\\f\\N\\_\\L\\P\\u0101\\U0001f600"\n'
    )
    assert got["presets"]["a"]["k"] == (
        "\x1f\a\x1b\v\f\u0085\u00a0\u2028\u2029\u0101\U0001f600"
    )
    # escapes outside the go-yaml set still refuse rather than silently
    # dropping the backslash, as do truncated hex forms
    with _pytest.raises(ValueError, match="unknown escape character"):
        _parse_flat_yaml('presets:\n  a:\n    k: "\\q"\n')
    with _pytest.raises(ValueError):
        _parse_flat_yaml('presets:\n  a:\n    k: "\\u00"\n')


def test_unknown_preset_warns_not_fatal(config_path, caplog):
    conf = parse(["-p", "nope", "-t", "t1"])
    assert conf.table == "t1"


def test_corrupt_config_is_nonfatal(config_path):
    config_path.write_text("{not json")
    conf = parse(["-t", "t1"])
    assert conf.table == "t1"


def test_end_to_end_parquet_store(spark, tmp_path, config_path):
    csv = tmp_path / "in.csv"
    csv.write_text("a,b\n1,x\n2,y\n")
    url = f"parquet:{tmp_path / 'db'}"
    rc = main(
        ["--url", url, "-t", "t", "-m", "create", "-i", str(csv), "--has-header"],
        spark=spark,
    )
    assert rc == 0
    got = sorted(
        (r.a, r.b)
        for r in spark.read.parquet(str(tmp_path / "db" / "t")).collect()
    )
    assert got == [("1", "x"), ("2", "y")]  # all-string create, like the ref


MAIN_PROBE = """
import json, sys
from pyspark import SparkContext
import csv2db_spark
from csv2db_spark import cli, session
procs, start = [], session.get_spark
def spy(*args, **kwargs):
    spark = start(*args, **kwargs)
    procs.append(SparkContext._gateway.proc)
    return spark
csv2db_spark.get_spark = session.get_spark = spy
rc = cli.main(["--url", "parquet:" + sys.argv[2], "-t", "t", "-m", "create",
               "-i", sys.argv[1], "--has-header"])
print(json.dumps({"rc": rc, "exited": [p.poll() is not None for p in procs]}))
"""


def test_main_returns_after_its_jvm_exits(tmp_path, config_path):
    """A load that starts its own session stops it, and its driver JVM
    has exited by the time ``main`` returns: back-to-back CLI loads never
    hold two JVMs."""
    csv = tmp_path / "in.csv"
    csv.write_text("a,b\n1,x\n")
    env = {**os.environ, "PYTHONPATH": str(Path(__file__).resolve().parents[1]),
           "SPARK_GRAFT_CPUS": "1"}
    out = subprocess.run(
        [sys.executable, "-c", MAIN_PROBE, str(csv), str(tmp_path / "db")],
        env=env, cwd=tmp_path, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert json.loads(out.stdout.strip().splitlines()[-1]) == {
        "rc": 0, "exited": [True]
    }


def test_end_to_end_stdin_to_derby(spark, tmp_path, config_path, monkeypatch):
    url = "jdbc:derby:memory:clidb;create=true"
    monkeypatch.setattr("sys.stdin", io.TextIOWrapper(io.BytesIO(b"a,b\n5,z\n")))
    rc = main(
        ["--url", url, "-t", "t", "-m", "create", "-i", "--", "--has-header"],
        spark=spark,
    )
    assert rc == 0
    got = (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", "t")
        .load()
        .collect()
    )
    assert [(r[0], r[1]) for r in got] == [("5", "z")]
    # second load against the now-existing table resolves its schema (P5)
    monkeypatch.setattr("sys.stdin", io.TextIOWrapper(io.BytesIO(b"a,b\n6,w\n")))
    assert main(["--url", url, "-t", "t", "-m", "as-is", "-i", "--", "--has-header"], spark=spark) == 0
    try:
        spark._jvm.java.sql.DriverManager.getConnection(
            "jdbc:derby:memory:clidb;drop=true"
        )
    except Exception:
        pass


def test_jdbc_readback_counts_rows_without_a_spark_job(
    spark, tmp_path, config_path, monkeypatch, caplog
):
    """After the write, the loaded row count comes from one COUNT(*) on
    the database: Spark's JDBC source does not push a count down to
    Derby, and a Spark count would read every row back through a task."""
    import logging

    from csv2db_spark import sink

    name = "clireadback"
    url = f"jdbc:derby:memory:{name};create=true"
    conn = spark._jvm.java.sql.DriverManager.getConnection(url)
    try:
        conn.createStatement().executeUpdate("CREATE TABLE rb (id INTEGER, s VARCHAR(5))")
    finally:
        conn.close()
    csv = tmp_path / "in.csv"
    csv.write_text("ID,S\n1,a\n2,b\n3,c\n")
    sc = spark.sparkContext
    group = "spark.jobGroup.id"
    write = sink.write_jdbc

    def write_then_mark(*args, **kwargs):
        write(*args, **kwargs)
        sc.setLocalProperty(group, "cli-after-write")

    monkeypatch.setattr(sink, "write_jdbc", write_then_mark)
    prior = sc.getLocalProperty(group)
    sc.setLocalProperty(group, "cli-until-write")
    try:
        with caplog.at_level(logging.INFO, logger="csv2db_spark.cli"):
            rc = main(
                ["--url", url, "-t", "rb", "-m", "as-is", "-i", str(csv), "--has-header"],
                spark=spark,
            )
        assert rc == 0
        tracker = sc.statusTracker()
        assert tracker.getJobIdsForGroup("cli-until-write")  # the write's jobs
        assert tracker.getJobIdsForGroup("cli-after-write") == []
        assert any(
            r.getMessage().endswith("table rb now has 3 rows") for r in caplog.records
        ), [r.getMessage() for r in caplog.records]
    finally:
        sc.setLocalProperty(group, prior)
        try:
            spark._jvm.java.sql.DriverManager.getConnection(
                f"jdbc:derby:memory:{name};drop=true"
            )
        except Exception:
            pass  # 08006 "database dropped" is Derby's success signal


def test_not_null_varchar_empty_cell_loads_empty_string(spark, tmp_path, config_path):
    """P8 takes "empty → NULL" only for a nullable target column, so the
    target's NOT NULL must survive the schema probe (Spark's JDBC source
    reads every column as nullable): an empty cell of a NOT NULL VARCHAR
    loads "" instead of a NULL the insert rejects."""
    name = "clinotnull"
    url = f"jdbc:derby:memory:{name};create=true"
    conn = spark._jvm.java.sql.DriverManager.getConnection(url)
    try:
        conn.createStatement().executeUpdate(
            "CREATE TABLE nn (id INTEGER NOT NULL, s VARCHAR(5) NOT NULL)"
        )
    finally:
        conn.close()
    csv = tmp_path / "in.csv"
    csv.write_text("ID,S\n1,\n2,b\n")  # Derby upper-cases unquoted names
    try:
        rc = main(
            ["--url", url, "-t", "nn", "-m", "as-is", "-i", str(csv), "--has-header"],
            spark=spark,
        )
        assert rc == 0
        got = (
            spark.read.format("jdbc").option("url", url).option("dbtable", "nn")
            .load().collect()
        )
        assert sorted((r.ID, r.S) for r in got) == [(1, ""), (2, "b")]
    finally:
        try:
            spark._jvm.java.sql.DriverManager.getConnection(
                f"jdbc:derby:memory:{name};drop=true"
            )
        except Exception:
            pass  # 08006 "database dropped" is Derby's success signal


def test_lower_case_header_loads_upper_case_table(spark, tmp_path, config_path):
    """Derby stores unquoted identifiers upper-case, so a header written
    ``id,s`` must still match columns ``ID, S`` (case-insensitive, as
    Spark resolves names): with nullable targets a case-sensitive match
    would drop every CSV column and load all-NULL rows."""
    name = "clilowerhdr"
    url = f"jdbc:derby:memory:{name};create=true"
    conn = spark._jvm.java.sql.DriverManager.getConnection(url)
    try:
        conn.createStatement().executeUpdate(
            "CREATE TABLE lh (id INTEGER, s VARCHAR(5))"
        )
    finally:
        conn.close()
    csv = tmp_path / "in.csv"
    csv.write_text("id,s\n1,a\n2,b\n")
    try:
        rc = main(
            ["--url", url, "-t", "lh", "-m", "as-is", "-i", str(csv), "--has-header"],
            spark=spark,
        )
        assert rc == 0
        got = (
            spark.read.format("jdbc").option("url", url).option("dbtable", "lh")
            .load().collect()
        )
        assert sorted((r.ID, r.S) for r in got) == [(1, "a"), (2, "b")]
    finally:
        try:
            spark._jvm.java.sql.DriverManager.getConnection(
                f"jdbc:derby:memory:{name};drop=true"
            )
        except Exception:
            pass  # 08006 "database dropped" is Derby's success signal


def test_stdin_honours_encoding_like_a_file(spark, tmp_path, config_path, monkeypatch):
    """``-e`` decodes stdin exactly as it decodes a file (P2,
    csv2db.go:190-199): the same latin-1 bytes piped through ``-i --``
    and read from a file store the same rows."""
    data = "a,b\n1,café\n".encode("latin-1")
    csv = tmp_path / "in.csv"
    csv.write_bytes(data)
    monkeypatch.setattr("sys.stdin", io.TextIOWrapper(io.BytesIO(data)))
    stored = {}
    for table, source in (("piped", "--"), ("filed", str(csv))):
        url = f"parquet:{tmp_path / 'db'}"
        flags = ["-t", table, "-m", "create", "--has-header", "-e", "ISO-8859-1"]
        assert main(["--url", url, "-i", source, *flags], spark=spark) == 0
        stored[table] = sorted(
            tuple(r) for r in spark.read.parquet(str(tmp_path / "db" / table)).collect()
        )
    assert stored["piped"] == stored["filed"] == [("1", "café")]


def test_missing_required_args_fatal(spark, config_path):
    with pytest.raises(SystemExit, match="table"):
        main(["--url", "parquet:/x", "-i", "f.csv"], spark=spark)
    with pytest.raises(SystemExit, match="url"):
        main(["-t", "t", "-i", "f.csv"], spark=spark)
    with pytest.raises(SystemExit, match="input-file"):
        main(["--url", "parquet:/x", "-t", "t"], spark=spark)


def test_resolve_auth_chain_arg_env_prompt(monkeypatch):
    # arg wins over env; env fills gaps; prompt only fires interactively
    from csv2db_spark.cli import resolve_auth

    monkeypatch.setenv("DB_USERNAME", "envuser")
    monkeypatch.setenv("DB_PASSWORD", "envpw")
    assert resolve_auth("arguser", "argpw", interactive=False) == (
        "arguser", "argpw",
    )
    assert resolve_auth("", "", interactive=False) == ("envuser", "envpw")
    monkeypatch.delenv("DB_USERNAME")
    monkeypatch.delenv("DB_PASSWORD")
    # headless (non-tty): unresolved stays None, never blocks on a prompt
    assert resolve_auth("", "", interactive=False) == (None, None)
    # interactive: prompt tail fires (reference auth.go:46-76)
    import csv2db_spark.cli as cli_mod

    monkeypatch.setattr("builtins.input", lambda _: "typeduser")
    import getpass as getpass_mod

    monkeypatch.setattr(getpass_mod, "getpass", lambda _: "typedpw")
    assert resolve_auth("", "", interactive=True) == ("typeduser", "typedpw")


def test_password_never_persisted_in_presets(config_path):
    # the password flag must not leak into the stored preset file
    from csv2db_spark.cli import build_parser, load_config

    args = build_parser().parse_args(
        [
            "--url", "jdbc:derby:x", "-t", "t", "-i", "f.csv",
            "-u", "alice", "-w", "s3cret", "-s", "mypreset",
        ]
    )
    conf = load_config(args)
    assert conf.user == "alice"
    assert not hasattr(conf, "password")
    import json

    with open(config_path) as f:
        raw = json.load(f)
    assert raw["presets"]["mypreset"]["user"] == "alice"
    assert "s3cret" not in json.dumps(raw)


def test_split_url_userinfo():
    from csv2db_spark.cli import split_url_userinfo

    assert split_url_userinfo("postgres://u:p@host:5432/db") == (
        "postgres://host:5432/db", "u", "p",
    )
    assert split_url_userinfo("jdbc:postgresql://u:p@host/db") == (
        "jdbc:postgresql://host/db", "u", "p",
    )
    # user only, no password
    assert split_url_userinfo("mysql://bob@host/db") == (
        "mysql://host/db", "bob", "",
    )
    # percent-decoding (net/url semantics in the reference's dburl)
    assert split_url_userinfo("postgres://u%40corp:p%3Aw@h/db") == (
        "postgres://h/db", "u@corp", "p:w",
    )
    # no userinfo / no scheme: untouched
    assert split_url_userinfo("jdbc:derby:memory:x") == (
        "jdbc:derby:memory:x", "", "",
    )
    assert split_url_userinfo("postgres://host/db") == (
        "postgres://host/db", "", "",
    )


def test_resolve_auth_url_userinfo_heads_the_chain(monkeypatch):
    """Reference auth.go:15-19: UrlContainsAuthInfo is the FIRST
    provider — URL credentials beat flags, env, and the prompt; each
    later link fills only missing pieces."""
    from csv2db_spark.cli import resolve_auth

    url = "postgres://urluser:urlpw@h/db"
    monkeypatch.setenv("DB_USERNAME", "envuser")
    monkeypatch.setenv("DB_PASSWORD", "envpw")
    # url wins over arg and env
    assert resolve_auth("arguser", "argpw", interactive=False, url=url) == (
        "urluser", "urlpw",
    )
    # partial userinfo: env fills the missing password
    assert resolve_auth("", "", interactive=False, url="postgres://u@h/db") == (
        "u", "envpw",
    )
    monkeypatch.delenv("DB_USERNAME")
    monkeypatch.delenv("DB_PASSWORD")
    # userinfo alone suffices headless — no env, no prompt
    assert resolve_auth("", "", interactive=False, url=url) == (
        "urluser", "urlpw",
    )
    # no userinfo: chain degrades exactly as before
    assert resolve_auth("", "", interactive=False, url="postgres://h/db") == (
        None, None,
    )


def test_cli_sql_subcommand_round_trips(spark, sf_dir, capsys):
    from csv2db_spark.cli import main

    rc = main(
        [
            "sql",
            "SELECT r_name, count(*) AS n FROM region GROUP BY r_name"
            " ORDER BY r_name",
            "--sf-dir",
            sf_dir,
        ],
        spark=spark,
    )
    assert rc == 0
    out = capsys.readouterr().out.strip().splitlines()
    assert out[0] == "r_name,n"
    assert len(out) == 6  # header + 5 regions


def test_cli_sql_limit(spark, sf_dir, capsys):
    from csv2db_spark.cli import main

    rc = main(
        ["sql", "SELECT o_orderkey FROM orders", "--sf-dir", sf_dir,
         "--limit", "3"],
        spark=spark,
    )
    assert rc == 0
    assert len(capsys.readouterr().out.strip().splitlines()) == 4


def test_parse_flat_yaml_roundtrip_property():
    """Property: any ConfigStorage-shaped preset dict, serialized the
    way go-yaml lays it out (two-level mapping, lowercased keys,
    quoted-or-bare scalars), parses back to the same values. Runs the
    hypothesis tier's job for the migration path without Spark."""
    import pytest as _pytest

    hyp = _pytest.importorskip("hypothesis")
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from csv2db_spark.cli import _parse_flat_yaml

    bare = st.text(
        alphabet="abcdefghijklmnopqrstuvwxyz0123456789_-./:",
        min_size=1,
        max_size=20,
    ).filter(lambda s: s.lower() not in ("true", "false") and not s.startswith("#"))
    # values go-yaml would double-quote-and-escape (a tab delimiter
    # round-trips as "\t"); serialized below with the same escapes
    # go-yaml emits
    escaped = st.text(
        alphabet='abc\t\n"\\',
        min_size=1,
        max_size=8,
    )
    key = st.text(alphabet="abcdefghijklmnopqrstuvwxyz", min_size=1, max_size=12)
    scalar = st.one_of(bare, st.booleans(), escaped)

    @settings(max_examples=200, deadline=None)
    @given(
        presets=st.dictionaries(
            key, st.dictionaries(key, scalar, max_size=6), min_size=0, max_size=4
        )
    )
    def check(presets):
        lines = ["presets:"]
        for name, fieldsd in presets.items():
            lines.append(f"  {name}:")
            for k, v in fieldsd.items():
                if isinstance(v, bool):
                    lines.append(f"    {k}: {'true' if v else 'false'}")
                else:
                    enc = (
                        v.replace("\\", "\\\\")
                        .replace('"', '\\"')
                        .replace("\t", "\\t")
                        .replace("\n", "\\n")
                    )
                    lines.append(f'    {k}: "{enc}"')
        got = _parse_flat_yaml("\n".join(lines) + "\n")
        # an empty mapping value parses as "" (scalar-empty), same shape
        # go-yaml gives an empty Presets map
        if not presets:
            assert got["presets"] in ({}, "")
            return
        for n, f in presets.items():
            if f:
                assert got["presets"][n] == f
            else:
                assert got["presets"][n] in ({}, "")

    check()


def test_dq_escape_decoder_against_goyaml_emitter_model():
    """Property: decode the exact double-quoted
    encodings go-yaml's emitter can produce. The model below mirrors
    yaml.v2/v3 emitterc.go yaml_emitter_write_double_quoted_scalar with
    unicode=true (what yaml.Marshal uses): the YAML 1.1 single-char
    escapes \\0 \\a \\b \\t \\n \\v \\f \\r \\e \\" \\\\ \\N \\_ \\L \\P
    for their code points, hex forms \\xXX / \\uXXXX / \\UXXXXXXXX for
    any other non-printable, and everything else literal. Any string a
    reference-written ~/.csv2db.yaml preset can contain must survive
    encode->_parse_flat_yaml unchanged: one exotic escape must not
    poison the whole config file."""
    import pytest as _pytest

    _pytest.importorskip("hypothesis")
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from csv2db_spark.cli import _parse_flat_yaml

    specials = {
        "\0": "\\0", "\a": "\\a", "\b": "\\b", "\t": "\\t", "\n": "\\n",
        "\v": "\\v", "\f": "\\f", "\r": "\\r", "\x1b": "\\e",
        '"': '\\"', "\\": "\\\\",
        "\u0085": "\\N", "\u00a0": "\\_", "\u2028": "\\L", "\u2029": "\\P",
    }

    def printable(cp: int) -> bool:
        # emitterc.go is_printable (unicode branch)
        return (
            cp == 0x09
            or 0x20 <= cp <= 0x7E
            or cp == 0x85
            or (0xA0 <= cp <= 0xD7FF)
            or (0xE000 <= cp <= 0xFFFD)
            or (0x10000 <= cp <= 0x10FFFF)
        )

    def enc_char(ch: str) -> str:
        if ch in specials:
            return specials[ch]
        cp = ord(ch)
        if not printable(cp):
            if cp <= 0xFF:
                return f"\\x{cp:02X}"
            if cp <= 0xFFFF:
                return f"\\u{cp:04X}"
            return f"\\U{cp:08X}"
        return ch

    def goyaml_dq(s: str, start_col: int, cont_indent: int, width: int = 80) -> str:
        """Mirror of the emitter's write loop INCLUDING width folding:
        past best_width it emits a line break instead of a space (the
        parse-side fold restores it) and protects a following space
        with a leading backslash on the continuation line."""
        lines_out: list[str] = []
        cur = ['"']
        col = start_col + 1
        spaces = False
        for i, ch in enumerate(s):
            if ch == " " and not spaces and col > width and 0 < i < len(s) - 1:
                lines_out.append("".join(cur))
                cur = [" " * cont_indent]
                col = cont_indent
                if s[i + 1] == " ":
                    cur.append("\\")
                    col += 1
                spaces = True
                continue
            e = enc_char(ch)
            cur.append(e)
            col += len(e)
            spaces = ch == " "
        cur.append('"')
        lines_out.append("".join(cur))
        return "\n".join(lines_out)

    # surrogates can't round-trip through a file read; go strings are
    # UTF-8 and can't hold them either
    chars = st.characters(blacklist_categories=("Cs",))
    words = st.text(alphabet=chars, min_size=0, max_size=12)

    @settings(max_examples=500, deadline=None)
    @given(st.lists(words, min_size=1, max_size=30).map(" ".join))
    def check(s):
        enc = goyaml_dq(s, start_col=len("    k: "), cont_indent=6)
        got = _parse_flat_yaml(f"presets:\n  a:\n    k: {enc}\n")
        assert got["presets"]["a"]["k"] == s

    check()


def test_parse_flat_yaml_width_folding_cases():
    """Explicit folds: go-yaml breaks scalars longer than best_width=80
    at a space — double-quoted, single-quoted, and plain styles all
    fold. A long value that fails to unfold would take every preset with
    it (the whole file is warned and ignored)."""
    from csv2db_spark.cli import _parse_flat_yaml

    long_path = "/data/" + " ".join(f"dir{i:02d}" for i in range(20)) + "/in.csv"
    # double-quoted fold: break replaces one space
    cut = long_path.index(" ", 70)  # the emitter breaks AT a space
    head = f'"{long_path[:cut]}'
    tail = long_path[cut:]
    assert tail.startswith(" ")
    got = _parse_flat_yaml(
        f"presets:\n  a:\n    filename: {head}\n      {tail[1:]}\"\n"
    )
    assert got["presets"]["a"]["filename"] == long_path
    # double-quoted escaped break: odd trailing backslash joins with NO space
    got = _parse_flat_yaml('presets:\n  a:\n    k: "ab\\\n      cd"\n')
    assert got["presets"]["a"]["k"] == "abcd"
    # ...while an escaped backslash (even run) before the break folds normally
    got = _parse_flat_yaml('presets:\n  a:\n    k: "ab\\\\\n      cd"\n')
    assert got["presets"]["a"]["k"] == "ab\\ cd"
    # protected second space: continuation starts with backslash-space
    got = _parse_flat_yaml('presets:\n  a:\n    k: "ab\n      \\ cd"\n')
    assert got["presets"]["a"]["k"] == "ab  cd"
    # blank line inside the quotes = an extra break = a real newline
    got = _parse_flat_yaml('presets:\n  a:\n    k: "ab\n\n      cd"\n')
    assert got["presets"]["a"]["k"] == "ab\ncd"
    # single-quoted fold
    got = _parse_flat_yaml("presets:\n  a:\n    k: 'ab\n      cd'\n")
    assert got["presets"]["a"]["k"] == "ab cd"
    # plain fold: deeper-indented non-key line joins with a space...
    got = _parse_flat_yaml("presets:\n  a:\n    k: ab\n      cd\n    j: x\n")
    assert got["presets"]["a"] == {"k": "ab cd", "j": "x"}
    # ...but a key-shaped line (': ' or trailing ':') never joins
    got = _parse_flat_yaml("presets:\n  a:\n    k: ab\n    j: x\n")
    assert got["presets"]["a"] == {"k": "ab", "j": "x"}
    # unterminated quote at EOF still refuses
    import pytest as _pytest

    with _pytest.raises(ValueError, match="found unexpected end of stream"):
        _parse_flat_yaml('presets:\n  a:\n    k: "ab\n      cd\n')
    # Unicode Zs spaces are CONTENT, not whitespace: go-yaml emits U+2003 etc. raw (printable, not is_space to its
    # emitter) and YAML folding strips only space/tab, so a Unicode-
    # aware strip() would silently corrupt the preset value
    got = _parse_flat_yaml('presets:\n  a:\n    k: "ab\u2003\n      \u2003cd"\n')
    assert got["presets"]["a"]["k"] == "ab\u2003 \u2003cd"
    # a continuation line holding ONLY U+2003 is content, not a blank
    got = _parse_flat_yaml('presets:\n  a:\n    k: "ab\n      \u2003\n      cd"\n')
    assert got["presets"]["a"]["k"] == "ab \u2003 cd"
    # plain fold keeps Zs too, and a single-line plain value keeps a
    # trailing Zs (only space/tab are stripped)
    got = _parse_flat_yaml("presets:\n  a:\n    k: ab\n      \u2003cd\n")
    assert got["presets"]["a"]["k"] == "ab \u2003cd"
    got = _parse_flat_yaml("presets:\n  a:\n    k: ab\u2003 \n")
    assert got["presets"]["a"]["k"] == "ab\u2003"


def test_parse_flat_yaml_differential_vs_pyyaml():
    """Differential property: on emitter-shaped config files,
    _parse_flat_yaml (PyYAML with only the bool resolver, plus the shape
    checks) must agree with PyYAML's safe_load. The generator emits the
    two-level ConfigStorage shape with values in all three styles the
    go-yaml emitter uses — plain, single-quoted, double-quoted with
    escapes and width folds — so this checks that the restricted loader
    and the checks change no value a reference-written file holds."""
    import pytest as _pytest

    yaml = _pytest.importorskip("yaml")
    _pytest.importorskip("hypothesis")
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from csv2db_spark.cli import _parse_flat_yaml

    # characters legal in all three styles and uninteresting to YAML
    # syntax, plus the ones that exercise escapes/folds/Zs handling
    content = st.text(
        alphabet="abXY9 _-./\t\n\"'\\ é",
        min_size=0,
        max_size=120,
    )
    key = st.text(alphabet="abcdefghij", min_size=1, max_size=8)

    def dump(presets: dict) -> str:
        # PyYAML's emitter folds at best_width like go-yaml (both are
        # libyaml ports), so its OUTPUT is a fair stand-in for a
        # reference-written file, including folded long scalars
        return yaml.safe_dump(
            {"presets": presets}, default_flow_style=False, width=80,
            allow_unicode=True,
        )

    @settings(max_examples=300, deadline=None)
    @given(
        presets=st.dictionaries(
            key, st.dictionaries(key, content, min_size=1, max_size=4),
            min_size=1, max_size=3,
        )
    )
    def check(presets):
        text = dump(presets)
        # block scalars (|-, >-) and flow style are out of the subset
        # the go-yaml ConfigStorage shape produces for FLAT string
        # fields only when values hold newlines; skip those dumps
        if any(
            ln.lstrip().startswith(("|", ">")) or ": |" in ln or ": >" in ln
            for ln in text.splitlines()
        ):
            return
        got = _parse_flat_yaml(text)
        want = yaml.safe_load(text)
        assert got == want

    check()
