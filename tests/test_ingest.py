"""Ported manual test corpus (reference sample/manual_test_cases.md →
SURVEY.md §2.3) plus cast-semantics unit tests.

The reference's golden outputs are reproduced as in-memory assertions on
the reconciled/cast DataFrame; the JDBC sink is replaced by collect()
(tests/test_sink.py covers the table-mode matrix against a local store).
"""

from __future__ import annotations

import csv
import glob
import io

import pytest
from pyspark.errors.exceptions.captured import SparkRuntimeException
from pyspark.sql import types as T

from csv2db_spark.ingest import (
    cast_to_schema,
    ingest_csv,
    read_csv,
    read_csv_stdin,
    reconcile_by_index,
    reconcile_by_name,
)

# FIXTURES.md A4: canonical existing-table schema (jsonb/date degrade to
# string per _postgres/postgres.go:26-34)
TARGET = T.StructType(
    [
        T.StructField("a", T.LongType(), True),
        T.StructField("b", T.IntegerType(), False),
        T.StructField("c", T.StringType(), True),
        T.StructField("d", T.StringType(), True),
        T.StructField("e", T.StringType(), True),
    ]
)

NO_HEADER = "1,2,qqq,{},2017-01-01\n,4,,,"
HEADER = "a,b,c,d,e\n" + NO_HEADER
HEADER_SHORT = "a,c,d,e\n1,qqq,{},2017-01-01\n,,,"
HEADER_SCRAMBLED = "e,c,a,b,d\n2017-01-01,qqq,1,2,{}\n,,,4,"


@pytest.fixture
def stdin(monkeypatch):
    """Feed bytes to ``sys.stdin`` (a text wrapper with a ``.buffer``,
    like the real one)."""

    def feed(data: str | bytes) -> None:
        raw = data.encode("utf-8") if isinstance(data, str) else data
        monkeypatch.setattr("sys.stdin", io.TextIOWrapper(io.BytesIO(raw)))

    return feed


@pytest.fixture
def csv_file(tmp_path):
    def write(content: str, name: str = "in.csv") -> str:
        p = tmp_path / name
        p.write_text(content)
        return str(p)

    return write


def test_headerless_synthesized_names(spark, csv_file):
    # manual case 2: headerless create → col0..colN (common/schema.go:157-169)
    df = read_csv(spark, csv_file(NO_HEADER), has_header=False)
    assert df.columns == ["col0", "col1", "col2", "col3", "col4"]
    rows = df.collect()
    assert rows[0].col0 == "1" and rows[0].col3 == "{}"
    assert rows[1].col0 == "" and rows[1].col1 == "4"


def test_header_names(spark, csv_file):
    df = read_csv(spark, csv_file(HEADER))
    assert df.columns == ["a", "b", "c", "d", "e"]


def test_typed_cast_and_empty_null(spark, csv_file):
    # manual cases 3/8: '1'→bigint, '{}' and date ride through as strings,
    # ""→NULL for nullable targets
    df = ingest_csv(spark, csv_file(HEADER), TARGET)
    # types match the target; nullability of computed columns is always
    # True in Spark — NOT NULL is enforced at runtime (test below)
    assert [(f.name, f.dataType) for f in df.schema.fields] == [
        (f.name, f.dataType) for f in TARGET.fields
    ]
    r1, r2 = df.collect()
    assert r1.a == 1 and r1.b == 2 and r1.c == "qqq" and r1.d == "{}"
    assert r1.e == "2017-01-01"
    assert r2.a is None and r2.b == 4 and r2.c is None  # "" → NULL (nullable)


def test_not_null_empty_aborts(spark, csv_file):
    # manual case 3: NOT NULL b + empty value → abort the whole load
    bad = "a,b,c,d,e\n1,,x,y,z"
    df = ingest_csv(spark, csv_file(bad), TARGET)
    with pytest.raises(SparkRuntimeException, match="cannot cast"):
        df.collect()


def test_wider_table_null_fill(spark, csv_file):
    # manual case 4: target has column f that the CSV lacks → NULL
    wider = T.StructType(TARGET.fields + [T.StructField("f", T.StringType(), True)])
    df = ingest_csv(spark, csv_file(HEADER), wider)
    assert df.columns == ["a", "b", "c", "d", "e", "f"]
    assert all(r.f is None for r in df.collect())


def test_narrower_table_drops_extra(spark, csv_file):
    # manual case 5: CSV wider than target → extra columns silently dropped
    narrower = T.StructType(TARGET.fields[:3])
    df = ingest_csv(spark, csv_file(HEADER), narrower)
    assert df.columns == ["a", "b", "c"]
    assert df.count() == 2


def test_by_name_reorder(spark, csv_file):
    # manual case 6: header order differs from table order → match by name
    df = ingest_csv(spark, csv_file(HEADER_SCRAMBLED), TARGET)
    r1, r2 = df.collect()
    assert (r1.a, r1.b, r1.c, r1.d, r1.e) == (1, 2, "qqq", "{}", "2017-01-01")
    assert r2.b == 4 and r2.a is None


def test_by_name_folds_case_like_spark(spark, csv_file):
    # header names match target names case-insensitively unless
    # spark.sql.caseSensitive is on; two headers folding to one target
    # column are ambiguous and refused
    df = ingest_csv(spark, csv_file(HEADER.replace("a,b,c", "A,B,c", 1)), TARGET)
    assert df.columns == ["a", "b", "c", "d", "e"]
    assert df.collect()[0].b == 2
    dup = spark.createDataFrame([("1", "2")], "a string, A string")
    with pytest.raises(ValueError, match="both match target column 'a'"):
        reconcile_by_name(dup, TARGET)
    spark.conf.set("spark.sql.caseSensitive", "true")
    try:
        got = reconcile_by_name(spark.createDataFrame([("1",)], "A string"), TARGET)
        assert got.collect()[0].a is None
    finally:
        spark.conf.unset("spark.sql.caseSensitive")


def test_header_subset_null_fill(spark, csv_file):
    # manual_test_cases.md:207-228: CSV missing column b → NULL (target b
    # nullable in that scenario; a NOT NULL b would abort — next test)
    nullable_b = T.StructType(
        [T.StructField(f.name, f.dataType, True) for f in TARGET.fields]
    )
    df = ingest_csv(spark, csv_file(HEADER_SHORT), nullable_b)
    r1, r2 = df.collect()
    assert r1.a == 1 and r1.b is None and r1.c == "qqq"
    assert r2.a is None


def test_header_subset_not_null_aborts(spark, csv_file):
    # missing CSV column for a NOT NULL target → fatal, like the DB
    # rejecting the NULL insert
    df = ingest_csv(spark, csv_file(HEADER_SHORT), TARGET)
    with pytest.raises(SparkRuntimeException, match="cannot cast"):
        df.collect()


def test_by_index_reconcile(spark, csv_file):
    # headerless + existing table → pair by ordinal (common/schema.go:85-105)
    df = ingest_csv(spark, csv_file(NO_HEADER), TARGET, has_header=False)
    r1, _ = df.collect()
    assert r1.a == 1 and r1.b == 2 and r1.e == "2017-01-01"


def test_ragged_row_failfast(spark, csv_file):
    # SURVEY.md §2.3 case 7: inconsistent field count is fatal
    ragged = "a,b,c,d,e\n1,2,3,4,5\n1,2,3"
    df = read_csv(spark, csv_file(ragged))
    with pytest.raises(Exception, match="Malformed|FAILFAST"):
        df.collect()


def test_int_strictness(spark, csv_file):
    # Go strconv.ParseInt rejects '1.5' — so do we
    bad = "a,b,c,d,e\n1.5,2,x,y,z"
    df = ingest_csv(spark, csv_file(bad), TARGET)
    with pytest.raises(SparkRuntimeException, match="cannot cast"):
        df.collect()


def test_non_null_string_keeps_empty(spark, csv_file):
    # "" parses to "" for a NOT NULL string target (val_mapper.go:44-46)
    schema = T.StructType([T.StructField("c", T.StringType(), False)])
    df = ingest_csv(spark, csv_file("c\nx\n\"\""), schema)
    vals = [r.c for r in df.collect()]
    assert vals == ["x", ""]


def test_delimiter_and_encoding(spark, csv_file):
    df = read_csv(spark, csv_file("a;b\n1;2"), delimiter=";")
    assert df.columns == ["a", "b"]
    with pytest.raises(ValueError, match="single character"):
        read_csv(spark, csv_file("a,b\n1,2"), delimiter=";;")


def test_latin1_encoding(spark, tmp_path):
    p = tmp_path / "latin1.csv"
    p.write_bytes("name\ncaf\xe9".encode("latin-1"))
    df = read_csv(spark, str(p), encoding="ISO-8859-1")
    assert df.collect()[0].name == "caf\xe9"


def test_latin1_typed_ingest_failfast(spark, tmp_path):
    # P2 parity (csv2db.go:190-199): Latin-1 bytes decode to the same
    # values a UTF-8 load of the equivalent text produces, through the
    # full FAILFAST read→reconcile→cast pipeline
    target = T.StructType(
        [
            T.StructField("id", T.LongType(), False),
            T.StructField("name", T.StringType(), True),
        ]
    )
    p = tmp_path / "latin1_typed.csv"
    p.write_bytes("id,name\n1,caf\xe9\n2,na\xefve\n3,".encode("latin-1"))
    got = ingest_csv(spark, str(p), target, encoding="ISO-8859-1").collect()
    assert [(r.id, r.name) for r in got] == [
        (1, "caf\xe9"),
        (2, "na\xefve"),
        (3, None),
    ]


# ------------------------------------------------------------ stdin


def test_buffer_header_and_types(spark, stdin):
    # a UTF-8 BOM is skipped, as the JVM reader skips it in a file
    stdin(b"\xef\xbb\xbf" + HEADER.encode())
    df = ingest_csv(spark, "-", TARGET)
    rows = df.collect()
    assert rows[0].a == 1 and rows[0].b == 2 and rows[0].c == "qqq"
    assert rows[1].a is None and rows[1].b == 4 and rows[1].c is None


def test_buffer_headerless_names(spark, stdin):
    stdin(NO_HEADER)
    df = read_csv(spark, "--", has_header=False)
    assert df.columns == ["col0", "col1", "col2", "col3", "col4"]
    assert df.collect()[0].col0 == "1"


def test_buffer_quoted_newline(spark, stdin):
    # stdin is cut at record boundaries, so a quoted newline stays in its field
    stdin('a,b\n1,"two\nlines"\n2,x')
    df = read_csv(spark, "-")
    vals = {r.a: r.b for r in df.collect()}
    assert vals["1"] == "two\nlines" and vals["2"] == "x"


def test_buffer_ragged_row_raises(spark, stdin):
    # the scan of the chunk files fails the load FAILFAST, as for a file
    stdin("a,b\n1,2,3")
    df = read_csv(spark, "-")
    with pytest.raises(Exception, match="Malformed|FAILFAST"):
        df.collect()


def test_stdin_gives_file_rows_on_stray_quote(spark, tmp_path, stdin):
    """A quote that opens mid-field is not CSV quoting: stdin and a file
    holding the same bytes load the same rows, because both go through
    the same scan."""
    data = 'a,b\n1,"x"y\n'
    p = tmp_path / "in.csv"
    p.write_text(data)
    stdin(data)
    assert read_csv(spark, "-").collect() == read_csv(spark, str(p)).collect()


def test_buffer_empty_raises(spark, stdin):
    stdin("")
    with pytest.raises(ValueError, match="empty"):
        read_csv(spark, "-")


def test_stdin_refuses_what_it_cannot_honour(spark, stdin):
    """Stdin is parsed FAILFAST and decoded by Python's codecs: another
    parse mode or a charset Python does not know raises instead of
    being ignored."""
    stdin("a\n1\n")
    with pytest.raises(ValueError, match="FAILFAST"):
        read_csv(spark, "-", mode="PERMISSIVE")
    with pytest.raises(ValueError, match="decode stdin"):
        read_csv(spark, "-", encoding="x-IBM930")


def test_permissive_and_dropmalformed_modes(spark, csv_file):
    # extension beyond the reference's FAILFAST posture: ragged rows are
    # padded (PERMISSIVE) or skipped (DROPMALFORMED) instead of fatal
    ragged = "a,b,c\n1,2,3\nonlyone\n4,5,6"
    p = csv_file(ragged, "ragged.csv")
    perm = read_csv(spark, p, mode="PERMISSIVE").collect()
    assert len(perm) == 3  # short row kept, padded with ""
    assert [r.a for r in perm] == ["1", "onlyone", "4"]
    assert perm[1].b == "" and perm[1].c == ""
    drop = read_csv(spark, p, mode="DROPMALFORMED").collect()
    assert [tuple(r) for r in drop] == [("1", "2", "3"), ("4", "5", "6")]


def test_charset_matrix_breadth(spark, tmp_path):
    """P2 charset breadth (csv2db.go:190-199 delegates to Go's charset
    package — ANY registered encoding): beyond the UTF-8/latin-1 gates,
    pin shift_jis (multibyte, ASCII-compatible newline), EUC-KR, and
    cp1251 round-trips through the reader's encoding option. Each file
    carries non-ASCII text that decodes DIFFERENTLY (or not at all)
    under the wrong charset, so a silently-ignored option fails the
    value assert, not just the happy path."""
    cases = [
        ("shift_jis", "名前,都市\n太郎,東京\n花子,大阪\n",
         [("太郎", "東京"), ("花子", "大阪")], ["名前", "都市"]),
        ("euc_kr", "이름,도시\n민준,서울\n서연,부산\n",
         [("민준", "서울"), ("서연", "부산")], ["이름", "도시"]),
        ("cp1251", "имя,город\nИван,Москва\nОльга,Киев\n",
         [("Иван", "Москва"), ("Ольга", "Киев")], ["имя", "город"]),
    ]
    for enc, text, want_rows, _names in cases:
        p = tmp_path / f"{enc}.csv"
        p.write_bytes(text.encode(enc))
        df = read_csv(spark, str(p), encoding=enc)
        got = [tuple(r) for r in df.collect()]
        assert got == want_rows, f"{enc}: {got}"


def test_glob_non_ascii_header(spark, tmp_path):
    """A glob's header is read from its first matching file and decoded
    under the requested charset."""
    d = tmp_path / "sj"
    d.mkdir()
    (d / "part.csv").write_bytes("名前,都市\n太郎,東京\n".encode("shift_jis"))
    df = read_csv(spark, str(d / "*.csv"), encoding="shift_jis")
    assert df.columns == ["名前", "都市"]
    assert [tuple(r) for r in df.collect()] == [("太郎", "東京")]


def test_read_csv_uri_spellings_and_strict_decode(spark, tmp_path):
    """Every path spelling Spark reads names the file Spark reads:
    ``file:/p`` and ``file:///p``, a literal ``%20`` (Hadoop's Path does
    not percent-decode, so the space-named decoy is not read) and a
    ``#`` (not a URI fragment to Hadoop). Header bytes that are invalid
    in the requested charset raise instead of naming a column U+FFFD."""
    p = tmp_path / "u.csv"
    p.write_text("a,b\n1,2\n")
    pct = tmp_path / "x%20y.csv"
    pct.write_text("h1,h2\n1,2\n")
    (tmp_path / "x y.csv").write_text("w1,w2\n1,2\n")
    frag = tmp_path / "x#y.csv"
    frag.write_text("f1,f2\n1,2\n")
    for spelling, names in [
        (str(p), ["a", "b"]),
        (f"file:{p}", ["a", "b"]),
        (f"file://{p}", ["a", "b"]),
        (f"file://{pct}", ["h1", "h2"]),
        (f"file:{pct}", ["h1", "h2"]),
        (str(frag), ["f1", "f2"]),
        (f"file:{frag}", ["f1", "f2"]),
        (f"file://{frag}", ["f1", "f2"]),
    ]:
        df = read_csv(spark, spelling)
        assert df.columns == names, spelling
        assert [tuple(r) for r in df.collect()] == [("1", "2")], spelling
    bad = tmp_path / "bad.csv"
    bad.write_bytes("名前,都市\nx,y\n".encode("shift_jis"))
    with pytest.raises(ValueError, match="not valid UTF-8"):
        read_csv(spark, str(bad))
    df = read_csv(spark, str(bad), encoding="shift_jis")
    assert df.columns == ["名前", "都市"]
    assert [tuple(r) for r in df.collect()] == [("x", "y")]


def test_multiline_header_sniff_matches_reader_semantics(spark, tmp_path):
    """multiline=True: a quoted newline in a HEADER NAME spans lines in
    both the header read and the scan, and the scan's header check
    accepts it."""
    p = tmp_path / "mh.csv"
    p.write_text('a,"b\nc"\n1,2\n')
    df = read_csv(spark, str(p), multiline=True)
    assert df.columns == ["a", "b\nc"]
    assert [tuple(r) for r in df.collect()] == [("1", "2")]


def test_mixed_headers_in_one_directory_raise(spark, tmp_path):
    """Every file of a directory must carry the first file's header: a
    file with its columns swapped fails the load instead of landing its
    values in the wrong columns."""
    d = tmp_path / "mixed"
    d.mkdir()
    (d / "f1.csv").write_text("a,b\n1,2\n")
    (d / "f2.csv").write_text("b,a\n3,4\n")
    df = read_csv(spark, str(d))
    assert df.columns == ["a", "b"]
    with pytest.raises(Exception, match="CSV header does not conform"):
        df.collect()


def test_header_quirks_load_under_the_header_check(spark, tmp_path):
    """A BOM, an empty name and names with spaces still load once Spark
    checks the header against the names read on the driver."""
    for text, names in [
        ("\ufeffa,b\n1,2\n", ["a", "b"]),
        ("a,,b\n1,x,2\n", ["a", "", "b"]),
        (" a , b\n1,2\n", [" a ", " b"]),
    ]:
        p = tmp_path / "q.csv"
        p.write_text(text)
        df = read_csv(spark, str(p))
        assert df.columns == names, text
        assert [(r[0], r[-1]) for r in df.collect()] == [("1", "2")], text


@pytest.mark.parametrize(
    "text, names",
    [('"a"b,c\n1,2\n', ['"a"b', "c"]), ('"a" ,b\n1,2\n', ["a", "b"])],
)
def test_stray_quote_headers_split_as_the_header_check_splits_them(
    spark, tmp_path, stdin, text, names
):
    """The header is split by univocity under the scan's own settings,
    as Spark's header check splits it: text after a closing quote stays
    in the name, a space after it is dropped. A file read either way and
    stdin load under the same names."""
    p = tmp_path / "q.csv"
    p.write_text(text)
    for multiline in (False, True):
        df = read_csv(spark, str(p), multiline=multiline)
        assert df.columns == names, multiline
        assert [tuple(r) for r in df.collect()] == [("1", "2")]
    stdin(text)
    df = read_csv(spark, "-")
    assert df.columns == names
    assert [tuple(r) for r in df.collect()] == [("1", "2")]


def test_blank_lines_before_the_header_are_skipped(spark, tmp_path):
    """Spark's line-split scan skips lines that trim to nothing before
    the header, so the header read skips them too."""
    p = tmp_path / "b.csv"
    p.write_text("\n  \t\na,b\n1,2\n")
    df = read_csv(spark, str(p))
    assert df.columns == ["a", "b"]
    assert [tuple(r) for r in df.collect()] == [("1", "2")]


def test_read_csv_builds_without_a_spark_job(spark, tmp_path):
    """Building the frame reads the header on the driver and runs no
    Spark job, for a file, a directory, a glob and a gzipped file."""
    import gzip

    d = tmp_path / "parts"
    d.mkdir()
    (d / "_SUCCESS").write_text("")
    (d / ".hidden.csv").write_text("x,y\n")
    (d / "p0.csv").write_text("a,b\n1,2\n")
    (d / "p1.csv").write_text("a,b\n3,4\n")
    gz = tmp_path / "g.csv.gz"
    gz.write_bytes(gzip.compress(b"a,b\n5,6\n"))
    sc = spark.sparkContext
    for i, path in enumerate([d / "p0.csv", d, d / "p*.csv", gz]):
        group = f"read_csv_build_{i}"
        sc.setJobGroup(group, group)
        try:
            df = read_csv(spark, str(path))
        finally:
            sc.setJobGroup("", "")
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        assert df.columns == ["a", "b"], path
        assert sc.statusTracker().getJobIdsForGroup(group) == [], path
    assert sorted(tuple(r) for r in df.collect()) == [("5", "6")]


def test_charset_alias_does_not_enable_java_registry(spark, tmp_path):
    """'UTF8' / 'latin1' spellings are native charsets and must NOT flip
    the session-wide legacy.javaCharsets conf; a genuinely non-native
    charset still does."""
    p = tmp_path / "a.csv"
    p.write_text("a,b\n1,2\n")
    spark.conf.unset("spark.sql.legacy.javaCharsets")
    for alias in ("UTF8", "latin1", "L1", "utf_8", "ASCII"):
        read_csv(spark, str(p), encoding=alias).collect()
        assert (
            spark.conf.get("spark.sql.legacy.javaCharsets", None) is None
        ), alias
    # a non-native charset sets it
    d = tmp_path / "g"
    d.mkdir()
    (d / "x.csv").write_bytes("a,b\n1,2\n".encode("euc_kr"))
    read_csv(spark, str(d / "*.csv"), encoding="euc_kr").collect()
    assert spark.conf.get("spark.sql.legacy.javaCharsets") == "true"


def _quoted_csv() -> str:
    rows = []
    for i in range(2000):
        if i % 7 == 0:
            rows.append(f'{i},"line one\nline {i}, two",z{i}')
        else:
            rows.append(f"{i},plain {i},z{i}")
    return "a,b,c\n" + "\n".join(rows) + "\n"


# (name, text, has_header, chunk_chars of the spilled-stdin source)
_SOURCE_CASES = [
    # quoted newlines and commas straddle chunk boundaries
    ("quoted", _quoted_csv(), True, 1024),
    # headerless: the first record is data and must survive the peel-off
    ("headerless", "1,x\n2,y\n3,z\n", False, 4),
    # whitespace-only lines are one-field records, not blank lines
    ("whitespace", "c\n \nx\n  \ny\n", True, 2),
    # blank lines are skipped, as the univocity and Go readers skip them
    ("blank_lines", "a,b\n1,2\n\n3,4\n\n", True, 4),
    # a \r\n line end is a line end, not a trailing \r in the last field
    ("crlf", "a,b\r\n1,x\r\n2,y\r\n", True, 4),
    # a quote inside an unquoted field opens no quoted field, so the
    # quoted newline of the next row does not move a record cut
    ("stray_quote", 'a,b\n1,5"\n2,"x\ny"\n3,z\n', True, 4),
]


@pytest.mark.parametrize("source", ["file", "short_stdin", "spilled_stdin"])
def test_csv_sources_give_identical_rows(spark, tmp_path, stdin, source):
    """A file, stdin through ``read_csv`` (one chunk file at the default
    chunk size) and stdin cut into many small chunk files (record-aligned,
    scanned executor-side, constant memory like the reference's stdin
    loop, csv2db.go:174-176) give the rows Python's csv module reads from
    the same text — and FAILFAST survives on all three: a ragged row
    aborts at action time."""

    def read(name, text, has_header, chunk_chars):
        if source == "file":
            p = tmp_path / f"{name}.csv"
            p.write_text(text)
            return read_csv(spark, str(p), has_header, multiline=True)
        if source == "short_stdin":
            stdin(text)
            return read_csv(spark, "-", has_header)
        return read_csv_stdin(
            spark,
            io.StringIO(text),
            has_header,
            chunk_chars=chunk_chars,
            spill_dir=str(tmp_path / name),
        )

    for name, text, has_header, chunk_chars in _SOURCE_CASES:
        parsed = [tuple(r) for r in csv.reader(io.StringIO(text)) if r]
        if has_header:
            names, want = list(parsed[0]), parsed[1:]
        else:
            names, want = [f"col{i}" for i in range(len(parsed[0]))], parsed
        df = read(name, text, has_header, chunk_chars)
        assert df.columns == names, name
        assert sorted(tuple(r) for r in df.collect()) == sorted(want), name

    with pytest.raises(Exception):
        read("ragged", "a,b\n1,2\n3,4,5\n", True, 4).collect()


def test_read_csv_buffer_spill_path_matches_driver_path(spark, tmp_path):
    """Stdin is chunked at record boundaries to files and parsed
    EXECUTOR-side — the rows Python's csv module reads, including quoted
    embedded newlines and commas that straddle chunk boundaries, and
    genuinely multi-file so the parse parallelizes."""
    data = _quoted_csv()
    want = {tuple(r) for r in list(csv.reader(io.StringIO(data)))[1:]}

    spill = str(tmp_path / "spill")
    got_df = read_csv_stdin(
        spark, io.StringIO(data), chunk_chars=1024, spill_dir=spill
    )
    assert got_df.columns == ["a", "b", "c"]
    got = {tuple(r) for r in got_df.collect()}
    assert got == want and len(got) == 2000
    chunks = glob.glob(spill + "/chunk-*.csv")
    assert len(chunks) >= 2, "spill must produce multiple executor splits"
    # no chunk starts mid-record: every file parses standalone
    for c in chunks:
        with open(c) as fh:
            assert fh.read(64).split(",")[0].isdigit()


def test_read_csv_buffer_spill_headerless_and_ragged(spark, tmp_path):
    got = read_csv_stdin(
        spark,
        io.StringIO("1,x\n2,y\n3,z\n"),
        has_header=False,
        chunk_chars=4,
        spill_dir=str(tmp_path / "s1"),
    )
    assert got.columns == ["col0", "col1"]
    assert {tuple(r) for r in got.collect()} == {("1", "x"), ("2", "y"), ("3", "z")}
    # FAILFAST posture survives the spill: ragged rows still abort (at
    # action time — the distributed scan can't raise at build time)
    bad = read_csv_stdin(
        spark,
        io.StringIO("a,b\n1,2\n3,4,5\n"),
        chunk_chars=4,
        spill_dir=str(tmp_path / "s2"),
    )
    with pytest.raises(Exception):
        bad.collect()


def test_read_csv_stdin_constant_memory_paths(spark, tmp_path):
    """read_csv_stdin streams a pipe to executor-parsed chunks without
    ever holding the whole input — including when a read seam cuts a
    QUOTED field mid-record."""
    rows = []
    for i in range(800):
        if i % 5 == 0:
            rows.append(f'{i},"multi\nline {i}, quoted",t{i}')
        else:
            rows.append(f"{i},plain {i},t{i}")
    data = "a,b,c\n" + "\n".join(rows) + "\n"

    want = {tuple(r) for r in list(csv.reader(io.StringIO(data)))[1:]}
    assert len(want) == 800

    # 97-char reads land seams inside quoted fields
    big = read_csv_stdin(
        spark,
        io.StringIO(data),
        chunk_chars=97,
        spill_dir=str(tmp_path / "sp"),
    )
    assert big.columns == ["a", "b", "c"]
    assert {tuple(r) for r in big.collect()} == want
    assert len(glob.glob(str(tmp_path / "sp" / "chunk-*.csv"))) >= 2


def test_cli_stdin_still_ingests(spark, stdin):
    """The CLI's -- path through ingest_csv keeps P1-P8 semantics
    (reconcile by name + typed cast + empty->NULL iff nullable)."""
    target = T.StructType(
        [
            T.StructField("a", T.LongType(), True),
            T.StructField("b", T.StringType(), True),
        ]
    )
    stdin("b,a\nx,1\n,\n")
    got = ingest_csv(spark, "--", target).collect()
    assert {tuple(r) for r in got} == {(1, "x"), (None, None)}
