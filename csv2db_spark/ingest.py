"""CSV ingestion with and-hom/csv2db semantics (reference P1-P8).

Reference behaviors reproduced (file:line cites into /root/reference):

- P1/P3: CSV source with configurable single-char delimiter
  (csv2db.go:170-205, config.go:67-72) → ``spark.read.csv`` options;
  stdin (``--input-file --``, csv2db.go:174-176) is the same
  ``read_csv`` call with path ``-``/``--``: constant-memory like the Go
  loop — the pipe streams into record-aligned chunk files that the file
  scan parses executor-side.
- P2: charset decode via ``--encoding`` (csv2db.go:190-199) →
  ``.option("encoding", ...)``, widened to the full JVM charset
  registry (shift_jis/euc-kr/cp1251/... via legacy.javaCharsets) with
  the header decoded by the same JVM charset; stdin bytes decode
  under the same ``encoding`` before they are parsed.
- P4: header row consumed as schema, else synthesized ``col0..colN``
  names (common/schema.go:144-169) → ``first_record`` on the driver,
  and Spark checks every file's header against it.
- P7: schema reconcile — intersect CSV columns with target columns by
  name or ordinal, drop extras with a warning, NULL-fill missing,
  reorder to target order (common/schema.go:67-105).
- P8: per-column cast with empty-string→NULL iff the target column is
  nullable (common/val_mapper.go:33-42, common/insert_schema.go:23-26),
  and FAILFAST on the first unparseable value (common/inserter.go:22-27).

Scale design: everything is a declarative DataFrame plan — the CSV scan
partitions by file split, the cast stage is whole-stage-codegen'd column
expressions (zero Python in the row path), and errors surface through
Spark task failure exactly where the reference called ``logrus.Fatal``.

Known divergence from the reference (documented, not hidden): boolean
parsing accepts Spark's cast vocabulary (adds ``y/yes/n/no`` to Go's
``strconv.ParseBool`` set).
"""

from __future__ import annotations

import atexit
import codecs
import io
import itertools
import json
import logging
import os
import shutil
import sys
import tempfile
from types import SimpleNamespace

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

log = logging.getLogger("csv2db_spark.ingest")

_INT_TYPES = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
_INT_RE = r"^[+-]?\d+$"

# the reference's stdin marker is '--' (csv2db.go:174-176); '-' is the
# usual Unix spelling and is accepted too
STDIN_PATHS = ("-", "--")


# Spark 4's CSV reader only accepts these charsets natively; anything
# else (shift_jis, euc-kr, cp1251, ...) needs the JVM charset registry
# re-enabled — the reference delegates to Go's charset package with the
# same any-registered-encoding breadth (csv2db.go:190-199). Spellings
# are Python-codec CANONICAL names (codecs.lookup(...).name), so any
# alias a user writes — "UTF8", "latin1", "L1", "ansi_x3.4-1968" —
# normalizes onto this set instead of spuriously enabling the legacy
# JVM registry (a lower+underscore normalization misses common aliases).
_NATIVE_BY_CODEC_NAME = {
    "iso8859-1": "ISO-8859-1",
    "ascii": "US-ASCII",
    "utf-16": "UTF-16",
    "utf-16-be": "UTF-16BE",
    "utf-16-le": "UTF-16LE",
    "utf-32": "UTF-32",
    "utf-8": "UTF-8",
}


def _normalize_charset(encoding: str) -> tuple[str, bool]:
    """(spark_spelling, needs_java_registry). Spark's native allowlist
    is SPELLING-literal ("UTF8" is rejected even though it names UTF-8),
    so a native charset written as an alias is rewritten to the
    allowlisted spelling instead of pointlessly enabling the legacy JVM
    registry; genuinely non-native charsets (or names Python doesn't
    know — the JVM registry is then the arbiter) pass through with the
    registry flag."""
    try:
        native = _NATIVE_BY_CODEC_NAME.get(codecs.lookup(encoding).name)
    except LookupError:
        return encoding, True
    return (native, False) if native else (encoding, True)


# Java's String.trim strips these; Spark's line-mode scan skips a line
# that trims to nothing (CSVExprUtils.filterCommentAndEmpty).
_JAVA_BLANK = "".join(map(chr, range(0x21)))
# JVM class handles and parser settings, resolved once per gateway: each
# ``jvm.a.b.C`` lookup costs a gateway round trip per package segment.
_JVM_CSV: dict = {}


def _jvm_csv(spark: SparkSession) -> SimpleNamespace:
    gateway = spark.sparkContext._gateway
    h = _JVM_CSV.get(gateway)
    if h is None:
        jvm = spark._jvm
        h = _JVM_CSV[gateway] = SimpleNamespace(
            Path=jvm.org.apache.hadoop.fs.Path,
            Charset=jvm.java.nio.charset.Charset,
            BufferedReader=jvm.java.io.BufferedReader,
            InputStreamReader=jvm.java.io.InputStreamReader,
            CsvParser=jvm.com.univocity.parsers.csv.CsvParser,
            CSVOptions=jvm.org.apache.spark.sql.catalyst.csv.CSVOptions,
            to_scala_map=jvm.org.apache.spark.api.python.PythonUtils.toScalaMap,
            json=jvm.com.fasterxml.jackson.databind.ObjectMapper(),
            # built once: a factory loads every codec class it lists
            codecs=jvm.org.apache.hadoop.io.compress.CompressionCodecFactory(
                spark._jsparkSession.sessionState().newHadoopConf()
            ),
            settings={},
        )
    return h


def _tokenizer(h: SimpleNamespace, delimiter: str, encoding: str, multiline: bool):
    """A univocity parser under the settings Spark's CSV scan derives
    from ``scan_csv``'s options (``CSVOptions.asParserSettings``), so a
    record splits here as Spark's header check splits it."""
    key = (delimiter, encoding, multiline)
    settings = h.settings.get(key)
    if settings is None:
        opts = _scan_options(True, delimiter, encoding, "FAILFAST", multiline)
        settings = h.settings[key] = h.CSVOptions(
            h.to_scala_map(opts), False, "UTC"
        ).asParserSettings()
    return h.CsvParser(settings)


def _fields(h: SimpleNamespace, record) -> list[str] | None:
    """A Java ``String[]`` as a list, in one gateway round trip."""
    return None if record is None else json.loads(h.json.writeValueAsString(record))


def first_record(
    spark: SparkSession,
    path: str,
    delimiter: str,
    encoding: str = "UTF-8",
    multiline: bool = False,
) -> list[str] | None:
    """Fields of the first record of the first data file of ``path``, or
    None when ``path`` holds no record. The reference binds columns by the
    first record, read once on the driver (csv2db.go:88-106); here
    ``scan_csv`` then checks every file's header against these names.

    The file is found, opened and decompressed through the Hadoop
    FileSystem API the scan uses, so a path means what it means to Spark:
    a glob is expanded, a directory is listed (not recursively), names
    starting with ``_`` or ``.`` are skipped as Spark's file index skips
    them, and files are read in sorted order until one holds a record.
    The record is decoded by the JVM charset the scan uses and split by
    the univocity parser under the scan's own settings; one that holds
    U+FFFD, what a byte invalid in ``encoding`` decodes to, raises
    ``ValueError`` instead of naming a column after it. With
    ``multiline`` the parser reads the stream as Spark's multi-line scan
    does (a quoted newline continues the record, a UTF-8 BOM is
    skipped); otherwise the record is the first line that is not blank,
    less a BOM, as the line-split scan reads it."""
    h = _jvm_csv(spark)
    conf = spark._jsparkSession.sessionState().newHadoopConf()
    hpath = h.Path(path)
    fs = hpath.getFileSystem(conf)
    charset = h.Charset.forName(encoding)

    def files():
        # globStatus returns sorted statuses; they are walked lazily, so
        # only those up to the first file with a record cross the gateway
        for st in fs.globStatus(hpath) or []:
            if st.isDirectory():
                yield from fs.globStatus(h.Path(st.getPath(), "*"))
            else:
                yield st

    for st in files():
        fpath = st.getPath()
        if not st.isFile() or not st.getLen() or fpath.getName()[0] in "_.":
            continue
        stream = fs.open(fpath)
        try:
            codec = h.codecs.getCodec(fpath)
            if codec is not None:
                stream = codec.createInputStream(stream)
            parser = _tokenizer(h, delimiter, encoding, multiline)
            if multiline:
                parser.beginParsing(stream, charset)
                rec = _fields(h, parser.parseNext())
                parser.stopParsing()
            else:
                reader = h.BufferedReader(h.InputStreamReader(stream, charset))
                lines = iter(reader.readLine, None)
                first = next(lines, "").removeprefix("\ufeff")
                lines = itertools.chain([first], lines)
                line = next((s for s in lines if s.strip(_JAVA_BLANK)), None)
                rec = line and _fields(h, parser.parseLine(line))
        finally:
            stream.close()
        if rec:
            if any("\ufffd" in f for f in rec):
                raise ValueError(f"CSV header of {fpath} is not valid {encoding}")
            return rec
    return None


def _string_schema(names: list[str]) -> T.StructType:
    return T.StructType([T.StructField(n, T.StringType(), True) for n in names])


def _scan_options(
    has_header: bool, delimiter: str, encoding: str, mode: str, multiline: bool
) -> dict[str, str]:
    return {
        "header": str(has_header).lower(),
        "sep": delimiter,
        "encoding": encoding,
        "mode": mode,
        "quote": '"',
        "escape": '"',
        "multiLine": str(multiline).lower(),
        "enforceSchema": "false",
    }


def scan_csv(
    reader,
    path: str,
    names: list[str],
    has_header: bool,
    delimiter: str,
    encoding: str = "UTF-8",
    mode: str = "FAILFAST",
    multiline: bool = False,
) -> DataFrame:
    """The one CSV scan: ``reader`` is ``spark.read`` (a file, or the
    chunk files of a spilled stdin) or ``spark.readStream`` (a watched
    directory). Columns are all-string under ``names``; an empty field,
    a quoted-empty one and a missing one all become "" — the Go csv
    reader yields "" for each and NULL never originates in the reader,
    so the cast owns the empty-vs-NULL decision per target nullability
    (SURVEY.md §7.5 risk 1). With a header, Spark checks each file's
    header against ``names`` (``enforceSchema=false``) and fails the
    scan on a file whose header differs, where it would otherwise bind
    that file's columns by position."""
    df = (
        reader.schema(_string_schema(names))
        .options(**_scan_options(has_header, delimiter, encoding, mode, multiline))
        .csv(path)
    )
    return df.select(*[F.coalesce(F.col(n), F.lit("")).alias(n) for n in df.columns])


def read_csv(
    spark: SparkSession,
    path: str,
    has_header: bool = True,
    delimiter: str = ",",
    encoding: str = "UTF-8",
    mode: str = "FAILFAST",
    multiline: bool = False,
) -> DataFrame:
    """Read a CSV file, or stdin when ``path`` is ``-`` or ``--``, as
    all-string columns.

    ``mode``: FAILFAST (default — reference parity: any malformed row
    aborts the load, csv2db.go:84-86), PERMISSIVE (malformed fields ->
    NULL-then-"" here), or DROPMALFORMED (skip bad rows) — the extension
    modes for dirty corpora at scale. Stdin is read FAILFAST only; any
    other mode raises ValueError there.

    The columns are named by the first record of the first file
    (``first_record``), and every file of a directory or glob must
    carry that header: a file whose header differs fails the load at
    action time. Headerless inputs get ``col0..colN`` names (reference
    ``NColsSchema``, common/schema.go:157-169).

    ``multiline=True`` parses quoted fields with embedded newlines —
    the Go encoding/csv reader (csv2db.go:84) ALWAYS supports these;
    Spark makes it opt-in because a multiline file cannot be split at
    newlines, so each FILE becomes one task (the 100 TB tradeoff: ship
    many medium files, not one giant one, when records span lines).
    ``multiline=False`` is the caller's promise that no record spans a
    line, which lets a file split anywhere. Stdin never needs that
    trade: ``read_csv_stdin`` cuts it at record boundaries itself, so
    quoted newlines parse there either way, and wherever the promise
    holds the rows are the same.

    Charset breadth matches the reference's any-registered-encoding
    contract (csv2db.go:190-199): Spark 4's native CSV allowlist is
    UTF-8/16/32 + latin-1 + ascii, so other charsets (shift_jis,
    euc-kr, cp1251, ...) re-enable the full JVM registry via
    ``spark.sql.legacy.javaCharsets`` — and ``first_record`` decodes
    the header with the same JVM charset, so non-ASCII header NAMES
    decode correctly too (tests/test_ingest.py charset matrix).
    Stdin bytes are decoded by Python's codec of the same name (strict:
    an invalid byte raises instead of loading U+FFFD); a charset Python
    does not know raises ValueError there.
    """
    if len(delimiter) != 1:
        # config.go:67-72 rejects multi-char delimiters
        raise ValueError(f"delimiter must be a single character, got {delimiter!r}")
    # alias-normalize BEFORE anything touches Spark: "UTF8"/"latin1"
    # become the allowlisted spelling, so the legacy JVM registry stays
    # off unless the charset is genuinely non-native
    encoding, legacy = _normalize_charset(encoding)
    if path in STDIN_PATHS:
        if mode.upper() != "FAILFAST":
            raise ValueError(f"stdin is read FAILFAST only, got mode={mode!r}")
        try:
            codec = codecs.lookup(encoding).name
        except LookupError:
            raise ValueError(f"cannot decode stdin as {encoding!r}") from None
        text = io.TextIOWrapper(
            sys.stdin.buffer, encoding="utf-8-sig" if codec == "utf-8" else codec
        )
        try:
            return read_csv_stdin(spark, text, has_header, delimiter)
        finally:
            text.detach()  # leave sys.stdin's buffer open
    if legacy:
        # Deliberately SESSION-WIDE and not restored: Spark reads are
        # lazy, so the conf must still be set when the job actually RUNS
        # — possibly long after read_csv() returned — which makes a
        # set/restore scope around the read a correctness bug. The flag
        # only widens the accepted charset list (it changes no decode
        # result for native charsets), so leaving it on is
        # behavior-neutral for every other query on the session.
        spark.conf.set("spark.sql.legacy.javaCharsets", "true")
    first = first_record(spark, path, delimiter, encoding, multiline)
    if first is None:
        raise ValueError(f"no CSV record at {path}")
    names = first if has_header else [f"col{i}" for i in range(len(first))]
    return scan_csv(
        spark.read, path, names, has_header, delimiter, encoding, mode, multiline
    )


def _quote_open(line: str, delimiter: str, inq: bool) -> bool:
    """Whether a quoted field is open at the end of ``line``, given
    whether one was open at its start. A quote opens a field only where
    the field starts; inside one, "" is an escaped quote and the closing
    quote leaves the rest of the field literal, as in ``1,"x"y``."""
    i = 0
    if not inq and line.startswith('"'):
        inq, i = True, 1
    while True:
        if inq:
            i = line.find('"', i)
            while i >= 0 and line.startswith('""', i):
                i = line.find('"', i + 2)
            if i < 0:
                return True
            inq = False
        i = line.find(delimiter, i)
        if i < 0:
            return False
        i += 1
        inq = line.startswith('"', i)
        i += inq


def _records(stream, block: int, delimiter: str):
    """Record texts of ``stream``, read in ``block``-char pieces —
    constant memory (one block plus one pending record). A newline inside
    a quoted field continues the record (``_quote_open``). The carriage
    return of a CRLF line end is dropped, as the Go reader and the file
    scan drop it. Blank lines are skipped, as the univocity and Go
    readers skip them, while a whitespace-only line IS a record (one
    field of spaces) to both."""
    rec: list[str] = []
    inq = False
    pending = ""
    while True:
        text = stream.read(block)
        *lines, pending = (pending + text).split("\n")
        if not text:  # end of stream: the last line needs no newline
            lines.append(pending)
        for line in lines:
            line = line.removesuffix("\r")
            rec.append(line)
            if inq or '"' in line:
                inq = _quote_open(line, delimiter, inq)
            if not inq:
                if rec != [""]:
                    yield "\n".join(rec)
                rec = []
        if not text:
            break
    if rec:  # a quote still open at the end: FAILFAST rejects it
        yield "\n".join(rec)


def _chunks(records, chunk_chars: int):
    """Join records into texts of at least ``chunk_chars`` (the last may
    be shorter)."""
    buf: list[str] = []
    size = 0
    for rec in records:
        buf.append(rec)
        size += len(rec) + 1
        if size >= chunk_chars:
            yield "\n".join(buf)
            buf, size = [], 0
    if buf:
        yield "\n".join(buf)


def read_csv_stdin(
    spark: SparkSession,
    stream,
    has_header: bool = True,
    delimiter: str = ",",
    chunk_chars: int = 4 << 20,
    spill_dir: str | None = None,
) -> DataFrame:
    """CONSTANT-MEMORY CSV source over a text stream — the parity with
    the reference's streaming stdin loop (csv2db.go:174-176 never holds
    the pipe in memory); ``read_csv(spark, "-")`` calls it on the
    decoded stdin.

    The stream is read in ``chunk_chars`` pieces and cut into records;
    the first record gives the header (or, headerless, the column
    count). The records are joined into chunk files of ``chunk_chars``
    chars under ``spill_dir`` as they fill and read back by
    ``scan_csv``, the scan that reads files: one executor-side FAILFAST
    task per chunk, so a ragged row fails at action time with Spark's
    FAILFAST error, and driver memory is bounded by the chunk size. The
    chunk files live until the caller is done with the DataFrame: pass
    ``spill_dir`` to own them, else a temporary directory holds them
    and is removed at interpreter exit.

    The rows are those ``read_csv`` gives on the same text in a file
    (tests/test_ingest.py)."""
    if len(delimiter) != 1:
        raise ValueError(f"delimiter must be a single character, got {delimiter!r}")
    records = _records(stream, chunk_chars, delimiter)
    first = next(records, None)
    if first is None:
        raise ValueError("empty CSV input: <stdin>")
    h = _jvm_csv(spark)
    fields = _fields(h, _tokenizer(h, delimiter, "UTF-8", True).parseLine(first))
    if has_header:
        names = fields
    else:
        names = [f"col{i}" for i in range(len(fields))]
        records = itertools.chain([first], records)  # first record is data
    d = spill_dir
    if d is None:
        d = tempfile.mkdtemp(prefix="c2s_stdin_spill_")
        atexit.register(shutil.rmtree, d, ignore_errors=True)
    os.makedirs(d, exist_ok=True)
    for n, text in enumerate(_chunks(records, chunk_chars)):
        with open(os.path.join(d, f"chunk-{n:05d}.csv"), "w", encoding="utf-8") as fh:
            fh.write(text)
    return scan_csv(spark.read, d, names, False, delimiter, multiline=True)


# ---------------------------------------------------------------------------
# P7: reconcile
# ---------------------------------------------------------------------------


def reconcile_by_name(df: DataFrame, target: T.StructType) -> DataFrame:
    """CSV has a header: match columns by name; DB side wins on type and
    nullability; extra CSV columns dropped with a warning; missing target
    columns become NULL (common/schema.go:67-83).

    Names match the way Spark's resolver does: case-insensitively unless
    ``spark.sql.caseSensitive`` is true, since databases fold unquoted
    identifiers (Derby to upper case, PostgreSQL to lower case). Two CSV
    headers that match one target column raise ``ValueError``."""
    exact = df.sparkSession.conf.get("spark.sql.caseSensitive").lower() == "true"
    fold = (lambda n: n) if exact else str.lower
    tnames = {fold(f.name): f.name for f in target.fields}
    src: dict[str, str] = {}
    for c in df.columns:
        t = tnames.get(fold(c))
        if t is None:
            log.warning("CSV column %r has no target column — dropped", c)
        elif t in src:
            raise ValueError(
                f"CSV columns {src[t]!r} and {c!r} both match target column {t!r}"
            )
        else:
            src[t] = c
    cols = []
    for f in target.fields:
        c = src.get(f.name)
        if c is None:
            cols.append(F.lit(None).cast("string").alias(f.name))
        else:
            cols.append(F.col(c) if c == f.name else F.col(c).alias(f.name))
    return df.select(*cols)


def reconcile_by_index(df: DataFrame, target: T.StructType) -> DataFrame:
    """Headerless CSV: pair CSV column i with target column i; excess CSV
    columns dropped (common/schema.go:85-105)."""
    if len(df.columns) > len(target.fields):
        for c in df.columns[len(target.fields) :]:
            log.warning("CSV column %r beyond target width — dropped", c)
    cols = []
    for i, f in enumerate(target.fields):
        if i < len(df.columns):
            cols.append(F.col(df.columns[i]).alias(f.name))
        else:
            cols.append(F.lit(None).cast("string").alias(f.name))
    return df.select(*cols)


# ---------------------------------------------------------------------------
# P8: cast with reference NULL/FAILFAST semantics
# ---------------------------------------------------------------------------


def _cast_error(src: Column, field: T.StructField) -> Column:
    return F.raise_error(
        F.concat(
            F.lit(f"csv2db_spark: cannot cast value '"),
            src,
            F.lit(f"' to {field.dataType.simpleString()} for column {field.name}"),
        )
    )


def _cast_one(src: Column, field: T.StructField) -> Column:
    """One column's ValMapper (common/val_mapper.go:9-70) as a codegen'd
    expression: empty→NULL iff nullable; unparseable → raise (FAILFAST,
    common/inserter.go:22-27)."""
    t = field.dataType
    if isinstance(t, T.StringType):
        body = src  # identity mapper (val_mapper.go:44-46); "" stays ""
    else:
        # try_cast, not cast: Spark 4 runs ANSI mode by default, where a
        # plain cast throws its own error before our FAILFAST guard runs.
        casted = src.try_cast(t)
        valid = casted.isNotNull()
        if isinstance(t, _INT_TYPES):
            # Go strconv.ParseInt rejects decimals/whitespace that Spark's
            # cast would accept — enforce the stricter grammar.
            valid = valid & src.rlike(_INT_RE)
        body = F.when(valid, casted).otherwise(_cast_error(src, field).cast(t))
    if field.nullable:
        # NullableMapper (val_mapper.go:33-42): "" → NULL, even for strings
        return F.when(src.isNull() | (src == ""), F.lit(None).cast(t)).otherwise(
            body
        )
    # NOT NULL target: "" goes to the parser ("" is fine for String, fatal
    # for numerics); absent column (src NULL) is fatal.
    return F.when(src.isNull(), _cast_error(F.lit("<missing>"), field).cast(t)).otherwise(
        body
    )


def _invalid_one(src: Column, field: T.StructField) -> Column:
    """True exactly when ``_cast_one`` would raise for this cell — the
    same grammar (try_cast validity + strict int regex + the empty/NULL
    nullability rules), expressed as a predicate."""
    t = field.dataType
    if isinstance(t, T.StringType):
        return F.lit(False) if field.nullable else src.isNull()
    casted = src.try_cast(t)
    valid = casted.isNotNull()
    if isinstance(t, _INT_TYPES):
        valid = valid & src.rlike(_INT_RE)
    if field.nullable:
        return src.isNotNull() & (src != "") & ~valid
    return src.isNull() | ~valid


def cast_to_schema(
    df: DataFrame, target: T.StructType, on_error: str = "raise"
) -> DataFrame:
    """Apply the per-column mappers; input columns must already be aligned
    to ``target`` (use reconcile_by_name / reconcile_by_index first).

    ``on_error`` extends the reference's all-or-nothing posture for dirty
    corpora at scale (the row-level analogue of the CSV reader's mode
    option):

    - ``"raise"`` (default): first bad cell aborts the load — FAILFAST,
      reference parity (common/inserter.go:22-27).
    - ``"drop"``: rows containing any uncastable cell are filtered out
      before casting (DROPMALFORMED semantics at the typed-cast stage).
    - ``"null"``: uncastable cells become NULL (PERMISSIVE semantics;
      applies to NOT NULL targets too — the caller opted out of
      strictness)."""
    if on_error == "raise":
        return df.select(
            *[_cast_one(F.col(f.name), f).alias(f.name) for f in target.fields]
        )
    invalids = [_invalid_one(F.col(f.name), f) for f in target.fields]
    any_bad = invalids[0]
    for inv in invalids[1:]:
        any_bad = any_bad | inv
    if on_error == "drop":
        kept = df.where(~any_bad)
        return kept.select(
            *[_cast_one(F.col(f.name), f).alias(f.name) for f in target.fields]
        )
    if on_error == "null":
        return df.select(
            *[
                F.when(inv, F.lit(None).cast(f.dataType))
                .otherwise(_cast_one(F.col(f.name), f))
                .alias(f.name)
                for f, inv in zip(target.fields, invalids)
            ]
        )
    raise ValueError(f"on_error must be raise|drop|null, got {on_error!r}")


def align_and_cast(
    df: DataFrame,
    target: T.StructType | None,
    has_header: bool,
    on_error: str = "raise",
) -> DataFrame:
    """P7 + P8 over an all-string CSV frame, batch or streaming: align by
    name when the CSV has a header, else by ordinal, then cast with
    ``on_error`` (see ``cast_to_schema``). With no target schema (table
    doesn't exist → reference creates an all-string table,
    csv2db.go:157), the all-string frame is returned as-is."""
    if target is None:
        return df
    aligned = (
        reconcile_by_name(df, target)
        if has_header
        else reconcile_by_index(df, target)
    )
    return cast_to_schema(aligned, target, on_error=on_error)


def ingest_csv(
    spark: SparkSession,
    path: str,
    target: T.StructType | None = None,
    has_header: bool = True,
    delimiter: str = ",",
    encoding: str = "UTF-8",
    on_error: str = "raise",
    multiline: bool = False,
) -> DataFrame:
    """Full P1-P8 pipeline: ``read_csv`` (a file, or stdin for ``-``/``--``)
    → ``align_and_cast``."""
    df = read_csv(spark, path, has_header, delimiter, encoding, multiline=multiline)
    return align_and_cast(df, target, has_header, on_error)


def read_fixed_width(
    spark: SparkSession,
    path: str,
    fields: list[tuple[str, int]],
    encoding: str = "UTF-8",
) -> DataFrame:
    """Fixed-width record file → typed-ready string columns: each line is
    sliced at the caller's (name, width) offsets and whitespace-trimmed —
    the mainframe/export format the CSV-only reference cannot load
    (csv2db.go:80-113 assumes encoding/csv), expressed as one
    ``spark.read.text`` scan plus substring/trim column expressions that
    stay entirely inside whole-stage codegen.

    The result is an all-string frame by design, exactly like the CSV
    reader's (reference P4 semantics) — feed it through
    ``align_and_cast`` for typed loading; empty slices become empty
    strings and follow the same empty→NULL-iff-nullable rule there. Scale: text files split by line ranges like any
    Spark text source; no shuffle, no Python."""
    lines = spark.read.text(path)
    if encoding.upper() not in ("UTF-8", "UTF8", "US-ASCII", "ASCII"):
        lines = spark.read.format("text").option("encoding", encoding).load(path)
    cols = []
    pos = 1
    for name, width in fields:
        cols.append(F.trim(F.substring(F.col("value"), pos, width)).alias(name))
        pos += width
    return lines.select(*cols)
