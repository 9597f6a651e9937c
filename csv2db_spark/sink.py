"""Sinks with and-hom/csv2db semantics (reference P9-P20, P24).

Table-mode matrix (config.go:18-61, csv2db.go:133-161,219-241 →
SURVEY.md §7.3):

| mode            | table exists              | table missing   |
|-----------------|---------------------------|-----------------|
| create          | append                    | create + insert |
| drop-and-create | drop, recreate, insert    | create + insert |
| truncate        | truncate (keep DDL), append| ERROR          |
| delete-all      | DELETE FROM, append       | ERROR           |
| as-is           | append                    | ERROR           |

The missing-table error reproduces csv2db.go:151-156 (manual case 1).

JDBC specifics:
- batch size default ``max(1, 1000 // ncols)`` keeps the reference's
  <=1000-bind-params-per-statement heuristic (_postgres/postgres.go:152,
  _mysql/mysql.go:143-148 — including MySQL's div-by-zero guard, which
  Postgres lacks in the reference).
- true multi-row INSERT needs ``rewriteBatchedStatements=true`` (MySQL) /
  ``reWriteBatchedInserts=true`` (Postgres) on the URL; Spark's JDBC
  writer handles statement generation (reference P13 is not re-built).
- ``numPartitions`` = parallel connections. The reference runs ONE
  transaction per load (common/inserter/batch.go:32-38); Spark commits
  per partition — ``atomic=True`` forces numPartitions=1 for parity
  (SURVEY.md §7.5 risk 5).
- P17 (async pipeline stage) and P15 (per-connection transaction) are
  inherent in Spark's executor model — no code.
- P18 noop sink: ``format("noop")``.
"""

from __future__ import annotations

import os
import shutil
from contextlib import contextmanager
from enum import Enum
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


class TableMode(str, Enum):
    CREATE = "create"
    DROP_AND_CREATE = "drop-and-create"
    TRUNCATE = "truncate"
    DELETE_ALL = "delete-all"
    AS_IS = "as-is"  # reference default "" (config.go:28-30)

    @property
    def creates(self) -> bool:
        return self in (TableMode.CREATE, TableMode.DROP_AND_CREATE)


class MissingTableError(RuntimeError):
    """Reference: missing table without a create-capable mode is fatal
    (csv2db.go:151-156)."""


def default_batchsize(ncols: int) -> int:
    """<=1000 bind params per INSERT (reference heuristic, with MySQL's
    zero guard applied to both dialects)."""
    return max(1, 1000 // max(1, ncols))


# ---------------------------------------------------------------------------
# JDBC sink (P13-P16, P20) — thin, defensible mapping onto Spark's writer
# ---------------------------------------------------------------------------

# Spark type → DDL used for createTableColumnTypes; mirrors the
# reference's per-dialect Go-type→DDL registries (common/db.go:44-50,
# _postgres/postgres.go:26-34, _mysql/mysql.go:35-43). Keyed by the JDBC
# URL subprotocol; unknown dialects get the ANSI-ish shared vocabulary.
_ANSI_DDL_TYPES: dict[type, str] = {
    T.LongType: "BIGINT",
    T.IntegerType: "INTEGER",
    T.ShortType: "SMALLINT",
    T.ByteType: "SMALLINT",
    T.DoubleType: "DOUBLE PRECISION",
    T.FloatType: "REAL",
    T.BooleanType: "BOOLEAN",
    T.StringType: "TEXT",
}

DDL_REGISTRIES: dict[str, dict[type, str]] = {
    "": _ANSI_DDL_TYPES,
    # The reference's PRIMARY type per Go kind, Postgres registry
    # (_postgres/postgres.go:26-34): RegisterType's first argument is the
    # type used for generated DDL; the trailing aliases only matter for
    # reading catalogs back.
    "postgresql": {
        T.LongType: "BIGINT",
        T.IntegerType: "INTEGER",
        T.ShortType: "SMALLINT",
        T.ByteType: "SMALLINT",
        T.DoubleType: "DOUBLE PRECISION",
        T.FloatType: "REAL",
        T.BooleanType: "BOOL",
        T.StringType: "CHARACTER VARYING",
    },
    # MySQL registry (_mysql/mysql.go:35-43). The reference registers NO
    # bool kind for MySQL — a bool column there warns and falls back —
    # so BooleanType is deliberately absent here too (our fallback is
    # Spark's JdbcDialect default, BIT(1)).
    "mysql": {
        T.LongType: "BIGINT",
        T.IntegerType: "INT",
        T.ShortType: "SMALLINT",
        T.ByteType: "TINYINT",
        T.DoubleType: "DOUBLE",
        T.FloatType: "FLOAT",
        T.StringType: "TEXT",
    },
    # Derby (embedded, ships with Spark) has no TEXT type
    "derby": {**_ANSI_DDL_TYPES, T.StringType: "VARCHAR(32672)"},
}


def _subprotocol(url: str) -> str:
    parts = url.split(":")
    return parts[1].lower() if len(parts) > 1 else ""


def create_table_column_types(schema: T.StructType, dialect: str = "") -> str:
    import warnings

    ddl_types = DDL_REGISTRIES.get(dialect, _ANSI_DDL_TYPES)
    parts = []
    for f in schema.fields:
        ddl = ddl_types.get(type(f.dataType))
        if ddl is None:
            # unregistered types fall back to Spark's own dialect mapping —
            # warn like the reference does (_postgres/postgres.go:104-108)
            # instead of silently skipping
            warnings.warn(
                f"no DDL registered for column {f.name!r} of type "
                f"{f.dataType.simpleString()}; using the JDBC dialect default",
                stacklevel=2,
            )
            continue
        parts.append(f"{f.name} {ddl}")
    return ", ".join(parts)


def _jdbc_connection(spark: SparkSession, url: str, user, password):
    """Raw java.sql connection through the session's JVM — for the few
    statements Spark's writer cannot express (existence probe, DELETE
    FROM, row count). Works with any driver jar on the Spark classpath;
    Derby ships with Spark, so the path is testable embedded."""
    props = spark._jvm.java.util.Properties()
    if user:
        props.setProperty("user", user)
    if password:
        props.setProperty("password", password)
    return spark._jvm.java.sql.DriverManager.getConnection(url, props)


@contextmanager
def _jdbc_statement(spark: SparkSession, url: str, user, password):
    """A java.sql Statement on a fresh connection; both closed on exit."""
    conn = _jdbc_connection(spark, url, user, password)
    try:
        st = conn.createStatement()
        try:
            yield st
        finally:
            st.close()
    finally:
        conn.close()


# SQLStates that mean "that relation is not there" for the dialects the
# reference targets plus Derby (the embedded test dialect). Any OTHER
# probe failure (auth, syntax, lock timeout, connection drop) propagates:
# treating it as "missing" would silently route a load into the
# create/append path on e.g. a permission error.
_MISSING_RELATION_SQLSTATES = frozenset(
    {
        "42X05",  # Derby: table/view does not exist
        "42Y07",  # Derby: schema does not exist
        "42P01",  # Postgres: undefined_table
        "3F000",  # Postgres: invalid_schema_name
        "42S02",  # MySQL / ODBC: base table or view not found
        "S0002",  # legacy MySQL drivers: table not found
        "42704",  # DB2 family: undefined object name
    }
)


def _sql_state(exc: Exception) -> str | None:
    """SQLState of a py4j-wrapped java.sql.SQLException, walking the cause
    chain; None when the error is not a SQLException at all."""
    je = getattr(exc, "java_exception", None)
    while je is not None:
        try:
            state = je.getSQLState()
        except Exception:
            state = None
        if state:
            return str(state)
        try:
            je = je.getCause()
        except Exception:
            return None
    return None


def _jdbc_table_exists(spark: SparkSession, url: str, table: str, user, password) -> bool:
    """P6 existence probe (reference csv2db.go:133-140): a zero-row SELECT
    against the table — dialect-portable, and uses the same unquoted
    identifier resolution as Spark's own generated DDL/DML. Only a
    missing-relation SQLState counts as "does not exist"; every other
    failure re-raises."""
    with _jdbc_statement(spark, url, user, password) as st:
        try:
            st.executeQuery(f"SELECT 1 AS probe FROM {table} WHERE 1=0")
            return True
        except Exception as exc:
            if _sql_state(exc) in _MISSING_RELATION_SQLSTATES:
                return False
            raise


def _jdbc_execute(spark: SparkSession, url: str, sql: str, user, password) -> None:
    with _jdbc_statement(spark, url, user, password) as st:
        st.executeUpdate(sql)


def write_jdbc(
    df: DataFrame,
    url: str,
    table: str,
    mode: TableMode | str = TableMode.AS_IS,
    user: str | None = None,
    password: str | None = None,
    atomic: bool = False,
) -> None:
    """Write ``df`` into a JDBC table under the reference's mode matrix
    (csv2db.go:133-161, 219-241; DELETE FROM semantics common/db.go:103-106).

    Table existence is probed explicitly (zero-row SELECT), so the
    missing-table ERROR cells of the matrix hold for every dialect — not
    just where Spark's writer happens to fail — and CREATE-mode's
    exists→append choice is made up front instead of by catching a write
    failure (which could mask auth/network errors or retry a partial
    write). Exercised end-to-end against embedded Derby in
    tests/test_jdbc_derby.py; ParquetTableStore below implements the same
    matrix against parquet-backed tables.
    """
    mode = TableMode(mode)
    opts: dict[str, str] = {
        "batchsize": str(default_batchsize(len(df.columns))),
    }
    # auth resolution chain (reference auth.go:15-19): explicit arg ->
    # DB_USERNAME/DB_PASSWORD env; the interactive-prompt tail of the
    # reference's chain has no place in a non-interactive engine
    user = user or os.environ.get("DB_USERNAME")
    password = password or os.environ.get("DB_PASSWORD")
    if user:
        opts["user"] = user
    if password:
        opts["password"] = password
    if atomic:
        # single transaction per load, like the reference's one-tx sink
        df = df.coalesce(1)

    spark = df.sparkSession
    exists = _jdbc_table_exists(spark, url, table, user, password)
    if not exists and not mode.creates:
        raise MissingTableError(
            f"table {table!r} does not exist and mode {mode.value!r} does "
            "not create it"  # csv2db.go:151-156
        )

    writer = df.write.format("jdbc").option("url", url).option("dbtable", table)
    for k, v in opts.items():
        writer = writer.option(k, v)
    ddl = create_table_column_types(df.schema, _subprotocol(url))

    if mode is TableMode.DROP_AND_CREATE:
        writer.option("createTableColumnTypes", ddl).mode("overwrite").save()
    elif mode is TableMode.CREATE:
        if exists:
            writer.mode("append").save()
        else:
            writer.option("createTableColumnTypes", ddl).mode("errorifexists").save()
    elif mode is TableMode.TRUNCATE:
        writer.option("truncate", "true").mode("overwrite").save()
    elif mode is TableMode.DELETE_ALL:
        # The reference's DELETE FROM path (common/db.go:103-106) — but
        # NOT its atomicity: the reference wipes and reloads inside ONE
        # transaction (common/inserter/batch.go:32-38), while here the
        # DELETE commits on its own connection and the reload commits per
        # writer partition. Readers can observe the empty/partial table
        # in between, and a failed reload leaves the delete committed.
        # When that matters use TRUNCATE/DROP_AND_CREATE (single
        # overwrite statement on the write path), pass atomic=True to
        # make the reload one commit, or stage-and-swap at the warehouse
        # layer.
        _jdbc_execute(spark, url, f"DELETE FROM {table}", user, password)
        writer.mode("append").save()
    else:  # AS_IS — existence already verified, plain append
        writer.mode("append").save()


# ---------------------------------------------------------------------------
# Parquet-backed table store: the same mode matrix, testable locally
# ---------------------------------------------------------------------------


class ParquetTableStore:
    """A tiny 'database' of parquet tables used to exercise the table-mode
    orchestration (P24) without a live DBMS. One directory per table."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = Path(root)
        self.root.mkdir(parents=True, exist_ok=True)

    def _path(self, table: str) -> Path:
        return self.root / table

    def exists(self, table: str) -> bool:  # P6 existence probe
        return self._path(table).exists()

    def schema(self, table: str) -> T.StructType:  # P5 catalog introspection
        if not self.exists(table):
            raise MissingTableError(table)
        return self.spark.read.parquet(str(self._path(table))).schema

    def read(self, table: str) -> DataFrame:
        return self.spark.read.parquet(str(self._path(table)))

    def drop(self, table: str) -> None:  # P10
        shutil.rmtree(self._path(table), ignore_errors=True)

    def truncate(self, table: str) -> None:  # P11 (keep schema, wipe rows)
        empty = self.read(table).limit(0)
        empty.write.mode("overwrite").parquet(str(self._path(table)))

    def delete_all(self, table: str) -> None:  # P12 — same observable
        self.truncate(table)

    def append(self, df: DataFrame, table: str) -> None:
        df.write.mode("append").parquet(str(self._path(table)))

    def create(self, df: DataFrame, table: str) -> None:  # P9
        df.write.mode("errorifexists").parquet(str(self._path(table)))

    def write(self, df: DataFrame, table: str, mode: TableMode | str) -> None:
        """The reference's onTableExists + initInsertSchema orchestration
        (csv2db.go:133-161, 219-241)."""
        mode = TableMode(mode)
        if not self.exists(table):
            if not mode.creates:
                raise MissingTableError(
                    f"table {table!r} does not exist and mode {mode.value!r} "
                    "does not create it"
                )
            self.create(df, table)
            return
        if mode is TableMode.DROP_AND_CREATE:
            self.drop(table)
            self.create(df, table)
        elif mode is TableMode.TRUNCATE:
            self.truncate(table)
            self.append(df, table)
        elif mode is TableMode.DELETE_ALL:
            self.delete_all(table)
            self.append(df, table)
        else:  # CREATE (exists → append) and AS_IS
            self.append(df, table)


def write_noop(df: DataFrame) -> None:
    """P18: discard rows after full execution (dry-run / benchmarking)."""
    df.write.format("noop").mode("overwrite").save()


def write_bucketed(
    df: DataFrame,
    table: str,
    path: str,
    key: str,
    buckets: int = 8,
) -> None:
    """Bucketed external table: rows hash-partitioned into ``buckets``
    files by ``key`` and sorted within each. Two tables bucketed the same
    way join WITHOUT any shuffle (SortMergeJoin, no Exchange — asserted
    in tests/test_bucketed_join.py): the co-location was paid once at
    write time. At 100 TB this converts every recurring fact-fact join on
    the bucket key from the dominant shuffle into a local merge."""
    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    (
        df.write.mode("overwrite")
        .option("path", path)
        .bucketBy(buckets, key)
        .sortBy(key)
        .saveAsTable(table)
    )


def write_sorted_parquet(
    df: DataFrame,
    path: str,
    sort_cols: list[str],
    target_files: int | None = None,
) -> None:
    """Layout-optimized parquet write: range-partition by ``sort_cols``
    and sort within each output file.

    Why at 100 TB: parquet stores min/max statistics per row group; a
    filter on the sort column skips whole row groups (and, with one
    range per file, whole FILES) without reading them. Unsorted data
    makes every min/max span the full domain — statistics exist but
    never exclude anything. ``repartitionByRange`` gives globally
    disjoint per-file ranges (sampled range exchange, one shuffle);
    ``sortWithinPartitions`` orders rows inside each file so row-group
    stats nest inside the file range. The later scan-side win is free —
    Spark's parquet reader applies pushed filters against these stats
    automatically.
    """
    part = (
        df.repartitionByRange(target_files, *sort_cols)
        if target_files
        else df.repartitionByRange(*sort_cols)
    )
    part.sortWithinPartitions(*sort_cols).write.mode("overwrite").parquet(path)


def compact_parquet(
    spark: SparkSession,
    path: str,
    target_mb: int = 128,
    sort_cols: list[str] | None = None,
) -> int:
    """Small-file compaction: rewrite a parquet directory into
    ~``target_mb``-sized files; returns the new file count.

    The 100 TB problem this solves: streaming/incremental pipelines
    (foreachBatch appends, per-trigger micro-batches) accrete thousands
    of KB-scale files; every later scan then pays one open+footer per
    file and the scheduler drowns in splits. Compaction = one read +
    one write sized from the ACTUAL on-disk bytes (directory listing,
    not a row-count guess — compression survives the round trip).
    Rewrites into a sibling directory then swaps via two renames.
    Visibility caveat: the swap is NOT atomic — between
    rename(path -> path._old) and rename(tmp -> path) the directory
    briefly does not exist, so a reader racing the swap can fail with
    path-not-found (it never sees a MIX of layouts, each rename is
    atomic). The gap is two rename syscalls wide; true atomicity needs a
    symlink flip or a table-format commit (Delta/Iceberg). A crash
    inside the gap is recovered on the next call: if ``path`` is missing
    but ``path._old`` survives, the old layout is restored before
    compacting. ``sort_cols`` optionally re-sorts during the rewrite
    (same win as write_sorted_parquet) — compaction is the natural
    moment to fix layout, the data is moving anyway.
    """
    p = Path(path)
    old = str(p) + "._old"
    if not p.exists() and os.path.isdir(old):
        # crash landed between the two renames of a previous swap:
        # restore the stranded old layout so no data is lost
        os.rename(old, str(p))
    in_files = list(p.glob("*.parquet"))
    if not in_files:
        # a hive-partitioned dir has no top-level files; rewriting it flat
        # would silently drop the partition layout — compact per partition
        raise ValueError(
            f"compact_parquet: no top-level *.parquet files in {path!r}; "
            "for a partitioned table, compact each partition directory"
        )
    total_bytes = sum(f.stat().st_size for f in in_files)
    n_files = max(1, round(total_bytes / (target_mb * 1024 * 1024)))
    df = spark.read.parquet(str(p))
    if sort_cols:
        out = df.repartitionByRange(n_files, *sort_cols).sortWithinPartitions(
            *sort_cols
        )
    else:
        out = df.coalesce(n_files) if len(in_files) > n_files else df
    tmp = str(p) + "._compact"
    out.write.mode("overwrite").parquet(tmp)
    os.rename(str(p), old)
    os.rename(tmp, str(p))
    shutil.rmtree(old)
    return len(list(p.glob("*.parquet")))


def write_zorder_parquet(
    df: DataFrame,
    path: str,
    col_a: str,
    col_b: str,
    target_files: int | None = None,
    bits: int = 16,
) -> None:
    """Z-order (Morton-curve) layout: files clustered on TWO columns at
    once, so file-level min/max skipping works for predicates on either
    column — the Delta OPTIMIZE ZORDER BY feature for plain parquet.

    Why a single-column sort isn't enough at 100 TB: range-partitioning
    on ``col_a`` gives disjoint a-spans (great a-skipping) but every
    file then spans b's FULL domain — a selective b-predicate still
    opens every file. Interleaving the bits of both (quantized to
    ``bits``-bit ranks via min/max scaling) makes each file a bounding
    BOX in (a, b) space roughly 1/sqrt(files) of each domain wide, so
    either predicate prunes ~sqrt(files) of the files instead of none
    (pinned empirically in tests/test_partitioned_sink.py against the
    skipping manifest).

    The min/max scan for scaling is one 1-row aggregate (documented
    driver touch, same class as the skipping manifest); everything else
    is codegen bit arithmetic + the same range-exchange/local-sort write
    as ``write_sorted_parquet``.
    """
    from pyspark.sql import functions as F

    row = df.agg(
        F.min(col_a).alias("a_lo"),
        F.max(col_a).alias("a_hi"),
        F.min(col_b).alias("b_lo"),
        F.max(col_b).alias("b_hi"),
    ).collect()[0]
    m = (1 << bits) - 1

    def scaled(c: str, lo, hi):
        if hi == lo:
            return F.lit(0).cast("long")
        return F.least(
            F.floor(
                (F.col(c) - F.lit(lo)) / F.lit(hi - lo) * F.lit(m + 1)
            ).cast("long"),
            F.lit(m),
        )

    a_q = scaled(col_a, row["a_lo"], row["a_hi"])
    b_q = scaled(col_b, row["b_lo"], row["b_hi"])
    terms = []
    for i in range(bits):
        terms.append(
            F.expr(
                f"shiftleft(CAST((_za >> {i}) & 1 AS BIGINT), {2 * i + 1})"
            )
        )
        terms.append(
            F.expr(f"shiftleft(CAST((_zb >> {i}) & 1 AS BIGINT), {2 * i})")
        )
    z = terms[0]
    for t in terms[1:]:
        z = z.bitwiseOR(t)
    staged = df.withColumn("_za", a_q).withColumn("_zb", b_q).withColumn(
        "_z", z
    )
    part = (
        staged.repartitionByRange(target_files, "_z")
        if target_files
        else staged.repartitionByRange("_z")
    )
    (
        part.sortWithinPartitions("_z")
        .drop("_za", "_zb", "_z")
        .write.mode("overwrite")
        .parquet(path)
    )


def targeted_delete(
    spark: SparkSession,
    path: str,
    col: str,
    keys: list,
    log2m: int = 20,
) -> dict:
    """Surgical key deletion from a plain-parquet directory — the
    GDPR/right-to-erasure operation: rewrite ONLY the files that can
    contain the doomed keys, leave every other file byte-identical on
    disk. At 100 TB a full rewrite for a handful of subjects is the
    difference between minutes and a day; this is the copy-on-write
    DELETE of Delta/Iceberg without the table format.

    File location uses the per-file bloom manifest
    (sources/skipping.build_bloom_manifest) probed with every key: a
    false positive rewrites one extra file (harmless), a false negative
    cannot happen — so no key survives. Candidate files are re-read,
    filtered with an EXACT anti-predicate, and staged; the swap then
    renames each doomed file to a ``._delete_bak`` sibling before
    moving staged parts in (each rename atomic). A crash mid-swap is
    recovered on the next call: a manifest of the staged replacement
    names is committed into the backup dir BEFORE the first rename, so
    recovery first deletes any staged parts that already moved into the
    table dir, then restores the backups — without the manifest the
    restored originals would coexist with already-moved replacements
    and permanently duplicate the kept rows. Returns
    {files_total, files_rewritten, rows_deleted}.
    """
    import os as _os
    import shutil as _shutil
    import uuid as _uuid
    from pathlib import Path as _Path

    from pyspark.sql import functions as F

    from csv2db_spark.sources.skipping import build_bloom_manifest

    p = _Path(path)
    bak = str(p) + "._delete_bak"
    if _os.path.isdir(bak):
        # a previous delete crashed mid-swap. First undo any staged
        # replacements that already moved into the table dir (their
        # names are in the manifest committed before the swap began) —
        # they hold the kept rows of files we are about to restore, so
        # leaving them would duplicate those rows. Then restore the
        # backups; rerunning the delete is then safe and exact.
        mf = _Path(bak) / "_staged_manifest.txt"
        if mf.exists():
            for line in mf.read_text().splitlines():
                if line and _os.path.exists(line):
                    _os.remove(line)
        for f in _Path(bak).glob("*.parquet"):
            dst = p / f.name
            if not dst.exists():
                _os.rename(str(f), str(dst))
        _shutil.rmtree(bak, ignore_errors=True)
    all_files = sorted(str(f) for f in p.glob("*.parquet"))

    manifest = build_bloom_manifest(spark, str(p), col, log2m=log2m).cache()
    ctype = spark.read.parquet(str(p)).schema[col].dataType.simpleString()
    m = 1 << log2m
    probes = spark.createDataFrame(
        [(k,) for k in keys], f"k {ctype}"
    ).select(F.pmod(F.xxhash64(F.col("k")), F.lit(m)).alias("p"))
    probe_words = probes.select(
        (F.col("p") / 64).cast("long").alias("word_idx"),
        F.expr("shiftleft(CAST(1 AS BIGINT), CAST(p % 64 AS INT))").alias(
            "_mask"
        ),
    ).distinct()
    # candidate location runs DISTRIBUTED: the manifest never collects
    # (at 10k files x 16k words it is driver-hostile); only the matched
    # file names — bounded by |files| — come back
    cand_rows = (
        manifest.join(F.broadcast(probe_words), "word_idx")
        .where(F.col("bits").bitwiseAND(F.col("_mask")) != 0)
        .select("_file")
        .distinct()
        .collect()
    )
    manifest.unpersist()
    cand_files = sorted(r["_file"] for r in cand_rows)
    stats = {
        "files_total": len(all_files),
        "files_rewritten": len(cand_files),
        "rows_deleted": 0,
    }
    if not cand_files:
        return stats
    # input_file_name() yields file: URIs; keep the URI for Spark reads
    # and the bare path for the filesystem swap
    from urllib.parse import urlparse

    cand_local = [urlparse(f).path if "://" in f or f.startswith("file:") else f
                  for f in cand_files]
    doomed = spark.read.parquet(*cand_files)
    key_lits = [F.lit(k).cast(ctype) for k in keys]
    kept = doomed.where(~F.col(col).isin(*key_lits))
    stats["rows_deleted"] = doomed.count() - kept.count()
    tmp = str(p) + f"._delete_stage_{_uuid.uuid4().hex[:8]}"
    kept.write.mode("overwrite").parquet(tmp)
    # pre-assign every staged part's final name and commit the list to
    # the backup dir BEFORE any rename: crash recovery reads it to
    # remove half-swapped replacements ahead of restoring the backups
    staged_dest = {
        str(f): str(p / f"part-del-{_uuid.uuid4().hex[:8]}-{f.name}")
        for f in sorted(_Path(tmp).glob("*.parquet"))
    }
    _os.makedirs(bak, exist_ok=True)
    (_Path(bak) / "_staged_manifest.txt").write_text(
        "\n".join(staged_dest.values())
    )
    for f in cand_local:
        _os.rename(f, _os.path.join(bak, _os.path.basename(f)))
    for src, dst in staged_dest.items():
        _os.rename(src, dst)
    _shutil.rmtree(tmp, ignore_errors=True)
    _shutil.rmtree(bak, ignore_errors=True)
    return stats


def plan_compaction(
    manifest: DataFrame,
    size_col: str,
    target: int,
    id_col: str = "file_id",
) -> DataFrame:
    """Small-file compaction PLANNER: group a (file, size) manifest into
    rewrite bins of ~``target`` size by sequential fill over the
    size-descending order (bin = the target-multiple the file's
    cumulative start offset falls in) — deterministic, engine-agnostic,
    so the plan itself is hash-checkable. Each bin is then one bounded
    rewrite job (compact_parquet over its members) instead of the
    all-or-nothing full-table rewrite; at 100 TB you compact the
    long tail of small files without ever touching the big healthy
    ones in the same job.

    The window is a GLOBAL sort — fine here because the input is a
    manifest (one row per file), never row data; a 100 TB table is
    ~10^5 files = a driver-trivial frame."""
    from pyspark.sql import Window as _W
    from pyspark.sql import functions as F

    if target <= 0:
        raise ValueError(f"plan_compaction: target must be positive, got {target}")
    w = (
        _W.orderBy(F.col(size_col).desc(), F.col(id_col))
        .rowsBetween(_W.unboundedPreceding, 0)
    )
    cum = F.sum(size_col).over(w)
    return manifest.select(
        id_col,
        size_col,
        F.floor((cum - F.col(size_col)) / F.lit(float(target))).alias("bin"),
    )
