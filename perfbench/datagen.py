"""Seeded input of the ``load_jdbc`` workload.

``write_load_csv`` is a pure function of ``(seed, rows)``: it writes the
typed CSV that ``load_jdbc`` loads and returns the checksums its readback
is compared against. Nothing generated here is kept in the repository;
callers write into a scratch directory inside the checkout and delete it
afterwards. (The query workload reads the fixture tables under
``fixtures/`` and needs no generator.)
"""

from __future__ import annotations

import numpy as np

# The target table of the load. Text columns are NOT NULL: an empty cell
# in a nullable VARCHAR fails on Derby (see workloads.reproduce_known_defects).
LOAD_TABLE = "LOADT"
LOAD_DDL = (
    f"CREATE TABLE {LOAD_TABLE} (ID BIGINT NOT NULL, QTY INTEGER, "
    "AMOUNT DOUBLE, TS TIMESTAMP, CODE VARCHAR(16) NOT NULL, "
    "NOTE VARCHAR(200) NOT NULL)"
)
LOAD_COLUMNS = ("ID", "QTY", "AMOUNT", "TS", "CODE", "NOTE")
# One readback query computes every checksum on the database side.
CHECK_SQL = (
    f"SELECT COUNT(*) AS N, SUM(ID) AS SUM_ID, "
    "COUNT(*) - COUNT(QTY) AS NULL_QTY, COUNT(*) - COUNT(AMOUNT) AS NULL_AMOUNT, "
    "COUNT(*) - COUNT(TS) AS NULL_TS, SUM(CAST(QTY AS BIGINT)) AS SUM_QTY, "
    "SUM(CAST(LENGTH(CODE) AS BIGINT)) AS LEN_CODE, "
    f"SUM(CAST(LENGTH(NOTE) AS BIGINT)) AS LEN_NOTE FROM {LOAD_TABLE}"
)

_NOTE_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split() + ['say "hi"', "a,b", '"quoted, text"', "x,y,z", 'he said "no"']


def write_load_csv(path: str, seed: int, rows: int) -> dict[str, int]:
    """Write the load CSV (upper-case header, RFC 4180 quoting) and return
    the checksums a correct load must read back."""
    rng = np.random.default_rng(seed)
    ids = rng.permutation(rows).astype(np.int64) * 7 + 1_000_000_007
    qty = rng.integers(-50_000, 50_000, rows)
    amount = np.round(rng.uniform(-1e6, 1e6, rows), 4)
    secs = rng.integers(946_684_800, 1_893_456_000, rows)  # 2000..2030 UTC
    null_qty, null_amount, null_ts = rng.random((3, rows)) < 0.1
    code_len = rng.integers(1, 17, rows)
    chars = np.array(list("ABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789"))
    code_chars = chars[rng.integers(0, len(chars), (rows, 16))]
    note_n = rng.integers(2, 12, rows)
    note_words = np.array(_NOTE_WORDS, dtype=object)[
        rng.integers(0, len(_NOTE_WORDS), (rows, 11))
    ]
    stamps = np.datetime_as_string(secs.astype("datetime64[s]"))

    codes = ["".join(code_chars[i, : code_len[i]]) for i in range(rows)]
    notes = [" ".join(note_words[i, : note_n[i]]) for i in range(rows)]
    lines = [",".join(LOAD_COLUMNS)]
    for i in range(rows):
        q = "" if null_qty[i] else str(qty[i])
        a = "" if null_amount[i] else repr(float(amount[i]))
        t = "" if null_ts[i] else stamps[i].replace("T", " ")
        note = notes[i].replace('"', '""')
        lines.append(f'{ids[i]},{q},{a},{t},{codes[i]},"{note}"')
    with open(path, "w", encoding="utf-8") as f:
        f.write("\n".join(lines) + "\n")
    return {
        "N": rows,
        "SUM_ID": int(ids.sum()),
        "NULL_QTY": int(null_qty.sum()),
        "NULL_AMOUNT": int(null_amount.sum()),
        "NULL_TS": int(null_ts.sum()),
        "SUM_QTY": int(qty[~null_qty].sum()),
        "LEN_CODE": int(code_len.sum()),
        "LEN_NOTE": sum(map(len, notes)),
    }
