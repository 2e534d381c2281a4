"""sqliteSparse dataset parity (plugins/sqlite/sqlite_dataset.cc:856).

The reference's sqliteSparse dataset persists the 3-D sparse matrix
(row, column, timestamp) -> value in a SQLite file with
dictionary-encoded row/column names (sqlite_dataset.cc:732-751):

    vals(rowNum INT, colNum INT, ts BIGINT, val TEXT)
    rows(rowNum INTEGER PRIMARY KEY, rowHash INT, rowName TEXT)
    cols(colNum INTEGER PRIMARY KEY, colHash INT, colName TEXT)

This module mirrors that exact layout with the stdlib sqlite3 module
so files are interoperable at the schema level. SQLite is a
single-file, single-node store by design — the reference's dataset is
too (its writes serialize behind one write lock,
sqlite_dataset.cc:86-89) — so the export funnels the cells through the
driver in bounded toLocalIterator batches and the import reads on the
driver before handing Spark a local frame. Use parquet for
anything that shouldn't fit on one node; this source exists for parity
with sqlite-backed reference deployments.

Timestamps are stored as epoch MICROseconds (BIGINT, like the
reference's ts column which holds its Date's underlying count);
values are stored as TEXT with a typecode-free round-trip contract:
the importer returns value as string, exactly how the reference's
sqliteSparse returns CellValue-from-TEXT.
"""

from __future__ import annotations

import hashlib
import sqlite3

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mldb_spark.session import local_frame

_BATCH = 10_000


def _name_hash(name: str) -> int:
    """Stable 63-bit name hash for the rowHash/colHash columns (the
    reference stores its Id hash; any stable hash keeps the unique
    index semantics)."""
    return int.from_bytes(hashlib.md5(name.encode()).digest()[:8], "big") >> 1


def export_sqlite_sparse(cells: DataFrame, path: str) -> int:
    """Write a cells-layout DataFrame (row, column, value, ts) into a
    sqliteSparse file. Returns the number of cell values written.

    Driver-side by necessity (one sqlite file == one writer); memory
    stays bounded by the row/col name dictionaries plus one batch.
    """
    proj = cells.select(
        F.col("row").cast("string"),
        F.col("column").cast("string"),
        F.col("value").cast("string"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
    )
    con = sqlite3.connect(path)
    try:
        cur = con.cursor()
        cur.execute(
            "CREATE TABLE IF NOT EXISTS vals ("
            " rowNum INT NOT NULL, colNum INT NOT NULL,"
            " ts BIGINT NOT NULL, val TEXT,"
            " FOREIGN KEY(rowNum) REFERENCES rows(rowNum) ON DELETE CASCADE,"
            " FOREIGN KEY(colNum) REFERENCES cols(colNum) ON DELETE CASCADE)"
        )
        cur.execute(
            "CREATE TABLE IF NOT EXISTS rows ("
            " rowNum INTEGER PRIMARY KEY, rowHash INT NOT NULL,"
            " rowName TEXT NOT NULL)"
        )
        cur.execute(
            "CREATE TABLE IF NOT EXISTS cols ("
            " colNum INTEGER PRIMARY KEY, colHash INT NOT NULL,"
            " colName TEXT NOT NULL)"
        )
        cur.execute(
            "CREATE UNIQUE INDEX IF NOT EXISTS byrow ON vals (rowNum, colNum, val, ts)"
        )
        cur.execute(
            "CREATE INDEX IF NOT EXISTS bycol ON vals (colNum, rowNum, val, ts)"
        )
        cur.execute("CREATE INDEX IF NOT EXISTS byts ON vals (ts)")
        cur.execute(
            "CREATE UNIQUE INDEX IF NOT EXISTS rownames ON rows (rowHash, rowName)"
        )
        cur.execute(
            "CREATE UNIQUE INDEX IF NOT EXISTS colnames ON cols (colHash, colName)"
        )

        row_ids: dict[str, int] = {}
        col_ids: dict[str, int] = {}

        def intern(name: str, ids: dict[str, int], table: str) -> int:
            num = ids.get(name)
            if num is None:
                num = len(ids) + 1
                ids[name] = num
                cur.execute(
                    f"INSERT OR IGNORE INTO {table} VALUES (?, ?, ?)",
                    (num, _name_hash(name), name),
                )
            return num

        n = 0
        batch: list[tuple[int, int, int, str]] = []
        for rec in proj.toLocalIterator():
            row, column, value, ts_us = rec
            batch.append(
                (
                    intern(row, row_ids, "rows"),
                    intern(column, col_ids, "cols"),
                    ts_us if ts_us is not None else 0,
                    value,
                )
            )
            if len(batch) >= _BATCH:
                cur.executemany("INSERT OR IGNORE INTO vals VALUES (?, ?, ?, ?)", batch)
                n += len(batch)
                batch.clear()
        if batch:
            cur.executemany("INSERT OR IGNORE INTO vals VALUES (?, ?, ?, ?)", batch)
            n += len(batch)
        con.commit()
        return n
    finally:
        con.close()


def import_sqlite_sparse(spark: SparkSession, path: str) -> DataFrame:
    """Read a sqliteSparse file back into the cells layout
    (row string, column string, value string, ts timestamp)."""
    con = sqlite3.connect(path)
    try:
        rows = con.execute(
            "SELECT r.rowName, c.colName, v.val, v.ts"
            " FROM vals v JOIN rows r ON v.rowNum = r.rowNum"
            " JOIN cols c ON v.colNum = c.colNum"
        ).fetchall()
    finally:
        con.close()
    df = local_frame(
        spark,
        [(r, c, v, ts) for r, c, v, ts in rows],
        "row string, column string, value string, ts_us long",
    )
    return df.select(
        "row",
        "column",
        "value",
        F.timestamp_micros(F.col("ts_us")).alias("ts"),
    )


def import_sqlite(spark: SparkSession, path: str, query: str) -> DataFrame:
    """Generic sqlite table/query reader (the convenience the
    reference exposes through its sqlite plugin's query route):
    run `query` against the file on the driver, distribute the
    result. Schema is inferred from sqlite's declared/row types."""
    con = sqlite3.connect(path)
    try:
        cur = con.execute(query)
        cols = [d[0] for d in cur.description]
        data = cur.fetchall()
    finally:
        con.close()
    if not data:
        raise ValueError(f"sqlite query returned no rows: {query!r}")
    return local_frame(spark, data, cols)
