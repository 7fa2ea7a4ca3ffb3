"""SQLite batch source: partitioned rowid-range pulls over stdlib
``sqlite3`` — the JDBC-parallel-read pattern (partitionColumn /
lowerBound / upperBound / numPartitions) re-expressed for a local
database file, completing the source matrix with a relational-store
pull next to the file/socket/HTTP transports.

On a real cluster this role is played by ``spark.read.jdbc`` against a
warehouse; the semantics demonstrated here are the ones that matter at
scale and are asserted by the oracle gate:

- the TABLE IS RANGE-PARTITIONED ON THE DRIVER (one cheap MIN/MAX
  query), and each executor task opens its OWN connection and pulls
  only its ``BETWEEN`` slice — no driver collection, no single-reader
  bottleneck;
- ranges cover the key space exactly once (no-loss / no-dup is what
  the hash gate checks end-to-end);
- the per-task connection is read-only (``mode=ro`` URI), so
  concurrent readers never take the writer lock.

Reference parity note: the reference has no relational source; this is
beyond-parity surface motivated by the 100 TB pipeline story (backfill
joins against an operational store).
"""

from __future__ import annotations

import sqlite3
from dataclasses import dataclass
from typing import Iterator, Optional

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from cheetah_spark.sources import Source

EVENTS_SQLITE_SCHEMA = (
    "event_id long, ts_us long, user_id long, event_type string, "
    "value double, props string"
)


def events_sqlite_path(spark: SparkSession, sf_dir: str) -> str:
    """Build (once per fixture) an events.sqlite mirror of
    ``events.parquet`` — timestamps stored as INTEGER epoch-µs, the
    lossless SQLite convention — in a derived-fixture store directory."""
    from cheetah_spark.catalog import load_table, table_path
    from cheetah_spark.derived import derived_dir
    from cheetah_spark.streaming import _tag

    def build(out: str) -> None:
        rows = (
            load_table(spark, sf_dir, "events")
            .selectExpr(
                "event_id",
                "CAST(unix_micros(ts) AS BIGINT) AS ts_us",
                "user_id",
                "event_type",
                "value",
                "props",
            )
            .collect()  # fixture build only — bounded test table, one-time
        )
        con = sqlite3.connect(f"{out}/events.sqlite")
        try:
            con.execute(
                "CREATE TABLE events (event_id INTEGER PRIMARY KEY, ts_us INTEGER, "
                "user_id INTEGER, event_type TEXT, value REAL, props TEXT)"
            )
            con.executemany(
                "INSERT INTO events VALUES (?, ?, ?, ?, ?, ?)",
                [(r.event_id, r.ts_us, r.user_id, r.event_type, r.value, r.props) for r in rows],
            )
            con.commit()
        finally:
            con.close()

    out = derived_dir(f"{_tag(sf_dir)}/events_sqlite", [table_path(sf_dir, "events")], build)
    return f"{out}/events.sqlite"


@dataclass
class SqliteSource(Source):
    """Partitioned batch pull of one table from a SQLite file.

    ``partition_col`` must be an indexed integer column (the INTEGER
    PRIMARY KEY aliases rowid, so slices are index range scans, not
    full-table passes — the same requirement JDBC partitionColumn
    has)."""

    path: str
    table: str
    schema: str
    partition_col: str = "event_id"
    num_partitions: int = 8
    columns: Optional[tuple] = None

    def __post_init__(self) -> None:
        if self.columns is not None:
            self.columns = tuple(self.columns)  # a JSON config gives a list

    def read(self, spark: SparkSession) -> DataFrame:
        con = sqlite3.connect(f"file:{self.path}?mode=ro", uri=True)
        lo, hi = con.execute(
            f"SELECT MIN({self.partition_col}), MAX({self.partition_col}) "
            f"FROM {self.table}"
        ).fetchone()
        con.close()
        if lo is None:
            return spark.createDataFrame([], self.schema)
        n = max(1, int(self.num_partitions))
        step = (hi - lo) // n + 1
        bounds = [(lo + k * step, min(hi, lo + (k + 1) * step - 1)) for k in range(n)]
        bounds = [(a, b) for a, b in bounds if a <= b]
        cols = ", ".join(self.columns) if self.columns else "*"
        path, table, pcol, schema = self.path, self.table, self.partition_col, self.schema
        col_names = [f.split()[0] for f in schema.split(",")]

        def pull(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                for a, b in zip(pdf["lo"], pdf["hi"]):
                    c = sqlite3.connect(f"file:{path}?mode=ro", uri=True)
                    cur = c.execute(
                        f"SELECT {cols} FROM {table} "
                        f"WHERE {pcol} BETWEEN ? AND ?",
                        (int(a), int(b)),
                    )
                    names = [d[0] for d in cur.description]
                    data = cur.fetchall()
                    c.close()
                    yield pd.DataFrame(data, columns=names)[
                        [n_ for n_ in col_names if n_ in names]
                    ]

        ranges = spark.createDataFrame(bounds, "lo long, hi long").repartition(
            len(bounds), "lo"
        )
        return ranges.mapInPandas(pull, schema=self.schema)


# ---------------------------------------------------------------------------
# Streaming CDC pull: cheetah-sqlite-cdc
# ---------------------------------------------------------------------------

from pyspark.sql.datasource import (  # noqa: E402
    DataSource,
    SimpleDataSourceStreamReader,
)

_CDC_START = -(2**62)  # "before any key" sentinel for the first offset


class _SqliteCdcStreamReader(SimpleDataSourceStreamReader):
    """Keyset-paginated incremental pull: offset = the last key
    delivered; each micro-batch is ONE indexed range query
    ``WHERE k > last ORDER BY k LIMIT batch_size``.

    The store itself is the replay window — ``readBetweenOffsets``
    re-queries the half-open key interval, so a restarted reader
    recovers losslessly with ZERO local buffering (the Kinesis CURSOR
    pattern; reference S5 poller semantics upgraded with exact
    offsets). Append-only keys are the contract, as with any keyset
    CDC (updates-in-place need a version column — same reader, ordered
    on (version, key))."""

    def __init__(self, options):
        self._path = options.get("path")
        self._table = options.get("table", "events")
        self._pcol = options.get("partition_col", "event_id")
        self._batch = int(options.get("batch_size", "4096"))
        if not self._path:
            raise ValueError("cheetah-sqlite-cdc: 'path' option is required")

    def _con(self):
        return sqlite3.connect(f"file:{self._path}?mode=ro", uri=True)

    def initialOffset(self) -> dict:
        return {"k": _CDC_START}

    def read(self, start: dict):
        c = self._con()
        cur = c.execute(
            f"SELECT * FROM {self._table} WHERE {self._pcol} > ? "
            f"ORDER BY {self._pcol} LIMIT ?",
            (int(start["k"]), self._batch),
        )
        names = [d[0] for d in cur.description]
        ki = names.index(self._pcol)
        rows = cur.fetchall()
        c.close()
        if not rows:
            return iter(()), dict(start)
        return iter(rows), {"k": int(rows[-1][ki])}

    def readBetweenOffsets(self, start: dict, end: dict):
        c = self._con()
        rows = c.execute(
            f"SELECT * FROM {self._table} WHERE {self._pcol} > ? "
            f"AND {self._pcol} <= ? ORDER BY {self._pcol}",
            (int(start["k"]), int(end["k"])),
        ).fetchall()
        c.close()
        return iter(rows)

    def commit(self, end: dict) -> None:
        pass  # pull source: the store needs no acks


class SqliteCdcDataSource(DataSource):
    """``spark.readStream.format("cheetah-sqlite-cdc")`` — keyset CDC
    over a SQLite table (options: path, table, partition_col,
    batch_size, schema via .schema())."""

    @classmethod
    def name(cls) -> str:
        return "cheetah-sqlite-cdc"

    def schema(self) -> str:
        return self.options.get("schema", EVENTS_SQLITE_SCHEMA)

    def simpleStreamReader(self, schema) -> SimpleDataSourceStreamReader:
        return _SqliteCdcStreamReader(self.options)


def register_sqlite_cdc_source(spark: SparkSession) -> None:
    spark.dataSource.register(SqliteCdcDataSource)
