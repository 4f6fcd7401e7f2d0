"""Seeded input generators and package-independent oracles.

Everything here is numpy + pyarrow (+ DuckDB for checksums); nothing imports
the package under test, so the expected results cannot inherit its defects.

* TPC-H-shaped ``orders`` / ``lineitem`` rows, with the column names and
  Arrow types of the sf0.1 test tables. ``lineitem``'s primary key
  (``l_orderkey``, ``l_linenumber``) is unique by construction: a key id
  ``k`` maps to order ``k // 7`` and line ``k % 7 + 1``.
* A DMS-layout bucket per table: ``LOAD00000001.parquet`` at the table root
  plus ``YYYY/MM/DD/<timestamp>.parquet`` change files (``Op`` I/U/D and
  ``_dms_ingestion_timestamp`` envelope). Every change file's mtime is
  pinned with ``os.utime`` to the timestamp in its name, so date windows
  never depend on when the files were written.
* The expected final state by a numpy last-writer pass over the rows in
  replay order (LOAD first, then change files in key order, rows in file
  order), and an order-insensitive DuckDB checksum over it.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from datetime import datetime, timedelta, timezone

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

ENVELOPE = ("Op", "_dms_ingestion_timestamp")
OPS = np.array(["I", "U", "D"])
_I, _U, _D = 0, 1, 2
_EPOCH_DAY = np.datetime64("1995-01-01", "us")
_LINES_PER_ORDER = 7
LOAD_FILE = "LOAD00000001.parquet"

# Postgres catalog types (StaticCatalog); only the names and order matter
# to the package, which reads the data types from the parquet files.
COLUMNS = {
    "orders": {
        "o_orderkey": "bigint",
        "o_custkey": "bigint",
        "o_orderstatus": "text",
        "o_totalprice": "double precision",
        "o_orderdate": "timestamp",
        "o_orderpriority": "text",
    },
    "lineitem": {
        "l_orderkey": "bigint",
        "l_partkey": "bigint",
        "l_suppkey": "bigint",
        "l_linenumber": "integer",
        "l_quantity": "double precision",
        "l_extendedprice": "double precision",
        "l_discount": "double precision",
        "l_tax": "double precision",
        "l_returnflag": "text",
        "l_linestatus": "text",
        "l_shipdate": "timestamp",
    },
}
PRIMARY_KEY = {"orders": ["o_orderkey"], "lineitem": ["l_orderkey", "l_linenumber"]}
_DUCK_TYPES = {
    "bigint": "BIGINT",
    "integer": "INTEGER",
    "text": "VARCHAR",
    "double precision": "DOUBLE",
    "timestamp": "TIMESTAMP",
}


def _dates(rng, n: int) -> np.ndarray:
    return _EPOCH_DAY + rng.integers(0, 2400, n).astype("timedelta64[D]")


def table_rows(table: str, rng, key_ids: np.ndarray) -> dict[str, np.ndarray]:
    """Column arrays for ``key_ids`` with fresh random non-key values."""
    n = len(key_ids)
    if table == "orders":
        return {
            "o_orderkey": key_ids.astype(np.int64),
            "o_custkey": rng.integers(0, 15_000, n),
            "o_orderstatus": rng.choice(np.array(["O", "F", "P"]), n),
            "o_totalprice": np.round(rng.uniform(1000.0, 500_000.0, n), 2),
            "o_orderdate": _dates(rng, n),
            "o_orderpriority": rng.choice(
                np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]), n
            ),
        }
    if table == "lineitem":
        qty = rng.integers(1, 51, n).astype(np.float64)
        return {
            "l_orderkey": (key_ids // _LINES_PER_ORDER).astype(np.int64),
            "l_partkey": rng.integers(0, 20_000, n),
            "l_suppkey": rng.integers(0, 1_000, n),
            "l_linenumber": (key_ids % _LINES_PER_ORDER + 1).astype(np.int32),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n), 2),
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": rng.choice(np.array(["N", "R", "A"]), n),
            "l_linestatus": rng.choice(np.array(["O", "F"]), n),
            "l_shipdate": _dates(rng, n),
        }
    raise ValueError(f"unknown table {table!r}")


def data_schema(table: str) -> pa.Schema:
    """Arrow schema of the data columns (shared by change files and source)."""
    sample = pa.table(table_rows(table, np.random.default_rng(0), np.arange(1)))
    return sample.schema


def _arrow(table: str, cols: dict[str, np.ndarray], ops=None, ts=None) -> pa.Table:
    arrays = {}
    if ops is not None:
        arrays["Op"] = pa.array(OPS[ops])
        arrays["_dms_ingestion_timestamp"] = pa.array(np.repeat(ts, len(ops)))
    for name, arr in cols.items():
        arrays[name] = arr
    schema = data_schema(table)
    if ops is not None:
        schema = pa.schema(
            [pa.field("Op", pa.string()), pa.field("_dms_ingestion_timestamp", pa.string())]
            + list(schema)
        )
    return pa.table(arrays, schema=schema)


@dataclass
class ChangeLog:
    """One table's generated history, in replay order."""

    table: str
    root: str
    load: pa.Table
    load_ids: np.ndarray
    files: list[str] = field(default_factory=list)
    frames: list[pa.Table] = field(default_factory=list)
    ids: list[np.ndarray] = field(default_factory=list)
    ops: list[np.ndarray] = field(default_factory=list)
    live_after: list[int] = field(default_factory=list)

    @property
    def change_rows(self) -> int:
        return sum(len(o) for o in self.ops)

    def final_state(self, n_files: int | None = None) -> pa.Table:
        """Last-writer state after LOAD + the first ``n_files`` change files."""
        k = len(self.files) if n_files is None else n_files
        ids = np.concatenate([self.load_ids, *self.ids[:k]])
        ops = np.concatenate([np.zeros(len(self.load_ids), np.int8), *self.ops[:k]])
        rows = pa.concat_tables(
            [self.load] + [f.drop_columns(list(ENVELOPE)) for f in self.frames[:k]]
        )
        rev_first = np.unique(ids[::-1], return_index=True)[1]
        last = len(ids) - 1 - rev_first
        last = last[ops[last] != _D]
        return rows.take(pa.array(np.sort(last)))


def _cdc_path(root: str, ts: datetime) -> str:
    name = f"{ts:%Y%m%d-%H%M%S}{ts.microsecond // 1000:03d}.parquet"
    return os.path.join(root, f"{ts:%Y}", f"{ts:%m}", f"{ts:%d}", name)


def write_change_log(
    table: str,
    root: str,
    rng,
    n_load: int,
    file_times: list[datetime],
    rows_per_file: int,
    mix: tuple[float, float, float] = (0.2, 0.65, 0.15),
) -> ChangeLog:
    """Write LOAD + one change file per entry of ``file_times``.

    Updates and deletes address keys live before the file (drawn with
    replacement, so a key can change twice inside one file and only the
    later row counts); inserts take fresh key ids. Rows inside a file are
    shuffled, so replay must honour in-file order.
    """
    key_space = 2 * n_load + rows_per_file * len(file_times)
    perm = rng.permutation(key_space)
    load_ids = np.sort(perm[:n_load])
    fresh = perm[n_load:]
    alive = np.zeros(key_space, bool)
    alive[load_ids] = True
    os.makedirs(root, exist_ok=True)
    load = _arrow(table, table_rows(table, rng, load_ids))
    pq.write_table(load, os.path.join(root, LOAD_FILE))
    log = ChangeLog(table, root, load, load_ids)
    for ts in file_times:
        n_i = int(rows_per_file * mix[0])
        n_d = int(rows_per_file * mix[2])
        n_u = rows_per_file - n_i - n_d
        live = np.flatnonzero(alive)
        ins, fresh = fresh[:n_i], fresh[n_i:]
        ids = np.concatenate([ins, rng.choice(live, n_u), rng.choice(live, n_d)])
        ops = np.concatenate(
            [np.full(n_i, _I, np.int8), np.full(n_u, _U, np.int8), np.full(n_d, _D, np.int8)]
        )
        order = rng.permutation(len(ids))
        ids, ops = ids[order], ops[order]
        stamp = ts.strftime("%Y-%m-%dT%H:%M:%S.%fZ")
        frame = _arrow(table, table_rows(table, rng, ids), ops, stamp)
        path = _cdc_path(root, ts)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        pq.write_table(frame, path)
        epoch = ts.timestamp()
        os.utime(path, (epoch, epoch))
        # last op per key inside this file decides liveness
        rev_first = np.unique(ids[::-1], return_index=True)[1]
        last = len(ids) - 1 - rev_first
        alive[ids[last]] = ops[last] != _D
        log.files.append(path)
        log.frames.append(frame)
        log.ids.append(ids)
        log.ops.append(ops)
        log.live_after.append(int(alive.sum()))
    return log


def daily_file_times(start: datetime, days: int, per_day: int) -> list[datetime]:
    step = timedelta(hours=24 / per_day)
    return [
        start + timedelta(days=d) + i * step + timedelta(minutes=7, milliseconds=123)
        for d in range(days)
        for i in range(per_day)
    ]


def hourly_file_times(start: datetime, hours: int) -> list[datetime]:
    return [start + timedelta(hours=h, minutes=30) for h in range(hours)]


def utc(y: int, m: int, d: int) -> datetime:
    return datetime(y, m, d, tzinfo=timezone.utc)


# ---------------------------------------------------------------- source side


@dataclass
class Defects:
    """Planted source-side defects, by primary-key tuple."""

    missing: set = field(default_factory=set)   # in snapshot, not in source
    extra: set = field(default_factory=set)     # in source, not in snapshot
    changed: set = field(default_factory=set)   # both, different values

    @property
    def only_in_source(self) -> set:
        return self.extra | self.changed

    @property
    def only_in_target(self) -> set:
        return self.missing | self.changed


def pk_tuples(tbl: pa.Table, pk: list[str]) -> list[tuple]:
    cols = [tbl.column(c).to_pylist() for c in pk]
    return list(zip(*cols))


def write_source(
    table: str, state: pa.Table, path: str, rng, n_defects: int = 0
) -> Defects:
    """Write the source side of ``table`` (same Arrow schema as the change
    files' data columns), planting ``n_defects`` each of missing, extra and
    changed rows."""
    pk = PRIMARY_KEY[table]
    defects = Defects()
    if n_defects:
        pick = rng.choice(state.num_rows, 2 * n_defects, replace=False)
        drop, change = pick[:n_defects], pick[n_defects:]
        keys = pk_tuples(state, pk)
        defects.missing = {keys[i] for i in drop}
        defects.changed = {keys[i] for i in change}
        mask = np.ones(state.num_rows, bool)
        mask[drop] = False
        # changed rows: same key, a price no generated row can hold
        price_col = "o_totalprice" if table == "orders" else "l_extendedprice"
        prices = state.column(price_col).to_numpy().copy()
        prices[change] = -1.0 - np.arange(n_defects)
        state = state.set_column(
            state.schema.get_field_index(price_col), price_col, pa.array(prices)
        ).filter(pa.array(mask))
        # extra rows: keys beyond every generated key id
        top = int(pc.max(state.column(pk[0])).as_py()) + 1
        extra_ids = (top + np.arange(n_defects)) * _LINES_PER_ORDER
        extra = _arrow(table, table_rows(table, rng, extra_ids))
        defects.extra = set(pk_tuples(extra, pk))
        state = pa.concat_tables([state, extra])
    os.makedirs(path, exist_ok=True)
    pq.write_table(state, os.path.join(path, "part-0.parquet"))
    return defects


# ---------------------------------------------------------------- checksums


def duck_checksum(con, table: str, relation: str) -> tuple[int, int]:
    """Order-insensitive (count, checksum) over ``relation`` in DuckDB, with
    every column cast to its catalog type first so both sides hash alike."""
    cols = ", ".join(
        f"CAST({c} AS {_DUCK_TYPES[t]})" for c, t in COLUMNS[table].items()
    )
    n, h = con.execute(
        f"SELECT count(*), sum(hash({cols})::HUGEINT) FROM {relation}"
    ).fetchone()
    return int(n), int(h or 0)


def arrow_checksum(con, table: str, state: pa.Table) -> tuple[int, int]:
    con.register("_oracle_state", state)
    try:
        return duck_checksum(con, table, "_oracle_state")
    finally:
        con.unregister("_oracle_state")


def parquet_checksum(con, table: str, directory: str) -> tuple[int, int]:
    return duck_checksum(
        con, table, f"read_parquet('{directory}/**/*.parquet')"
    )
