"""The workloads. Each one is driven through the package's public API
from the benchmark process, one op at a time (closed loop, one client).

A workload has four phases, called by ``run.py``:

* ``prepare(root)`` makes the inputs from the seed. It must be repeatable
  into a fresh ``root``.
* ``warm()`` seeds any state and runs untimed ops until caches and lazy
  set-up are filled; it returns the errors its output checks found.
* ``op()`` is the timed unit; it returns an ``OpResult``. A run times at
  least ``MIN_OPS`` ops, so the median always covers the same stretch of
  the JVM's warm-up curve.
* ``check(result)`` verifies that op's output, outside the timed interval.
  ``final_check()`` verifies end-of-run state.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from datetime import timedelta

import duckdb
import numpy as np

from cdcbench import gen
from cdcbench.trace import NULL_TRACER

TABLES = ("orders", "lineitem")
PLANTED = "orders"          # the table whose source side carries defects
SCHEMA = "public"
DATABASE = "db"


@dataclass
class OpResult:
    rows: int                               # change rows the op applied
    detail: dict = field(default_factory=dict)


def _catalog():
    from rust_cdc_validator_spark.sources.catalog import StaticCatalog

    return StaticCatalog(
        {SCHEMA: {t: (gen.COLUMNS[t], gen.PRIMARY_KEY[t]) for t in TABLES}}
    )


def _duck():
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute("SET threads=2")
    return con


class DmsSnapshotValidate:
    """The CLI's ``--source-root`` job (``__main__.py``): snapshot every
    table, write each snapshot to parquet and count it back, validate
    against the source, then drill into the mismatched table's rows."""

    name = "dms_snapshot_validate"
    WARM_OPS, MIN_OPS = 1, 2
    LOAD = {"orders": 12_000, "lineitem": 48_000}
    PER_FILE = {"orders": 100, "lineitem": 400}
    DAYS, FILES_PER_DAY = 30, 2
    N_DEFECTS = 10

    def __init__(self, spark, seed: int, tracer=NULL_TRACER):
        self.spark, self.seed, self.tracer = spark, seed, tracer
        self.con = _duck()

    def prepare(self, root: str) -> None:
        from rust_cdc_validator_spark.api import CdcPayload, CdcValidator
        from rust_cdc_validator_spark.sources.manifest import FileMode

        self.validator = CdcValidator(self.spark, _catalog())
        rng = np.random.default_rng(self.seed)
        bucket = os.path.join(root, "bucket")
        times = gen.daily_file_times(gen.utc(2024, 3, 1), self.DAYS, self.FILES_PER_DAY)
        self.logs = {
            t: gen.write_change_log(
                t, os.path.join(bucket, DATABASE, SCHEMA, t), rng,
                self.LOAD[t], times, self.PER_FILE[t],
            )
            for t in TABLES
        }
        self.source_root = os.path.join(root, "source")
        self.out_root = os.path.join(root, "out")
        self.defects, self.expected = {}, {}
        for t, log in self.logs.items():
            state = log.final_state()
            self.expected[t] = gen.arrow_checksum(self.con, t, state)
            self.defects[t] = gen.write_source(
                t, state, os.path.join(self.source_root, t), rng,
                self.N_DEFECTS if t == PLANTED else 0,
            )
        self.rows = sum(log.load.num_rows + log.change_rows for log in self.logs.values())
        self.payload = CdcPayload(
            bucket_root="file://" + bucket, database=DATABASE, schema=SCHEMA,
            mode=FileMode.DATE_AWARE, start_date=gen.utc(2024, 1, 1),
        )

    def warm(self) -> list[str]:
        return [e for _ in range(self.WARM_OPS) for e in self.check(self.op())]

    def op(self) -> OpResult:
        spark, tr = self.spark, self.tracer
        snaps = self.validator.snapshot(self.payload)
        written = {}
        for t, df in snaps.items():
            out = f"{self.out_root}/{t}"
            with tr.span("bench.snapshot_write", table=t):
                df.write.mode("overwrite").parquet(out)
                written[t] = spark.read.parquet(out).count()
        sources = {t: spark.read.parquet(f"{self.source_root}/{t}") for t in TABLES}
        reports = self.validator.validate(self.payload, sources, snaps)
        drill = {}
        for t, rep in reports.items():
            if rep.rows_only_in_source is None:
                continue
            pk = gen.PRIMARY_KEY[t]
            with tr.span("bench.drill", table=t) as sp:
                drill[t] = (
                    {tuple(r) for r in rep.rows_only_in_source.select(*pk).collect()},
                    {tuple(r) for r in rep.rows_only_in_target.select(*pk).collect()},
                )
                sp.attrs["rows"] = sum(map(len, drill[t]))
                sp.attrs["expected"] = len(self.defects[t].only_in_source) + len(
                    self.defects[t].only_in_target
                )
        return OpResult(self.rows, {"written": written, "reports": reports, "drill": drill})

    def check(self, res: OpResult) -> list[str]:
        errors = []
        for t in TABLES:
            got = gen.parquet_checksum(self.con, t, f"{self.out_root}/{t}")
            if got != self.expected[t] or res.detail["written"][t] != self.expected[t][0]:
                errors.append(f"{t}: snapshot {got} != oracle {self.expected[t]}")
            rep = res.detail["reports"][t]
            want_match = t != PLANTED
            if rep.is_match != want_match:
                errors.append(f"{t}: is_match={rep.is_match}, expected {want_match}")
        d = self.defects[PLANTED]
        got = res.detail["drill"].get(PLANTED, (set(), set()))
        if got != (d.only_in_source, d.only_in_target):
            errors.append(f"{PLANTED}: drill-down rows differ from the planted defects")
        return errors

    def final_check(self) -> list[str]:
        return []


class StateAdvance:
    """A standing pipeline: bucketed state seeded from the LOAD files, then
    each op advances every table's state by the next one-hour window."""

    name = "state_advance"
    WARM_OPS, MIN_OPS = 1, 3
    LOAD = {"orders": 15_000, "lineitem": 60_000}
    PER_FILE = {"orders": 2_000, "lineitem": 2_000}
    HOURS = 48
    N_BUCKETS = 64

    def __init__(self, spark, seed: int, tracer=NULL_TRACER):
        self.spark, self.seed, self.tracer = spark, seed, tracer
        self.con = _duck()

    @staticmethod
    def _name(t: str, version: int) -> str:
        return f"{t}_v{version}"

    def prepare(self, root: str) -> None:
        rng = np.random.default_rng(self.seed)
        bucket = os.path.join(root, "bucket")
        self.t0 = gen.utc(2024, 3, 1)
        times = gen.hourly_file_times(self.t0, self.HOURS)
        self.logs = {
            t: gen.write_change_log(
                t, os.path.join(bucket, DATABASE, SCHEMA, t), rng,
                self.LOAD[t], times, self.PER_FILE[t],
            )
            for t in TABLES
        }
        self.bucket = "file://" + bucket

    def warm(self) -> list[str]:
        """Seed version 0 of each table's state from its LOAD file, then
        run the warm-up ops."""
        from rust_cdc_validator_spark.api import CdcValidator
        from rust_cdc_validator_spark.operators.state import save_state_bucketed

        self.validator = CdcValidator(self.spark, _catalog())
        for t, log in self.logs.items():
            load = self.spark.read.parquet(os.path.join(log.root, gen.LOAD_FILE))
            save_state_bucketed(load, self._name(t, 0), gen.PRIMARY_KEY[t], self.N_BUCKETS)
        self.version = 0
        return [e for _ in range(self.WARM_OPS) for e in self.check(self.op())]

    def op(self) -> OpResult:
        from rust_cdc_validator_spark.api import CdcPayload
        from rust_cdc_validator_spark.sources.manifest import FileMode

        if self.version >= self.HOURS:
            raise RuntimeError("state_advance ran out of generated windows")
        v = self.version
        start = self.t0 + timedelta(hours=v)
        payload = CdcPayload(
            bucket_root=self.bucket, database=DATABASE, schema=SCHEMA,
            mode=FileMode.DATE_AWARE, start_date=start,
            stop_date=start + timedelta(hours=1),
        )
        self.validator.advance_states(
            payload,
            {t: self._name(t, v) for t in TABLES},
            {t: self._name(t, v + 1) for t in TABLES},
        )
        self.version = v + 1
        rows = sum(len(log.ops[v]) for log in self.logs.values())
        return OpResult(rows, {"version": v + 1})

    def trace_detail(self, res: OpResult) -> dict:
        """Touched buckets and carried bytes of the op's new versions, from
        the table directories (hard-linked files are the carried ones)."""
        from rust_cdc_validator_spark.operators.state import _BUCKET_FILE_RE

        v = res.detail["version"]
        touched = carried = written = delta = 0
        for t, log in self.logs.items():
            new_dir = self._location(self._name(t, v))
            buckets = set()
            for name in os.listdir(new_dir):
                m = _BUCKET_FILE_RE.search(name)
                if not m:
                    continue
                st = os.stat(os.path.join(new_dir, name))
                if st.st_nlink > 1:
                    carried += st.st_size
                else:
                    written += st.st_size
                    buckets.add(int(m.group(1)))
            touched += len(buckets)
            delta += os.path.getsize(log.files[v - 1])
        return {
            "state.delta_rows": res.rows,
            "state.buckets_touched_ratio": touched / (self.N_BUCKETS * len(TABLES)),
            "state.bytes_carried": carried,
            "state.write_amp": written / delta if delta else 0.0,
        }

    def _location(self, table: str) -> str:
        from rust_cdc_validator_spark.operators.state import _local_path, _table_location

        return _local_path(_table_location(self.spark, table))

    def check(self, res: OpResult) -> list[str]:
        v = res.detail["version"]
        errors = []
        for t, log in self.logs.items():
            n = self.spark.table(self._name(t, v)).count()
            if n != log.live_after[v - 1]:
                errors.append(f"{t} v{v}: {n} live rows, generator says {log.live_after[v - 1]}")
            if v >= 2:  # keep the current and previous versions only
                self.spark.sql(f"DROP TABLE IF EXISTS {self._name(t, v - 2)}")
        return errors

    def final_check(self) -> list[str]:
        errors = []
        for t, log in self.logs.items():
            want = gen.arrow_checksum(self.con, t, log.final_state(self.version))
            got = gen.parquet_checksum(self.con, t, self._location(self._name(t, self.version)))
            if got != want:
                errors.append(f"{t} v{self.version}: state checksum {got} != oracle {want}")
        return errors


WORKLOADS = {w.name: w for w in (DmsSnapshotValidate, StateAdvance)}
