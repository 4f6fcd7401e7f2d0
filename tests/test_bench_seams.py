"""Guard for the names the CDC benchmark (``cdcbench/``) imports or patches.

The benchmark lives outside the package and reaches into it by name: it
wraps the listing functions to count listed files, patches the API's
module-level imports to time each layer, and wraps the touched-bucket merge
through the ``state`` module. A refactor that renames or re-imports one of
these silently drops a layer from the benchmark instead of failing, so this
test fails first.
"""

from __future__ import annotations

import os
import time
import uuid
from datetime import datetime

import pytest

from rust_cdc_validator_spark import api
from rust_cdc_validator_spark.operators import diff, state
from rust_cdc_validator_spark.sources import manifest


@pytest.mark.parametrize(
    "module,name",
    [
        (state, "_local_path"),
        (state, "_table_location"),
        (state, "merge_into_state_touched"),
        (manifest, "_hadoop_list"),
        (manifest, "_hadoop_list_date_narrowed"),
        (manifest, "discover_files"),
        (api, "discover_files"),
        (api, "replay_snapshot"),
        (api, "diff_tables"),
        (diff, "compute_chunk_spec"),
    ],
)
def test_benchmark_seam_is_callable(module, name):
    assert callable(getattr(module, name, None)), f"{module.__name__}.{name}"


def test_bucket_file_pattern_is_exported():
    assert state._BUCKET_FILE_RE.search("part-0-x_00007.c000.snappy.parquet")


def test_advance_state_looks_up_touched_merge_at_call_time(
    spark, tmp_path, monkeypatch
):
    """advance_state must resolve ``merge_into_state_touched`` through the
    ``state`` module when it runs, so a wrapper installed there sees the
    call."""
    from rust_cdc_validator_spark.sources.catalog import StaticCatalog
    from tests.cdc_fixtures import write_cdc_file

    cols = ["Op", "_dms_ingestion_timestamp", "id", "val"]
    tdir = f"{tmp_path}/db/public/items"
    write_cdc_file(f"{tdir}/LOAD00000001.parquet",
                   [{"Op": "I", "_dms_ingestion_timestamp": "t0",
                     "id": 1, "val": "a"}], cols)
    cdc = f"{tdir}/2024/01/02/a.parquet"
    write_cdc_file(cdc, [{"Op": "U", "_dms_ingestion_timestamp": "t1",
                          "id": 1, "val": "b"}], cols)
    t = time.mktime((2024, 1, 2, 6, 0, 0, 0, 0, -1))
    os.utime(cdc, (t, t))

    names = [f"seam_state_{uuid.uuid4().hex[:8]}_v{i}" for i in range(2)]
    calls = []
    real = state.merge_into_state_touched

    def spy(*args, **kwargs):
        calls.append(args[1:2])
        return real(*args, **kwargs)

    try:
        state.save_state_bucketed(
            spark.createDataFrame([(1, "a")], "id long, val string"),
            names[0], ["id"], n_buckets=4,
        )
        monkeypatch.setattr(state, "merge_into_state_touched", spy)
        v = api.CdcValidator(spark, StaticCatalog(
            {"public": {"items": ({"id": "integer", "val": "text"}, ["id"])}}
        ))
        out = v.advance_state(
            api.CdcPayload(bucket_root=str(tmp_path), database="db",
                           schema="public", included_tables=["items"],
                           start_date=datetime(2024, 1, 2),
                           stop_date=datetime(2024, 1, 3)),
            "items", names[0], names[1],
        )
        assert [(r["id"], r["val"]) for r in out.collect()] == [(1, "b")]
        assert calls == [(names[0],)]
    finally:
        for n in names:
            spark.sql(f"DROP TABLE IF EXISTS {n}")
