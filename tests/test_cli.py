"""CLI contract regression: drive __main__.main(argv) end-to-end on a
generated bucket (the same flow as `python -m rust_cdc_validator_spark`)."""

from __future__ import annotations

import json
from datetime import datetime, timezone

import pytest

from rust_cdc_validator_spark.__main__ import main
from tests.cdc_fixtures import customers_scenario


@pytest.fixture()
def bucket(tmp_path):
    root, expected = customers_scenario(str(tmp_path / "bucket"))
    catalog = {
        "public": {
            "customers": {
                "columns": {"id": "bigint", "name": "text",
                            "score": "double precision", "active": "boolean"},
                "primary_key": ["id"],
            }
        }
    }
    cat_path = tmp_path / "catalog.json"
    cat_path.write_text(json.dumps(catalog))
    return str(tmp_path / "bucket"), str(cat_path), str(tmp_path / "out"), expected


def test_cli_snapshot_then_validate_match(spark, bucket):
    root, cat, out, expected = bucket
    rc = main([
        "--bucket-root", root, "--database", "db", "--schema", "public",
        "--catalog-json", cat, "--start-date", "2024-01-01",
        "--output", out, "--only-snapshot",
    ])
    assert rc == 0
    snap = spark.read.parquet(f"{out}/customers")
    assert snap.count() == len(expected)

    rc2 = main([
        "--bucket-root", root, "--database", "db", "--schema", "public",
        "--catalog-json", cat, "--start-date", "2024-01-01",
        "--output", out, "--only-datadiff", "--source-root", out,
    ])
    assert rc2 == 0  # MATCH → exit 0


def test_cli_validate_mismatch_exit_code(spark, bucket):
    root, cat, out, expected = bucket
    main([
        "--bucket-root", root, "--database", "db", "--schema", "public",
        "--catalog-json", cat, "--start-date", "2024-01-01",
        "--output", out, "--only-snapshot",
    ])
    bad = str(out) + "_bad"
    spark.read.parquet(f"{out}/customers").filter("id <> 3").write.parquet(
        f"{bad}/customers"
    )
    rc = main([
        "--bucket-root", root, "--database", "db", "--schema", "public",
        "--catalog-json", cat, "--start-date", "2024-01-01",
        "--output", out, "--only-datadiff", "--source-root", bad,
    ])
    assert rc == 1  # MISMATCH → exit 1


@pytest.mark.parametrize(
    "start,want_v",
    [
        # 05:00+02:00 is 03:00Z: the 04:00Z file is inside the window
        ("2024-03-01T05:00:00+02:00", 2),
        # 03:30-02:00 is 05:30Z: the 04:00Z file is before the window
        ("2024-03-01T03:30:00-02:00", 1),
    ],
)
def test_cli_start_date_keeps_utc_offset(spark, tmp_path, start, want_v):
    """An offset on --start-date shifts the window; it is not discarded.
    Read as UTC wall time, each start would flip the file's side."""
    import os

    from tests.cdc_fixtures import write_cdc_file

    cols = ["Op", "_dms_ingestion_timestamp", "id", "v"]
    tdir = tmp_path / "bucket" / "db" / "public" / "t"
    write_cdc_file(f"{tdir}/LOAD00000001.parquet",
                   [{"Op": "I", "_dms_ingestion_timestamp": "t", "id": 1, "v": 1}],
                   cols)
    cdc = f"{tdir}/2024/03/01/a.parquet"
    write_cdc_file(cdc, [{"Op": "U", "_dms_ingestion_timestamp": "t",
                          "id": 1, "v": 2}], cols)
    t = datetime(2024, 3, 1, 4, tzinfo=timezone.utc).timestamp()
    os.utime(cdc, (t, t))
    cat = tmp_path / "catalog.json"
    cat.write_text(json.dumps({"public": {"t": {
        "columns": {"id": "bigint", "v": "bigint"}, "primary_key": ["id"]}}}))
    out = str(tmp_path / "out")
    rc = main([
        "--bucket-root", str(tmp_path / "bucket"), "--database", "db",
        "--schema", "public", "--catalog-json", str(cat),
        "--start-date", start, "--output", out, "--only-snapshot",
    ])
    assert rc == 0
    assert [r["v"] for r in spark.read.parquet(f"{out}/t").collect()] == [want_v]


def test_interactive_prompts_fill_missing_args(monkeypatch):
    """--interactive asks for every value not given as a flag, mirroring
    the reference client's inquire flow; scripted stdin drives it."""
    from rust_cdc_validator_spark.__main__ import _prompt_missing, build_parser

    args = build_parser().parse_args(["--interactive", "--database", "db"])
    answers = iter([
        "file:///tmp/cdc",   # bucket root
        "public",            # schema
        "/tmp/catalog.json", # catalog json
        "/tmp/out",          # output
        "",                  # mode → keep default date_aware
        "2024-01-01",        # start date (required in date_aware)
        "",                  # stop date → none
        "t1 t2",             # included tables
        "500",               # chunk size
        "",                  # start position → default 0
    ])
    _prompt_missing(args, input_fn=lambda prompt: next(answers))
    assert args.bucket_root == "file:///tmp/cdc"
    assert args.database == "db"  # flag value not re-asked
    assert args.schema == "public"
    assert args.start_date == "2024-01-01" and args.stop_date is None
    assert args.included_tables == ["t1", "t2"]
    assert args.chunk_size == 500 and args.start_position == 0


def test_missing_required_args_error_names_interactive(capsys):
    import pytest
    from rust_cdc_validator_spark.__main__ import main

    with pytest.raises(SystemExit) as exc:
        main(["--database", "db"])
    assert exc.value.code == 2
    assert "--interactive" in capsys.readouterr().err


def test_cli_advance_state(spark, bucket):
    """--advance-state moves a seeded bucketed state forward over the
    window (empty future window here: version forward, stamped) and
    requires exactly one included table."""
    import uuid

    from rust_cdc_validator_spark.api import CdcPayload, CdcValidator
    from rust_cdc_validator_spark.operators.state import save_state_bucketed
    from rust_cdc_validator_spark.sources.catalog import StaticCatalog

    root, cat, out, expected = bucket
    catalog = StaticCatalog({"public": {"customers": (
        {"id": "bigint", "name": "text", "score": "double precision",
         "active": "boolean"}, ["id"])}})
    v = CdcValidator(spark, catalog)
    snap = v.snapshot(CdcPayload(
        bucket_root=root, database="db", schema="public",
        start_date="2024-01-01T00:00:00Z",
    ))["customers"]
    v0 = f"cli_state_{uuid.uuid4().hex[:8]}"
    v1 = f"{v0}_v1"
    try:
        save_state_bucketed(snap, v0, ["id"], n_buckets=4)
        rc = main([
            "--bucket-root", root, "--database", "db", "--schema", "public",
            "--catalog-json", cat, "--start-date", "2099-01-01",
            "--stop-date", "2099-01-02", "--included-tables", "customers",
            "--advance-state", v0, v1,
        ])
        assert rc == 0
        got = sorted(map(tuple, spark.table(v1).collect()))
        assert got == sorted(map(tuple, snap.collect()))
        assert v.state_window(v1)["start"].year == 2099

        with pytest.raises(SystemExit):
            main([
                "--bucket-root", root, "--database", "db", "--schema", "public",
                "--catalog-json", cat, "--start-date", "2099-01-01",
                "--advance-state", v0, v1,  # no --included-tables
            ])
    finally:
        for t in (v0, v1):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


# ---------------------------------------------------------------------------
# --corpus-prep leg
# ---------------------------------------------------------------------------


def _corpus_parquet(spark, tmp_path):
    base = "the quick brown fox jumps over the lazy dog near the river " * 3
    rows = [
        (1, base.strip(), "srcA"),
        (2, base.strip().upper() + "...", "srcA"),  # exact dup after norm
        (3, "short", "srcB"),                        # gated out
        (4, "a completely different document with the quick brown fox and "
            "plenty of additional words to pass the length gate easily "
            "plus more the and of filler", "srcB"),
    ]
    p = str(tmp_path / "docs_in")
    spark.createDataFrame(
        rows, "doc_id long, text string, source string"
    ).write.parquet(p)
    return p


def test_cli_corpus_prep_parquet(spark, tmp_path):
    inp = _corpus_parquet(spark, tmp_path)
    outp = str(tmp_path / "shards")
    rc = main(["--corpus-prep", inp, outp, "--corpus-min-chars", "50",
               "--corpus-shuffle-seed", "3"])
    assert rc == 0
    out = spark.read.parquet(outp)
    ids = {r["doc_id"] for r in out.collect()}
    assert ids == {1, 4}  # 2 deduped into 1, 3 gated
    cols = set(out.columns)
    assert {"doc_id", "text", "source", "shard", "shard_pos"} <= cols
    from rust_cdc_validator_spark.sources.corpus_io import read_manifest

    man = read_manifest(spark, outp)
    assert man["row_count"] == 2 and man["num_shards"] >= 1


def test_cli_corpus_prep_jsonl_with_quarantine(spark, tmp_path):
    lines = [
        '{"doc_id": 1, "text": "' + ("the quick brown fox and the lazy dog "
                                     * 4).strip() + '"}',
        "THIS IS NOT JSON",
        '{"doc_id": 2, "text": "short"}',
    ]
    inp = tmp_path / "in.jsonl"
    inp.write_text("\n".join(lines) + "\n")
    outp = str(tmp_path / "shards_j")
    quar = str(tmp_path / "quarantine")
    rc = main([
        "--corpus-prep", str(inp), outp,
        "--corpus-format", "jsonl",
        "--corpus-jsonl-schema", "doc_id long, text string",
        "--corpus-quarantine", quar,
        "--corpus-min-chars", "50",
    ])
    assert rc == 0
    out = spark.read.parquet(outp)
    assert {r["doc_id"] for r in out.collect()} == {1}
    bad = [r["value"] for r in spark.read.text(quar).collect()]
    assert bad == ["THIS IS NOT JSON"]


def test_cli_corpus_prep_jsonl_requires_schema(tmp_path):
    rc = main([
        "--corpus-prep", str(tmp_path / "x.jsonl"), str(tmp_path / "o"),
        "--corpus-format", "jsonl",
    ])
    assert rc == 2


def test_cli_corpus_prep_sort_by_recorded_in_manifest(spark, tmp_path):
    inp = _corpus_parquet(spark, tmp_path)
    outp = str(tmp_path / "shards_sorted")
    rc = main(["--corpus-prep", inp, outp, "--corpus-min-chars", "50",
               "--corpus-sort-by", "doc_id"])
    assert rc == 0
    from rust_cdc_validator_spark.sources.corpus_io import read_manifest

    assert read_manifest(spark, outp)["sort_by"] == ["doc_id"]


def test_cli_drift_states_exit_codes(spark, tmp_path):
    import uuid

    from rust_cdc_validator_spark.operators.state import save_state_bucketed

    a = f"cli_drift_{uuid.uuid4().hex[:8]}_a"
    b = f"cli_drift_{uuid.uuid4().hex[:8]}_b"
    try:
        df = spark.createDataFrame(
            [(i, float(i)) for i in range(40)], "id long, v double"
        )
        save_state_bucketed(df, a, ["id"], n_buckets=2)
        save_state_bucketed(
            df.selectExpr("id", "v * 5 as v"), b, ["id"], n_buckets=2
        )
        assert main(["--drift-states", a, a]) == 0   # identical: clean exit
        assert main(["--drift-states", a, b]) == 1   # moved column: flagged
    finally:
        for t in (a, b):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_cli_corpus_prep_splits_column(spark, tmp_path):
    inp = _corpus_parquet(spark, tmp_path)
    outp = str(tmp_path / "shards_split")
    rc = main(["--corpus-prep", inp, outp, "--corpus-min-chars", "50",
               "--corpus-splits", "train=0.9,val=0.1"])
    assert rc == 0
    rows = spark.read.parquet(outp).collect()
    assert all(r["split"] in ("train", "val") for r in rows)

    rc2 = main(["--corpus-prep", inp, str(tmp_path / "x"),
                "--corpus-splits", "garbage"])
    assert rc2 == 2


def test_cli_quality_audit(spark, tmp_path):
    import json

    tbl = str(tmp_path / "qa_table.parquet")
    spark.createDataFrame(
        [(1, 10), (2, 10), (None, 99)], "k long, fk long"
    ).write.parquet(tbl)
    refroot = tmp_path / "refs"
    refroot.mkdir()
    spark.createDataFrame([(10,), (20,)], "rk long").write.parquet(
        str(refroot / "dim.parquet")
    )
    spec = tmp_path / "spec.json"
    spec.write_text(json.dumps([
        {"name": "k_nn", "kind": "not_null", "column": "k"},
        {"name": "fk_ok", "kind": "referential", "column": "fk",
         "ref_table": "dim", "ref_col": "rk"},
    ]))
    rc = main(["--quality-audit", tbl, str(spec),
               "--quality-ref-root", str(refroot)])
    assert rc == 0  # report mode never gates
    rc = main(["--quality-audit", tbl, str(spec),
               "--quality-ref-root", str(refroot),
               "--quality-fail-on-violation"])
    assert rc == 2  # null k + unmatched fk 99 violate
    # a clean table passes the gate
    clean = str(tmp_path / "qa_clean.parquet")
    spark.createDataFrame([(1, 10), (2, 20)], "k long, fk long").write.parquet(
        clean
    )
    rc = main(["--quality-audit", clean, str(spec),
               "--quality-ref-root", str(refroot),
               "--quality-fail-on-violation"])
    assert rc == 0
    # referential without a ref root is a usage error
    rc = main(["--quality-audit", tbl, str(spec)])
    assert rc == 1
