"""Bucketed snapshot state + co-located incremental merge (SCALE.md
deferred item, landed r5). Two contracts:

* CORRECTNESS: merging CDC batches one at a time into bucketed state gives
  bit-identical final state to replaying the whole LOAD+CDC log at once.
* SCALE SHAPE: the merge plan has NO Exchange above the bucketed state
  scan — only the delta shuffles. With the state being the 100 TB side,
  that asymmetry is the entire point.
"""

from __future__ import annotations

import uuid

import pytest
from pyspark.sql import functions as F

from rust_cdc_validator_spark.operators.replay import net_effect
from rust_cdc_validator_spark.operators.state import (
    last_change_per_key,
    merge_into_state,
    save_state_bucketed,
)


@pytest.fixture()
def state_table(spark):
    name = f"state_{uuid.uuid4().hex[:10]}"
    yield name
    for t in (name, f"{name}_v2", f"{name}_v3"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def _log(spark, rows):
    return spark.createDataFrame(
        rows, "id long, val string, Op string, _seq long"
    )


def test_incremental_merge_equals_full_replay(spark, state_table):
    load = [(i, f"v{i}", None, i) for i in range(50)]
    batch1 = [
        (1, "updated-1", "U", 100),
        (2, None, "D", 101),
        (60, "new-60", "I", 102),
        (3, "mid-3", "U", 103),
        (3, "final-3", "U", 104),  # two changes to one key in one batch
    ]
    batch2 = [
        (60, None, "D", 200),      # delete a key inserted by batch1
        (2, "back-2", "I", 201),   # re-insert a deleted key
        (4, "updated-4", "U", 202),
    ]

    # incremental: LOAD → state, then merge each batch
    state0 = net_effect(_log(spark, load), ["id"])
    save_state_bucketed(state0, state_table, ["id"], n_buckets=4)
    s1 = merge_into_state(spark, state_table, _log(spark, batch1), ["id"])
    save_state_bucketed(s1, f"{state_table}_v2", ["id"], n_buckets=4)
    s2 = merge_into_state(spark, f"{state_table}_v2", _log(spark, batch2), ["id"])

    # reference: replay the whole log in one shot
    full = net_effect(_log(spark, load + batch1 + batch2), ["id"])

    got = sorted(map(tuple, s2.collect()))
    want = sorted(map(tuple, full.collect()))
    assert got == want
    assert s2.columns == full.columns


def test_merge_plan_never_shuffles_the_state_side(spark, state_table):
    state0 = net_effect(
        _log(spark, [(i, f"v{i}", None, i) for i in range(100)]), ["id"]
    )
    save_state_bucketed(state0, state_table, ["id"], n_buckets=4)
    delta = _log(spark, [(1, "x", "U", 10), (200, "y", "I", 11)])

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # force the SMJ path (a broadcast of the delta would ALSO leave the
        # state unshuffled, but gives a plan this assertion can't read)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        merged = merge_into_state(spark, state_table, delta, ["id"])
        plan = merged._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)

    assert "SortMergeJoin" in plan
    # exactly ONE hash exchange — the delta's (repartitioned to the bucket
    # count). The bucketed scan satisfies the join's distribution
    # requirement straight from the file layout.
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Bucketed: true" in plan
    assert "SelectedBucketsCount: 4 out of 4" in plan


def test_incremental_merge_property_random_logs(spark):
    """Property: for ANY change log split at ANY point into (history →
    bucketed state) + (tail batch), merge(state, tail) == replay(whole log).
    Hypothesis drives the log shape; the split point exercises empty-state,
    empty-batch, delete-then-reinsert and repeated-key orderings."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    ops = st.sampled_from(["I", "U", "D"])
    keys = st.integers(min_value=0, max_value=5)
    vals = st.integers(min_value=-99, max_value=99)
    logs = st.lists(st.tuples(keys, ops, vals), min_size=1, max_size=30)

    def to_df(log, offset=0):
        rows = [
            (k, str(v), op, offset + i) for i, (k, op, v) in enumerate(log)
        ]
        schema = "id long, val string, Op string, _seq long"
        return (
            spark.createDataFrame(rows, schema)
            if rows
            else spark.createDataFrame([], schema)
        )

    @settings(max_examples=8, deadline=None,
              suppress_health_check=[HealthCheck.too_slow])
    @given(logs, st.data())
    def run(log, data):
        cut = data.draw(st.integers(min_value=0, max_value=len(log)))
        name = f"prop_state_{uuid.uuid4().hex[:10]}"
        try:
            save_state_bucketed(
                net_effect(to_df(log[:cut]), ["id"]), name, ["id"], n_buckets=4
            )
            merged = merge_into_state(spark, name, to_df(log[cut:], offset=cut), ["id"])
            got = sorted(map(tuple, merged.collect()))
            want = sorted(map(tuple, net_effect(to_df(log), ["id"]).collect()))
            assert got == want
        finally:
            spark.sql(f"DROP TABLE IF EXISTS {name}")

    run()


def test_last_change_per_key_keeps_deletes(spark):
    log = _log(spark, [(1, "a", "I", 0), (1, None, "D", 1), (2, "b", "I", 2)])
    got = {r["id"]: r["_op"] for r in last_change_per_key(log, ["id"]).collect()}
    assert got == {1: "D", 2: "I"}


# ---- touched-bucket-only writes (VERDICT r5 next-round #1) ----------------

from rust_cdc_validator_spark.operators.state import (  # noqa: E402
    _bucket_files,
    _table_location,
    bucket_id,
    merge_into_state_touched,
)


def _local(loc: str) -> str:
    return loc[len("file:"):] if loc.startswith("file:") else loc


def _file_bytes(loc: str, name: str) -> bytes:
    import os

    with open(os.path.join(_local(loc), name), "rb") as f:
        return f.read()


def test_bucket_id_matches_file_layout(spark, state_table):
    """Empirical pin: bucket_id() == the bucket each file's rows actually
    landed in under bucketBy — the formula the touched-file reuse relies on."""
    df = spark.range(0, 500).select("id", F.col("id").cast("string").alias("val"))
    save_state_bucketed(df, state_table, ["id"], n_buckets=8)
    loc = _table_location(spark, state_table)
    files = _bucket_files(spark, loc)
    assert files and set(files) <= set(range(8))
    for b, names in files.items():
        for name in names:
            got = (
                spark.read.parquet(f"{loc}/{name}")
                .select(bucket_id(["id"], 8).alias("b"))
                .distinct()
                .collect()
            )
            assert [r["b"] for r in got] == [b]


def test_bucket_id_matches_file_layout_multicol(spark, state_table):
    df = spark.range(0, 200).select(
        "id", (F.col("id") % 7).alias("part"), F.lit("x").alias("val")
    )
    save_state_bucketed(df, state_table, ["id", "part"], n_buckets=4)
    loc = _table_location(spark, state_table)
    for b, names in _bucket_files(spark, loc).items():
        for name in names:
            got = (
                spark.read.parquet(f"{loc}/{name}")
                .select(bucket_id(["id", "part"], 4).alias("b"))
                .distinct()
                .collect()
            )
            assert [r["b"] for r in got] == [b]


def test_touched_merge_reuses_untouched_files_byte_identical(spark, state_table):
    """The batch sibling of test_streaming's untouched-bucket byte-identity:
    buckets the delta doesn't touch carry the OLD version's files verbatim;
    touched buckets are freshly written."""
    state0 = net_effect(
        _log(spark, [(i, f"v{i}", None, i) for i in range(200)]), ["id"]
    )
    save_state_bucketed(state0, state_table, ["id"], n_buckets=8)
    delta_rows = [(1, "x", "U", 500), (2, None, "D", 501), (300, "n", "I", 502)]
    touched = {
        r[0]
        for r in spark.createDataFrame([(1,), (2,), (300,)], "id long")
        .select(bucket_id(["id"], 8).alias("b"))
        .distinct()
        .collect()
    }

    new = f"{state_table}_v2"
    got = merge_into_state_touched(
        spark, state_table, _log(spark, delta_rows), ["id"], new
    )
    want = merge_into_state(spark, state_table, _log(spark, delta_rows), ["id"])
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))

    old_loc = _table_location(spark, state_table)
    new_loc = _table_location(spark, new)
    old_files = _bucket_files(spark, old_loc)
    new_files = _bucket_files(spark, new_loc)
    untouched = set(old_files) - touched
    assert untouched, "fixture must exercise the carry-over path"
    import os

    for b in untouched:
        assert sorted(new_files[b]) == sorted(old_files[b])
        for name in old_files[b]:
            assert _file_bytes(new_loc, name) == _file_bytes(old_loc, name)
            # local store: carried files are hard LINKS — zero bytes
            # duplicated per version, not just byte-equal copies
            old_ino = os.stat(os.path.join(_local(old_loc), name)).st_ino
            new_ino = os.stat(os.path.join(_local(new_loc), name)).st_ino
            assert old_ino == new_ino
    for b in touched & set(new_files):
        assert not set(new_files[b]) & set(old_files.get(b, []))


def test_touched_merge_fully_deleted_bucket_writes_no_file(spark, state_table):
    state0 = net_effect(
        _log(spark, [(i, f"v{i}", None, i) for i in range(100)]), ["id"]
    )
    save_state_bucketed(state0, state_table, ["id"], n_buckets=4)
    keys = [
        r["id"]
        for r in spark.table(state_table).filter(bucket_id(["id"], 4) == 0).collect()
    ]
    assert keys
    delta = _log(spark, [(k, None, "D", 1000 + i) for i, k in enumerate(keys)])
    new = f"{state_table}_v2"
    got = merge_into_state_touched(spark, state_table, delta, ["id"], new)
    assert 0 not in _bucket_files(spark, _table_location(spark, new))
    assert got.count() == 100 - len(keys)
    assert got.filter(F.col("id").isin(keys)).count() == 0


def test_touched_merge_read_strategies_equivalent(spark, state_table):
    """The touched fraction picks the state read: a delta touching one
    bucket reads only that bucket's files (re-shuffling the touched
    fraction), a delta touching every bucket takes the exchange-free full
    bucketed scan. Each must give the same state as merge_into_state."""
    from rust_cdc_validator_spark.operators.state import _PRUNE_THRESHOLD

    n_buckets = 8
    state0 = net_effect(
        _log(spark, [(i, f"v{i}", None, i) for i in range(200)]), ["id"]
    )
    save_state_bucketed(state0, state_table, ["id"], n_buckets=n_buckets)
    by_bucket = {}
    for r in spark.table(state_table).select(
        "id", bucket_id(["id"], n_buckets).alias("b")
    ).collect():
        by_bucket.setdefault(r["b"], []).append(r["id"])
    assert len(by_bucket) == n_buckets, "fixture must fill every bucket"
    one = sorted(by_bucket[0])[:3]
    every = [ids[0] for ids in by_bucket.values()]
    small = [(one[0], "x", "U", 500), (one[1], None, "D", 501), (one[2], "y", "U", 502)]
    wide = [(k, None if i % 2 else f"w{k}", "D" if i % 2 else "U", 600 + i)
            for i, k in enumerate(every)] + [(300, "n", "I", 700)]

    for rows, new, pruned in ((small, f"{state_table}_v2", True),
                              (wide, f"{state_table}_v3", False)):
        touched = {
            r["b"]
            for r in _log(spark, rows)
            .select(bucket_id(["id"], n_buckets).alias("b"))
            .distinct()
            .collect()
        }
        assert (len(touched) <= _PRUNE_THRESHOLD * n_buckets) == pruned
        got = merge_into_state_touched(
            spark, state_table, _log(spark, rows), ["id"], new
        )
        want = merge_into_state(spark, state_table, _log(spark, rows), ["id"])
        assert sorted(map(tuple, got.collect())) == sorted(
            map(tuple, want.collect())
        )


def test_dropping_old_version_leaves_linked_version_readable(spark, state_table):
    """Version isolation under hard-linked carry-over: dropping version N
    (managed-table drop deletes its directory) must leave version N+1 fully
    readable — links keep the shared bytes alive until the LAST version
    referencing them is dropped. This is what makes link-based versioning
    safe to GC from the tail."""
    state0 = net_effect(
        _log(spark, [(i, f"v{i}", None, i) for i in range(200)]), ["id"]
    )
    save_state_bucketed(state0, state_table, ["id"], n_buckets=8)
    new = f"{state_table}_v2"
    got = merge_into_state_touched(
        spark, state_table, _log(spark, [(1, "x", "U", 500)]), ["id"], new
    )
    want = sorted(map(tuple, got.collect()))

    spark.sql(f"DROP TABLE {state_table}")  # deletes v1's directory
    after = sorted(map(tuple, spark.table(new).collect()))
    assert after == want
    assert len(after) == 200


# ---------------------------------------------------------------------------
# Version-manifest state (r7)
# ---------------------------------------------------------------------------


def test_manifest_chain_equals_full_replay(spark, tmp_path):
    """Property: chaining manifest merges batch-by-batch over ANY random
    change log equals replaying the whole log at once — the chained-merge
    contract, now against the manifest reader."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from rust_cdc_validator_spark.operators.state import (
        init_state_manifest,
        merge_into_state_manifest,
        read_state_manifest,
    )

    ops = st.sampled_from(["I", "U", "D"])
    keys = st.integers(min_value=0, max_value=5)
    vals = st.integers(min_value=-99, max_value=99)
    logs = st.lists(st.tuples(keys, ops, vals), min_size=1, max_size=24)

    def to_df(log, offset=0):
        rows = [(k, str(v), op, offset + i) for i, (k, op, v) in enumerate(log)]
        schema = "id long, val string, Op string, _seq long"
        return (
            spark.createDataFrame(rows, schema)
            if rows
            else spark.createDataFrame([], schema)
        )

    case = {"n": 0}

    @settings(max_examples=6, deadline=None,
              suppress_health_check=[HealthCheck.too_slow])
    @given(logs, st.data())
    def run(log, data):
        case["n"] += 1
        root = str(tmp_path / f"mstate_{case['n']}")
        cut1 = data.draw(st.integers(min_value=0, max_value=len(log)))
        cut2 = data.draw(st.integers(min_value=cut1, max_value=len(log)))
        init_state_manifest(
            spark, net_effect(to_df(log[:cut1]), ["id"]).drop("Op", "_seq"),
            root, ["id"], n_buckets=4,
        )
        merge_into_state_manifest(spark, root, to_df(log[cut1:cut2], offset=cut1))
        v = merge_into_state_manifest(spark, root, to_df(log[cut2:], offset=cut2))
        got = sorted(map(tuple, read_state_manifest(spark, root, v).collect()))
        want = sorted(
            map(tuple, net_effect(to_df(log), ["id"]).drop("Op", "_seq").collect())
        )
        assert got == want

    run()


def test_manifest_untouched_buckets_carry_as_paths(spark, tmp_path):
    """Zero-copy contract: buckets the delta does not touch appear in the
    new manifest as the OLD version's file paths verbatim — no new file is
    written for them on any store (the manifest-layer replacement for the
    object-store copy fallback)."""
    from rust_cdc_validator_spark.operators.state import (
        _load_manifest,
        _version_bucket_files,
        bucket_id,
        init_state_manifest,
        merge_into_state_manifest,
        read_state_manifest,
    )

    root = str(tmp_path / "mstate")
    state0 = spark.createDataFrame(
        [(i, f"v{i}") for i in range(200)], "id long, val string"
    )
    init_state_manifest(spark, state0, root, ["id"], n_buckets=8)
    delta = _log(spark, [(1, "x", "U", 500), (2, None, "D", 501), (300, "n", "I", 502)])
    touched = {
        r[0]
        for r in spark.createDataFrame([(1,), (2,), (300,)], "id long")
        .select(bucket_id(["id"], 8).alias("b"))
        .distinct()
        .collect()
    }
    v1 = merge_into_state_manifest(spark, root, delta)
    m0 = _load_manifest(spark, root, 0)
    m1 = _load_manifest(spark, root, v1)
    untouched = set(m0["buckets"]) - touched
    assert untouched, "fixture must exercise the carry path"
    for b in untouched:
        assert m1["buckets"][b] == m0["buckets"][b]  # identical paths: zero copy
    # the new version's data dir holds ONLY touched buckets' files
    assert set(_version_bucket_files(spark, root, v1)) <= touched
    # and the assembled state is correct
    got = {r["id"]: r["val"] for r in read_state_manifest(spark, root).collect()}
    assert got[1] == "x" and 2 not in got and got[300] == "n" and got[0] == "v0"
    assert len(got) == 200  # 200 - 1 delete + 1 insert


def test_manifest_equivalent_to_directory_layout(spark, state_table, tmp_path):
    """The manifest path and merge_into_state_touched produce identical
    state rows for the same delta."""
    from rust_cdc_validator_spark.operators.state import (
        init_state_manifest,
        merge_into_state_manifest,
        merge_into_state_touched,
        read_state_manifest,
    )

    state0 = net_effect(
        _log(spark, [(i, f"v{i}", None, i) for i in range(100)]), ["id"]
    ).drop("Op", "_seq")
    delta = _log(spark, [(3, "x", "U", 500), (7, None, "D", 501), (200, "n", "I", 502)])

    save_state_bucketed(state0, state_table, ["id"], n_buckets=8)
    via_dir = merge_into_state_touched(
        spark, state_table, delta, ["id"], f"{state_table}_v2"
    )

    root = str(tmp_path / "mstate")
    init_state_manifest(spark, state0, root, ["id"], n_buckets=8)
    v = merge_into_state_manifest(spark, root, delta)
    via_manifest = read_state_manifest(spark, root, v)

    assert sorted(map(tuple, via_dir.collect())) == sorted(
        map(tuple, via_manifest.collect())
    )


def test_manifest_reader_latest_and_errors(spark, tmp_path):
    from rust_cdc_validator_spark.operators.state import (
        init_state_manifest,
        latest_state_version,
        merge_into_state_manifest,
        read_state_manifest,
    )

    root = str(tmp_path / "mstate")
    assert latest_state_version(spark, root) is None
    with pytest.raises(ValueError, match="no state versions"):
        read_state_manifest(spark, root)
    with pytest.raises(ValueError, match="init first"):
        merge_into_state_manifest(spark, root, _log(spark, [(1, "a", "I", 1)]))
    init_state_manifest(
        spark, spark.createDataFrame([(1, "a")], "id long, val string"),
        root, ["id"], n_buckets=4,
    )
    v = merge_into_state_manifest(spark, root, _log(spark, [(2, "b", "I", 9)]))
    assert latest_state_version(spark, root) == v == 1
    # default read = latest
    assert read_state_manifest(spark, root).count() == 2


def test_manifest_gc_respects_shared_files(spark, tmp_path):
    """r7: version GC works by REACHABILITY — an old version's files that
    newer manifests still reference (untouched-bucket carryover) must
    survive; only unreferenced files and dropped manifests are deleted,
    and the kept versions stay readable afterward."""
    from rust_cdc_validator_spark.operators.state import (
        _load_manifest,
        gc_state_versions,
        init_state_manifest,
        latest_state_version,
        merge_into_state_manifest,
        read_state_manifest,
    )

    root = str(tmp_path / "mstate")
    state0 = spark.createDataFrame(
        [(i, f"v{i}") for i in range(200)], "id long, val string"
    )
    init_state_manifest(spark, state0, root, ["id"], n_buckets=8)
    merge_into_state_manifest(spark, root, _log(spark, [(1, "x", "U", 500)]))
    merge_into_state_manifest(spark, root, _log(spark, [(2, "y", "U", 600)]))
    assert latest_state_version(spark, root) == 2

    before = sorted(map(tuple, read_state_manifest(spark, root, 2).collect()))
    live = {
        rel
        for rels in _load_manifest(spark, root, 2)["buckets"].values()
        for rel in rels
    }
    # v0 must still be contributing carried files (shared across versions)
    assert any(rel.startswith("v000000/") for rel in live)

    plan = gc_state_versions(spark, root, keep_versions=1, dry_run=True)
    assert plan["kept_versions"] == [2]
    assert plan["dropped_versions"] == [0, 1]
    assert not set(plan["deleted_files"]) & live
    assert set(plan["retained_shared_files"]) <= live

    result = gc_state_versions(spark, root, keep_versions=1)
    assert result["deleted_files"] == plan["deleted_files"]
    # dropped manifests are gone; the kept version reads identically
    with pytest.raises(Exception):
        _load_manifest(spark, root, 0)
    assert latest_state_version(spark, root) == 2
    after = sorted(map(tuple, read_state_manifest(spark, root, 2).collect()))
    assert after == before
    # a further merge still chains off the surviving manifest
    v3 = merge_into_state_manifest(spark, root, _log(spark, [(3, "z", "U", 700)]))
    got = {r["id"]: r["val"] for r in read_state_manifest(spark, root, v3).collect()}
    assert got[1] == "x" and got[2] == "y" and got[3] == "z"


def test_manifest_orphan_data_dir_is_invisible_and_retry_heals(spark, tmp_path):
    """r7 review fix: the manifest is the COMMIT record. A merge that dies
    after writing v{n}/data but before manifest.json must leave the chain
    readable (latest ignores the orphan) and the retried merge must
    overwrite the orphan and commit cleanly."""
    import os

    from rust_cdc_validator_spark.operators.state import (
        gc_state_versions,
        init_state_manifest,
        latest_state_version,
        merge_into_state_manifest,
        read_state_manifest,
    )

    root = str(tmp_path / "mstate")
    init_state_manifest(
        spark,
        spark.createDataFrame([(1, "a"), (2, "b")], "id long, val string"),
        root, ["id"], n_buckets=4,
    )
    # simulate the crash: a data-only version dir with no manifest
    orphan = os.path.join(root, "v000001", "data", "_mb=0")
    os.makedirs(orphan)
    with open(os.path.join(orphan, "part-junk.parquet"), "wb") as f:
        f.write(b"not a real parquet file")

    assert latest_state_version(spark, root) == 0
    assert read_state_manifest(spark, root).count() == 2
    # gc also ignores the orphan
    plan = gc_state_versions(spark, root, keep_versions=1, dry_run=True)
    assert plan["kept_versions"] == [0] and plan["dropped_versions"] == []

    # the retried merge overwrites the orphan data and commits v1
    v = merge_into_state_manifest(spark, root, _log(spark, [(3, "c", "I", 9)]))
    assert v == 1 and latest_state_version(spark, root) == 1
    got = {r["id"]: r["val"] for r in read_state_manifest(spark, root).collect()}
    assert got == {1: "a", 2: "b", 3: "c"}
    # the junk file is gone (overwritten by the retry)
    assert not os.path.exists(os.path.join(orphan, "part-junk.parquet"))
