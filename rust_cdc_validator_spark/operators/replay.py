"""Net-effect CDC replay — the Spark-first redesign of the reference's
row-at-a-time apply loop.

Reference semantics (src/cdc/cdc_operator.rs:152-216 +
src/postgres/postgres_operator_impl.rs:193-404): process files strictly in
manifest order; within a file, rows in order; each record applied as
INSERT / INSERT..ON CONFLICT UPDATE / DELETE-by-PK. The final table state is
therefore "last writer per primary key wins, deletes remove the key", where
"last" is ordered by (file rank, row position within file).

A sequential apply is O(rows) database round-trips and fundamentally
single-node. The net-effect reduction computes the identical fixpoint with
ONE distributed shuffle:

    seq   = file_rank * 2^40 + row_index_within_file
    state = rows where row_number() over (partition by pk order by seq desc) = 1
    final = state where last op != 'D'

Row position within a file comes from the parquet reader's
``_metadata.row_index`` (stable, per-file, 0-based) and file rank from a
broadcast join against the (tiny) manifest — so ordering survives arbitrary
task parallelism. At 100 TB this is a single vectorized scan + one hash
shuffle on the PK, with AQE handling skewed keys.

Tables without a primary key (reference returns an empty PK list,
postgres_operator_impl.rs:83-94, and its ON CONFLICT () would be invalid SQL
— a latent reference bug): we define the behavior as append-only replay of
inserts (SURVEY.md §7 hard-part 2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from rust_cdc_validator_spark.sources.catalog import (
    ENVELOPE_COLS,
    OP_COL,
    check_schema_containment,
)
from rust_cdc_validator_spark.sources.manifest import ManifestEntry, build_manifest

# 2^40 rows per file leaves room for any real parquet file while keeping
# (file_rank, row_index) packable into one orderable int64.
_SEQ_FILE_STRIDE = 1 << 40
# the total replay order ``with_sequence`` attaches
SEQ_COL = "_seq"


def _norm_path(col: F.Column) -> F.Column:
    """Canonicalize a file path for manifest↔scan matching: the scan's
    ``_metadata.file_path`` is a URI (``file:///tmp/x``) while user/HDFS
    paths may be bare (``/tmp/x``) — strip the scheme and slash-run so both
    forms compare equal."""
    return F.regexp_replace(col, r"^[a-zA-Z0-9+.\-]+:/{1,3}", "/")


def with_sequence(
    df: DataFrame, manifest_df: DataFrame, has_row_index: bool = True
) -> DataFrame:
    """Attach the total replay order ``_seq`` to a raw multi-file scan.

    The manifest join is explicitly broadcast: it has one row per file and
    must never shuffle the fact side.

    ``has_row_index=True`` (parquet): within-file order comes free from
    ``_metadata.row_index``. ``False`` (csv — its file source exposes no
    row_index): derive it as row_number per file ordered by
    (``_metadata.file_block_start``, ``monotonically_increasing_id``).
    The byte offset is the contractual part: Spark's file source bin-packs
    splits ordered by SIZE, not offset, so mono-id alone preserving offset
    order across a multi-split file is incidental (a stable sort of
    equal-size splits), not guaranteed. Block start orders the splits by
    file position; mono id orders rows within one split (the low-bit
    counter follows read order inside a task). Costs one shuffle on file
    path.
    """
    tagged = df.withColumn("_path", _norm_path(F.col("_metadata.file_path")))
    if has_row_index:
        tagged = tagged.withColumn("_row_idx", F.col("_metadata.row_index"))
    else:
        w = Window.partitionBy("_path").orderBy(
            F.col("_metadata.file_block_start"), F.monotonically_increasing_id()
        )
        tagged = tagged.withColumn("_row_idx", F.row_number().over(w) - F.lit(1))
    manifest_keyed = manifest_df.select(
        _norm_path(F.col("path")).alias("_path"), "is_load", "file_seq"
    )
    joined = tagged.join(F.broadcast(manifest_keyed), on="_path", how="inner")
    return joined.withColumn(
        SEQ_COL,
        F.col("file_seq") * F.lit(_SEQ_FILE_STRIDE) + F.col("_row_idx"),
    ).drop("_path", "_row_idx", "file_seq", "is_load")


def last_change_per_key(changes: DataFrame, primary_key: list[str]) -> DataFrame:
    """Reduce a sequenced change log to its LAST change per key by ``_seq``,
    keeping the op code as ``_op`` (null ⇒ 'I', the LOAD-file case) and
    dropping the envelope. ``net_effect`` resolves the deletes away; a state
    merge keeps them, since it must see them to remove state rows.

    The rank filter sits directly on the window, so Spark plans it as a
    map-side WindowGroupLimit (pinned in tests/test_plans.py).
    """
    w = Window.partitionBy(*primary_key).orderBy(F.col(SEQ_COL).desc())
    return (
        changes.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .withColumn("_op", F.coalesce(F.col(OP_COL), F.lit("I")))
        .drop("_rn", SEQ_COL, *ENVELOPE_COLS)
    )


def net_effect(changes: DataFrame, primary_key: list[str]) -> DataFrame:
    """Reduce an ordered change log to final table state.

    ``changes`` carries data columns + ``Op`` ('I'/'U'/'D'; null ⇒ 'I',
    the LOAD-file case) + ``_seq`` (total order). Result: one row per live
    primary key, without the envelope columns — identical to sequentially
    applying every change in ``_seq`` order (insert/upsert/delete), the
    reference's fixpoint.

    Op matching is exact equality; the reference's substring ``contains('D')``
    (postgres_operator_impl.rs:302-315,345) is a looseness, not a semantic
    (SURVEY.md §2.2 P3).
    """
    if not primary_key:
        # No PK → append-only replay: deletes/updates have no key to address.
        op = F.coalesce(F.col(OP_COL), F.lit("I"))
        return changes.filter(op != F.lit("D")).drop(SEQ_COL, *ENVELOPE_COLS)
    last = last_change_per_key(changes, primary_key)
    return last.filter(F.col("_op") != F.lit("D")).drop("_op")


def net_effect_partial(changes: DataFrame, primary_key: list[str]) -> DataFrame:
    """Net effect over PARTIAL-image updates, in ONE hash aggregation.

    The reference replays FULL row images (every DMS record carries the
    whole row, postgres_operator_impl.rs:193-260), so last-row-wins is
    enough. DMS/Debezium can also emit partial images — an update carries
    only the changed columns, NULL meaning "unchanged". Final state is then
    per key, per COLUMN: the last non-null value in ``_seq`` order, with
    delete fencing — a 'D' tombstone kills the key unless a later I/U
    revives it, and revival must not resurrect pre-delete column values.

    The Spark-first plan is one groupBy(pk).agg(...) — NOT a window:

    * ``d``          = max(seq) among 'D' rows (the last tombstone),
    * per column c:  ``v_c`` = max_by(c, seq) and ``s_c`` = max(seq) over
      non-null, non-delete writes of c — max_by skips NULL ordering keys,
      so (``s_c``, ``v_c``) IS the last non-null write of c,
    * the key is live iff some I/U row has seq > d,
    * c's final value is ``v_c`` when ``s_c > d`` else NULL: the LAST
      non-null write is also the last non-null write after the fence
      whenever any post-fence write exists.

    max_by + max keep the whole reduction in HashAggregate with a partial
    (map-side) combine — pinned in tests/test_plans.py — so at 100 TB the
    single shuffle carries one reduced row per (task, hot key), not the
    whole change log; unlike ``net_effect``'s last-row-wins, it is correct
    when updates carry column subsets. Ties cannot occur: ``_seq`` is
    unique by construction (with_sequence packs file rank + row index).
    """
    if not primary_key:
        raise ValueError("partial-image net effect requires a primary key")
    op = F.coalesce(F.col(OP_COL), F.lit("I"))
    is_del = op == F.lit("D")
    seq = F.col(SEQ_COL)
    value_cols = [
        c
        for c in changes.columns
        if c not in primary_key and c != OP_COL and c != SEQ_COL
    ]
    aggs = [
        F.max(F.when(is_del, seq)).alias("_d"),
        F.max(F.when(~is_del, seq)).alias("_last_live"),
    ]
    for c in value_cols:
        write_seq = F.when(~is_del & F.col(c).isNotNull(), seq)
        aggs.append(F.max_by(F.col(c), write_seq).alias(f"_v_{c}"))
        aggs.append(F.max(write_seq).alias(f"_s_{c}"))
    fenced = changes.groupBy(*primary_key).agg(*aggs)
    fence = F.coalesce(F.col("_d"), F.lit(-(1 << 62)))
    out_cols = [F.col(c) for c in primary_key]
    for c in value_cols:
        out_cols.append(
            F.when(F.col(f"_s_{c}") > fence, F.col(f"_v_{c}")).alias(c)
        )
    return fenced.filter(F.col("_last_live") > fence).select(*out_cols)


def union_evolving(epochs: list[DataFrame]) -> DataFrame:
    """Union CDC epochs whose schemas WIDEN over time (DMS ALTER TABLE
    mid-stream: later files carry added columns the earlier ones lack).

    The reference hard-fails on schema drift (its INSERT binds the first
    file's column list, postgres_operator_impl.rs:193-231); the Spark-first
    behavior is ``unionByName(allowMissingColumns=True)`` — name-aligned,
    missing columns NULL — so one ``net_effect`` replay spans the ALTER.
    Columns may be ADDED between epochs, never retyped: an incompatible
    type on a shared name fails analysis in unionByName (compatible
    widenings like int→long follow Spark's union coercion).
    """
    if not epochs:
        raise ValueError("union_evolving needs at least one epoch")
    out = epochs[0]
    for e in epochs[1:]:
        out = out.unionByName(e, allowMissingColumns=True)
    return out


def read_change_log(
    spark,
    entries: list[ManifestEntry],
    expected_columns: list[str] | None = None,
    file_format: str = "parquet",
    schema=None,
) -> DataFrame:
    """Read a manifest's files as ONE sequenced change log: a single
    distributed scan of every file, the schema-drift containment check
    against ``expected_columns`` (cdc_operator.rs:170-184), and ``_seq``
    from the broadcast manifest join. Both the full snapshot
    (``replay_snapshot``) and the incremental state advance
    (``CdcValidator.advance_state``) start here.

    ``file_format``: 'parquet' (the reference's only format) or 'csv' —
    DMS's *default* output format, headerless with the envelope columns
    first; CSV requires an explicit ``schema`` (ordered like the files).
    ``_metadata.row_index`` exists only for the parquet source; CSV order
    is derived from (file_block_start, monotonic id) in ``with_sequence``.
    """
    if not entries:
        raise ValueError("empty manifest: no files to replay")
    paths = [e.path for e in entries]
    if file_format == "parquet":
        df = spark.read.option("mergeSchema", "true").parquet(*paths)
    elif file_format == "csv":
        if schema is None:
            raise ValueError("csv replay requires an explicit schema")
        df = spark.read.schema(schema).option("header", "false").csv(paths)
    else:
        raise ValueError(f"unsupported file_format: {file_format!r}")

    if expected_columns is not None:
        check_schema_containment(df.columns, expected_columns)

    # LOAD files may predate the envelope columns; normalize their presence.
    for c in ENVELOPE_COLS:
        if c not in df.columns:
            df = df.withColumn(c, F.lit(None).cast("string"))

    manifest_df = build_manifest(spark, entries)
    return with_sequence(df, manifest_df, has_row_index=(file_format == "parquet"))


def replay_snapshot(
    spark,
    entries: list[ManifestEntry],
    primary_key: list[str],
    expected_columns: list[str] | None = None,
    file_format: str = "parquet",
    schema=None,
) -> DataFrame:
    """End-to-end snapshot of one table: manifest → scan → net effect.

    Mirrors CDCOperator::snapshot's per-table pipeline
    (src/cdc/cdc_operator.rs:57-231) as one declarative plan: read every
    LOAD + CDC file in a single distributed scan, sequence rows, reduce to
    final state. The arguments after ``primary_key`` are
    ``read_change_log``'s.
    """
    changes = read_change_log(spark, entries, expected_columns, file_format, schema)
    return net_effect(changes, primary_key)


def scd2_history(changes: DataFrame, primary_key: list[str]) -> DataFrame:
    """Type-2 slowly-changing-dimension history from the same ordered
    change log :func:`net_effect` collapses — the history-PRESERVING
    sibling (Kimball & Ross, The Data Warehouse Toolkit ch. 5): one row
    per (key, version) with its validity interval instead of one row
    per live key. Every I/U change opens a version effective at its own
    sequence number; the next change on the same key closes it
    (``valid_to`` = that change's sequence, half-open interval); a D
    closes the chain without opening a version. Appended columns:

    * ``valid_from`` — the opening change's ``_seq`` value;
    * ``valid_to`` — the next change's, NULL while open;
    * ``is_current`` — this version is the key's live row (true on the
      last change iff it isn't a delete).

    The log's envelope columns are the caller's to drop — a dimension
    build usually keeps them for lineage.

    Spark shape: ONE window pass per key ordered by ``_seq`` —
    ``lead(seq)`` closes intervals, and a change with no successor is the
    key's last, so a null lead also marks currency — then deletes drop
    (their closing effect already captured by the lead). Same partitioning
    as ``net_effect``'s last-row filter, so a validator can run both from
    one shuffle. A delete followed by a re-insert of the same key
    yields disjoint version chains, exactly like sequential SCD2
    maintenance.

    Scale shape at 100 TB: one hash shuffle on the key + per-key sort
    (the groupBy cost class); no self-join, no collect. Versions are
    output rows, never state.
    """
    if not primary_key:
        raise ValueError("scd2_history requires a primary key")
    op = F.coalesce(F.col(OP_COL), F.lit("I"))
    w = Window.partitionBy(*primary_key).orderBy(F.col(SEQ_COL).asc())
    return (
        changes.withColumn("_next_seq", F.lead(SEQ_COL).over(w))
        .filter(op != F.lit("D"))
        .withColumn("valid_from", F.col(SEQ_COL))
        .withColumn("valid_to", F.col("_next_seq"))
        .withColumn("is_current", F.col("_next_seq").isNull())
        .drop("_next_seq")
    )


def scd2_asof(history: DataFrame, asof) -> DataFrame:
    """Point-in-time state from an SCD2 history: the one version row per
    key visible at instant ``asof`` — ``valid_from <= asof < valid_to``
    with an open (NULL) ``valid_to`` meaning "still live". A key whose
    chain was closed by a delete before ``asof`` simply has no visible
    interval and drops out, exactly like sequential replay-to-``asof``.

    Spark shape: a pure row filter over the history relation — no
    shuffle, no window, and when the history is stored partitioned or
    sorted by ``valid_from`` the range predicate prunes files/row-groups
    at the scan. This is the temporal-table AS OF read (SQL:2011 §7.2,
    the pattern Flink/Delta call time travel) expressed over the
    ``scd2_history`` output the validator already maintains.
    """
    t = F.lit(asof)
    return history.filter(
        (F.col("valid_from") <= t)
        & (F.col("valid_to").isNull() | (F.col("valid_to") > t))
    )


def scd2_asof_diff(
    history: DataFrame,
    primary_key: list[str],
    t1,
    t2,
    compare_cols: list[str],
) -> DataFrame:
    """Temporal diff between two instants of the SAME SCD2 history: per
    key, classify what happened between ``t1`` and ``t2`` as ``added``
    (no visible version at t1, one at t2), ``removed`` (visible at t1,
    chain closed by t2), ``changed`` (visible at both, any compare
    column differs) or ``unchanged``. Appends ``{col}_t1`` / ``{col}_t2``
    for every compare column so the report is self-explaining.

    This is the validator's own question — "what drifted between these
    two points?" — answered from the history relation in ONE pass: the
    reference re-runs a full source/target diff per validation
    (cdc_operator.rs:254-288); over an SCD2 history both instants are
    conditional aggregates of the same scan.

    Spark shape: one hash shuffle on the key (the groupBy), each
    instant's visible version picked by ``max(when(visible, col))`` —
    at most one version per key can be visible at an instant, so the
    max IS that version, and both instants fold into the same partial
    aggregate. No self-join, no second scan of the history.

    Scale shape at 100 TB: cost class of a single groupBy over the
    history slice; the ``valid_from <= t2`` pushdown prunes every
    version opened after the later instant at the scan.
    """
    if not primary_key:
        raise ValueError("scd2_asof_diff requires a primary key")
    if not compare_cols:
        raise ValueError("scd2_asof_diff requires compare columns")
    lo, hi = F.lit(t1), F.lit(t2)
    vis1 = (F.col("valid_from") <= lo) & (
        F.col("valid_to").isNull() | (F.col("valid_to") > lo)
    )
    vis2 = (F.col("valid_from") <= hi) & (
        F.col("valid_to").isNull() | (F.col("valid_to") > hi)
    )
    aggs = []
    for c in compare_cols:
        aggs.append(F.max(F.when(vis1, F.col(c))).alias(f"{c}_t1"))
        aggs.append(F.max(F.when(vis2, F.col(c))).alias(f"{c}_t2"))
    # marker aggregates distinguish "visible with NULL value" from
    # "not visible" so nullable compare columns classify correctly
    aggs.append(F.max(F.when(vis1, F.lit(1)).otherwise(0)).alias("_has_t1"))
    aggs.append(F.max(F.when(vis2, F.lit(1)).otherwise(0)).alias("_has_t2"))
    g = (
        history.filter(F.col("valid_from") <= hi)
        .groupBy(*primary_key)
        .agg(*aggs)
        # keys visible at NEITHER instant (born and fully deleted before
        # t1, or in the (t1, t2) gap between disjoint version chains)
        # don't exist at either point in time — absent, not "unchanged"
        .filter((F.col("_has_t1") == 1) | (F.col("_has_t2") == 1))
    )
    differs = F.lit(False)
    for c in compare_cols:
        a, b = F.col(f"{c}_t1"), F.col(f"{c}_t2")
        differs = differs | ~(a.eqNullSafe(b))
    change = (
        F.when((F.col("_has_t1") == 0) & (F.col("_has_t2") == 1), F.lit("added"))
        .when((F.col("_has_t1") == 1) & (F.col("_has_t2") == 0), F.lit("removed"))
        .when(differs, F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return g.withColumn("change_type", change).drop("_has_t1", "_has_t2")
