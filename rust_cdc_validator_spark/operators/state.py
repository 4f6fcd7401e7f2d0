"""Bucketed snapshot state: the at-scale layout for incremental CDC merge.

SCALE.md (CDC replay, deferred item): "write the final state as a bucketed
table on the PK so the next incremental merge co-locates without a
shuffle." This module is that step.

Shape of the problem at 100 TB: the replayed table STATE is huge (the full
table), each incremental CDC batch is a small DELTA. A naive merge
(``unionByName(state, delta)`` → ``net_effect``) re-shuffles the entire
state on every batch — 100 TB through the exchange to apply a few GB of
changes. The bucketed layout fixes the asymmetry:

* ``save_state_bucketed`` writes state as a Hive-bucketed parquet table,
  hash-bucketed AND sorted on the PK (``bucketBy`` + ``sortBy``).
* ``merge_into_state`` reduces the delta to its last change per key (one
  shuffle of DELTA-sized data), then full-outer-joins it against the
  bucketed state. Spark's bucketed-scan rule gives the state side its
  required hash distribution straight from the file layout — the plan has
  NO Exchange above the state scan (asserted in
  ``tests/test_state_bucketed.py``); only the delta moves.
* The merged result is written back with ``save_state_bucketed`` under the
  next snapshot version (write-ahead, never in place — Spark cannot
  overwrite a table it is reading, and versioned snapshots are what a
  production state store wants anyway).
* ``merge_into_state_touched`` closes the write side of the asymmetry:
  only the buckets the delta touches are rewritten into the new version;
  untouched buckets' files carry over byte-identical — hard-linked on
  local stores (zero bytes moved), copied elsewhere (their ``_NNNNN``
  bucket suffix keeps them scannable). Bytes written per merge ∝ delta
  buckets, not state size. How it reads the touched buckets follows from
  the touched fraction and ``_PRUNE_THRESHOLD`` (see that function).

The reference has no incremental mode (it replays LOAD+CDC from scratch
each run, cdc_operator.rs:57-231); this is the Spark-first extension of
C2/C3 for standing pipelines, the batch-side sibling of
``streaming/incremental.py``'s partitioned state.
"""

from __future__ import annotations

import posixpath
import re

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from rust_cdc_validator_spark.sources.manifest import _fs

from .replay import last_change_per_key

# Spark names bucketed files `part-<task>-<uuid>_<bucket:05d>.c000.<codec>...`
# (BucketingUtils.bucketIdToString); the suffix is how the bucketed scan
# reassembles buckets, so copied files keep their bucket identity for free.
_BUCKET_FILE_RE = re.compile(r"_(\d{5})\.")

# merge_into_state_touched reads only the touched buckets' files when at
# most this fraction of the buckets is touched, else the whole bucketed
# scan. Below it, shuffling k/N of the state costs less than scanning the
# other (N−k)/N.
_PRUNE_THRESHOLD = 0.25


def save_state_bucketed(
    df: DataFrame,
    table: str,
    primary_key: list[str],
    n_buckets: int = 64,
    path: str | None = None,
) -> None:
    """Persist table state hash-bucketed + sorted on the PK, replacing any
    table of that name.

    ``n_buckets`` sizes the merge parallelism: each bucket is one task in
    every downstream co-located join, so pick ≈ 2-4× cluster cores at the
    expected state size (64 is the small-fixture floor, NOT a 100 TB
    setting). ``path`` makes it an external table (object-store layout);
    default is the session warehouse.
    """
    if not primary_key:
        raise ValueError("bucketed state requires a primary key")
    writer = (
        df.write.format("parquet")
        .mode("overwrite")
        .bucketBy(n_buckets, *primary_key)
        .sortBy(*primary_key)
    )
    if path is not None:
        writer = writer.option("path", path)
    writer.saveAsTable(table)


def _table_info(spark: SparkSession, table: str) -> tuple[int, str]:
    """(bucket count, location) of a saved state table, from one
    ``DESCRIBE FORMATTED`` — the catalog round trip a merge pays once per
    table."""
    info: dict[str, str] = {}
    for row in spark.sql(f"DESCRIBE FORMATTED {table}").collect():
        info.setdefault(row["col_name"].strip(), (row["data_type"] or "").strip())
    if "Num Buckets" not in info:
        raise ValueError(f"table {table!r} is not bucketed — not a state table")
    return int(info["Num Buckets"]), info["Location"]


def _table_location(spark: SparkSession, table: str) -> str:
    return _table_info(spark, table)[1]


def _state_delta(
    changes: DataFrame, primary_key: list[str], n_buckets: int
) -> DataFrame:
    """The delta as every merge joins it: repartitioned to the state's
    bucket count on the PK BEFORE its dedup window, so the window and the
    join share that single delta-sized exchange whatever
    ``spark.sql.shuffle.partitions`` is — this also keeps Spark's
    DisableUnnecessaryBucketedScan rule from dropping the bucketed scan (it
    does when the join's sides would land on mismatched partition counts).
    """
    return last_change_per_key(
        changes.repartition(n_buckets, *primary_key), primary_key
    )


def merge_into_state(
    spark: SparkSession,
    state_table: str,
    changes: DataFrame,
    primary_key: list[str],
) -> DataFrame:
    """Apply a sequenced CDC delta to bucketed state; return the new state.

    One shuffle total, sized by the DELTA: ``last_change_per_key`` hashes
    the delta on the PK; the full-outer join then reads the bucketed state
    pre-distributed (no Exchange on the state side — the 100 TB side never
    moves). Rows whose last change is a delete drop out; updated/inserted
    keys take the delta's values; untouched keys pass through.

    The result streams straight into ``save_state_bucketed(new_version)``
    — state in, state out, so merges chain batch after batch.
    """
    n_buckets, _ = _table_info(spark, state_table)
    delta = _state_delta(changes, primary_key, n_buckets)
    return _merge_frames(spark.table(state_table), delta, primary_key)


def _merge_touched(
    changes: DataFrame, primary_key: list[str], n_buckets: int, read_touched, write
) -> list[int]:
    """The touched-bucket merge both state layouts share: reduce the delta,
    collect the bucket ids it touches (bounded by ``n_buckets`` ints), merge
    it into ``read_touched(touched)`` — the state rows of those buckets —
    and hand the result to ``write``. Returns the sorted touched ids.

    The delta is persisted across the collect and the write, so the
    change files are scanned once."""
    delta = _state_delta(changes, primary_key, n_buckets).persist()
    try:
        touched = sorted(
            r[0]
            for r in delta.select(
                bucket_id(primary_key, n_buckets).alias("_b")
            ).distinct().collect()
        )
        write(_merge_frames(read_touched(touched), delta, primary_key))
    finally:
        delta.unpersist()
    return touched


def _merge_frames(state: DataFrame, delta: DataFrame, primary_key: list[str]) -> DataFrame:
    """Full-outer merge of a last-change-per-key delta (data cols + ``_op``)
    into a state frame; deletes drop out, updates/inserts win, untouched
    rows pass through."""
    data_cols = [c for c in state.columns]
    changed = F.col("c._op").isNotNull()  # key present in the delta
    picked = [
        F.when(changed, F.col(f"c.{c}")).otherwise(F.col(f"s.{c}")).alias(c)
        if c not in primary_key
        # PK columns: coalesce (full outer leaves one side null)
        else F.coalesce(F.col(f"s.{c}"), F.col(f"c.{c}")).alias(c)
        for c in data_cols
    ]
    cond = None
    for k in primary_key:  # explicit condition keeps both sides' PK columns
        eq = F.col(f"s.{k}") == F.col(f"c.{k}")
        cond = eq if cond is None else (cond & eq)
    return (
        state.alias("s")
        .join(delta.alias("c"), on=cond, how="full_outer")
        .filter(~(changed & (F.col("c._op") == F.lit("D"))))
        .select(*picked)
    )


def bucket_id(primary_key: list[str], n_buckets: int) -> Column:
    """The bucket id ``bucketBy(n_buckets, *primary_key)`` assigns a row:
    ``pmod(murmur3_hash(pk...), n)`` — Spark's HashPartitioning
    partitionIdExpression, which is what the bucketed write evaluates.
    Pinned against the physical file layout in
    ``tests/test_state_bucketed.py::test_bucket_id_matches_file_layout``.
    """
    return F.pmod(F.hash(*[F.col(k) for k in primary_key]), F.lit(n_buckets))


def _bucket_files(spark: SparkSession, location: str) -> dict[int, list[str]]:
    """Data files of a bucketed table grouped by bucket id (from the
    ``_NNNNN`` file-name suffix)."""
    _, root, fs = _fs(spark, location)
    out: dict[int, list[str]] = {}
    for status in fs.listStatus(root):
        name = status.getPath().getName()
        m = _BUCKET_FILE_RE.search(name)
        if status.isFile() and m:
            out.setdefault(int(m.group(1)), []).append(name)
    return out


def merge_into_state_touched(
    spark: SparkSession,
    state_table: str,
    changes: DataFrame,
    primary_key: list[str],
    new_state_table: str,
    path: str | None = None,
) -> DataFrame:
    """Apply a sequenced CDC delta to bucketed state, writing ONLY the
    buckets the delta touches; untouched buckets' files carry over
    byte-identical from the old version (hard links locally, copy
    otherwise — see ``_carry_files``). Returns the new state DataFrame
    (``spark.table(new_state_table)``).

    ``merge_into_state`` got the SHUFFLE delta-sized (only the delta moves
    through an Exchange); this gets the WRITE delta-sized too (VERDICT r5
    "Next round" #1): bytes written per version ∝ touched buckets, not
    total state. The batch sibling of the streaming path's
    dynamic-partition overwrite (``streaming/incremental.py:_merge_batch``).

    Mechanics:
    * the delta's bucket ids come from :func:`bucket_id` — the same
      ``pmod(hash(pk), n)`` the bucketed write uses, so "touched" is exact;
      collecting them is bounded by ``n_buckets`` ints.
    * the state READ depends on the touched fraction, because file pruning
      and exchange-freedom are mutually exclusive on a bucketed table Spark
      can't bucket-prune by a hash predicate:
      - at most ``_PRUNE_THRESHOLD`` (¼) of the buckets touched — the
        standing-pipeline steady state: ONLY the touched buckets' files are
        read (the same file→bucket map the copy step uses); a plain parquet
        read has no known partitioning, so the join re-shuffles the touched
        fraction. Reads AND shuffles (k/N)·|state| instead of reading all
        of it.
      - more touched: the full bucketed scan, row-filtered to touched
        buckets — outputPartitioning survives a Filter, so the merge join
        stays Exchange-free on the state side (same plan assertion as
        ``merge_into_state``), but every state file is read.
      Both reads give the same state (tested against ``merge_into_state``).
    * untouched buckets: the old version's files keep their
      ``_NNNNN`` bucket suffix when copied, so the new table's bucketed
      scan picks them up unchanged (Spark groups multiple files per bucket
      id). A touched bucket whose rows were ALL deleted simply writes no
      file — correct, and no stale-dir cleanup is needed because every
      version is a fresh directory.
    """
    n_buckets, old_loc = _table_info(spark, state_table)
    files = _bucket_files(spark, old_loc)

    def read_touched(touched: list[int]) -> DataFrame:
        if len(touched) > _PRUNE_THRESHOLD * n_buckets:
            return spark.table(state_table).filter(
                bucket_id(primary_key, n_buckets).isin(touched)
            )
        paths = [
            posixpath.join(old_loc, name)
            for b in touched
            for name in files.get(b, [])
        ]
        if not paths:
            return spark.table(state_table).limit(0)
        return spark.read.schema(spark.table(state_table).schema).parquet(*paths)

    def write(merged: DataFrame) -> None:
        save_state_bucketed(merged, new_state_table, primary_key,
                            n_buckets=n_buckets, path=path)

    touched = set(_merge_touched(changes, primary_key, n_buckets, read_touched, write))

    # carry untouched buckets' files from the old version into the new one
    carry = [
        name
        for b, names in files.items()
        if b not in touched
        for name in names
    ]
    _carry_files(spark, old_loc, _table_location(spark, new_state_table), carry)
    spark.catalog.refreshTable(new_state_table)
    return spark.table(new_state_table)


def _local_path(loc: str) -> str | None:
    """Filesystem path for a ``file:`` URI (or bare path); None otherwise."""
    if loc.startswith("file:"):
        return loc[len("file:"):]
    if "://" not in loc and not loc.startswith(("hdfs:", "s3a:", "s3:", "gs:", "abfs")):
        return loc
    return None


def _carry_files(
    spark: SparkSession, old_loc: str, new_loc: str, names: list[str]
) -> None:
    """Bring old-version files into the new version's directory WITHOUT
    duplicating data where the store allows it.

    * local / ``file:`` stores: hard links — O(1) metadata per file, zero
      bytes moved; a version chain of N merges stores each untouched
      bucket's bytes once (parquet files are immutable once written, so
      shared inodes are safe; deleting an old version never corrupts the
      new one).
    * other stores: ``FileUtil.copy``. On S3A this is the portable
      fallback; production deployments should prefer the store's
      SERVER-SIDE copy (S3 CopyObject — no bytes through the cluster) or,
      at large version counts, a manifest layer that lists files per
      version instead of materializing directories — the design point
      table formats (Iceberg/Delta) exist for. The operator keeps the
      directory-per-version layout because it is what plain
      ``saveAsTable`` bucketed reads understand.
    """
    import os

    old_local, new_local = _local_path(old_loc), _local_path(new_loc)
    if old_local is not None and new_local is not None:
        for name in names:
            dst = os.path.join(new_local, name)
            if not os.path.exists(dst):
                os.link(os.path.join(old_local, name), dst)
        return
    jvm, _, src_fs = _fs(spark, old_loc)
    _, _, dst_fs = _fs(spark, new_loc)
    hpath = jvm.org.apache.hadoop.fs.Path
    for name in names:
        jvm.org.apache.hadoop.fs.FileUtil.copy(
            src_fs, hpath(posixpath.join(old_loc, name)),
            dst_fs, hpath(posixpath.join(new_loc, name)),
            False, dst_fs.getConf(),
        )


# ---------------------------------------------------------------------------
# Version-manifest state (r7): zero-copy carryover on ANY store
# ---------------------------------------------------------------------------
#
# The directory-per-version layout above materializes every version as a
# full directory: untouched buckets hard-link locally but must be COPIED on
# object stores — the one remaining non-delta-sized cost in the state chain.
# The manifest layer removes it: each version is a small JSON file listing,
# per bucket, the data files that make up that bucket — new files for
# touched buckets, the PREVIOUS versions' files (verbatim paths) for
# untouched ones. No file is ever moved or duplicated on any store; a merge
# writes touched-bucket data plus one manifest. This is the same design
# point table formats (Iceberg/Delta) occupy, reduced to exactly what
# bucketed CDC state needs.
#
# Layout under a root directory:
#   {root}/v{version:06d}/data/_mb={bucket}/part-*.parquet   (touched only)
#   {root}/v{version:06d}/manifest.json
#
# Data files are written with `repartition(n_buckets, *pk)` — Spark's
# HashPartitioning pmod(hash(pk), n) is exactly :func:`bucket_id`, so each
# write task holds one bucket's rows and `partitionBy("_mb")` yields one
# file per touched bucket, sorted within by the PK. Reads assemble a plain
# parquet scan from the manifest's file list; the merge join therefore
# shuffles the TOUCHED fraction of the state (the "pruned-files" strategy
# above) — at steady state (small deltas) that is the cheaper side of the
# pruning/exchange-freedom trade anyway, and it is store-agnostic.


def _fs_write_text(spark: SparkSession, uri: str, text: str) -> None:
    """Write-then-rename so readers never observe a truncated file — the
    manifest is the version COMMIT record (atomic on local/HDFS; on
    object stores the rename is copy+delete but the visible object still
    appears all-or-nothing, which is the property the manifest needs)."""
    jvm, path, fs = _fs(spark, uri)
    tmp = jvm.org.apache.hadoop.fs.Path(uri + ".tmp")
    out = fs.create(tmp, True)
    try:
        out.write(bytearray(text, "utf-8"))
    finally:
        out.close()
    if fs.exists(path):
        fs.delete(path, False)
    if not fs.rename(tmp, path):
        raise IOError(f"could not commit {uri} (rename failed)")


def _fs_read_text(spark: SparkSession, uri: str) -> str:
    jvm, path, fs = _fs(spark, uri)
    stream = fs.open(path)
    try:
        reader = jvm.java.io.BufferedReader(
            jvm.java.io.InputStreamReader(stream, "UTF-8")
        )
        lines = []
        while True:
            line = reader.readLine()
            if line is None:
                break
            lines.append(line)
        return "\n".join(lines)
    finally:
        stream.close()


def _fs_list_names(spark: SparkSession, uri: str) -> list[str]:
    _, path, fs = _fs(spark, uri)
    if not fs.exists(path):
        return []
    return [s.getPath().getName() for s in fs.listStatus(path)]


def _manifest_path(root: str, version: int) -> str:
    return posixpath.join(root, f"v{version:06d}", "manifest.json")


def _committed_versions(spark: SparkSession, root: str) -> list[int]:
    """Versions under ``root`` whose manifest landed, ascending. The
    manifest file is the commit record: a merge that died between its data
    write and its manifest write leaves a data-only ``v{n}/`` dir, which
    must stay invisible — counting it would permanently wedge every
    subsequent read and merge on a manifest that never landed, and the
    retry of the failed merge overwrites the orphan data dir anyway."""
    jvm, _, fs = _fs(spark, root)
    hpath = jvm.org.apache.hadoop.fs.Path
    return sorted(
        v
        for name in _fs_list_names(spark, root)
        if re.fullmatch(r"v\d{6}", name)
        and fs.exists(hpath(_manifest_path(root, (v := int(name[1:])))))
    )


def latest_state_version(spark: SparkSession, root: str) -> int | None:
    """Highest COMMITTED version under ``root`` (None if empty)."""
    versions = _committed_versions(spark, root)
    return versions[-1] if versions else None


def _load_manifest(spark: SparkSession, root: str, version: int) -> dict:
    import json

    m = json.loads(_fs_read_text(spark, _manifest_path(root, version)))
    # JSON keys are strings; bucket ids are ints
    m["buckets"] = {int(k): v for k, v in m["buckets"].items()}
    return m


def _write_bucket_data(
    df: DataFrame,
    root: str,
    version: int,
    primary_key: list[str],
    n_buckets: int,
) -> str:
    """Write ``df`` under the version's data dir, one file per bucket
    (relative paths returned by :func:`_version_bucket_files`)."""
    data_dir = posixpath.join(root, f"v{version:06d}", "data")
    (
        df.withColumn("_mb", bucket_id(primary_key, n_buckets).cast("int"))
        .repartition(n_buckets, *primary_key)
        .sortWithinPartitions(*primary_key)
        .write.partitionBy("_mb")
        .mode("overwrite")
        .parquet(data_dir)
    )
    return data_dir


def _version_bucket_files(
    spark: SparkSession, root: str, version: int
) -> dict[int, list[str]]:
    """Freshly written files of a version, grouped by bucket id, as paths
    RELATIVE to root (portable if the root is relocated)."""
    data_rel = f"v{version:06d}/data"
    out: dict[int, list[str]] = {}
    for sub in _fs_list_names(spark, posixpath.join(root, data_rel)):
        m = re.fullmatch(r"_mb=(\d+)", sub)
        if not m:
            continue
        b = int(m.group(1))
        out[b] = [
            posixpath.join(data_rel, sub, name)
            for name in _fs_list_names(spark, posixpath.join(root, data_rel, sub))
            if name.startswith("part-")
        ]
    return out


def init_state_manifest(
    spark: SparkSession,
    df: DataFrame,
    root: str,
    primary_key: list[str],
    n_buckets: int = 64,
) -> int:
    """Write ``df`` as version 0 of a manifest-layered bucketed state under
    ``root``; returns the version number (0)."""
    import json

    if not primary_key:
        raise ValueError("bucketed state requires a primary key")
    data_cols = [c for c in df.columns]
    _write_bucket_data(df, root, 0, primary_key, n_buckets)
    files = _version_bucket_files(spark, root, 0)
    manifest = {
        "version": 0,
        "n_buckets": n_buckets,
        "primary_key": primary_key,
        "columns": data_cols,
        "schema": df.schema.json(),
        "buckets": {str(b): names for b, names in sorted(files.items())},
    }
    _fs_write_text(spark, _manifest_path(root, 0), json.dumps(manifest, indent=1))
    return 0


def read_state_manifest(
    spark: SparkSession, root: str, version: int | None = None
) -> DataFrame:
    """Assemble a version's state DataFrame from its manifest file list
    (latest version by default). Plain parquet scan over exactly the files
    the manifest names — no directory listing of data dirs, no dependence
    on which version's directory a file physically lives in."""
    from pyspark.sql.types import StructType

    if version is None:
        version = latest_state_version(spark, root)
        if version is None:
            raise ValueError(f"no state versions under {root!r}")
    m = _load_manifest(spark, root, version)
    schema = StructType.fromJson(__import__("json").loads(m["schema"]))
    paths = [
        posixpath.join(root, rel)
        for b in sorted(m["buckets"])
        for rel in m["buckets"][b]
    ]
    if not paths:
        return spark.createDataFrame([], schema)
    return spark.read.schema(schema).parquet(*paths)


def merge_into_state_manifest(
    spark: SparkSession, root: str, changes: DataFrame
) -> int:
    """Apply a sequenced CDC delta to manifest-layered state; writes the
    touched buckets' data files plus one manifest, and returns the new
    version number. Untouched buckets carry over as PATHS in the manifest
    — zero bytes moved or duplicated on any store (the manifest-layer
    answer to ``_carry_files``'s object-store copy fallback).

    Reads only the touched buckets' files (delta-sized read); the merge
    join shuffles that touched fraction (see module note — the
    store-agnostic trade). Deletes drop rows; a fully-deleted bucket's
    manifest entry becomes an empty list. PK and bucket count come from
    the manifest, so merges chain with no caller-carried state.
    """
    import json

    from pyspark.sql.types import StructType

    version = latest_state_version(spark, root)
    if version is None:
        raise ValueError(f"no state versions under {root!r} — init first")
    m = _load_manifest(spark, root, version)
    primary_key = list(m["primary_key"])
    n_buckets = int(m["n_buckets"])
    new_version = version + 1
    schema = StructType.fromJson(json.loads(m["schema"]))

    def read_touched(touched: list[int]) -> DataFrame:
        paths = [
            posixpath.join(root, rel)
            for b in touched
            for rel in m["buckets"].get(b, [])
        ]
        if not paths:
            return spark.createDataFrame([], schema)
        return spark.read.schema(schema).parquet(*paths)

    def write(merged: DataFrame) -> None:
        _write_bucket_data(merged, root, new_version, primary_key, n_buckets)

    touched = set(_merge_touched(changes, primary_key, n_buckets, read_touched, write))

    new_files = _version_bucket_files(spark, root, new_version)
    buckets: dict[int, list[str]] = {}
    for b in range(n_buckets):
        if b in touched:
            buckets[b] = new_files.get(b, [])  # empty = fully deleted
        elif b in m["buckets"]:
            buckets[b] = m["buckets"][b]  # carried verbatim: zero copy
    manifest = {
        "version": new_version,
        "n_buckets": n_buckets,
        "primary_key": primary_key,
        "columns": m["columns"],
        "schema": m["schema"],
        "buckets": {str(b): names for b, names in sorted(buckets.items())},
    }
    _fs_write_text(
        spark, _manifest_path(root, new_version), json.dumps(manifest, indent=1)
    )
    return new_version


def gc_state_versions(
    spark: SparkSession,
    root: str,
    keep_versions: int = 2,
    dry_run: bool = False,
) -> dict:
    """Garbage-collect manifest-state versions, respecting shared files.

    The manifest layer makes versions share data files (an untouched
    bucket's file is referenced by every subsequent manifest until the
    bucket is next touched), so deleting an old version's DIRECTORY would
    corrupt newer versions — the exact failure the directory-per-version
    layout's hard links avoid locally. GC therefore works by
    REACHABILITY, the same discipline as table-format snapshot expiry:

    * keep the newest ``keep_versions`` manifests;
    * a data file is LIVE iff some kept manifest references it;
    * dropped versions lose their ``manifest.json`` and any of their data
      files that are not live; version directories that still hold live
      files survive (newer manifests point into them).

    Returns ``{"kept_versions", "dropped_versions", "deleted_files",
    "retained_shared_files"}``; with ``dry_run`` nothing is deleted and
    the dict reports what would happen. Driver-side work is bounded by
    versions × buckets file-list entries (the manifests themselves).
    """
    if keep_versions < 1:
        raise ValueError("keep_versions must be >= 1 — GC never deletes HEAD")
    # committed versions only: an orphan data-only dir from a merge that
    # died pre-commit is invisible here too — the retrying merge overwrites it
    versions = _committed_versions(spark, root)
    if not versions:
        return {
            "kept_versions": [],
            "dropped_versions": [],
            "deleted_files": [],
            "retained_shared_files": [],
        }
    kept = versions[-keep_versions:]
    dropped = [v for v in versions if v not in kept]
    live: set[str] = set()
    for v in kept:
        m = _load_manifest(spark, root, v)
        for rels in m["buckets"].values():
            live.update(rels)

    deleted: list[str] = []
    retained: list[str] = []
    jvm, _, fs = _fs(spark, root)
    hpath = jvm.org.apache.hadoop.fs.Path
    for v in dropped:
        own = _version_bucket_files(spark, root, v)
        for rels in own.values():
            for rel in rels:
                if rel in live:
                    retained.append(rel)
                    continue
                deleted.append(rel)
                if not dry_run:
                    fs.delete(hpath(posixpath.join(root, rel)), False)
        if not dry_run:
            fs.delete(hpath(_manifest_path(root, v)), False)
            # prune now-empty bucket dirs / the version dir if fully dead
            data_dir = posixpath.join(root, f"v{v:06d}", "data")
            for sub in _fs_list_names(spark, data_dir):
                sub_path = posixpath.join(data_dir, sub)
                if not any(
                    n.startswith("part-") for n in _fs_list_names(spark, sub_path)
                ):
                    fs.delete(hpath(sub_path), True)
            if not _fs_list_names(spark, data_dir):
                fs.delete(hpath(posixpath.join(root, f"v{v:06d}")), True)
    return {
        "kept_versions": kept,
        "dropped_versions": dropped,
        "deleted_files": sorted(deleted),
        "retained_shared_files": sorted(retained),
    }
