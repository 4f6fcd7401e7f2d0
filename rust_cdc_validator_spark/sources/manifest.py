"""DMS-layout CDC file discovery → ordered manifest.

The reference lists S3 objects under
``{prefix}/{database}/{schema}/{table}/`` and classifies them
(reference: src/s3/s3_operator.rs:131-315):

* full-load files: key contains ``LOAD`` (s3_operator.rs:43-45), always kept;
* CDC files: under date folders ``{YYYY}/{MM}/{DD}/``, kept when their
  modification time falls in ``(start_date, stop_date)`` (s3_operator.rs:247-260);
* LOAD files are processed first, then CDC files in lexicographic key order
  (``rotate_right`` at s3_operator.rs:178-182 — we express it as a sort).

Three modes (s3_operator.rs:11-29): DateAware, FullLoadOnly, AbsolutePath.

Spark-first design: discovery is a *driver-side* metadata operation (cheap —
it's file listing, not data), producing a small ordered manifest of
``(path, table, is_load, file_seq, mtime)``. The data path then reads all
manifest paths in ONE distributed ``spark.read.parquet(*paths)`` scan; per-file
ordering is recovered from ``_metadata.file_path`` joined (broadcast) against
the manifest. At 100 TB this keeps the scan a single vectorized job with
partition-count = total-bytes / maxPartitionBytes, instead of the reference's
file-at-a-time loop.

Paths may be local (tests), ``s3a://`` (cluster), or anything the Hadoop
FileSystem supports — we go through Spark's Hadoop FS so the same code runs
against S3/HDFS/ABFS unchanged.
"""

from __future__ import annotations

import posixpath
from dataclasses import dataclass
from datetime import datetime, timezone
from enum import Enum


class FileMode(str, Enum):
    """Listing strategy (reference: src/s3/s3_operator.rs:11-29)."""

    DATE_AWARE = "date_aware"
    FULL_LOAD_ONLY = "full_load_only"
    ABSOLUTE_PATH = "absolute_path"


@dataclass(frozen=True)
class ManifestEntry:
    path: str
    is_load: bool
    mtime: datetime
    file_seq: int  # replay order: LOAD files first, then CDC by key order


def is_load_file(path: str) -> bool:
    """Key-contains classification (reference: src/s3/s3_operator.rs:43-45)."""
    return "LOAD" in posixpath.basename(path)


_DATA_SUFFIXES = (".parquet", ".csv", ".csv.gz")


def _fs(spark, root: str):
    """``(jvm, Path(root), FileSystem)`` through Spark's Hadoop configuration
    — the one accessor every Hadoop-FS caller in the package goes through."""
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    hpath = jvm.org.apache.hadoop.fs.Path(root)
    return jvm, hpath, hpath.getFileSystem(conf)


def _utc(dt: datetime) -> datetime:
    """``dt`` in UTC; a naive value is taken to be UTC already."""
    return dt.astimezone(timezone.utc) if dt.tzinfo else dt.replace(tzinfo=timezone.utc)


def _list_files_recursive(fs, hpath) -> list[tuple[str, float]]:
    out: list[tuple[str, float]] = []
    it = fs.listFiles(hpath, True)  # recursive
    while it.hasNext():
        st = it.next()
        p = st.getPath().toString()
        # DMS emits parquet or (by default) csv; ignore markers/manifests
        if p.endswith(_DATA_SUFFIXES):
            out.append((p, st.getModificationTime() / 1000.0))
    return out


def _hadoop_list(spark, root: str) -> list[tuple[str, float]]:
    """Recursively list (path, mtime_epoch_s) under ``root`` via Hadoop FS.

    Works for file://, hdfs://, s3a:// alike. Returns [] for missing roots.
    """
    _, hpath, fs = _fs(spark, root)
    if not fs.exists(hpath):
        return []
    return _list_files_recursive(fs, hpath)


def _hadoop_list_date_narrowed(
    spark,
    root: str,
    start_date: datetime,
    stop_date: datetime | None,
) -> list[tuple[str, float]]:
    """Date-prefix-narrowed listing: LOAD* files at the table root plus only
    the ``{YYYY}/{MM}/{DD}/`` folders whose path date falls in
    [start_date.date(), stop_date.date()].

    This mirrors the reference's ``start_after={table}/{YYYY/MM/DD}/`` S3
    range scan (s3_operator.rs:220-226): keys lexicographically before the
    start date folder are never returned by the listing at all (the date
    layout makes key order = date order; ``LOAD`` sorts after digits, so
    LOAD files survive the range scan). At years-of-CDC file counts, this
    keeps listing cost proportional to the requested window instead of the
    table's full history.

    Stop-side pruning (folders strictly after stop_date's day) goes one
    step beyond the reference's start-only ``start_after`` — justified
    because DMS writes CDC files into the *current* day's folder, so a
    folder's path date lower-bounds its files' modification times; the
    per-file ``mtime < stop_date`` filter downstream would drop them anyway.

    Non-date entries at any level (a directory whose name is not a
    4-digit year, 2-digit month or 2-digit day where one is expected) fall
    back to a recursive listing of that subtree, preserving behavior for
    layouts without date folders. Data files found directly in the root, a
    year or a month folder are kept. The window bounds are read as UTC
    dates (naive ⇒ UTC), the timezone of DMS's date folders.
    """
    _, root_path, fs = _fs(spark, root)
    if not fs.exists(root_path):
        return []
    lo = _utc(start_date).timetuple()[:3]
    hi = _utc(stop_date).timetuple()[:3] if stop_date is not None else (9999, 12, 31)
    widths = (4, 2, 2)  # YYYY / MM / DD
    out: list[tuple[str, float]] = []

    def walk(path, date: tuple[int, ...]) -> None:
        # ``date`` holds the folder numbers from the root down to ``path``
        for st in fs.listStatus(path):
            name = st.getPath().getName()
            if st.isFile():
                if name.endswith(_DATA_SUFFIXES):
                    out.append(
                        (st.getPath().toString(), st.getModificationTime() / 1000.0)
                    )
                continue
            if not (len(name) == widths[len(date)] and name.isdigit()):
                out.extend(_list_files_recursive(fs, st.getPath()))
                continue
            sub = date + (int(name),)
            if not (lo[: len(sub)] <= sub <= hi[: len(sub)]):
                continue
            if len(sub) == len(widths):  # a day folder in the window
                out.extend(_list_files_recursive(fs, st.getPath()))
            else:
                walk(st.getPath(), sub)

    walk(root_path, ())
    return out


def discover_files(
    spark,
    table_root: str,
    mode: FileMode = FileMode.DATE_AWARE,
    start_date: datetime | None = None,
    stop_date: datetime | None = None,
    absolute_path: str | None = None,
) -> list[ManifestEntry]:
    """List + classify + order a table's CDC files.

    Semantics mirror the reference exactly:
    * DATE_AWARE: LOAD files always included; CDC files kept when
      ``mtime >= start_date`` and (if given) ``mtime < stop_date`` — a
      true half-open window [start, stop). The reference filters with a
      strict ``last_modified > start_date`` (s3_operator.rs:247-260); we
      deliberately include the start boundary so chained incremental
      windows (stop of run N == start of run N+1, see
      ``CdcValidator.advance_state``) partition the timeline: a file whose
      mtime lands exactly on the shared boundary goes to run N+1, never to
      neither. ``start_date`` is required in this mode
      (cdc_operator.rs:116-118 panics without it — we raise ValueError).
    * FULL_LOAD_ONLY: only ``{table_root}/LOAD*`` files (s3_operator.rs:277-315).
    * ABSOLUTE_PATH: wrap the single given key verbatim (s3_operator.rs:184-195).

    Ordering (s3_operator.rs:178-182): LOAD files first (lexicographic), then
    CDC files lexicographic — the date-folder layout makes key order = time
    order. ``file_seq`` is the dense replay rank.
    """
    if mode is FileMode.ABSOLUTE_PATH:
        if not absolute_path:
            raise ValueError("ABSOLUTE_PATH mode requires absolute_path")
        entries = [(absolute_path, 0.0)]
    else:
        if mode is FileMode.DATE_AWARE and start_date is None:
            raise ValueError("DATE_AWARE mode requires start_date")
        if mode is FileMode.DATE_AWARE:
            # Range-scan the listing itself (reference: start_after range
            # scan, s3_operator.rs:220-226) — only date folders within
            # [start_date, stop_date] are enumerated.
            entries = _hadoop_list_date_narrowed(
                spark, table_root, start_date, stop_date
            )
        else:
            entries = _hadoop_list(spark, table_root)

    kept: list[tuple[str, float, bool]] = []
    for path, mtime in entries:
        load = is_load_file(path)
        if mode is FileMode.FULL_LOAD_ONLY and not load:
            continue
        if mode is FileMode.DATE_AWARE and not load:
            ts = datetime.fromtimestamp(mtime, tz=timezone.utc)
            if start_date is not None and ts < _utc(start_date):
                continue
            if stop_date is not None and ts >= _utc(stop_date):
                continue
        kept.append((path, mtime, load))

    # LOAD-first, then lexicographic key order within each class.
    kept.sort(key=lambda e: (not e[2], e[0]))
    return [
        ManifestEntry(
            path=p,
            is_load=load,
            mtime=datetime.fromtimestamp(mt, tz=timezone.utc),
            file_seq=i,
        )
        for i, (p, mt, load) in enumerate(kept)
    ]


def build_manifest(spark, entries: list[ManifestEntry]):
    """Materialize the manifest as a (tiny) DataFrame for broadcast joins."""
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("path", T.StringType(), False),
            T.StructField("is_load", T.BooleanType(), False),
            T.StructField("file_seq", T.LongType(), False),
        ]
    )
    rows = [(e.path, e.is_load, e.file_seq) for e in entries]
    return spark.createDataFrame(rows, schema=schema)
