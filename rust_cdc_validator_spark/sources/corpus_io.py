"""Training-corpus IO: schema-enforced JSONL reading and size-targeted
sharded writes with a manifest.

LLM corpora arrive as JSONL and leave as fixed-size shards; both directions
have scale traps this module closes:

* READ: never infer a JSONL schema at scale — inference is an extra full
  pass over the data before the real read. The reader REQUIRES an explicit
  schema and runs PERMISSIVE with a corrupt-record column, so one malformed
  line among billions quarantines instead of failing the job (DMS-parquet's
  sibling contract in ``sources/resilient.py``: errors are data, not
  exceptions).
* WRITE: downstream training loaders want shards of a target size, not
  whatever ``spark.sql.shuffle.partitions`` happened to be. The writer
  estimates bytes from a BOUNDED sample (never a full materialization),
  repartitions to hit the target shard size, and emits a manifest the next
  pipeline stage can trust without listing the bucket.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from rust_cdc_validator_spark.sources.manifest import _fs

#: rows sampled to estimate serialized row size for shard targeting.
SIZE_PROBE_ROWS = 2_000

CORRUPT_COL = "_corrupt_record"


def read_jsonl_corpus(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    corrupt_col: str = CORRUPT_COL,
) -> tuple[DataFrame, DataFrame]:
    """Read JSONL with an explicit schema; returns (good, quarantined).

    ``good`` has exactly ``schema``'s columns for rows that parsed;
    ``quarantined`` has one string column ``corrupt_col`` holding each
    malformed source line verbatim (for triage/replay).

    Spark caveat handled here: with PERMISSIVE mode the corrupt column is
    only populated when it is part of the read schema, and filtering on it
    in the SAME query as referencing only parsed columns can drop it under
    column pruning — so the reader materializes the split through two
    separate scans of the files (cheap: the quarantine scan prunes to one
    column). No caching, no hidden state.
    """
    lines = spark.read.text(path)
    return split_json_lines(lines, schema, corrupt_col)


def split_json_lines(
    lines: DataFrame,
    schema: T.StructType,
    corrupt_col: str = CORRUPT_COL,
) -> tuple[DataFrame, DataFrame]:
    """Split a text-lines DataFrame (column ``value`` — batch OR streaming)
    into (good, quarantined) under ``schema``. The shared parse core of
    ``read_jsonl_corpus`` and ``streaming.ingest.stream_jsonl_corpus``.

    Parses through from_json (the same Jackson parser with the same
    PERMISSIVE options the json source uses) rather than spark.read.json:
    the json source refuses any query whose scan references only the
    corrupt column (UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_COLUMN)
    — which is precisely what filters and counts over either split compile
    to, and column pruning strips any decoy reference. The text route has
    no such restriction, costs the same single pass, keeps both splits
    lineage-pure (no caching requirement), and works identically on a
    streaming relation. Blank lines are excluded to match the json reader,
    which skips them."""
    if corrupt_col in schema.fieldNames():
        raise ValueError(f"schema must not already contain {corrupt_col!r}")
    # NOT schema.add(...): StructType.add mutates the receiver in place,
    # which would corrupt the caller's schema object across calls
    read_schema = T.StructType(
        list(schema.fields) + [T.StructField(corrupt_col, T.StringType(), True)]
    )
    parsed = lines.filter(F.trim(F.col("value")) != "").select(
        "value",
        F.from_json(
            F.col("value"),
            read_schema,
            {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": corrupt_col},
        ).alias("_p"),
    )
    bad_cond = F.col("_p").isNull() | F.col(f"_p.{corrupt_col}").isNotNull()
    good = parsed.filter(~bad_cond).select("_p.*").drop(corrupt_col)
    quarantined = parsed.filter(bad_cond).select(F.col("value").alias(corrupt_col))
    return good, quarantined


def _estimate_row_bytes(df: DataFrame, fmt: str) -> float:
    """Mean serialized row size from a LIMIT-bounded probe (scans at most
    SIZE_PROBE_ROWS rows — never the corpus). JSON size is measured on the
    actual serialized form; parquet applies a flat 3× compression haircut
    on the JSON size (conservative for text payloads — shards come out at
    or under target, the safe direction for loader memory)."""
    probe = df.limit(SIZE_PROBE_ROWS).select(
        F.length(F.to_json(F.struct(*df.columns))).alias("_n")
    )
    row = probe.agg(
        F.avg("_n").alias("avg"), F.count(F.lit(1)).alias("n")
    ).collect()[0]
    if not row["n"]:
        return 1.0
    avg = float(row["avg"]) + 1.0  # newline
    return avg / 3.0 if fmt == "parquet" else avg


def write_corpus_shards(
    df: DataFrame,
    path: str,
    fmt: str = "parquet",
    target_shard_mb: int = 256,
    total_rows: int | None = None,
    sort_by: list[str] | None = None,
    shard_col: str | None = None,
) -> dict:
    """Write the corpus as ~``target_shard_mb`` shards plus ``_MANIFEST.json``.

    Shard count = ceil(estimated_total_bytes / target) with estimated bytes
    from a bounded row-size probe × row count; ``total_rows`` skips the
    count job when the caller already knows it (same contract as
    ``similarity._fit_coarse_quantizer``'s ``corpus_rows``). The
    repartition is round-robin — even shard sizes, no skew by key.

    Returns the manifest dict: per-shard file name, bytes, plus row count,
    schema JSON, and the sizing inputs (audit trail for the next stage).

    At 100 TB: the write is one round-robin shuffle (unavoidable — shard
    sizing IS a repartition); the manifest costs one driver-side listing of
    the output dir, no data read.

    ``sort_by``: sort WITHIN each shard before writing (a per-partition
    sort — no extra shuffle, no global order). For parquet this tightens
    per-row-group min/max statistics on the sort columns, so later
    point/range scans prune row groups instead of reading whole shards —
    the cheap half of data clustering, worth it whenever downstream reads
    filter on a known column (doc_id lookups, time ranges).

    ``shard_col`` (r7): when the frame already carries a logical shard
    assignment whose computation SHUFFLED on it (``shuffle_corpus``'s
    window partitions by ``shard``), pass that column to skip the
    round-robin repartition entirely — the rows are already grouped by
    the existing partitioning, so the write adds ZERO shuffles and each
    output file holds whole logical shards (sorted within via
    ``sort_by``, which defaults to ``(shard_col, shard_pos)`` here so
    files align with training order). Shard SIZES then follow the hash
    spread of ``num_shards`` over partitions instead of the byte target —
    even to within the law of large numbers at ≥4× parallelism shard
    counts, and worth one full-text shuffle saved at 100 TB."""
    if fmt not in ("parquet", "json"):
        raise ValueError("fmt must be 'parquet' or 'json'")
    n = total_rows if total_rows is not None else df.count()
    row_bytes = _estimate_row_bytes(df, fmt)
    target = target_shard_mb * 1024 * 1024
    shards = max(1, -(-int(n * row_bytes) // target))
    if shard_col is not None:
        if shard_col not in df.columns:
            raise ValueError(f"shard_col {shard_col!r} not in frame")
        sharded = df
        if sort_by is None:
            sort_by = [shard_col] + (
                ["shard_pos"] if "shard_pos" in df.columns else []
            )
    else:
        sharded = df.repartition(shards)
    if sort_by:
        sharded = sharded.sortWithinPartitions(*sort_by)
    writer = sharded.write.mode("overwrite")
    if fmt == "parquet":
        writer.parquet(path)
    else:
        writer.json(path)

    jvm, p, fs = _fs(df.sparkSession, path)
    files = []
    for st in fs.listStatus(p):
        name = st.getPath().getName()
        if name.startswith("part-"):
            files.append({"file": name, "bytes": int(st.getLen())})
    files.sort(key=lambda f: f["file"])
    manifest = {
        "format": fmt,
        "sort_by": list(sort_by or []),
        "row_count": int(n),
        "estimated_row_bytes": row_bytes,
        "target_shard_mb": target_shard_mb,
        "num_shards": len(files),
        "schema": json.loads(df.schema.json()),
        "shards": files,
    }
    out = jvm.org.apache.hadoop.fs.Path(path, "_MANIFEST.json")
    stream = fs.create(out, True)
    stream.write(bytearray(json.dumps(manifest, indent=1).encode()))
    stream.close()
    return manifest


def read_manifest(spark: SparkSession, path: str) -> dict:
    """Load ``_MANIFEST.json`` written by ``write_corpus_shards``.

    Two non-obvious constraints shape this: Hadoop input formats (so every
    ``spark.read``/``wholeTextFiles`` path) silently SKIP ``_``-prefixed
    files — which is exactly why the manifest carries that prefix, data
    readers must ignore it — and py4j passes byte buffers by VALUE, so
    ``InputStream.read(byte[])`` can never fill a Python bytearray. A
    JDK BufferedReader line loop over the Hadoop FS stream satisfies
    both (strings cross py4j fine; works on any Hadoop-visible FS)."""
    jvm, base, fs = _fs(spark, path)
    p = jvm.org.apache.hadoop.fs.Path(base, "_MANIFEST.json")
    reader = jvm.java.io.BufferedReader(
        jvm.java.io.InputStreamReader(fs.open(p), "UTF-8")
    )
    try:
        lines = []
        while (line := reader.readLine()) is not None:
            lines.append(line)
    finally:
        reader.close()
    return json.loads("\n".join(lines))
