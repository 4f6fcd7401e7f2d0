"""Persisted edge state for the graph family — the graph sibling of the
MinHash/LSH/IVF index discipline (operators/dedup.build_minhash_index,
operators/similarity.build_lsh_index).

Motivation (r10 verdict): pagerank, label propagation, BFS, and triangle
counting each rebuilt the same fact-table-derived edge relation per
query — at bench scale ~11% of suite wall, and at 100 TB a full
lineitem-sized scan + join per analytic. A standing pipeline computes
the edge relation ONCE (per day / per snapshot), persists it in
algorithm-ready form, and every graph analytic reads kilobyte-to-
gigabyte edge state instead of re-joining terabytes of facts.

Layout under ``path`` (same parquet-dir portability as the ANN indexes —
no metastore dependency, any Spark session can read it):

* ``adj/`` — the adjacency every algorithm consumes DIRECTLY:
  (src, dst, w, p) with both directions PRE-EXPLODED for undirected
  builds (dedup'd, self-loops dropped) and the transition probability
  ``p = w / out_w(src)`` precomputed, so ``pagerank_from_state`` skips
  the out-weight aggregation and join entirely. Written re-partitioned
  by ``src`` into ``buckets`` files and sorted within partitions, so
  src-keyed reads get row-group min/max pruning and co-located keys.
* ``nodes/`` — (node, has_out, has_in, out_deg, in_deg, out_w): the
  role relation pagerank derives per call (node set, dangling flag,
  teleport-only flag) plus degrees for degree-keyed analytics.
* ``params/`` — one row: directed, weighted, buckets, n_nodes, n_edges
  (adjacency rows). The staleness baseline —
  :func:`edge_state_refit_needed` compares the CURRENT canonical edge
  count against ``n_edges``, mirroring ``similarity.ivf_refit_needed``.

Semantics contract: undirected builds canonicalize (least, greatest),
DROP self-loops, and SUM weights across duplicate/reversed input rows —
exactly the relation ``label_propagation`` / ``shortest_hops``
(undirected) derive internally, so the ``*_from_state`` variants are
value-identical to the direct operators on self-loop-free input.
Directed builds keep self-loops and sum multi-edge weights.

Scale shape at 100 TB: the build pays the fact scan once; ``adj`` is
O(|E|) narrow rows and every ``*_from_state`` analytic starts its
iterations from a parquet scan — zero prep jobs, zero fact-table
exchanges. The iteration loops themselves are shared with
operators/graph.py (same shuffle bounds, same checkpoint discipline).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rust_cdc_validator_spark.operators.graph import (
    GraphRunStats,
    _bfs_loop,
    _lpa_loop,
    _pagerank_loop,
    _parse_bytes,
    _RANK_ROW_BYTES,
)

__all__ = [
    "build_edge_state",
    "advance_edge_state",
    "betweenness_from_state",
    "edge_state_params",
    "edge_state_adjacency",
    "edge_state_nodes",
    "edge_state_refit_needed",
    "pagerank_from_state",
    "pivot_bfs_levels",
    "label_propagation_from_state",
    "shortest_hops_from_state",
    "weighted_paths_from_state",
    "k_core_from_state",
    "triangle_count_from_state",
    "degree_assortativity_from_state",
    "clustering_coefficient_from_state",
    "adamic_adar_from_state",
    "hits_from_state",
    "harmonic_closeness_from_state",
    "louvain_from_state",
    "modularity_from_state",
]


def _canonical(
    edges: DataFrame,
    src: str,
    dst: str,
    weight_col: str | None,
    directed: bool,
) -> DataFrame:
    """The build's canonical (src, dst, w) relation — also recomputed by
    :func:`edge_state_refit_needed` so drift is measured against the
    same formulation the state was built from."""
    w = F.col(weight_col).cast("double") if weight_col else F.lit(1.0)
    if directed:
        pairs = edges.select(
            F.col(src).alias("src"), F.col(dst).alias("dst"), w.alias("w")
        )
    else:
        a, b = F.col(src), F.col(dst)
        pairs = edges.select(
            F.least(a, b).alias("src"),
            F.greatest(a, b).alias("dst"),
            w.alias("w"),
        ).filter(F.col("src") != F.col("dst"))
    return pairs.groupBy("src", "dst").agg(F.sum("w").alias("w"))


def build_edge_state(
    edges: DataFrame,
    path: str,
    src: str = "src",
    dst: str = "dst",
    weight_col: str | None = None,
    directed: bool = False,
    buckets: int = 32,
) -> None:
    """Persist algorithm-ready edge state under ``path`` (layout above).

    ONE pass over the (possibly expensive) ``edges`` subtree: the
    canonical aggregation materializes to ``adj/`` first, and nodes,
    degrees, out-weights, and counts all derive from the WRITTEN files —
    the caller's fact joins never re-execute.
    """
    if buckets < 1:
        raise ValueError("buckets must be >= 1")
    spark = edges.sparkSession
    canon = _canonical(edges, src, dst, weight_col, directed)
    directed_edges = _expand_directions(canon, directed)
    _write_state(
        spark, directed_edges, path, directed, weight_col is not None, buckets
    )


def _expand_directions(canon: DataFrame, directed: bool) -> DataFrame:
    """Direction-expand a canonical (src, dst, w) relation: directed
    states pass through; undirected states get both directions in ONE
    pass (explode, not unionAll — the union form would evaluate the
    caller's edge build twice)."""
    if directed:
        return canon
    return canon.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("src").alias("src"),
                    F.col("dst").alias("dst"),
                    F.col("w").alias("w"),
                ),
                F.struct(
                    F.col("dst").alias("src"),
                    F.col("src").alias("dst"),
                    F.col("w").alias("w"),
                ),
            )
        ).alias("_x")
    ).select("_x.src", "_x.dst", "_x.w")


def _attach_transition_probs(directed_edges: DataFrame) -> DataFrame:
    """(src, dst, w) -> (src, dst, w, p) with p = w / out_w(src). The
    out_w relation is a groupBy over the (already aggregated) directed
    edges, not the caller's input — and because the adjacency is
    bucketed BY src, a src's p values derive entirely from its own
    bucket's rows (the property the bucket-selective advance relies on:
    untouched buckets keep valid probabilities verbatim)."""
    out_w = directed_edges.groupBy(F.col("src").alias("_s")).agg(
        F.sum("w").alias("_ow")
    )
    return directed_edges.join(
        out_w, directed_edges["src"] == out_w["_s"]
    ).select("src", "dst", "w", (F.col("w") / F.col("_ow")).alias("p"))


def _write_adj_buckets(adj: DataFrame, path: str, buckets: int) -> None:
    """Write (src, dst, w, p) under ``{path}/adj/_b={bucket}/`` — one
    file per bucket: repartitioning on ``_b`` ITSELF co-locates each
    bucket's rows in one task by construction (repartitioning on
    ``src`` relies on the write stage keeping pmod(hash(src), buckets)
    intact, which AQE's runtime re-planning broke in the real build —
    measured 8 files per bucket dir, an 8x file-count tax on every
    manifest-resolved read). Within the task a (``_b``, ``src``) sort
    keeps src-keyed row-group min/max pruning inside each bucket
    file."""
    from rust_cdc_validator_spark.operators.state import bucket_id

    (
        adj.withColumn("_b", bucket_id(["src"], buckets).cast("int"))
        .repartition(buckets, "_b")
        .sortWithinPartitions("_b", "src")
        .write.partitionBy("_b")
        .mode("overwrite")
        .parquet(f"{path}/adj")
    )


def _adj_manifest_path(path: str) -> str:
    return f"{path}/adj_manifest.json"


def _resolve_adj_entry(path: str, rel: str) -> str:
    """A manifest entry is either absolute (scheme-qualified or rooted —
    used when versions span filesystems) or relative to the STATE dir
    ('adj/_b=3/part-…' for own files, '../v0/adj/_b=2/part-…' for
    carried ones — portable when the whole version chain relocates)."""
    import posixpath

    if "://" in rel or rel.startswith("/"):
        return rel
    return posixpath.normpath(posixpath.join(path, rel))


def _relativize_adj_entry(abs_path: str, base: str) -> str:
    import posixpath

    if "://" in abs_path or "://" in base:
        return abs_path
    return posixpath.relpath(abs_path, base)


def _write_adj_manifest(
    spark: SparkSession,
    path: str,
    bucket_files: dict[int, list[str]],
    schema_json: str,
    buckets: int,
) -> None:
    """The adjacency COMMIT record (write-then-rename, like
    ``state._fs_write_text``): per bucket, the data files that make the
    bucket up — own files for fresh/touched buckets, the parent
    version's files (verbatim, zero bytes moved) for untouched ones.
    The same design point as ``state.merge_into_state_manifest``."""
    import json

    from rust_cdc_validator_spark.operators.state import _fs_write_text

    manifest = {
        "n_buckets": buckets,
        "schema": schema_json,
        "buckets": {str(b): fs for b, fs in sorted(bucket_files.items())},
    }
    _fs_write_text(
        spark, _adj_manifest_path(path), json.dumps(manifest, indent=1)
    )
    # a rebuild replaced the record: drop EVERY per-state memo under this
    # path — the scalar facts AND the derived DataFrame relations (pivot-
    # BFS levels, HyperBall lane registers), which would otherwise serve
    # the OLD graph's levels to closeness/betweenness/NF queries. The two
    # DataFrame caches key on the normalized path (pivot-BFS on the raw
    # path inside a tuple), so match by normalized equality.
    norm = _norm_state_path(path)
    for cache in (_ADJ_MANIFEST_CACHE, _STATE_FACTS_CACHE):
        for k in [k for k in cache if _norm_state_path(k) == norm]:
            del cache[k]
    for k in [k for k in _PIVOT_BFS_CACHE if _norm_state_path(k[0]) == norm]:
        _, levels, _ = _PIVOT_BFS_CACHE.pop(k)
        for df in levels:  # release the checkpointed blocks, best effort
            try:
                df.unpersist()
            except Exception:
                pass
    for k in [k for k in _NF_REGS_CACHE if k[0] == norm]:
        for df in _NF_REGS_CACHE.pop(k):
            try:
                df.unpersist()
            except Exception:
                pass
    enc = _ENC_GRAPH_CACHE.pop(norm, None)
    if enc is not None:
        for df in [enc["dict"], *enc["adj"].values()]:
            try:
                df.unpersist()
            except Exception:
                pass
    # a rebuild also invalidates the PERSISTED derived artifacts (the
    # enc_dict/enc_adj parquet): delete the whole derived/ subtree so a
    # stale encoding can never serve the new graph
    try:
        from rust_cdc_validator_spark.sources.manifest import _fs

        _, p, fs = _fs(spark, f"{path}/derived")
        if fs.exists(p):
            fs.delete(p, True)
    except Exception:
        pass


#: path -> parsed manifest (or None for legacy flat-adj states). States
#: are immutable versions by contract, so the commit record never changes
#: under a path; without this cache EVERY from-state query execution paid
#: an existence probe plus a line-by-line py4j manifest read (~0.3 s/call
#: measured at sf0.1 — the r12-D bench regression on the graph family).
#: _write_adj_manifest invalidates its key, covering in-place rebuilds.
_ADJ_MANIFEST_CACHE: dict[str, dict | None] = {}

#: path -> {fact key: value} of per-state SCALAR facts that are pure
#: functions of the immutable state under that path: the params row,
#: pagerank's 3-scalar role probe, the SSSP min-weight guard. Same
#: contract as _ADJ_MANIFEST_CACHE (states are immutable versions; the
#: writers invalidate alongside the manifest). Without this, every
#: from-state query EXECUTION re-ran the scan behind the fact — for the
#: min(w) guard that was a full O(|E|) adjacency pass per call (guide
#: §1.2: remove passes the job does not need; measured 0.10-0.27 s/call
#: at sf0.1, and a whole extra state scan per analytic at scale).
_STATE_FACTS_CACHE: dict[str, dict] = {}


def _state_fact(path: str, key: str, compute):
    """Memoized scalar fact of an immutable edge state."""
    facts = _STATE_FACTS_CACHE.setdefault(path, {})
    if key not in facts:
        facts[key] = compute()
    return facts[key]


def _load_adj_manifest(spark: SparkSession, path: str) -> dict | None:
    """None for a legacy (pre-manifest, flat ``adj/``) state."""
    import json

    from rust_cdc_validator_spark.operators.state import _fs_read_text
    from rust_cdc_validator_spark.sources.manifest import _fs

    if path in _ADJ_MANIFEST_CACHE:
        return _ADJ_MANIFEST_CACHE[path]
    uri = _adj_manifest_path(path)
    _, p, fs = _fs(spark, uri)
    if not fs.exists(p):
        m = None
    else:
        m = json.loads(_fs_read_text(spark, uri))
        m["buckets"] = {int(k): v for k, v in m["buckets"].items()}
    _ADJ_MANIFEST_CACHE[path] = m
    return m


def _own_adj_files(spark: SparkSession, path: str) -> dict[int, list[str]]:
    """Freshly written adj files under ``{path}/adj``, grouped by bucket
    id, as paths relative to the state dir."""
    import re

    from rust_cdc_validator_spark.operators.state import _fs_list_names

    out: dict[int, list[str]] = {}
    for sub in _fs_list_names(spark, f"{path}/adj"):
        m = re.fullmatch(r"_b=(\d+)", sub)
        if not m:
            continue
        b = int(m.group(1))
        out[b] = [
            f"adj/{sub}/{name}"
            for name in _fs_list_names(spark, f"{path}/adj/{sub}")
            if name.startswith("part-")
        ]
    return out


def _write_nodes_and_params(
    spark: SparkSession,
    written: DataFrame,
    path: str,
    directed: bool,
    weighted: bool,
    buckets: int,
) -> None:
    """Derive nodes/ and params/ from the RESOLVED written adjacency —
    the caller's input subtree has already been released."""
    nodes = (
        written.select(
            F.col("src").alias("node"),
            F.lit(1).alias("_o"),
            F.lit(0).alias("_i"),
            F.col("w").alias("_ow"),
        )
        .unionAll(
            written.select(
                F.col("dst").alias("node"),
                F.lit(0).alias("_o"),
                F.lit(1).alias("_i"),
                F.lit(0.0).alias("_ow"),
            )
        )
        .groupBy("node")
        .agg(
            F.max("_o").alias("has_out"),
            F.max("_i").alias("has_in"),
            F.sum("_o").cast("long").alias("out_deg"),
            F.sum("_i").cast("long").alias("in_deg"),
            F.sum("_ow").alias("out_w"),
        )
    )
    nodes.repartition(buckets, "node").write.mode("overwrite").parquet(
        f"{path}/nodes"
    )
    # counts come from the WRITTEN files (parquet row-group metadata),
    # never from re-running the input subtree
    n_edges = edge_state_adjacency(spark, path).count()
    n_nodes = spark.read.parquet(f"{path}/nodes").count()
    spark.createDataFrame(
        [(bool(directed), bool(weighted), buckets, n_nodes, n_edges)],
        "directed boolean, weighted boolean, buckets int, "
        "n_nodes long, n_edges long",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/params")


def _write_state(
    spark: SparkSession,
    directed_edges: DataFrame,
    path: str,
    directed: bool,
    weighted: bool,
    buckets: int,
) -> None:
    """Write a direction-expanded aggregated (src, dst, w) relation as
    the full state layout (adj bucket dirs + manifest + nodes + params)
    — the from-facts build path; the state+delta advance shares the
    pieces but rewrites only delta-touched buckets."""
    adj = _attach_transition_probs(directed_edges)
    schema_json = adj.schema.json()
    _write_adj_buckets(adj, path, buckets)
    files = _own_adj_files(spark, path)
    _write_adj_manifest(
        spark,
        path,
        {b: files.get(b, []) for b in range(buckets)},
        schema_json,
        buckets,
    )
    written = edge_state_adjacency(spark, path)
    _write_nodes_and_params(spark, written, path, directed, weighted, buckets)


def advance_edge_state(
    spark: SparkSession,
    path: str,
    delta: DataFrame,
    new_path: str,
    src: str = "src",
    dst: str = "dst",
    weight_col: str | None = None,
) -> None:
    """Incremental edge-state maintenance: fold an edge DELTA into the
    state at ``path`` and write the result as a NEW state version at
    ``new_path`` — the graph sibling of ``api.CdcValidator.advance_state``
    (CDC window applied to bucketed PK state) and the same immutable-
    version discipline as the ANN index builders.

    The point at 100 TB: a standing pipeline re-derives the edge
    relation from the FACT table per snapshot — a full terabyte scan +
    join every day. Advancing instead reads O(|E|) state rows plus the
    day's delta: the fact scan is paid once ever, after which graph
    state stays current by folding deltas.

    Delta semantics match the build's canonicalization contract
    (undirected states canonicalize + drop self-loops, duplicates sum):
    positive weights add or strengthen edges, NEGATIVE weights retract
    (CDC deletes) — a merged edge whose weight falls to <= 0 disappears
    entirely, from ``adj`` and from ``nodes``' degrees alike. For
    unweighted states pass a ±1 weight column to retract co-occurrence
    counts; integral deltas stay exact in double arithmetic.

    The result is VALUE-IDENTICAL to rebuilding from the merged edge
    multiset (pinned in tests/test_graphstate.py): adj, transition
    probs, node roles/degrees, and params all re-derive from the merged
    relation through the build's write pieces.

    Scale shape (r12, bucket-selective): only DELTA-TOUCHED buckets are
    read, merged, and rewritten — untouched buckets carry over as FILE
    REFERENCES in the new version's adj manifest (the
    ``state.merge_into_state_manifest`` discipline: zero bytes moved or
    duplicated on any store, byte-identical files shared across
    versions). Because the adjacency is bucketed by ``src`` and a src's
    transition probabilities derive only from its own bucket's rows,
    the touched-bucket rewrite is self-contained. Day-2 write cost is
    O(|delta-touched fraction of E|), not O(|E|); the nodes/ relation
    (O(|V|), degree bookkeeping spans buckets) and params are
    recomputed from the resolved adjacency. No fact-table exchange
    anywhere.
    """
    if _norm_state_path(new_path) == _norm_state_path(path):
        raise ValueError(
            "advance_edge_state writes a NEW state version: new_path must "
            "differ from path (readers of the old version would race the "
            "overwrite)"
        )
    import json

    from pyspark.sql.types import StructType

    from rust_cdc_validator_spark.operators.state import bucket_id

    params = edge_state_params(spark, path)
    directed = bool(params["directed"])
    weighted = bool(params["weighted"]) or weight_col is not None
    n_buckets = int(params["buckets"])
    canon = _canonical(delta, src, dst, weight_col, directed)
    dexp = _expand_directions(canon, directed)

    m = _load_adj_manifest(spark, path)
    if m is None:
        # legacy flat-adj state: full merge (upgrades to the bucket-dir
        # + manifest layout on write, so the NEXT advance is selective)
        old = edge_state_adjacency(spark, path).select("src", "dst", "w")
        merged = (
            old.unionByName(dexp)
            .groupBy("src", "dst")
            .agg(F.sum("w").alias("w"))
            .filter(F.col("w") > 0)
        )
        _write_state(spark, merged, new_path, directed, weighted, n_buckets)
        return

    # the delta subtree feeds both the touched-bucket probe and the
    # merge — materialize it once (it is O(|delta|) by contract)
    dexp = dexp.localCheckpoint(eager=True)
    touched = sorted(
        r["_b"]
        for r in dexp.select(
            bucket_id(["src"], n_buckets).cast("int").alias("_b")
        )
        .distinct()
        .collect()
    )
    touched_set = set(touched)
    schema = StructType.fromJson(json.loads(m["schema"]))
    old_paths = [
        _resolve_adj_entry(path, rel)
        for b in touched
        for rel in m["buckets"].get(b, [])
    ]
    old_touched = (
        spark.read.schema(schema).parquet(*old_paths).select("src", "dst", "w")
        if old_paths
        else spark.createDataFrame([], schema).select("src", "dst", "w")
    )
    merged = (
        old_touched.unionByName(dexp)
        .groupBy("src", "dst")
        .agg(F.sum("w").alias("w"))
        .filter(F.col("w") > 0)
    )
    _write_adj_buckets(
        _attach_transition_probs(merged), new_path, n_buckets
    )
    new_files = _own_adj_files(spark, new_path)
    bucket_files: dict[int, list[str]] = {}
    for b in range(n_buckets):
        if b in touched_set:
            bucket_files[b] = new_files.get(b, [])  # empty = fully retracted
        else:
            bucket_files[b] = [
                _relativize_adj_entry(_resolve_adj_entry(path, rel), new_path)
                for rel in m["buckets"].get(b, [])
            ]
    _write_adj_manifest(spark, new_path, bucket_files, m["schema"], n_buckets)
    written = edge_state_adjacency(spark, new_path)
    _write_nodes_and_params(
        spark, written, new_path, directed, weighted, n_buckets
    )


def _norm_state_path(p: str) -> str:
    """Normalize a state path for the same-version guard. Non-scheme
    paths go through ``posixpath.normpath`` (collapses ANY run of
    redundant separators and ``.``/``..`` segments — a single
    ``replace('//','/')`` pass missed ``///``, letting an advance
    overwrite the state it reads); scheme-qualified paths only lose the
    trailing slash (normpath would mangle ``s3://``)."""
    import posixpath

    if "://" in p:
        return p.rstrip("/")
    return posixpath.normpath(p)


def edge_state_params(spark: SparkSession, path: str) -> dict:
    """The build's pinned parameters + size facts as a plain dict
    (memoized per immutable state path — one driver job per state, not
    per query execution)."""
    return dict(
        _state_fact(
            path,
            "params",
            lambda: spark.read.parquet(f"{path}/params").first().asDict(),
        )
    )


def edge_state_adjacency(spark: SparkSession, path: str) -> DataFrame:
    """(src, dst, w, p) — direction-expanded for undirected builds.
    Resolves through the adj manifest when present (bucket files may
    live in a PARENT version's directory — the bucket-selective advance
    carries untouched buckets as references, zero bytes copied); legacy
    flat ``adj/`` dirs read directly."""
    import json

    from pyspark.sql.types import StructType

    m = _load_adj_manifest(spark, path)
    if m is None:
        return spark.read.parquet(f"{path}/adj").select(
            "src", "dst", "w", "p"
        )
    schema = StructType.fromJson(json.loads(m["schema"]))
    paths = [
        _resolve_adj_entry(path, rel)
        for b in sorted(m["buckets"])
        for rel in m["buckets"][b]
    ]
    if not paths:
        return spark.createDataFrame([], schema)
    return spark.read.schema(schema).parquet(*paths)


def edge_state_nodes(spark: SparkSession, path: str) -> DataFrame:
    """(node, has_out, has_in, out_deg, in_deg, out_w)."""
    return spark.read.parquet(f"{path}/nodes")


#: normalized state path -> {"dict": DataFrame, "adj": {src_prefix: DataFrame}}
#: — the long-encoded graph relations (see _encoded_node_dict). Same
#: immutable-version memo contract as _PIVOT_BFS_CACHE; invalidated by
#: _write_adj_manifest.
_ENC_GRAPH_CACHE: dict = {}


def _derived_ready(spark: SparkSession, uri: str) -> bool:
    """True iff a derived parquet relation was COMMITTED at ``uri``
    (Spark's _SUCCESS marker — a killed writer leaves no marker, so a
    partial directory is recomputed, never read)."""
    from rust_cdc_validator_spark.sources.manifest import _fs

    try:
        _, p, fs = _fs(spark, f"{uri}/_SUCCESS")
        return bool(fs.exists(p))
    except Exception:
        return False


def _persist_derived(spark: SparkSession, df: DataFrame, uri: str) -> DataFrame:
    """Write a derived relation next to its state version and read it
    back (cold JVMs then pay a parquet scan, not the derivation — the
    versioned-artifact contract of centroids/codebooks). Falls back to a
    localCheckpoint when the state location is not writable, keeping the
    old session-memo behavior."""
    try:
        df.write.mode("overwrite").parquet(uri)
        return spark.read.parquet(uri)
    except Exception:
        return df.localCheckpoint(eager=True)


def _read_derived_frames(
    spark: SparkSession, base_uri: str
) -> tuple[list[DataFrame], list[int]] | None:
    """(frames, counts) of a committed multi-level derived artifact
    (``{base_uri}/meta.json`` + ``level_<h>/`` parquet dirs), or None if
    absent/partial. meta.json is written LAST, so its presence is the
    commit record; each level additionally needs its _SUCCESS marker."""
    import json

    from rust_cdc_validator_spark.operators.state import _fs_read_text

    try:
        meta = json.loads(_fs_read_text(spark, f"{base_uri}/meta.json"))
    except Exception:
        return None
    frames = []
    for h in range(int(meta["n"])):
        uri = f"{base_uri}/level_{h}"
        if not _derived_ready(spark, uri):
            return None
        frames.append(spark.read.parquet(uri))
    return frames, [int(c) for c in meta.get("counts") or []]


def _write_derived_frames(
    spark: SparkSession,
    base_uri: str,
    frames: list[DataFrame],
    counts: list[int] | None,
) -> list[DataFrame] | None:
    """Persist per-level frames under ``base_uri`` and return the
    read-back frames (so warm and cold sessions share the same scan
    path), or None when the location is not writable. Level dirs that
    already exist are SKIPPED, not rewritten — a level's content is a
    pure function of the immutable state version, so an extension pass
    only writes the new depths. meta.json commits last."""
    import json

    from rust_cdc_validator_spark.operators.state import _fs_write_text

    try:
        out = []
        for h, df in enumerate(frames):
            uri = f"{base_uri}/level_{h}"
            if not _derived_ready(spark, uri):
                df.write.mode("overwrite").parquet(uri)
            out.append(spark.read.parquet(uri))
        _fs_write_text(
            spark,
            f"{base_uri}/meta.json",
            json.dumps({"n": len(frames), "counts": counts}),
        )
        return out
    except Exception:
        return None

#: estimated in-memory bytes per node-dict row (node string + long id +
#: parity + role flags) for the encode-join broadcast gate — deliberately
#: above _RANK_ROW_BYTES because the dict row is wider than a rank row
_DICT_ROW_BYTES = 160


def _encoded_node_dict(spark: SparkSession, path: str) -> DataFrame:
    """(node, nid, parity, has_out, has_in, out_w) — the per-state node
    dictionary behind the long-keyed superstep family (guide §2.3,
    "narrower types": every iterative exchange moves an 8-byte long
    instead of a node string).

    ``nid`` is an ORDER-PRESERVING dense rank of the node string
    (nid_a < nid_b ⇔ node_a < node_b), so every string-semantic
    comparison the algorithms make — LPA's min-label tie-break,
    Louvain's ASC-community argmax and min-label community identity —
    is isomorphic under the encoding and decodes back bit-for-bit.
    ``parity`` pins the Louvain md5 move gate, which is defined on the
    node STRING, as a build-time node attribute.

    The rank is computed scale-safely (never a single-partition window):
    range-repartition by node, materialize ONCE (so every consumer sees
    the same partition boundaries), per-partition row_number plus a
    driver-side running offset over the per-partition counts (the
    partition count is `buckets` — bounded, driver-small).

    PERSISTED as a versioned state artifact (``{path}/derived/enc_dict``)
    on first use — cold JVMs read the parquet back instead of re-ranking
    — and memoized per immutable state version (the pivot-BFS contract);
    rebuild invalidation (memo pop + derived-dir delete) lives in
    _write_adj_manifest."""
    from pyspark.sql import Window

    from rust_cdc_validator_spark.operators.graph import _md5_parity

    key = _norm_state_path(path)
    hit = _ENC_GRAPH_CACHE.get(key)
    if hit is not None:
        return hit["dict"]
    dict_uri = f"{path}/derived/enc_dict"
    if _derived_ready(spark, dict_uri):
        dic = spark.read.parquet(dict_uri)
        _ENC_GRAPH_CACHE[key] = {"dict": dic, "adj": {}}
        return dic
    buckets = int(edge_state_params(spark, path)["buckets"])
    staged = (
        edge_state_nodes(spark, path)
        .repartitionByRange(buckets, "node")
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    sizes = {
        r["_pid"]: r["_cnt"]
        for r in staged.groupBy("_pid")
        .agg(F.count(F.lit(1)).alias("_cnt"))
        .collect()
    }
    offsets, running = [], 0
    for pid in sorted(sizes):
        offsets.append((pid, running))
        running += sizes[pid]
    off = spark.createDataFrame(offsets or [(0, 0)], "_pid int, _off long")
    w = Window.partitionBy("_pid").orderBy("node")
    dic = (
        staged.withColumn("_rn", F.row_number().over(w))
        .join(F.broadcast(off), "_pid")
        .select(
            "node",
            (F.col("_off") + F.col("_rn") - 1).cast("long").alias("nid"),
            _md5_parity(F.col("node")).alias("parity"),
            "has_out",
            "has_in",
            "out_w",
        )
    )
    dic = _persist_derived(spark, dic, dict_uri)
    staged.unpersist()
    _ENC_GRAPH_CACHE[key] = {"dict": dic, "adj": {}}
    return dic


def _dict_gate(spark: SparkSession, path: str, df: DataFrame):
    """Broadcast the node dict side of an encode/decode join when it
    fits the session threshold (|V| rows — the same explicit decision
    the rank loops make)."""
    n = int(edge_state_params(spark, path)["n_nodes"])
    threshold = _parse_bytes(
        spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10m")
    )
    return F.broadcast(df) if 0 < n * _DICT_ROW_BYTES <= threshold else df


def _encoded_adjacency(
    spark: SparkSession, path: str, src_prefix: str | None = None
) -> DataFrame:
    """(sid, did, w, p) — the state adjacency with both endpoints
    long-encoded through :func:`_encoded_node_dict`. The unprefixed
    relation is PERSISTED as a versioned state artifact
    (``{path}/derived/enc_adj``) on first use — cold JVMs read it back,
    no encode joins — and memoized; a ``src_prefix`` read (the directed
    bipartite HITS slice) derives from it as a broadcast-gated semi-join
    on the prefix's nids (value-identical to filtering the string src
    first: the dict is a bijection), checkpointed per (version, prefix).
    Every superstep thereafter joins and aggregates on 8-byte longs."""
    dic = _encoded_node_dict(spark, path)
    entry = _ENC_GRAPH_CACHE[_norm_state_path(path)]
    cached = entry["adj"].get(src_prefix)
    if cached is not None:
        return cached
    if src_prefix is not None:
        base = _encoded_adjacency(spark, path, None)
        nids = dic.filter(F.col("node").startswith(src_prefix)).select(
            F.col("nid").alias("sid")
        )
        enc = base.join(
            _dict_gate(spark, path, nids), "sid", "left_semi"
        ).localCheckpoint(eager=True)
        entry["adj"][src_prefix] = enc
        return enc
    adj_uri = f"{path}/derived/enc_adj"
    if _derived_ready(spark, adj_uri):
        enc = spark.read.parquet(adj_uri)
    else:
        adj = edge_state_adjacency(spark, path)
        ds = _dict_gate(
            spark,
            path,
            dic.select(F.col("node").alias("src"), F.col("nid").alias("sid")),
        )
        dd = _dict_gate(
            spark,
            path,
            dic.select(F.col("node").alias("dst"), F.col("nid").alias("did")),
        )
        enc = _persist_derived(
            spark,
            adj.join(ds, "src").join(dd, "dst").select("sid", "did", "w", "p"),
            adj_uri,
        )
    entry["adj"][src_prefix] = enc
    return enc


def _encode_seed_nodes(
    spark: SparkSession, path: str, seeds: DataFrame
) -> DataFrame:
    """(node: long) — caller seed node strings mapped through the dict
    (seeds outside the node set drop out here, exactly as the string
    loops' joins dropped them)."""
    dic = _encoded_node_dict(spark, path)
    return (
        seeds.select("node")
        .distinct()
        .join(_dict_gate(spark, path, dic.select("node", "nid")), "node")
        .select(F.col("nid").alias("node"))
    )


def _seeds_outside_state(
    spark: SparkSession, path: str, seeds: DataFrame
) -> DataFrame:
    """(node: string) — the caller's distinct seeds that are NOT in the
    state's node set (the BFS/SSSP loops keep them in the output at
    distance 0; the dict encode would silently drop them)."""
    dic = _encoded_node_dict(spark, path)
    return (
        seeds.select("node")
        .distinct()
        .join(
            _dict_gate(spark, path, dic.select("node")), "node", "left_anti"
        )
    )


def _decode_node_cols(
    spark: SparkSession, path: str, df: DataFrame, cols: tuple[str, ...]
) -> DataFrame:
    """Map long-encoded node columns back to the original strings —
    one |V|-sized (broadcast-gated) join per encoded column, only at
    the output boundary."""
    dic = _encoded_node_dict(spark, path)
    out = df
    for c in cols:
        dec = _dict_gate(
            spark,
            path,
            dic.select(F.col("nid").alias(f"_k_{c}"), F.col("node").alias(f"_s_{c}")),
        )
        out = (
            out.join(dec, out[c] == dec[f"_k_{c}"])
            .drop(c, f"_k_{c}")
            .withColumnRenamed(f"_s_{c}", c)
        )
    return out.select(*df.columns)


def edge_state_refit_needed(
    current_edges: DataFrame,
    path: str,
    src: str = "src",
    dst: str = "dst",
    weight_col: str | None = None,
    max_drift: float = 0.10,
) -> bool:
    """True when the CURRENT canonical edge count has drifted more than
    ``max_drift`` (fraction) from the persisted state's — the rebuild cue
    for a standing pipeline, the graph analog of
    ``similarity.ivf_refit_needed``. One count aggregate over the current
    edge relation; the state is never scanned."""
    params = edge_state_params(current_edges.sparkSession, path)
    canon_rows = _canonical(
        current_edges, src, dst, weight_col, params["directed"]
    ).count()
    stored = params["n_edges"] // (1 if params["directed"] else 2)
    if stored == 0:
        return canon_rows > 0
    return abs(canon_rows - stored) / stored > max_drift


def pagerank_from_state(
    spark: SparkSession,
    path: str,
    damping: float = 0.85,
    iterations: int = 5,
    tol: float | None = None,
    checkpoint: bool = True,
    return_stats: bool = False,
    seeds: DataFrame | None = None,
) -> DataFrame | tuple[DataFrame, GraphRunStats]:
    """:func:`graph.pagerank` over persisted edge state: the node set,
    dangling flags, and transition probabilities are READ, not derived —
    the only pre-loop job is a 3-scalar aggregate over ``nodes/``. Same
    power-method loop, bit-for-bit (shared ``_pagerank_loop``)."""
    if not 0.0 < damping < 1.0:
        raise ValueError("damping must be in (0, 1)")
    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    if tol is not None and tol <= 0.0:
        raise ValueError("tol must be positive when set")
    if tol is not None and not checkpoint:
        raise ValueError(
            "tol requires checkpoint=True: each delta probe would "
            "re-execute the un-truncated iteration lineage"
        )
    role = edge_state_nodes(spark, path)
    probe = _state_fact(
        path,
        "pagerank_role_probe",
        lambda: role.agg(
            F.count(F.lit(1)).alias("n"),
            F.max(F.when(F.col("has_out") == 0, 1).otherwise(0)).alias("dang"),
            F.max(F.when(F.col("has_in") == 0, 1).otherwise(0)).alias("srco"),
        ).first(),
    )
    n = int(probe["n"])
    if n == 0:
        raise ValueError("pagerank_from_state: edge state is empty")
    # long-keyed supersteps (guide §2.3): every per-iteration exchange
    # and rank-frame broadcast moves 8-byte nids, not node strings; the
    # encode is one memoized pass per state version, the decode one
    # |V|-sized gated join at the output boundary. Rank arithmetic is a
    # pure function of the grouping (a bijection), so values and mass
    # are unchanged.
    dic = _encoded_node_dict(spark, path)
    trans = _encoded_adjacency(spark, path).select(
        F.col("sid").alias("_s"), F.col("did").alias("_d"), F.col("p").alias("_p")
    )
    nodes = dic.select(F.col("nid").alias("node"))
    if seeds is not None:
        from rust_cdc_validator_spark.operators.graph import _attach_teleport

        nodes = _attach_teleport(
            nodes, _encode_seed_nodes(spark, path, seeds), checkpoint
        )
    dangling_nodes = dic.filter(F.col("has_out") == 0).select(
        F.col("nid").alias("node")
    )
    threshold = _parse_bytes(
        spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10m")
    )
    broadcast_ranks = 0 < n * _RANK_ROW_BYTES <= threshold
    ranks, iterations_used, last_delta = _pagerank_loop(
        nodes,
        trans,
        dangling_nodes,
        n,
        bool(probe["dang"]),
        bool(probe["srco"]),
        broadcast_ranks,
        damping,
        iterations,
        tol,
        checkpoint,
    )
    ranks = _decode_node_cols(spark, path, ranks, ("node",))
    if return_stats:
        return ranks, GraphRunStats(iterations=iterations_used, delta=last_delta)
    return ranks


def label_propagation_from_state(
    spark: SparkSession,
    path: str,
    iterations: int = 5,
    checkpoint: bool = True,
    track_convergence: bool = False,
    return_stats: bool = False,
) -> DataFrame | tuple[DataFrame, GraphRunStats]:
    """:func:`graph.label_propagation` over persisted UNDIRECTED edge
    state: the symmetrized, dedup'd, self-loop-free neighbor relation is
    exactly ``adj/`` — read, not rebuilt. Same synchronous supersteps,
    bit-for-bit (shared ``_lpa_loop``)."""
    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    if track_convergence and not checkpoint:
        raise ValueError(
            "track_convergence requires checkpoint=True: each "
            "per-superstep changed-count would re-execute the "
            "un-truncated iteration lineage"
        )
    if edge_state_params(spark, path)["directed"]:
        raise ValueError(
            "label_propagation_from_state requires undirected edge state "
            "(LPA is defined on the undirected graph; rebuild with "
            "directed=False)"
        )
    # long-keyed supersteps: nids are an ORDER-PRESERVING encoding of the
    # node strings, so LPA's min-label tie-break (label ASC) picks the
    # SAME label under encoding; labels decode back bit-for-bit.
    nbr = _encoded_adjacency(spark, path).select(
        F.col("sid").alias("_n"), F.col("did").alias("_nb")
    )
    labels = _encoded_node_dict(spark, path).select(
        F.col("nid").alias("node"), F.col("nid").alias("label")
    )
    labels, iterations_used, changes = _lpa_loop(
        nbr,
        labels,
        iterations,
        checkpoint,
        track_convergence,
        n=int(edge_state_params(spark, path)["n_nodes"]),
    )
    labels = _decode_node_cols(spark, path, labels, ("node", "label"))
    if return_stats:
        return labels, GraphRunStats(iterations=iterations_used, changes=changes)
    return labels


def shortest_hops_from_state(
    spark: SparkSession,
    path: str,
    seeds: DataFrame,
    max_hops: int = 5,
    checkpoint: bool = True,
) -> DataFrame:
    """:func:`graph.shortest_hops` over persisted edge state: the
    direction-expanded adjacency is read, not rebuilt (undirected state
    already carries both directions; directed state walks edge
    direction). Same frontier supersteps (shared ``_bfs_loop``)."""
    if max_hops < 0:
        raise ValueError("max_hops must be >= 0")
    # long-keyed frontiers: hop counts are key-agnostic, so the encoding
    # is a pure bijection — only the per-hop candidate exchanges narrow
    e = _encoded_adjacency(spark, path).select(
        F.col("sid").alias("_s"), F.col("did").alias("_d")
    )
    out = _bfs_loop(
        e, _encode_seed_nodes(spark, path, seeds), max_hops, checkpoint
    )
    decoded = _decode_node_cols(spark, path, out, ("node",))
    # the string loop keeps seeds OUTSIDE the node set in the output at
    # hops 0 (they just never expand); the dict join would drop them —
    # add them back so *_from_state stays value-identical to the direct
    # operator
    return decoded.unionByName(
        _seeds_outside_state(spark, path, seeds).select(
            "node", F.lit(0).cast("int").alias("hops")
        )
    )


def k_core_from_state(
    spark: SparkSession,
    path: str,
    k: int,
    rounds: int = 10,
    checkpoint: bool = True,
) -> DataFrame:
    """:func:`graph.k_core` over persisted UNDIRECTED edge state: the
    symmetrized adjacency is read, not rebuilt (shared ``_kcore_loop``,
    same peel semantics and early stop)."""
    from rust_cdc_validator_spark.operators.graph import _kcore_loop

    if k < 1:
        raise ValueError("k must be >= 1")
    if rounds < 1:
        raise ValueError("rounds must be >= 1")
    if edge_state_params(spark, path)["directed"]:
        raise ValueError(
            "k_core_from_state requires undirected edge state (the k-core "
            "is defined on the undirected graph; rebuild with "
            "directed=False)"
        )
    # long-keyed peels (guide §2.3): the k-core is degree counting over
    # survivor-restricted joins — key-agnostic — so the encoding is a
    # pure bijection and every peel round joins/aggregates 8-byte longs
    adj = _encoded_adjacency(spark, path).select(
        F.col("sid").alias("_s"), F.col("did").alias("_d")
    )
    core = _kcore_loop(adj, k, rounds, checkpoint)
    return _decode_node_cols(spark, path, core, ("node",))


def _state_und_deg(spark: SparkSession, path: str):
    """Canonical distinct pairs + broadcast-gated degree relation from
    persisted UNDIRECTED edge state — the front half
    ``graph._canonical_edges_and_degrees`` derives per call, read here
    instead: pairs are the adjacency's src < dst half, degrees are the
    nodes relation's out_deg, and the broadcast gate uses the params'
    pinned n_nodes (zero probe jobs)."""
    from rust_cdc_validator_spark.operators.graph import (
        _parse_bytes as _pb,
        _RANK_ROW_BYTES as _rrb,
    )

    params = edge_state_params(spark, path)
    if params["directed"]:
        raise ValueError(
            "undirected edge state required (triangles/assortativity are "
            "defined on the undirected graph; rebuild with directed=False)"
        )
    adj = edge_state_adjacency(spark, path)
    und = adj.filter(F.col("src") < F.col("dst")).select(
        F.col("src").alias("_a"), F.col("dst").alias("_b")
    )
    deg = edge_state_nodes(spark, path).select(
        "node", F.col("out_deg").alias("_deg")
    )
    threshold = _pb(
        spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10m")
    )
    if 0 < params["n_nodes"] * _rrb <= threshold:
        deg = F.broadcast(deg)
    return und, deg


def triangle_count_from_state(spark: SparkSession, path: str) -> DataFrame:
    """:func:`graph.triangle_count` over persisted undirected edge state:
    canonical pairs and degrees are READ (parquet scans — the params'
    n_nodes drives the degree-broadcast gate with no probe job); the
    orientation + wedge-closure plan is shared (``_triangle_core``)."""
    from rust_cdc_validator_spark.operators.graph import _triangle_core

    und, deg = _state_und_deg(spark, path)
    return _triangle_core(und, deg)


def degree_assortativity_from_state(spark: SparkSession, path: str) -> DataFrame:
    """:func:`graph.degree_assortativity` over persisted undirected edge
    state (shared ``_assortativity_core``)."""
    from rust_cdc_validator_spark.operators.graph import _assortativity_core

    und, deg = _state_und_deg(spark, path)
    return _assortativity_core(und, deg)


def clustering_coefficient_from_state(
    spark: SparkSession, path: str
) -> DataFrame:
    """:func:`graph.clustering_coefficient` over persisted undirected
    edge state (shared ``_clustering_core``; pairs + degrees read, the
    broadcast gate driven by the params' pinned n_nodes)."""
    from rust_cdc_validator_spark.operators.graph import _clustering_core

    und, deg = _state_und_deg(spark, path)
    return _clustering_core(und, deg)


def adamic_adar_from_state(
    spark: SparkSession,
    path: str,
    src_prefix: str,
    max_degree: int | None = 1000,
) -> DataFrame:
    """:func:`graph.adamic_adar` over persisted edge state: the directed
    witness→candidate relation is the adjacency rows whose src starts
    with ``src_prefix`` (the state pre-explodes both directions of an
    undirected build, so one side's prefix selects one direction), and
    witness degrees are the persisted nodes' out_deg — the distinct
    exchange AND the degree aggregation the direct operator pays both
    disappear (shared ``_adamic_adar_core``)."""
    from rust_cdc_validator_spark.operators.graph import _adamic_adar_core

    adj = edge_state_adjacency(spark, path)
    e = adj.filter(F.col("src").startswith(src_prefix)).select(
        F.col("src").alias("_s"), F.col("dst").alias("_d")
    )
    deg = (
        edge_state_nodes(spark, path)
        .filter(F.col("node").startswith(src_prefix))
        .select(F.col("node").alias("_s"), F.col("out_deg").alias("_deg"))
    )
    return _adamic_adar_core(e, deg, max_degree)


def hits_from_state(
    spark: SparkSession,
    path: str,
    src_prefix: str | None = None,
    iterations: int = 3,
    checkpoint: bool = True,
) -> DataFrame:
    """:func:`graph.hits` over persisted edge state: the edge relation
    is a prefix FILTER on the pre-exploded adjacency (``src_prefix``
    selects one direction of an undirected bipartite build; None runs
    HITS on the full adjacency) and the node set + broadcast gate come
    from the persisted nodes/params relations — zero prep jobs before
    the first half-step (shared ``_hits_loop``)."""
    from rust_cdc_validator_spark.operators.graph import (
        _hits_loop,
        _parse_bytes as _pb,
        _RANK_ROW_BYTES as _rrb,
    )

    params = edge_state_params(spark, path)
    n = int(params["n_nodes"])
    if n == 0:
        raise ValueError("hits_from_state: edge state is empty")
    # long-keyed half-steps (guide §2.3): HITS is weighted sums + one
    # L1 normalization — key-agnostic — so the encoding is a pure
    # bijection. The src_prefix filter runs on the STRING side inside
    # _encoded_adjacency (prefix semantics are string-only).
    e = _encoded_adjacency(spark, path, src_prefix).select(
        F.col("sid").alias("_s"), F.col("did").alias("_d"),
        F.col("w").alias("_w"),
    )
    nodes = _encoded_node_dict(spark, path).select(
        F.col("nid").alias("node")
    )
    threshold = _pb(
        spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10m")
    )
    scores = _hits_loop(
        e, nodes, 0 < n * _rrb <= threshold, iterations, checkpoint
    )
    return _decode_node_cols(spark, path, scores, ("node",))


#: (path, pivot tuple, horizon, count_paths) -> (pivot_list, levels, counts)
#: — see pivot_bfs_levels' memoization contract
_PIVOT_BFS_CACHE: dict = {}


def pivot_bfs_levels(
    spark: SparkSession,
    path: str,
    pivots: DataFrame,
    max_hops: int,
    checkpoint: bool = True,
    count_paths: bool = True,
) -> tuple[list, list[DataFrame], list[int]]:
    """The SHARED forward pass of the pivot-sampled centrality estimators
    (:func:`harmonic_closeness_from_state` and
    :func:`betweenness_from_state` both consume it): a labeled
    multi-source BFS from k pivots, PIVOT-VECTORIZED — instead of
    (pivot, node) rows, every relation carries ONE row per node with a
    k-lane array, lane i holding pivot i's shortest-path count (sigma,
    Brandes 2001) or reached flag (``count_paths=False``).

    Why lanes instead of labels: the labeled form multiplies every
    frontier, settled set, candidate expansion, and shuffle by k. With
    lanes the expansion join, the settled anti-join (here a bitmask
    merge), and every exchange move O(|V|)-bounded rows — the k factor
    lives inside fixed-width arrays evaluated in whole-stage codegen
    (k element_at sums per group), not in row counts. At 100 TB that is
    the difference between a BFS whose relations scale with k·|V| and
    one that scales with |V|, with k a pure arithmetic-width knob.

    k is DRIVER-KNOWN by contract (pivot sampling is the estimator's
    fixed-size precision knob — Eppstein–Wang/Brandes & Pich: error
    depends on k, not |V|), so the pivot list is collected (k rows) and
    the lane expressions are generated per lane. k is capped at 62 so
    the settled bitmask fits a signed long.

    ``count_paths=True`` accumulates exact sigma in long lanes (sum of
    predecessor sigmas per superstep — order-independent); with
    ``count_paths=False`` lanes clamp to 1 (pure reachability, immune
    to sigma overflow at deep horizons on dense graphs).

    Returns (pivot_list, levels, counts): ``pivot_list`` the sorted
    collected pivot values (lane order), ``levels[h]`` the (node, sig)
    frame of nodes FIRST reached at depth h, ``counts[h]`` its exact
    driver-known row count (the broadcast-gate inputs downstream).

    MEMOIZED per process keyed by (path, pivots, horizon, mode) — the
    build-once/aggregate-many contract of the ANN index builders: edge
    states are immutable versions by contract, so a (state, pivot set,
    horizon) level relation is a standing artifact every centrality
    aggregation reads, not a per-query computation. At 100 TB a
    standing pipeline persists the level relation next to the state
    (it is O(|V|·k/64) long lanes per level); in-process the
    checkpointed frames serve the same role. ``checkpoint=False``
    bypasses the cache (un-truncated lineage is caller-owned).
    """
    if max_hops < 1:
        raise ValueError("max_hops must be >= 1")
    pivot_list = sorted(
        r["node"] for r in pivots.select("node").distinct().collect()
    )
    cache_key = (path, tuple(pivot_list), max_hops, count_paths)
    derived_uri = None
    if checkpoint:
        hit = _PIVOT_BFS_CACHE.get(cache_key)
        if hit is not None:
            return hit
        # persisted next to the state version (r13, the "standing
        # artifact" half of the memo contract below): cold JVMs read the
        # committed level relations back instead of re-running the
        # forward pass
        import hashlib

        digest = hashlib.md5(
            ("\x1f".join(str(p) for p in pivot_list)
             + f"|{max_hops}|{count_paths}").encode()
        ).hexdigest()[:16]
        derived_uri = f"{path}/derived/pivot_bfs_{digest}"
        got = _read_derived_frames(spark, derived_uri)
        if got is not None:
            result = (pivot_list, got[0], got[1])
            _PIVOT_BFS_CACHE[cache_key] = result
            return result
    k = len(pivot_list)
    if k == 0:
        raise ValueError("pivot_bfs_levels: no pivots")
    if k > 62:
        raise ValueError(
            f"pivot_bfs_levels supports at most 62 pivots per pass (got "
            f"{k}): the settled bitmask is a signed long — run batches "
            "of pivots and sum the estimates (they are additive)"
        )
    adj = edge_state_adjacency(spark, path)
    e = adj.select(F.col("src").alias("_s"), F.col("dst").alias("_d"))
    threshold = _parse_bytes(
        spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10m")
    )
    # one node id + k long lanes per row (conservative per-row estimate)
    row_bytes = 16 * k + 64

    def _gate(df: DataFrame, n_rows: int) -> DataFrame:
        return F.broadcast(df) if 0 < n_rows * row_bytes <= threshold else df

    from pyspark.sql.types import ArrayType, LongType, StructField, StructType

    ntype = adj.schema["src"].dataType
    level0 = spark.createDataFrame(
        [(p, [1 if j == i else 0 for j in range(k)])
         for i, p in enumerate(pivot_list)],
        StructType([
            StructField("node", ntype),
            StructField("sig", ArrayType(LongType())),
        ]),
    )
    if checkpoint:
        level0 = level0.localCheckpoint(eager=True)
    levels, counts = [level0], [k]
    # settled bit i set iff lane i reached this node already — at level 0
    # a pivot is settled for its OWN lane only (another pivot's BFS can
    # still reach it at depth >= 1)
    # single-F.expr construction (the HyperBall/betweenness lane fix):
    # the zip_with/when/aggregate lambda chain and the per-lane loops
    # below each cost hundreds of py4j round trips per superstep when
    # built as Column objects; the SQL strings parse JVM-side in one
    # call and produce the same trees (L-suffixed literals are BIGINT,
    # matching the .cast("long") forms).
    masks_sql = ", ".join(f"{1 << i}L" for i in range(k))
    add_mask = F.expr(
        f"aggregate(zip_with(sig, array({masks_sql}), "
        "(s, b) -> CASE WHEN s > 0 THEN b ELSE 0L END), "
        "0L, (acc, x) -> acc + x)"
    )
    # settled stays LAZY: a union of (node, mask) over the CHECKPOINTED
    # levels, merged by bit_or inside the next superstep's join stage —
    # materializing it eagerly would add one job per superstep for a
    # relation the join recomputes in one shuffle anyway (measured
    # ~0.3 s/superstep of pure job overhead at sf0.1)
    settled_parts = [level0.select("node", add_mask.alias("mask"))]
    n_settled = k
    for _h in range(1, max_hops + 1):
        frontier = levels[-1]
        cand = (
            _gate(frontier, counts[-1])
            .join(e, frontier["node"] == e["_s"])
            .groupBy(F.col("_d").alias("node"))
            .agg(
                F.expr(
                    "array("
                    + ", ".join(f"SUM(sig[{i}])" for i in range(k))
                    + ")"
                ).alias("sig")
            )
        )
        settled = settled_parts[0]
        for part in settled_parts[1:]:
            settled = settled.unionByName(part)
        settled = settled.groupBy("node").agg(
            F.bit_or("mask").alias("mask")
        )
        joined = cand.join(_gate(settled, n_settled), ["node"], "left")
        lane_sql = ", ".join(
            f"CASE WHEN (coalesce(mask, 0L) & {1 << i}L) != 0 THEN 0L "
            + (
                f"ELSE sig[{i}] END"
                if count_paths
                else f"ELSE CAST(CASE WHEN sig[{i}] > 0 THEN 1 ELSE 0 END"
                " AS BIGINT) END"
            )
            for i in range(k)
        )
        new = joined.select(
            "node", F.expr(f"array({lane_sql})").alias("sig")
        ).filter(F.expr("exists(sig, x -> x > 0)"))
        if checkpoint:
            new = new.localCheckpoint(eager=True)
        n_new = new.count()
        if n_new == 0:
            break
        levels.append(new)
        counts.append(n_new)
        settled_parts.append(new.select("node", add_mask.alias("mask")))
        n_settled += n_new  # upper bound (merged nodes counted once more)
    if checkpoint:
        persisted = _write_derived_frames(spark, derived_uri, levels, counts)
        if persisted is not None:
            for df in levels:  # release the checkpointed compute frames
                try:
                    df.unpersist()
                except Exception:
                    pass
            levels = persisted
        result = (pivot_list, levels, counts)
        _PIVOT_BFS_CACHE[cache_key] = result
        return result
    return (pivot_list, levels, counts)


def harmonic_closeness_from_state(
    spark: SparkSession,
    path: str,
    pivots: DataFrame,
    max_hops: int = 4,
    checkpoint: bool = True,
) -> DataFrame:
    """Pivot-sampled harmonic centrality (Boldi & Vigna, "Axioms for
    Centrality" 2014; Eppstein–Wang pivot sampling) over persisted edge
    state: one labeled multi-source BFS carries (pivot, node) frontiers
    for ALL pivots simultaneously — k pivots cost ONE set of supersteps,
    not k BFS runs — then each node's closeness estimate is
    Σ_{pivots p, d(p,n) >= 1} 1 / d(p,n).

    The reciprocal sum is EXACT: distances are small integers, so each
    term is accumulated as the integer ``lcm(1..max_hops) / d`` and the
    single division by the lcm happens once, in double, at the end —
    order-independent, hence engine-portable for the oracle (a plain
    double Σ 1/d would hash differently per shuffle order).

    Returns (node, n_reached, harmonic) for every node some pivot
    reaches within ``max_hops``; a pivot does not count toward its own
    centrality (d = 0 excluded). r12: ONE aggregation over the shared
    pivot-vectorized forward pass (:func:`pivot_bfs_levels`,
    reachability lanes) — every BFS relation is O(|V|) rows instead of
    the labeled form's k·|V|, and per level each node contributes
    popcount(lanes) pivots at that distance.
    """
    import math

    if max_hops < 1:
        raise ValueError("max_hops must be >= 1")
    _, levels, _ = pivot_bfs_levels(
        spark, path, pivots, max_hops, checkpoint, count_paths=False
    )
    scale = math.lcm(*range(1, max_hops + 1))
    reached = F.expr("CAST(size(filter(sig, x -> x > 0)) AS BIGINT)")
    per_level = [
        lvl.select(
            "node",
            reached.alias("_r"),
            (reached * F.lit(scale // h)).alias("_hsum"),
        )
        for h, lvl in enumerate(levels)
        if h > 0  # a pivot does not count toward its own centrality
    ]
    if not per_level:
        return levels[0].select("node").limit(0).select(
            "node",
            F.lit(0).cast("long").alias("n_reached"),
            F.lit(0.0).alias("harmonic"),
        )
    allv = per_level[0]
    for d in per_level[1:]:
        allv = allv.unionAll(d)
    return allv.groupBy("node").agg(
        F.sum("_r").cast("long").alias("n_reached"),
        (F.sum("_hsum").cast("double") / F.lit(float(scale))).alias(
            "harmonic"
        ),
    )


def betweenness_from_state(
    spark: SparkSession,
    path: str,
    pivots: DataFrame,
    max_hops: int = 4,
    checkpoint: bool = True,
) -> DataFrame:
    """Pivot-sampled betweenness centrality (Brandes 2001, "A faster
    algorithm for betweenness centrality"; horizon-bounded pivot
    estimator per Brandes & Pich 2007, "Centrality estimation in large
    networks") over persisted edge state. Two bounded-superstep passes:

    * FORWARD — the same labeled multi-source BFS as
      :func:`harmonic_closeness_from_state`, except each (pivot, node)
      row carries ``sigma``, the COUNT of shortest paths from the pivot:
      a node first reached at depth h has sigma = Σ sigma(pred at h-1),
      one join + sum per superstep, EXACT in long arithmetic
      (order-independent, so the level relations are deterministic).
    * BACKWARD — Brandes' dependency accumulation descending the
      levels: delta(v) = Σ over shortest-path successors w of
      (sigma_v / sigma_w) · (1 + delta_w); one join + sum per level.
      bc(v) = Σ over pivots of delta(v), the pivot's own source row
      excluded (Brandes accumulates only v ≠ s).

    Paths are counted only up to ``max_hops`` — the estimator's error
    depends on the pivot count and horizon, not |V|, so both are
    precision knobs that hold flat at 100× the graph. On undirected
    state each unordered pair is seen from both endpoints when both are
    sampled, the standard convention for sampled undirected betweenness
    (scores are comparable, not normalized).

    Returns (node, betweenness, n_pivots) for every node reached by at
    least one pivot within the horizon — ``n_pivots`` is how many pivot
    BFS trees the node appears in at depth >= 1 (its estimate's
    support; a sampled pivot's OWN source tree is excluded, matching
    Brandes' convention of accumulating only v != s), betweenness is
    the double dependency sum (only the final delta divisions are
    floating point; rounding to 4 decimals is stable across
    partitionings).

    Scale shape (r12): the forward pass is the SHARED pivot-vectorized
    BFS (:func:`pivot_bfs_levels`, sigma lanes — exact longs); the
    backward pass descends the same level relations with k-lane delta
    arrays. Every frontier and level is bounded by |V| rows (the pivot
    dimension lives in fixed-width arrays, not row multiplicity) —
    2·max_hops supersteps total, exact-count broadcast gates on every
    join side, no collect beyond the k-row pivot list.
    """
    if max_hops < 1:
        raise ValueError("max_hops must be >= 1")
    pivot_list, levels, counts = pivot_bfs_levels(
        spark, path, pivots, max_hops, checkpoint, count_paths=True
    )
    k = len(pivot_list)
    adj = edge_state_adjacency(spark, path)
    e = adj.select(F.col("src").alias("_s"), F.col("dst").alias("_d"))
    threshold = _parse_bytes(
        spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10m")
    )
    row_bytes = 2 * (16 * k + 64)  # (node, sig lanes, delta lanes)

    def _gate(df: DataFrame, n_rows: int) -> DataFrame:
        return F.broadcast(df) if 0 < n_rows * row_bytes <= threshold else df

    # Lane expressions are built as ONE F.expr string per level instead
    # of k chained Column objects — the per-lane py4j construction cost
    # ~2.6 s per query build at k=16 (same fix, same measured shape as
    # the HyperBall lanes); the parsed trees and double arithmetic are
    # identical (0.0D/1.0D are DOUBLE literals, matching F.lit(0.0)).
    zero_deltas = F.expr(f"array({', '.join('0.0D' for _ in range(k))})")
    # backward: deepest level has zero dependency by construction
    cur = levels[-1].withColumn("delta", zero_deltas)
    per_level = [cur] if len(levels) > 1 else []
    delta_lanes_sql = ", ".join(
        f"SUM(CASE WHEN sig[{i}] > 0 AND _ws[{i}] > 0 THEN "
        f"(CAST(sig[{i}] AS DOUBLE) / _ws[{i}]) * (1.0D + _wd[{i}]) "
        f"ELSE 0.0D END)"
        for i in range(k)
    )
    for h in range(len(levels) - 2, -1, -1):
        w = cur.select(
            F.col("node").alias("_w"),
            F.col("sig").alias("_ws"),
            F.col("delta").alias("_wd"),
        )
        lvl = levels[h]
        expanded = _gate(lvl, counts[h]).join(
            e, lvl["node"] == e["_s"]
        ).select("node", "sig", F.col("_d").alias("_w"))
        # lane i contributes iff v is at level h AND w at level h+1 for
        # pivot i (sig lanes > 0 on both sides) — exactly Brandes'
        # shortest-path successor relation, evaluated element-wise
        deltas = (
            expanded.join(_gate(w, counts[h + 1]), ["_w"])
            .groupBy("node")
            .agg(F.expr(f"array({delta_lanes_sql})").alias("delta"))
        )
        cur = lvl.join(deltas, ["node"], "left").select(
            "node",
            "sig",
            F.coalesce("delta", zero_deltas).alias("delta"),
        )
        if checkpoint:
            cur = cur.localCheckpoint(eager=True)
        if h >= 1:
            per_level.append(cur)

    if not per_level:
        return levels[0].select("node").limit(0).select(
            "node",
            F.lit(0.0).alias("betweenness"),
            F.lit(0).cast("long").alias("n_pivots"),
        )
    # per node per level: delta summed over lanes where the node is in
    # that pivot's tree; support = popcount of the sig lanes (each pivot
    # reaches a node at exactly one level, so levels sum disjointly)
    rowsum = F.expr("aggregate(delta, 0.0D, (acc, x) -> acc + x)").alias("_d")
    support = F.expr(
        "CAST(size(filter(sig, x -> x > 0)) AS BIGINT)"
    ).alias("_s")
    all_deltas = per_level[0].select("node", rowsum, support)
    for d in per_level[1:]:
        all_deltas = all_deltas.unionAll(d.select("node", rowsum, support))
    return all_deltas.groupBy("node").agg(
        F.sum("_d").alias("betweenness"),
        F.sum("_s").cast("long").alias("n_pivots"),
    )


def weighted_paths_from_state(
    spark: SparkSession,
    path: str,
    seeds: DataFrame,
    max_hops: int = 5,
    inverse_weight: bool = False,
    checkpoint: bool = True,
) -> DataFrame:
    """:func:`graph.weighted_shortest_paths` over persisted edge state:
    the direction-expanded weighted adjacency is read, not rebuilt
    (shared ``_sssp_loop``, same frontier pruning and broadcast gates).
    ``inverse_weight=True`` relaxes over length 1/w — the natural
    "stronger tie = shorter distance" reading of co-occurrence weights
    (Newman 2001, scientific-collaboration networks)."""
    from rust_cdc_validator_spark.operators.graph import _sssp_loop

    if max_hops < 0:
        raise ValueError("max_hops must be >= 0")
    adj = edge_state_adjacency(spark, path)
    # mirror weighted_shortest_paths' non-negativity guard: build_edge_state
    # sums caller weights without filtering, so a state built from negative
    # inputs would silently return hop-bound-dependent distances — and
    # inverse_weight additionally needs strictly positive w (1/w length)
    mn = _state_fact(
        path,
        "min_w",
        lambda: adj.agg(F.min("w").alias("m")).first()["m"],
    )
    if mn is not None and (mn < 0 or (inverse_weight and mn <= 0)):
        raise ValueError(
            "weighted_paths_from_state requires "
            + ("strictly positive" if inverse_weight else "non-negative")
            + f" edge weights (state {path} has min w = {mn}): with a hop "
            "bound, negative relaxation changes the meaning of the answer"
        )
    # long-keyed relaxation supersteps (guide §2.3): distances are per-path
    # double sums and MIN — key-agnostic — so the encoding is a pure
    # bijection; only the per-round candidate/improvement exchanges narrow
    enc = _encoded_adjacency(spark, path)
    length = (F.lit(1.0) / F.col("w")) if inverse_weight else F.col("w")
    e = enc.select(
        F.col("sid").alias("_s"), F.col("did").alias("_d"), length.alias("_w")
    )
    out = _sssp_loop(
        e, _encode_seed_nodes(spark, path, seeds), max_hops, checkpoint
    )
    decoded = _decode_node_cols(spark, path, out, ("node",))
    # the string loop keeps seeds OUTSIDE the node set in the output at
    # dist 0.0 (they just never expand); the dict join would drop them —
    # add them back so *_from_state stays value-identical
    return decoded.unionByName(
        _seeds_outside_state(spark, path, seeds).select(
            "node", F.lit(0.0).alias("dist")
        )
    )


def louvain_from_state(
    spark: SparkSession,
    path: str,
    sweeps: int = 6,
    checkpoint: bool = True,
    track_convergence: bool = False,
    return_stats: bool = False,
):
    """:func:`graph.louvain_communities` over persisted UNDIRECTED edge
    state: the symmetric, dedup'd, self-loop-free weighted adjacency is
    exactly ``adj/`` and the weighted degree k_u is ``nodes.out_w`` —
    read, not rebuilt. Same parity-gated sweeps, bit-for-bit (shared
    ``_louvain_loop``)."""
    from rust_cdc_validator_spark.operators.graph import _louvain_loop

    if sweeps < 1:
        raise ValueError("sweeps must be >= 1")
    if track_convergence and not checkpoint:
        raise ValueError(
            "track_convergence requires checkpoint=True: each per-sweep "
            "move-count would re-execute the un-truncated lineage"
        )
    if edge_state_params(spark, path)["directed"]:
        raise ValueError(
            "louvain_from_state requires undirected edge state "
            "(modularity is defined on the undirected graph; rebuild "
            "with directed=False)"
        )
    # long-keyed sweeps (guide §2.3): nids order-preserve the node
    # strings, so the ASC-community argmax tie-break and min-label
    # community identity pick the SAME winners under encoding; the md5
    # move gate is defined on the node STRING, so the dict's pinned
    # parity column rides kdeg into the loop (``_par``). Trade weights
    # are summed per identical groups either way, so scores are the
    # same doubles and every oracle replay holds.
    dic = _encoded_node_dict(spark, path)
    adj = _encoded_adjacency(spark, path).select(
        F.col("sid").alias("src"), F.col("did").alias("dst"), "w"
    )
    kdeg = dic.select(
        F.col("nid").alias("node"),
        F.col("out_w").alias("k"),
        F.col("parity").alias("_par"),
    )
    comms = kdeg.select("node", F.col("node").alias("comm"))
    n = int(edge_state_params(spark, path)["n_nodes"])
    two_m = _state_fact(
        path,
        "sum_out_w",
        lambda: kdeg.agg(F.sum("k")).first()[0],
    )
    out = _louvain_loop(
        adj,
        kdeg,
        comms,
        sweeps,
        checkpoint,
        track_convergence,
        return_stats,
        n=n,
        two_m=two_m,
    )
    if return_stats:
        comms_out, stats = out
        return (
            _decode_node_cols(spark, path, comms_out, ("node", "comm")),
            stats,
        )
    return _decode_node_cols(spark, path, out, ("node", "comm"))


def modularity_from_state(
    spark: SparkSession, path: str, assignment: DataFrame
) -> DataFrame:
    """Per-community Newman modularity table over persisted undirected
    edge state (shared ``_modularity_core`` — ``adj/`` is already the
    symmetric exploded relation :func:`graph.modularity` derives)."""
    from rust_cdc_validator_spark.operators.graph import _modularity_core

    if edge_state_params(spark, path)["directed"]:
        raise ValueError("modularity_from_state requires undirected edge state")
    adj = edge_state_adjacency(spark, path).select("src", "dst", "w")
    return _modularity_core(adj, assignment)


def _nf_alpha_m2(p: int) -> float:
    m = 1 << p
    if m >= 128:
        alpha = 0.7213 / (1.0 + 1.079 / m)
    elif m == 64:
        alpha = 0.709
    elif m == 32:
        alpha = 0.697
    else:
        alpha = 0.673
    return alpha * m * m


#: (normalized state path, p) -> list of per-radius LANE register frames
#: (each localCheckpointed; index = radius). Extended in place when a
#: caller wants a deeper horizon — the pivot_bfs_levels memo contract.
_NF_REGS_CACHE: dict = {}


def _nf_lane_registers(
    spark: SparkSession, path: str, horizon: int, p: int, checkpoint: bool
) -> list[DataFrame]:
    """Per-radius HyperBall register frames, LANE-VECTORIZED: one row
    per node with m = 2^p register COLUMNS ``_r0.._r{m-1}`` — a
    superstep is ONE adjacency join + ONE hash agg of m plain max()
    lanes with MAP-SIDE COMBINE, so shuffle is bounded by
    nodes-per-partition × m ints, never |E| × live-registers rows (the
    sparse (node, idx, ρ) form measured 27 s/query at sf0.1; lanes cut
    the superstep volume the way pivot_bfs_levels' lanes cut the
    centrality BFS). Memoized per (state path, p): the neighborhood
    function and the harmonic estimator share every superstep."""
    key = (_norm_state_path(path), p)
    cached = _NF_REGS_CACHE.get(key, [])
    if len(cached) > horizon:
        return cached[: horizon + 1]
    from rust_cdc_validator_spark.operators.sketch import hll_index_rank

    m = 1 << p
    lanes = [f"_r{j}" for j in range(m)]
    derived_uri = f"{path}/derived/nf_regs_p{p}" if checkpoint else None
    if cached:
        frames = list(cached)
    else:
        frames = None
        if checkpoint:
            # persisted next to the state version (r13): cold JVMs read
            # the committed register relations back instead of re-running
            # the HyperBall forward pass
            got = _read_derived_frames(spark, derived_uri)
            if got is not None:
                frames = got[0]
                if len(frames) > horizon:
                    _NF_REGS_CACHE[key] = frames
                    return frames[: horizon + 1]
        if frames is None:
            idx, rho = hll_index_rank(F.col("node"), p)
            init = edge_state_nodes(spark, path).select(
                "node",
                *[
                    F.when(idx == j, rho).otherwise(F.lit(0)).alias(lane)
                    for j, lane in enumerate(lanes)
                ],
            )
            if checkpoint:
                init = init.localCheckpoint(eager=True)
            frames = [init]
    adj = edge_state_adjacency(spark, path).select(
        F.col("src").alias("_s"), F.col("dst").alias("_d")
    )
    while len(frames) <= horizon:
        regs = frames[-1]
        msgs = adj.join(regs, adj["_s"] == regs["node"]).select(
            F.col("_d").alias("node"), *lanes
        )
        nxt = (
            regs.unionAll(msgs)
            .groupBy("node")
            .agg(*[F.max(lane).alias(lane) for lane in lanes])
        )
        if checkpoint:
            nxt = nxt.localCheckpoint(eager=True)
        frames.append(nxt)
    if checkpoint:
        # already-committed level dirs are skipped (pure function of the
        # immutable state version), so a deeper horizon writes only the
        # new radii; cache-extension frames re-read their own dirs
        persisted = _write_derived_frames(spark, derived_uri, frames, None)
        if persisted is not None:
            for df in frames:
                try:
                    df.unpersist()
                except Exception:
                    pass
            frames = persisted
    _NF_REGS_CACHE[key] = frames
    return frames[: horizon + 1]


def _nf_node_estimates(regs: DataFrame, p: int) -> DataFrame:
    """(node, _est) from a lane register frame — the per-node HLL
    estimate with the harmonic sum kept EXACT: each 2^−ρ is the integer
    2^(tail+1−ρ) (BIGINT, never rounded) summed in fixed lane order,
    divided back once per node. Identical values to the sparse-row
    form, so the relational SQL oracles replay unchanged."""
    m = 1 << p
    tail1 = 60 - p + 1
    # ONE F.expr per aggregate instead of 64 chained Column objects: the
    # per-lane F.when/F.col/+ chain cost ~3.5 s of py4j round-trips PER
    # QUERY BUILD (measured — build 4.1 s vs 0.14 s Catalyst planning,
    # 0.6 s execution). A single SQL string parses JVM-side in one call
    # and yields the same left-fold expression tree, so values (exact
    # integer lane arithmetic) are unchanged.
    nz_sql = " + ".join(
        f"(CASE WHEN _r{j} > 0 THEN 1 ELSE 0 END)" for j in range(m)
    )
    ss_sql = " + ".join(
        f"(CASE WHEN _r{j} > 0 THEN shiftleft(cast(1 as bigint), "
        f"{tail1} - _r{j}) ELSE cast(0 as bigint) END)"
        for j in range(m)
    )
    per = regs.select(
        "node", F.expr(nz_sql).alias("_nz"), F.expr(ss_sql).alias("_ss")
    )
    s_full = (
        F.col("_ss").cast("double") / F.lit(float(1 << tail1))
        + (F.lit(m) - F.col("_nz")) * F.lit(1.0)
    )
    raw = F.lit(_nf_alpha_m2(p)) / s_full
    zeros = F.lit(m) - F.col("_nz")
    est = F.when(
        (raw <= F.lit(2.5 * m)) & (zeros > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / zeros),
    ).otherwise(raw)
    return per.select("node", est.alias("_est"))


def _nf_radius_row(regs: DataFrame, radius: int, p: int) -> DataFrame:
    """One (radius, n_nodes, nf) row: per-node estimates round to 6dp
    and sum as DECIMAL so the cross-node total is order-independent."""
    return _nf_node_estimates(regs, p).select("_est").agg(
        F.lit(radius).alias("radius"),
        F.count(F.lit(1)).cast("long").alias("n_nodes"),
        F.sum(F.round(F.col("_est"), 6).cast("decimal(38,6)"))
        .cast("double")
        .alias("_nf"),
    )


def neighborhood_function_from_state(
    spark: SparkSession,
    path: str,
    horizon: int = 3,
    p: int = 6,
    checkpoint: bool = True,
) -> DataFrame:
    """HyperBall neighborhood function (Boldi & Vigna 2013, "In-Core
    Computation of Geometric Centralities with HyperBall") over
    persisted edge state: per radius r ≤ ``horizon``, the estimated
    number of (node, reachable-node) pairs within r hops — the curve
    behind effective-diameter and average-distance readouts, computable
    on graphs where exact all-pairs BFS is quadratically out of reach.

    Each node carries an HLL register set seeded with its own hash; a
    superstep merges every neighbor's registers into the node's
    (register-wise max — :func:`sketch.hll_merge`'s semantics), so
    after r steps node v's sketch estimates |ball(v, r)|. Registers
    live as m LANE COLUMNS (see :func:`_nf_lane_registers` — map-side
    combined max aggs, shuffle ∝ nodes × m, supersteps memoized and
    SHARED with :func:`hyperball_harmonic_from_state`).

    Determinism/oracle contract: node hashes are the md5-derived 60-bit
    _h60 (SQL-replayable); the per-node harmonic sum accumulates EXACT
    integers (Σ 2^(tail+1−ρ) in BIGINT, one divide at the end);
    per-node estimates round to 6dp and cross-node totals sum in
    DECIMAL — an unrolled SQL oracle replays every radius bit-for-bit.

    Returns one row per radius 0..horizon: (radius, n_nodes, nf_est,
    avg_ball, coverage) where coverage is N(r)/N(horizon) — read the
    effective diameter as the smallest r with coverage ≥ 0.9. Estimate
    error ~1.04/√(2^p); p trades precision for exactly the lane
    factor."""
    from functools import reduce

    if horizon < 0:
        raise ValueError("horizon must be >= 0")
    if not 4 <= p <= 12:
        raise ValueError("p must be in [4, 12]")
    frames = _nf_lane_registers(spark, path, horizon, p, checkpoint)
    rows = [_nf_radius_row(f, t, p) for t, f in enumerate(frames)]
    curve = reduce(lambda a, b: a.unionAll(b), rows)
    final = rows[-1].select(F.col("_nf").alias("_nf_final"))
    return curve.crossJoin(F.broadcast(final)).select(
        "radius",
        "n_nodes",
        F.round("_nf", 6).alias("nf_est"),
        F.round(F.col("_nf") / F.col("n_nodes"), 6).alias("avg_ball"),
        F.round(F.col("_nf") / F.col("_nf_final"), 6).alias("coverage"),
    )


def hyperball_harmonic_from_state(
    spark: SparkSession,
    path: str,
    horizon: int = 3,
    p: int = 6,
    checkpoint: bool = True,
) -> DataFrame:
    """Approximate harmonic centrality for EVERY node via HyperBall
    (Boldi & Vigna 2013 §4 — the paper's headline application):
    H(v) ≈ Σ_{r=1..horizon} (|ball(v,r)| − |ball(v,r−1)|)/r, reading
    each ball size from the node's HLL registers after r merge
    supersteps. The exact pivot closeness
    (:func:`closeness_from_state`) prices a handful of sources
    precisely; this prices ALL nodes at once for the cost of ``horizon``
    register supersteps — and those supersteps are MEMOIZED and shared
    with :func:`neighborhood_function_from_state` (same
    (state, p) key), so running both queries pays for one pass.

    Per-radius estimates join back on the node key (H+1 node-sized
    relations, co-partitioned on the join key). Ball differences clamp
    at 0 — register estimates are near- but not strictly monotone
    across the linear-counting/raw regime switch, and a negative
    "shell" is sketch noise, not signal. Returns (node,
    harmonic_approx) for every node; callers rank/filter."""
    if horizon < 1:
        raise ValueError("horizon must be >= 1")
    if not 4 <= p <= 12:
        raise ValueError("p must be in [4, 12]")
    frames = _nf_lane_registers(spark, path, horizon, p, checkpoint)
    ests = _nf_node_estimates(frames[0], p).withColumnRenamed(
        "_est", "_est_0"
    )
    for t in range(1, horizon + 1):
        ests = ests.join(
            _nf_node_estimates(frames[t], p).withColumnRenamed(
                "_est", f"_est_{t}"
            ),
            "node",
        )
    harm = None
    for t in range(1, horizon + 1):
        shell = F.greatest(
            F.col(f"_est_{t}") - F.col(f"_est_{t - 1}"), F.lit(0.0)
        ) / F.lit(float(t))
        harm = shell if harm is None else harm + shell
    return ests.select("node", F.round(harm, 6).alias("harmonic_approx"))


def edge_state_diff(
    spark: SparkSession, path_a: str, path_b: str
) -> DataFrame:
    """Graph CDC between two persisted edge-state versions: per
    adjacency row (src, dst), the before/after weights and a status in
    {added, removed, changed, unchanged} — the drift_between_states
    idea applied to the graph's own version chain (what did yesterday's
    delta actually do to the network). ONE full-outer join of two
    state adjacency relations co-keyed on (src, dst) — the states are
    already algorithm-ready parquet, so no fact table is touched; at
    100 TB this is two state scans + one co-partitioned join, the same
    cost class as reading either version.

    Direction-expanded states carry each undirected edge twice (both
    directions); callers wanting per-EDGE semantics filter one side
    (e.g. ``src LIKE 'c%'`` on a bipartite build) — the catalog query
    does exactly that."""
    a = edge_state_adjacency(spark, path_a).select(
        "src", "dst", F.col("w").alias("w_before")
    )
    b = edge_state_adjacency(spark, path_b).select(
        "src", "dst", F.col("w").alias("w_after")
    )
    j = a.join(b, ["src", "dst"], "full_outer")
    status = (
        F.when(F.col("w_before").isNull(), F.lit("added"))
        .when(F.col("w_after").isNull(), F.lit("removed"))
        .when(F.col("w_before") != F.col("w_after"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return j.select("src", "dst", "w_before", "w_after", status.alias("status"))
