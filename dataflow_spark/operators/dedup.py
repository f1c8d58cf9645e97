"""Deduplication operators — exact, MinHash-LSH, SimHash, n-gram-segment.

Reference semantics (SURVEY.md §2.1): sequential scan with an in-memory
seen-set / LSH index, first occurrence in file order wins
(hash_deduplicate_filter.py:75-89, minhash_deduplicate_filter.py:66-83).
A distributed engine carries the arrival order explicitly (``doc_seq``) and
defines the canonical survivor of a duplicate cluster as the row with the
MINIMUM arrival sequence.  For exact dedup this is identical to the
reference's output.  For near-dedup (MinHash/SimHash/n-gram) we compute
duplicate CLUSTERS (connected components over candidate pairs) and keep the
min-seq row per cluster — the scan-order-independent closure of the
reference's query-then-insert loop; on chain-free data (the common case at
threshold 0.9) the outputs coincide, and the pytest oracle implements the
same cluster semantics in pandas for row-for-row verification.

Scale notes (100 TB):
* exact dedup = ONE hash shuffle with map-side partial ``min_by`` aggregation
  — no window sort, no skew (hash keys are uniform);
* MinHash = vectorized numpy signatures over JVM-prehashed shingles (Arrow
  batches, no per-row Python), banded into (band_id, band_hash) buckets;
  candidate edges are star edges to each bucket's min-seq root, so a
  degenerate bucket of B rows costs B edges, never B²;
* SimHash/n-gram verification needs true pairwise checks — bucket sizes are
  capped (cap param) to bound the self-join blow-up on degenerate buckets;
* connected components = iterative min-label propagation (few rounds at 0.9
  threshold), each round one shuffle join.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.functions import pandas_udf

from dataflow_spark.core.stage import Stage, register
from dataflow_spark.functions.text import ngram_strings

# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def content_hash(keys: tuple[str, ...], algo: str = "md5"):
    """Canonical content hash over one or more columns.  Multi-key rows are
    joined as '{k}:\\n{v}' with '\\n' separators — exact parity with
    hash_deduplicate_filter.py:79-80."""
    if len(keys) == 1:
        payload = F.col(keys[0]).cast("string")
    else:
        payload = F.concat_ws(
            "\n", *[F.concat(F.lit(f"{k}:\n"), F.col(k).cast("string")) for k in keys]
        )
    if algo == "md5":
        return F.md5(payload.cast("binary"))
    if algo == "sha256":
        return F.sha2(payload.cast("binary"), 256)
    if algo == "sha1":
        return F.sha1(payload.cast("binary"))
    if algo == "xxh3":  # reference offers xxh3_128; xxhash64 is the JVM native
        return F.xxhash64(payload).cast("string")
    raise ValueError(f"unknown hash algo {algo}")


def token_hash():
    """Content hash of a token array: xxhash64 applied to the array column
    directly (Spark's HashExpression folds elements in sequence) — the dedup
    key for token-array equality.  No string materialization: the earlier
    array_join encoding built ~5 bytes of string per token before hashing."""
    return F.xxhash64(F.col("tokens"))


def exact_dedup(
    df: DataFrame,
    keys: tuple[str, ...] = ("text",),
    seq_col: str = "doc_seq",
    algo: str = "md5",
    hash_col: str | None = None,
    strategy: str = "min_by",
) -> DataFrame:
    """First-seen-wins exact dedup (HashDeduplicateFilter,
    hash_deduplicate_filter.py:10-91).  Survivor = min arrival seq per hash.

    strategy='min_by' (default): groupBy(hash).agg(min_by(struct(*cols),
    seq)) — ONE shuffle whose map-side partial aggregation collapses
    duplicates before the wire; the struct agg buffer forces SortAggregate,
    but the sorts are partition-local over bounded (~128 MB) partitions.
    Measured 2x faster than 'join' at bench scale.

    strategy='join': HashAggregate min(seq) per hash (fixed-width buffer, no
    sorts) then an equi-join back on (hash, seq).  No sort anywhere, but the
    full table crosses the wire un-combined plus a second (tiny) shuffle —
    preferable only when rows are so wide that sorting them dominates.
    """
    h = F.col(hash_col) if hash_col else content_hash(keys, algo)
    cols = df.columns
    tagged = df.withColumn("_content_hash", h)
    if strategy == "min_by":
        return (
            tagged.groupBy("_content_hash")
            .agg(F.min_by(F.struct(*cols), F.col(seq_col)).alias("_row"))
            .select("_row.*")
        )
    firsts = tagged.groupBy("_content_hash").agg(F.min(seq_col).alias("_keep_seq"))
    return (
        tagged.join(
            firsts,
            (tagged["_content_hash"] == firsts["_content_hash"])
            & (tagged[seq_col] == firsts["_keep_seq"]),
        )
        .select(*[tagged[c] for c in cols])
    )


@register("HashDeduplicateFilter")
def hash_dedup_stage(input_keys: tuple[str, ...] = ("text",), seq_col: str = "doc_seq", algo: str = "md5") -> Stage:
    return Stage(
        "HashDeduplicateFilter",
        lambda df: exact_dedup(df, tuple(input_keys), seq_col, algo),
        tuple(input_keys) + (seq_col,),
        (),
        "filter",
    )


def ccnet_dedup(df: DataFrame, key: str = "text", bits: int = 64, seq_col: str = "doc_seq") -> DataFrame:
    """CCNetDeduplicateFilter (ccnet_deduplicate_filter.py:42-109): exact
    dedup on the first ``bits`` of SHA-1 — substring of the hex digest."""
    h = F.substring(F.sha1(F.col(key).cast("binary")), 1, bits // 4)
    return exact_dedup(df.withColumn("_ccnet_h", h), seq_col=seq_col, hash_col="_ccnet_h").drop("_ccnet_h")


@register("CCNetDeduplicateFilter")
def ccnet_dedup_stage(input_key: str = "text", bits: int = 64, seq_col: str = "doc_seq") -> Stage:
    return Stage(
        "CCNetDeduplicateFilter",
        lambda df: ccnet_dedup(df, input_key, bits, seq_col),
        (input_key, seq_col),
        (),
        "filter",
    )


# ---------------------------------------------------------------------------
# connected components (min-label propagation) — shared by all near-dedup ops
# ---------------------------------------------------------------------------


def _cc_min_numpy(a: "np.ndarray", b: "np.ndarray") -> tuple:
    """Min-label connected components over edge arrays, fully vectorized.
    Works in INDEX space (labels are positions into the sorted node array;
    node ids are ascending so min-index == min-id): per round, pull each
    endpoint's label across the symmetrized edges with a segment-min
    (argsort once up front — the edge order never changes — then one
    ``np.minimum.reduceat`` per round), then pointer-jump ``lbl = lbl[lbl]``
    to a within-round fixpoint so chains collapse in O(log n) rounds.
    2.8x faster than the previous ``np.minimum.at`` scatter (which is an
    unbuffered scalar loop) + per-round ``searchsorted`` on the r400 bench
    edge set (2.08M edges: 1.0s vs 2.9s); this solve is the serial Amdahl
    term of the whole minhash job, so it is worth the fuss.
    Returns (nodes, labels) with labels as node ids."""
    nodes, inv = np.unique(np.concatenate([a, b]), return_inverse=True)
    n = len(nodes)
    src = inv.copy()
    dst = np.concatenate([inv[len(a):], inv[: len(a)]])
    order = np.argsort(dst, kind="stable")
    dsts = dst[order]
    srcs = src[order]
    seg = np.flatnonzero(np.r_[True, dsts[1:] != dsts[:-1]])
    seg_dst = dsts[seg]
    lbl = np.arange(n, dtype=np.int64)
    while True:
        m = np.minimum.reduceat(lbl[srcs], seg)
        new = lbl.copy()
        new[seg_dst] = np.minimum(new[seg_dst], m)
        while True:
            nn = new[new]
            if np.array_equal(nn, new):
                break
            new = nn
        if np.array_equal(new, lbl):
            return nodes, nodes[lbl]
        lbl = new


# Below this many candidate edges the min-label solve is pulled to the
# driver and solved in one vectorized numpy pass; above it, it stays
# distributed.  (After LSH bucketing, star edges are ~dup_count, not
# pair_count, so the local case is overwhelmingly common.)  Same design as
# Spark's own broadcast threshold: a driver round-trip beats O(rounds)
# shuffle jobs whose fixed cost (checkpoint + convergence count per round)
# is serial and does not parallelize — that fixed cost is what held
# 8->32-core scaling at 0.56 in round 2.  The cutoff's VALUE is measured in
# both directions — see cc_local_edge_threshold() for the r1600 A/B that
# keeps it at 4M (heap-scaled variants lose above it on every topology).
CC_LOCAL_EDGE_THRESHOLD = 4_000_000

# Hard cap for the depth-2 contraction terminator's forced driver-local
# solve (see connected_components_min): 200M edges = 3.2 GB of raw longs,
# feasible on a large driver; beyond it the until-convergence propagation
# loop is the only remaining (correct, slow) option.
CC_FORCE_LOCAL_CAP = int(os.environ.get("DATAFLOW_CC_FORCE_LOCAL_CAP", str(200_000_000)))


def cc_local_edge_threshold(spark) -> int:
    """Local/distributed CC crossover: the 4M floor, overridable via
    ``DATAFLOW_CC_LOCAL_EDGES``.

    The 4M default is MEASURED, both directions, at r1600 (8,339,450
    edges — 2.1x the cutoff):

    * the driver-local solve WINS below it: the r400 edge set (2.08M) solves
      in ~1 s and removed the per-round checkpoint+count serial barrier that
      held 8->32-core efficiency at 0.56 (round-2 ledger);
    * it LOSES above it, on BOTH topologies: at local-cluster[8,4] a
      back-to-back A/B read local 95.9-121.8 s vs distributed 72.2-118.1 s
      (edge collect over executor RPC + shipping the ~3.2M-long loser array
      to every Python worker); at local[8]/local[32] a heap-scaled variant
      improved the pinned 8-core leg (~173 -> ~120 s, the distributed
      rounds are join-heavy at few cores) but DEGRADED the 32-core leg
      (61 -> 78-98 s) — the single-threaded driver solve is a
      core-count-independent Amdahl term that costs the fast leg exactly
      what the well-parallelized rounds no longer do.

    Raising the cutoff via the env knob is for single-leg batch jobs where
    wall time at few cores matters more than scaling headroom."""
    override = os.environ.get("DATAFLOW_CC_LOCAL_EDGES")
    if override:
        return int(override)
    return CC_LOCAL_EDGE_THRESHOLD

# per-worker byte budget for the minhash signature intermediate (see
# minhash_band_udf); overridable for cache-topology tuning
SIG_CHUNK_BYTES = int(os.environ.get("DATAFLOW_SIG_CHUNK_BYTES", str(512 * 1024)))


def _cc_distributed_contract(
    edges: DataFrame,
    local_threshold: int,
    max_iter: int | None = None,
    n_parts: int | None = None,
    _depth: int = 0,
    stats: dict | None = None,
) -> DataFrame:
    """Distributed CC by partition-local solve + edge contraction (VERDICT
    r3 task #1; the two-phase scheme behind CC-MR / Kiveris et al.'s
    MapReduce CC family, chosen over alternating large-star/small-star
    because the numpy kernel already solves megaedge graphs in ~1 s, so one
    shuffle + parallel local solves + a TINY residual beats even 2-3
    star rounds):

    1. range-partition edges on ``a`` (bucket stars have constant ``a``, so
       a whole LSH star lands in one partition, and a chain's consecutive
       ids share a partition, which keeps its residual small);
    2. per partition, run the vectorized numpy min-label kernel on that
       partition's edge set -> (node, local_root) rows — the root is the
       min node id of the node's PARTITION-LOCAL component;
    3. a node seen in k>1 partitions has up to k distinct local roots; all
       of those roots belong to one global component, so emit the residual
       star (min_root, other_root) per such node.  The residual graph has
       one node per local root and collapses to the cross-partition
       adjacency only — orders of magnitude smaller than the input (at
       r1600, 8.3M edges -> residual well under the 4M local threshold);
    4. solve the residual recursively (in practice: one driver-local numpy
       pass), then map every node through root -> global component.

    Correctness: two nodes are globally connected iff their local roots are
    linked by a chain of shared-node residual stars; the global min label
    survives because the component-wide min node m is a local root wherever
    it appears (its local component contains m, and roots are local minima,
    so root <= m and root >= min = m).  Parity with both the numpy kernel
    and the iterative propagation loop is pinned in tests/test_dedup.py.

    Scale shape: a FIXED pipeline of one repartition shuffle, one narrow
    mapInPandas, one groupBy shuffle, one join + final min-agg — no
    O(rounds) driver barrier, every stage fully parallel.  Partition-local
    memory is the partition's edge list (~16 B/edge + kernel overhead);
    size ``n_parts`` (default: spark.sql.shuffle.partitions) so partitions
    fit executor memory — 1B edges over 2048 partitions is ~8 MB/task."""
    spark = edges.sparkSession
    if n_parts is None:
        n_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))

    def solve(it):
        cas, cbs = [], []
        for pdf in it:
            cas.append(pdf["a"].to_numpy(np.int64))
            cbs.append(pdf["b"].to_numpy(np.int64))
        if not cas:
            return
        a = np.concatenate(cas)
        b = np.concatenate(cbs)
        if len(a) == 0:
            return
        nodes, lbl = _cc_min_numpy(a, b)
        yield pd.DataFrame({"node": nodes, "local_root": lbl})

    m = (
        edges.select(F.col("a").cast("long"), F.col("b").cast("long"))
        .repartitionByRange(n_parts, "a")
        .mapInPandas(solve, "node long, local_root long")
        .localCheckpoint(eager=True)  # reused: residual build + final map
    )
    residual = (
        m.groupBy("node")
        .agg(
            F.min("local_root").alias("_r0"),
            F.collect_set("local_root").alias("_rs"),
        )
        .select(F.col("_r0").alias("a"), F.explode("_rs").alias("b"))
        .where(F.col("a") != F.col("b"))
        .distinct()
    )
    roots = connected_components_min(
        residual, max_iter=max_iter, local_threshold=local_threshold,
        _depth=_depth + 1, stats=stats,
    ).withColumnRenamed("node", "local_root")
    # every multi-root node's roots share one residual component, so the
    # min-agg only dedupes the per-partition copies (values are equal);
    # single-root nodes whose root never entered the residual keep it
    return (
        m.join(roots, "local_root", "left")
        .select(
            "node",
            F.coalesce("component", "local_root").alias("component"),
        )
        .groupBy("node")
        .agg(F.min("component").alias("component"))
    )


def _checkpoint_reset_stats(df: DataFrame) -> DataFrame:
    """``localCheckpoint`` that also DROPS inherited plan statistics.

    ``Dataset.localCheckpoint`` truncates lineage but keeps the origin
    plan's Statistics on the resulting LogicalRDD.  In an iterative
    self-join loop the ``sizeInBytes`` estimate therefore SQUARES every
    round (join stats = product of child sizes), and after ~15 rounds
    Catalyst's SizeInBytesOnlyStatsPlanVisitor is multiplying 2^15-bit
    BigIntegers — the stats walk itself dominates and wall time DOUBLES
    per round (diagnosed round 4 via jstack: 112 s of
    BigInteger.multiplyToomCook3 under visitJoin; plan size, row count,
    job count all constant).  Rebuilding the DataFrame from the
    checkpointed InternalRow RDD yields a LogicalRDD with no origin
    stats, so estimates restart from the default size.  Falls back to the
    plain checkpoint if the (stable-in-practice, private[sql]) JVM hook is
    unavailable."""
    try:
        jdf = df._jdf.localCheckpoint(True)
    except Exception:
        # no JVM-backed DataFrame (e.g. Spark Connect): plain eager
        # checkpoint still truncates lineage, just without the stats reset
        return df.localCheckpoint(eager=True)
    try:
        jspark = df.sparkSession._jsparkSession
        new_jdf = jspark.internalCreateDataFrame(
            jdf.queryExecution().toRdd(), jdf.schema(), False
        )
        return DataFrame(new_jdf, df.sparkSession)
    except Exception:
        # hook changed: keep the checkpoint already taken rather than
        # materializing the plan a second time
        return DataFrame(jdf, df.sparkSession)


def connected_components_min(
    edges: DataFrame, max_iter: int | None = None,
    local_threshold: int | None = None,
    _materialized: bool = False,
    strategy: str = "auto",
    _depth: int = 0,
    stats: dict | None = None,
) -> DataFrame:
    """Edges (a:long, b:long) -> (node:long, component:long) where component
    is the min node id reachable.  Strategies:

    - **local** (edge count <= local_threshold): collect the two long columns
      via Arrow and run the numpy min-label kernel — one job, no per-round
      serial barrier.  At 10% dup rate the threshold covers corpora of ~40M
      docs per dedup invocation.
    - **contract** (above threshold, the default since round 4): one
      range-partition shuffle of the edges on ``a``, a partition-local
      numpy CC inside mapInPandas, then a CONTRACTED residual graph
      (local-root links of nodes seen in several partitions) solved
      recursively — it collapses under the local threshold in one step on
      every real near-dup graph, so the whole solve is a FIXED number of
      data-heavy jobs with no per-round checkpoint+convergence-count
      serial barrier (that barrier
      was the measured core-count-independent gap at executor topology,
      VERDICT r3 #1).  See _cc_distributed_contract.
    - **iterative**: the pre-round-4 min-label propagation loop — kept as
      the parity baseline and as the depth-2 terminator for adversarial
      contraction inputs.  Since round 4 it runs to TRUE convergence:
      the old ``max_iter=20`` cutoff silently under-converged on graphs
      where two locally-converged regions merge late (the new smaller
      label then walks back one hop per round — the pointer jump is a
      no-op across a run of EQUAL labels, so convergence is O(diameter)
      after the merge, not O(log); found by the round-4 contraction
      parity sweep, pinned in test_cc_iterative_late_merge_convergence).
      ``max_iter`` is now an optional safety valve that RAISES on overrun
      instead of silently returning wrong labels.
    """
    # materialize the (usually small) edge set once — every propagation round
    # joins against it twice, and without this the entire upstream chain
    # (MinHash UDF, band explode, bucket join) re-executes per round
    if not _materialized:
        edges = edges.localCheckpoint(eager=True)
    if local_threshold is None:
        local_threshold = cc_local_edge_threshold(edges.sparkSession)
    n_edges = edges.count()
    if stats is not None:
        # ladder observability (round 5): edge count and strategy at each
        # recursion depth — depth>0 rows are the residual-graph sizes, the
        # quantity the contraction design's "tiny residual" claim rests on
        stats.setdefault("depths", []).append(
            {"depth": _depth, "edges": int(n_edges)}
        )
    # Depth-2 terminator: a residual still above local_threshold after two
    # contractions means an extremely chain-shaped graph (hash partitioning
    # barely merges consecutive links) — the vectorized driver solve is the
    # only fast option there, and 200M edges (3.2 GB of longs) is within a
    # large driver.  Only the propagation loop (correct but O(diameter)
    # rounds) remains beyond the cap.
    force_local = (
        strategy == "auto" and _depth >= 2 and n_edges <= CC_FORCE_LOCAL_CAP
    )
    if n_edges <= local_threshold or force_local:
        if stats is not None:
            stats["depths"][-1]["strategy"] = (
                "local_forced" if (force_local and n_edges > local_threshold)
                else "local"
            )
        pdf = edges.select(
            F.col("a").cast("long"), F.col("b").cast("long")
        ).toPandas()
        spark = edges.sparkSession
        if len(pdf) == 0:
            return spark.createDataFrame([], "node long, component long")
        nodes, lbl = _cc_min_numpy(
            pdf["a"].to_numpy(np.int64), pdf["b"].to_numpy(np.int64)
        )
        out = pd.DataFrame({"node": nodes, "component": lbl})
        return spark.createDataFrame(out)
    if strategy == "auto":
        strategy = "contract" if _depth < 2 else "iterative"
    if stats is not None:
        stats["depths"][-1]["strategy"] = strategy
    if strategy == "contract":
        return _cc_distributed_contract(
            edges, local_threshold=local_threshold, max_iter=max_iter,
            _depth=_depth, stats=stats,
        )
    sym = edges.union(edges.select(F.col("b").alias("a"), F.col("a").alias("b")))
    labels = (
        sym.groupBy("a").agg(F.min("b").alias("lbl"))
        .select(F.col("a").alias("node"), F.least("a", "lbl").alias("component"))
    )
    rounds = 0
    while True:
        rounds += 1
        if max_iter is not None and rounds > max_iter:
            raise RuntimeError(
                f"connected_components_min: no convergence within max_iter="
                f"{max_iter} rounds — the graph has a long post-merge "
                "propagation path; raise max_iter (or leave it None to run "
                "to convergence), or use strategy='contract'"
            )
        # neighbor's current label, pulled across edges
        prop = (
            sym.join(labels, sym["b"] == labels["node"], "inner")
            .groupBy(sym["a"].alias("node"))
            .agg(F.min("component").alias("nbr_lbl"))
        )
        # fold the convergence flag into the same join (no extra per-round
        # join): _chg marks rows whose label shrank this round
        new_labels = (
            labels.join(prop, "node", "left")
            .select(
                "node",
                F.least(F.col("component"), F.coalesce("nbr_lbl", F.col("component"))).alias("new_component"),
                (F.coalesce("nbr_lbl", F.col("component")) < F.col("component")).alias("_chg"),
            )
            .withColumnRenamed("new_component", "component")
        )
        # pointer-jump (component <- min(component, component[component])):
        # label values are node ids, so a self-join compresses paths —
        # doubling per round while labels still form deep chains.  NOTE the
        # jump is a no-op across a run of EQUAL labels, so after a late
        # merge of two converged regions propagation is one hop per round;
        # that is why the loop runs to convergence instead of a fixed
        # round cap (round-4 fix; test_cc_iterative_late_merge_convergence).
        parent = new_labels.select(
            F.col("node").alias("_pn"), F.col("component").alias("_pc")
        )
        new_labels = (
            new_labels.join(parent, new_labels["component"] == parent["_pn"], "left")
            .select(
                "node",
                F.least(F.col("component"), F.coalesce("_pc", F.col("component"))).alias("component"),
                (F.col("_chg") | (F.coalesce("_pc", F.col("component")) < F.col("component"))).alias("_chg"),
            )
        )
        # stats-resetting checkpoint — the plain localCheckpoint compounds
        # join-size estimates across rounds (see _checkpoint_reset_stats)
        new_labels = _checkpoint_reset_stats(new_labels)
        changed = new_labels.where(F.col("_chg")).limit(1).count()
        labels = new_labels.drop("_chg")
        if changed == 0:
            break
    return labels


def _not_in_sorted_udf(arr: "np.ndarray"):
    """Boolean pandas UDF: value NOT present in the sorted int64 array
    (vectorized np.searchsorted membership probe)."""

    @pandas_udf(T.BooleanType())
    def not_in_sorted(s: pd.Series) -> pd.Series:
        v = s.to_numpy(np.int64)
        if len(arr) == 0:
            return pd.Series(np.ones(len(v), dtype=bool))
        pos = np.minimum(np.searchsorted(arr, v), len(arr) - 1)
        return pd.Series(arr[pos] != v)

    return not_in_sorted


def keep_cluster_min(
    df: DataFrame,
    edges: DataFrame,
    seq_col: str = "doc_seq",
    edges_materialized: bool = False,
) -> DataFrame:
    """Drop every row whose seq appears in a duplicate cluster with a smaller
    min-seq; annotate nothing (reference drops silently).
    ``edges_materialized=True`` skips the eager checkpoint when the caller
    already returned a materialized edge set (minhash_candidate_edges)."""
    if not edges_materialized:
        edges = edges.localCheckpoint(eager=True)
    if edges.count() <= cc_local_edge_threshold(df.sparkSession):
        # local CC: solve on the driver and ship ONLY the loser ids back as
        # a sorted array inside a vectorized-searchsorted pandas UDF.  This
        # replaces a broadcast anti-join whose BroadcastExchange converts
        # the 2M-row loser relation to a hash table on the DRIVER (serial,
        # measured ~6s at r400) with a fully parallel binary-search probe
        # (~0.9s warm): the array ships once per worker in the task
        # closure (TorrentBroadcast); losers <= duplicate-node count, and
        # the adaptive threshold bounds the worst case at 32M longs
        # (256 MB) on a large driver, 4M (32 MB) at the floor.
        # This serial driver time is the Amdahl term of the whole
        # minhash job (BENCH_scaling.json).  Requires non-null seq ids —
        # the engine assigns them (monotonically_increasing_id / source
        # doc_seq).
        pdf = edges.select(F.col("a").cast("long"), F.col("b").cast("long")).toPandas()
        if len(pdf) == 0:
            return df
        nodes, lbl = _cc_min_numpy(
            pdf["a"].to_numpy(np.int64), pdf["b"].to_numpy(np.int64)
        )
        losers_np = np.sort(nodes[nodes != lbl])
        return df.where(_not_in_sorted_udf(losers_np)(F.col(seq_col)))
    comps = connected_components_min(edges, _materialized=True)
    losers = comps.where(F.col("node") != F.col("component")).select(
        F.col("node").alias(seq_col)
    )
    # left_anti shuffle join; AQE converts it to broadcast when losers is
    # small (the usual case — dup fraction ~10%), and handles skew otherwise.
    return df.join(losers, seq_col, "left_anti")


# ---------------------------------------------------------------------------
# MinHash-LSH near-dedup
# ---------------------------------------------------------------------------

_MERSENNE = np.uint64((1 << 61) - 1)
_MAX32 = np.uint64((1 << 32) - 1)


def _perms(num_perm: int, seed: int = 1):
    """Deterministic (a, b) permutation params for multiply-shift universal
    hashing (Dietzfelbinger et al.): h_i(x) = (a_i * x + b_i) >> 32 over
    uint64 wrap-around arithmetic, a_i odd.  Division-free — the earlier
    mod-Mersenne variant spent ~90% of signature time in scalar uint64
    division, which also killed multi-core scaling (memory/divider bound).
    The pytest oracle (tests/oracle/dedup_oracle.py) implements the same
    scheme independently at equal seeds."""
    gen = np.random.RandomState(seed)
    a = gen.randint(1, _MERSENNE, size=num_perm, dtype=np.uint64) | np.uint64(1)
    b = gen.randint(0, _MERSENNE, size=num_perm, dtype=np.uint64)
    return a, b


def minhash_band_udf(num_perm: int = 128, bands: int = 16, seed: int = 1):
    """pandas_udf: array<long> shingle hashes -> array<long> band hashes.

    The expensive inner loop ((a*h + b) mod p, min over shingles) runs as one
    numpy einsum-style broadcast per Arrow batch — no per-row Python.  Band
    hash = polynomial combine of the band's r signature values.
    """
    assert num_perm % bands == 0
    r = num_perm // bands
    a, b = _perms(num_perm, seed)

    @pandas_udf(T.ArrayType(T.LongType()))
    def udf(hashes: pd.Series) -> pd.Series:
        # One numpy pass for the WHOLE Arrow batch: concatenate every row's
        # shingle hashes, permute as a single (num_perm, total) broadcast,
        # reduce per-row signatures with minimum.reduceat — no per-row numpy
        # call overhead (the per-row loop was 10x slower at bench scale).
        n = len(hashes)
        lens = np.fromiter(
            ((0 if hs is None else len(hs)) for hs in hashes), dtype=np.int64, count=n
        )
        nonempty = lens > 0
        if not nonempty.any():
            return pd.Series([None] * n)
        flat = np.concatenate(
            [np.asarray(hs, dtype=np.int64) for hs in hashes[nonempty.tolist()]]
        ).astype(np.uint64)
        lens_ne = lens[nonempty]
        bh = _band_hashes_from_flat(flat, lens_ne, a, b, num_perm, bands, r)
        return _pack_band_rows(bh, nonempty, n)

    return udf


def _band_hashes_from_flat(
    flat: np.ndarray, lens_ne: np.ndarray, a, b, num_perm: int, bands: int, r: int
) -> np.ndarray:
    """uint64 shingle hashes (flat, row lengths) -> (n_rows, bands) int64
    band hashes.  multiply-shift (no division): (a*x + b) >> 32, uint64
    wrap-around.  Chunk along the SHINGLE axis so the (num_perm x chunk)
    matrix stays cache-resident: a full-width matrix makes the kernel pure
    DRAM traffic, which saturates at ~8 cores and flatlines scaling —
    measured 50s at local[8] == 52s at local[32] before chunking.  The
    budget is per-WORKER (SIG_CHUNK_BYTES, default 512 KiB): with 32
    concurrent workers the combined working set must fit the shared L3."""
    n_ne = len(lens_ne)
    offsets = np.zeros(n_ne, dtype=np.int64)
    np.cumsum(lens_ne[:-1], out=offsets[1:])
    total = int(lens_ne.sum())
    CHUNK = max(256, SIG_CHUNK_BYTES // (num_perm * 8))
    sig = np.empty((num_perm, n_ne), dtype=np.uint64)
    shift = np.uint64(32)
    r0 = 0
    while r0 < n_ne:
        r1 = r0
        c0 = offsets[r0]
        while r1 < n_ne and (offsets[r1] + lens_ne[r1] - c0) <= CHUNK:
            r1 += 1
        if r1 == r0:
            r1 = r0 + 1  # single row larger than CHUNK
        c1 = int(offsets[r1]) if r1 < n_ne else total
        seg = flat[c0:c1]
        phv = (a[:, None] * seg[None, :] + b[:, None]) >> shift
        sig[:, r0:r1] = np.minimum.reduceat(phv, (offsets[r0:r1] - c0), axis=1)
        r0 = r1
    bandsig = sig.reshape(bands, r, -1)
    bh = np.zeros((bands, bandsig.shape[2]), dtype=np.uint64)
    for j in range(r):
        bh = bh * np.uint64(1000003) + bandsig[:, j, :]
    return bh.astype(np.int64).T  # (n_nonempty, bands)


def _pack_band_rows(cols: np.ndarray, nonempty: np.ndarray, n: int) -> pd.Series:
    out: list = [None] * n
    j = 0
    for i in range(n):
        if nonempty[i]:
            out[i] = cols[j].tolist()
            j += 1
    return pd.Series(out)


def minhash_bands_from_tokens_udf(
    num_perm: int = 128, bands: int = 16, token_ngram: int = 3, seed: int = 1
):
    """pandas_udf: tokens array<int> -> array<long> band hashes, with the
    token n-gram shingle hashing done IN NUMPY instead of a JVM HOF.

    Same outputs, very different memory profile: the JVM
    ``token_shingle_hashes`` transform materializes one long per gram as a
    GenericArrayData (allocation + GC churn) and then ships |grams| longs
    per row through Arrow — ~8x the byte volume of the raw tokens.  Both the
    HOF and the fat transfer are DRAM-bandwidth bound, which is exactly the
    axis this box stops scaling on past ~8 cores (BENCH_scaling.json
    calibration).  Hashing the grams from the raw int32 tokens inside the
    Arrow batch removes the HOF entirely and cuts the transfer to 4 bytes
    per token.

    Parity: identical rolling polynomial (h*B + t) mod M over int64 (numpy
    ``%`` matches Spark pmod for a positive modulus), then the shared
    multiply-shift kernel — signatures are byte-identical to
    minhash_band_udf ∘ token_shingle_hashes (tests/test_dedup.py)."""
    from dataflow_spark.functions.text import _SHINGLE_BASE, _SHINGLE_MOD

    assert num_perm % bands == 0
    r = num_perm // bands
    a, b = _perms(num_perm, seed)
    B = np.int64(_SHINGLE_BASE)
    M = np.int64(_SHINGLE_MOD)
    n_g = token_ngram

    @pandas_udf(T.ArrayType(T.LongType()))
    def udf(tokens: pd.Series) -> pd.Series:
        n = len(tokens)
        lens = np.fromiter(
            ((0 if t is None else len(t)) for t in tokens), dtype=np.int64, count=n
        )
        # a row pairs only if it has >= 1 full n-gram (token_shingle_hashes
        # emits an empty array below n tokens — same contract)
        nonempty = lens >= n_g
        if not nonempty.any():
            return pd.Series([None] * n)
        flat = np.concatenate(
            [np.asarray(t, dtype=np.int64) for t in tokens[nonempty.tolist()]]
        )
        lens_ne = lens[nonempty]
        # rolling hash over the flat token stream: h_p = gram hash starting
        # at p, computed for ALL positions then compacted to in-row grams.
        # Congruence lets the mod run ONCE per gram instead of per step when
        # the unreduced polynomial fits int64 (tokens < 2^20 = the base, so
        # the gram value is < 2^(20n); n <= 3 fits), and the mod itself uses
        # a float-reciprocal quotient + fixup — x86 has no SIMD integer
        # division, so numpy's % is a scalar loop ~10x slower.
        T_ = len(flat)
        n_pos = T_ - n_g + 1
        if n_g * 20 <= 62 and 0 <= int(flat.min()) and int(flat.max()) < (1 << 20):
            h = flat[:n_pos].copy()
            for j in range(1, n_g):
                h = (h << np.int64(20)) + flat[j : n_pos + j]
            q = (h.astype(np.float64) * (1.0 / float(M))).astype(np.int64)
            h -= q * M
            h[h < 0] += M
            h[h >= M] -= M
        else:  # long grams: stepwise reduction keeps intermediates < 2^61
            h = flat[:n_pos] % M
            for j in range(1, n_g):
                h = (h * B + flat[j : n_pos + j]) % M
        # valid gram positions: the first len-n+1 of each row
        g_lens = lens_ne - n_g + 1
        row_off = np.zeros(len(lens_ne), dtype=np.int64)
        np.cumsum(lens_ne[:-1], out=row_off[1:])
        # mark [row_off, row_off + g_len) per row via diff-trick
        marks = np.zeros(n_pos + 1, dtype=np.int64)
        np.add.at(marks, row_off, 1)
        np.add.at(marks, row_off + g_lens, -1)
        valid = np.cumsum(marks[:-1]) > 0
        grams = h[valid].astype(np.uint64)
        bh = _band_hashes_from_flat(grams, g_lens, a, b, num_perm, bands, r)
        return _pack_band_rows(bh, nonempty, n)

    return udf


def minhash_dedup(
    df: DataFrame,
    key: str = "text",
    seq_col: str = "doc_seq",
    num_perm: int = 128,
    bands: int = 16,
    shingle_n: int = 5,
    use_tokens: bool = False,
    token_ngram: int = 3,
    seed: int = 1,
    bucket_cap: int = 100_000,
    drop_oversized_early: bool = False,
) -> DataFrame:
    """MinHashDeduplicateFilter (minhash_deduplicate_filter.py:9-89): char
    5-gram MinHash(num_perm=128) + LSH at threshold≈0.9; survivor = min-seq
    per near-dup cluster (see module docstring for the semantics contract).
    Buckets larger than ``bucket_cap`` are dropped from pairing (see
    minhash_candidate_edges; audit via minhash_dropped_buckets).

    bands=16 × r=8 gives LSH threshold (1/b)^(1/r) ≈ 0.707 band-collision
    knee; the reference's 0.9 threshold maps to bands=8/r=16 — configurable.

    Plan shape: scan -> (tokens: ONE Arrow UDF hashing grams + signing from
    raw int32 tokens | text: HOF shingling -> xxhash64 (JVM) -> Arrow batch
    numpy signature), persisted -> posexplode bands -> (min, count) bucket
    roots agg -> join back for star edges -> CC -> sorted-array survivor
    filter.  No B² bucket blow-up anywhere, no unbounded agg buffers.
    """
    if use_tokens:
        bands_expr = minhash_bands_from_tokens_udf(num_perm, bands, token_ngram, seed)(
            F.col("tokens")
        )
        edges = minhash_candidate_edges(
            df, None, seq_col, num_perm, bands, seed, bucket_cap,
            bands_expr=bands_expr, drop_oversized_early=drop_oversized_early,
        )
        return keep_cluster_min(df, edges, seq_col, edges_materialized=True)
    else:
        # char n-grams: sliding substring window, JVM-side HOF (dynamic start
        # position needs the SQL expr form of substring)
        s = F.col(key)
        shingles = F.when(
            F.length(s) >= shingle_n,
            F.expr(
                f"transform(sequence(1, length({key}) - {shingle_n} + 1), "
                f"i -> substring({key}, i, {shingle_n}))"
            ),
        ).otherwise(F.array(s))
    shingle_hashes = F.transform(shingles, lambda g: F.xxhash64(g))
    return _minhash_from_hashes(
        df, shingle_hashes, seq_col, num_perm, bands, seed, bucket_cap,
        drop_oversized_early,
    )


def _minhash_from_hashes(
    df: DataFrame,
    shingle_hashes,
    seq_col: str,
    num_perm: int,
    bands: int,
    seed: int,
    bucket_cap: int = 100_000,
    drop_oversized_early: bool = False,
) -> DataFrame:
    edges = minhash_candidate_edges(
        df, shingle_hashes, seq_col, num_perm, bands, seed, bucket_cap,
        drop_oversized_early=drop_oversized_early,
    )
    return keep_cluster_min(df, edges, seq_col, edges_materialized=True)


def minhash_candidate_edges(
    df: DataFrame,
    shingle_hashes,
    seq_col: str,
    num_perm: int,
    bands: int,
    seed: int,
    bucket_cap: int = 100_000,
    bands_expr=None,
    materialize: bool = True,
    drop_oversized_early: bool = False,
    pack_bucket_key: bool = True,
) -> DataFrame:
    """The distributed half of MinHash-LSH: signature -> banded buckets ->
    star edges (a, b), returned MATERIALIZED (eager localCheckpoint).
    Split out so the plan-audit tool explains exactly what runs
    (PLANS.md §MinHash).  ``materialize=False`` skips the persist +
    eager checkpoint and returns the raw logical plan — for plan audit
    (tools/explain_plans.py) only; executing that plan runs the
    signature UDF once per downstream consumer.

    Shape: ONE UDF pass over the input, persisted (the banded signature is a
    fixed ~128 B/doc — far smaller than the input, and the standard
    signature-table design at scale); a (min, count) aggregation per bucket
    — FIXED 16-byte buffers, so a degenerate hot bucket can never blow an
    executor no matter its size, with no salting machinery needed; an inner
    join of the banded rows against the kept roots (AQE broadcasts the root
    table when small); star edges; distinct.  A dropped over-cap bucket's
    rows still cross that join's shuffle as one bounded-memory
    external-sort straggler — round-4 measurement falsified the earlier
    assumption that AQE skew-join splits it (OptimizeSkewedJoin only
    matches SMJ(Sort(Shuffle), Sort(Shuffle)); the roots side aggregates
    between its shuffle and the join — NOTES.md round-4);
    ``drop_oversized_early`` removes those rows before the shuffle at the
    measured cost of one extra explode+agg pass (see inline comment).  Under a broadcast the banded side never shuffles for the
    join, and distinct's map-side combine then runs with all of a doc's
    bands colocated, collapsing the up-to-``bands``x duplicate (member,
    root) pairs before the only large exchange.

    This replaced a collect_list-based salted two-level aggregation: the
    member-array build (collect_list + sort + slice + flatten + explode) was
    pure JVM allocation/GC churn — 17 s of the 26 s edge phase at 32 cores
    on the r400 bench corpus, and almost none of it parallelized (22.5 s@8c
    -> 20.5 s@32c).

    Buckets whose size exceeds ``bucket_cap`` are dropped from pairing
    (same contract as simhash/ngram): at 100 TB a hot LSH bucket means a
    degenerate band value, and its near-dup content is already collapsed by
    exact dedup upstream.  The drop is not silent — minhash_dropped_buckets
    reports (band_id, band_hash, size) for any cap audit.

    ``bands_expr`` (Column -> array<long> band hashes) overrides the
    shingle_hashes + band-UDF pair — the tokens fast path hashes grams
    inside the Arrow batch (minhash_bands_from_tokens_udf)."""
    from pyspark import StorageLevel

    if bands_expr is None:
        band_udf = minhash_band_udf(num_perm, bands, seed)
        bands_expr = band_udf(shingle_hashes)
    sig = df.select(
        F.col(seq_col).alias("_seq"),
        bands_expr.alias("_bands"),
    )
    if materialize:
        sig = sig.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        # posexplode_OUTER, then drop the null rows ourselves: a plain
        # posexplode makes InferFiltersFromGenerate add `size(_bands) > 0`
        # BELOW the generate, and ExtractPythonUDFs then plans the signature
        # UDF twice — once for the inferred filter, once for the generate
        # (verified in PLANS.md; the outer variant is exempt from that
        # inference).  Cost: one null row per empty doc instead of a full
        # second UDF pass.
        # pack the (band_id, band_hash) bucket identity into ONE 64-bit key
        # before the shuffle (round-5, VERDICT r4 #1): the agg and join then
        # shuffle/hash/compare a single long instead of an (int, long) pair
        # — fewer key bytes per banded row across the two largest exchanges
        # and single-column comparisons in both operators.  xxhash64 keeps
        # the full 64-bit collision space (a truncation to 32 bits would
        # birthday-collide at ~10^5 docs/band and manufacture false
        # candidate edges between unrelated docs); survivors are unchanged
        # modulo 2^-64-scale key collisions.
        exploded = sig.select(
            "_seq", F.posexplode_outer("_bands").alias("band_id", "band_hash")
        ).where(F.col("band_id").isNotNull())
        if pack_bucket_key:
            banded = exploded.select(
                "_seq", F.xxhash64("band_id", "band_hash").alias("_bkey")
            )
            key_cols = ["_bkey"]
        else:
            # unpacked two-column key — kept as the measurement control for
            # the round-5 shuffle-bytes attribution (tools/bench_minhash_
            # pack_ab.py); identical semantics, ~50% more key bytes per row
            banded = exploded
            key_cols = ["band_id", "band_hash"]
        roots = banded.groupBy(*key_cols).agg(
            F.min("_seq").alias("_root"), F.count("*").alias("_n")
        )
        # Degenerate-bucket reducer pile-up (round-4 measurement, NOTES.md):
        # rows of a DROPPED over-cap bucket still flow into the join
        # shuffle (matching nothing, but sorted on one reducer), and the
        # round-3 assumption that AQE skew-join splits that pile-up is
        # FALSE — OptimizeSkewedJoin only pattern-matches SMJ(Sort(Shuffle),
        # Sort(Shuffle)), and this join's roots side has the bucket
        # aggregate between its shuffle and the join, so the rule never
        # fires on this shape.  ``drop_oversized_early`` broadcast-anti-
        # joins the over-cap keys out of the banded side BEFORE the join
        # shuffle, hard-bounding every reducer's per-key rows at
        # ``bucket_cap`` by construction.  It is OPT-IN because the
        # broadcast subtree re-runs the explode + bucket agg (Catalyst does
        # not ReuseExchange into a broadcast subtree; the signature UDF
        # itself is served from the persisted sig via canonicalized-plan
        # cache match) — a measured constant cost on EVERY run, vs one
        # bounded-memory external-sort straggler task only when a
        # degenerate bucket actually exists (rare: exact dedup upstream
        # collapses identical docs first).  Audit degenerate buckets with
        # minhash_dropped_buckets and enable the guard for corpora that
        # show them.
        paired = banded
        if drop_oversized_early:
            dropped_keys = roots.where(F.col("_n") > bucket_cap).select(*key_cols)
            paired = banded.join(
                F.broadcast(dropped_keys), key_cols, "left_anti"
            )
        edges = (
            paired.join(
                roots.where(F.col("_n") <= bucket_cap),
                key_cols,
            )
            .where(F.col("_seq") != F.col("_root"))
            .select(F.col("_seq").alias("a"), F.col("_root").alias("b"))
            .distinct()
        )
        if not materialize:
            return edges
        # materialize while the signature cache is alive: the roots agg fills
        # the cache, the join reuses it — the UDF runs exactly once
        return edges.localCheckpoint(eager=True)
    finally:
        if materialize:
            sig.unpersist()


def minhash_dropped_buckets(
    df: DataFrame,
    key: str = "text",
    seq_col: str = "doc_seq",
    num_perm: int = 128,
    bands: int = 16,
    shingle_n: int = 5,
    seed: int = 1,
    bucket_cap: int = 100_000,
    use_tokens: bool = False,
    token_ngram: int = 3,
) -> DataFrame:
    """Audit companion to minhash_dedup's bucket_cap ("no silent caps"):
    returns (band_id, band_hash, size) for every bucket the cap would drop.
    Runs the same signature chain (``use_tokens`` mirrors minhash_dedup's
    tokens fast path); intended for pipeline health checks, not the hot
    path."""
    if use_tokens:
        bands_expr = minhash_bands_from_tokens_udf(
            num_perm, bands, token_ngram, seed
        )(F.col("tokens"))
    else:
        s = F.col(key)
        shingles = F.when(
            F.length(s) >= shingle_n,
            F.expr(
                f"transform(sequence(1, length({key}) - {shingle_n} + 1), "
                f"i -> substring({key}, i, {shingle_n}))"
            ),
        ).otherwise(F.array(s))
        shingle_hashes = F.transform(shingles, lambda g: F.xxhash64(g))
        bands_expr = minhash_band_udf(num_perm, bands, seed)(shingle_hashes)
    sig = df.select(F.col(seq_col).alias("_seq"), bands_expr.alias("_bands"))
    return (
        # outer + null-drop: same double-UDF-eval avoidance as
        # _minhash_from_hashes
        sig.select(F.posexplode_outer("_bands").alias("band_id", "band_hash"))
        .where(F.col("band_id").isNotNull())
        .groupBy("band_id", "band_hash")
        .agg(F.count("*").alias("size"))
        .where(F.col("size") > bucket_cap)
    )


@register("MinHashDeduplicateFilter")
def minhash_dedup_stage(input_key: str = "text", seq_col: str = "doc_seq", **kw) -> Stage:
    return Stage(
        "MinHashDeduplicateFilter",
        lambda df: minhash_dedup(df, input_key, seq_col, **kw),
        (input_key, seq_col),
        (),
        "filter",
    )


# ---------------------------------------------------------------------------
# SimHash near-dedup
# ---------------------------------------------------------------------------


def simhash_udf():
    """pandas_udf: array<long> word hashes -> 64-bit simhash fingerprint.
    Vectorized per Arrow batch: bit-unpack each hash, ±1 sum, sign."""

    @pandas_udf(T.LongType())
    def udf(hashes: pd.Series) -> pd.Series:
        # same cache-chunked whole-batch shape as the MinHash kernel: concat
        # all word hashes, bit-unpack a (64 x chunk) slab while it is
        # cache-resident, per-row popcounts via add.reduceat
        n = len(hashes)
        lens = np.fromiter(
            ((0 if hs is None else len(hs)) for hs in hashes), dtype=np.int64, count=n
        )
        out = np.zeros(n, dtype=np.int64)
        nonempty = lens > 0
        if not nonempty.any():
            return pd.Series(out)
        flat = np.concatenate(
            [np.asarray(hs, dtype=np.int64) for hs in hashes[nonempty]]
        ).astype(np.uint64)
        lens_ne = lens[nonempty]
        n_ne = len(lens_ne)
        offsets = np.zeros(n_ne, dtype=np.int64)
        np.cumsum(lens_ne[:-1], out=offsets[1:])
        total = int(lens_ne.sum())
        shifts = np.arange(64, dtype=np.uint64)
        fps = np.zeros(n_ne, dtype=np.uint64)
        CHUNK = 4096
        r0 = 0
        while r0 < n_ne:
            r1 = r0
            c0 = offsets[r0]
            while r1 < n_ne and (offsets[r1] + lens_ne[r1] - c0) <= CHUNK:
                r1 += 1
            if r1 == r0:
                r1 = r0 + 1
            c1 = int(offsets[r1]) if r1 < n_ne else total
            seg = flat[c0:c1]
            bits = ((seg[None, :] >> shifts[:, None]) & np.uint64(1)).astype(np.int64)
            ones = np.add.reduceat(bits, offsets[r0:r1] - c0, axis=1)  # (64, rows)
            rl = lens_ne[r0:r1]
            v = 2 * ones - rl[None, :]
            fp_bits = (v > 0).astype(np.uint64)
            fps[r0:r1] = (fp_bits << shifts[:, None]).sum(axis=0, dtype=np.uint64)
            r0 = r1
        out[nonempty] = fps.astype(np.int64)
        return pd.Series(out)

    return udf


def simhash_dedup(
    df: DataFrame,
    key: str = "text",
    seq_col: str = "doc_seq",
    threshold: float = 0.9,
    n_chunks: int = 8,
    bucket_cap: int = 1000,
    use_tokens: bool = False,
) -> DataFrame:
    """SimHashDeduplicateFilter (simhash_deduplicate_filter.py:14-85):
    64-bit simhash, similarity 1 - hamming/64 >= threshold ⇒ duplicate.
    The reference's O(n²) scan becomes: pigeonhole-block on 8×8-bit chunks
    (hamming <= 6 guarantees ≥1 identical chunk), self-join per (chunk, value)
    bucket, exact Hamming verify via bit_count(xor), CC, min-seq survivor.
    Buckets above ``bucket_cap`` are dropped from pairing (logged upstream) to
    bound the quadratic verify — at 100 TB a hot bucket means a degenerate
    fingerprint, which exact-dedup already collapsed."""
    max_dist = int(round((1 - threshold) * 64))
    src = F.col("tokens") if use_tokens else F.filter(
        F.split(F.lower(F.col(key)), r"\s+"), lambda w: w != ""
    )
    word_hashes = F.transform(src, lambda w: F.xxhash64(w.cast("string")))
    fp_df = df.select(
        F.col(seq_col).alias("_seq"), simhash_udf()(word_hashes).alias("_fp")
    )
    chunk_bits = 64 // n_chunks
    chunks = fp_df.select(
        "_seq",
        "_fp",
        F.posexplode(
            F.array(*[
                F.shiftrightunsigned(F.col("_fp"), i * chunk_bits)
                .bitwiseAND(F.lit((1 << chunk_bits) - 1))
                for i in range(n_chunks)
            ])
        ).alias("chunk_id", "chunk_val"),
    )
    # cap degenerate buckets
    sizes = chunks.groupBy("chunk_id", "chunk_val").agg(F.count("*").alias("_n"))
    chunks = chunks.join(
        sizes.where(F.col("_n") <= bucket_cap), ["chunk_id", "chunk_val"]
    )
    a = chunks.select(
        F.col("chunk_id"), F.col("chunk_val"),
        F.col("_seq").alias("a"), F.col("_fp").alias("fp_a"),
    )
    b = chunks.select(
        F.col("chunk_id"), F.col("chunk_val"),
        F.col("_seq").alias("b"), F.col("_fp").alias("fp_b"),
    )
    pairs = (
        a.join(b, ["chunk_id", "chunk_val"])
        .where(F.col("a") < F.col("b"))
        .select("a", "b", "fp_a", "fp_b")
        .distinct()
    )
    edges = pairs.where(
        F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b"))) <= max_dist
    ).select("a", "b")
    return keep_cluster_min(df, edges, seq_col)


@register("SimHashDeduplicateFilter")
def simhash_dedup_stage(input_key: str = "text", seq_col: str = "doc_seq", **kw) -> Stage:
    return Stage(
        "SimHashDeduplicateFilter",
        lambda df: simhash_dedup(df, input_key, seq_col, **kw),
        (input_key, seq_col),
        (),
        "filter",
    )


# ---------------------------------------------------------------------------
# n-gram segment-hash near-dedup
# ---------------------------------------------------------------------------


def ngramhash_dedup(
    df: DataFrame,
    key: str = "text",
    seq_col: str = "doc_seq",
    n_gram: int = 3,
    diff_size: int = 1,
    bucket_cap: int = 1000,
) -> DataFrame:
    """NgramHashDeduplicateFilter (ngramhash_deduplicate_filter.py:10-85):
    split text into ``n_gram`` equal segments, hash each; two docs are dups if
    they share >= ``diff_size`` segment hashes.  Distributed: explode
    (doc, seg_hash) -> self-join on seg_hash -> overlap count >= diff_size ->
    CC -> min-seq survivor."""
    s = F.col(key)
    seg_len = (F.length(s) / n_gram).cast("int")
    segs = F.when(
        (F.length(s) >= n_gram) & (seg_len > 0),
        F.transform(
            F.sequence(F.lit(0), F.lit(n_gram - 1)),
            lambda i: F.xxhash64(F.substring(s, F.lit(1) + i * seg_len, seg_len)),
        ),
    ).otherwise(F.array(F.xxhash64(s)))
    seg_df = (
        df.select(F.col(seq_col).alias("_seq"), F.explode(segs).alias("seg_hash"))
        .distinct()
    )
    sizes = seg_df.groupBy("seg_hash").agg(F.count("*").alias("_n"))
    seg_df = seg_df.join(sizes.where(F.col("_n") <= bucket_cap), "seg_hash")
    a = seg_df.select(F.col("seg_hash"), F.col("_seq").alias("a"))
    b = seg_df.select(F.col("seg_hash"), F.col("_seq").alias("b"))
    overlap = (
        a.join(b, "seg_hash")
        .where(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count("*").alias("shared"))
    )
    edges = overlap.where(F.col("shared") >= diff_size).select("a", "b")
    return keep_cluster_min(df, edges, seq_col)


@register("NgramHashDeduplicateFilter")
def ngramhash_dedup_stage(input_key: str = "text", seq_col: str = "doc_seq", **kw) -> Stage:
    return Stage(
        "NgramHashDeduplicateFilter",
        lambda df: ngramhash_dedup(df, input_key, seq_col, **kw),
        (input_key, seq_col),
        (),
        "filter",
    )
