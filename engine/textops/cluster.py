"""Near-duplicate cluster resolution: connected components + keeper policy.

The LSH/Jaccard stage (engine.textops.sqlgen.near_dup_pairs_sql) emits
verified PAIRS; a production dedup pipeline must answer "which docs do I
drop", i.e. resolve pairs into clusters and pick one keeper per cluster.

The verified pair table is the small output of a similarity join (a doc
and its rewrites), so resolve_components collects it once, at most
PAIR_COLLECT_CAP rows, and labels every paired doc with the min doc_id it
reaches in ``min_labels``, a numpy kernel. The labels come back as a local
(doc_id, cluster_id) table; a doc in no pair is its own cluster. Building
the result runs only the pair collect's jobs: no checkpoint, no probe.

Only a pair table past the cap runs the distributed loop. Hash-min label
propagation at DataFrame level: every node starts labeled with its own id;
each round every node takes the min label over itself and its neighbors;
fixpoint = connected components with cluster_id = min doc_id in the
component. Rounds needed = graph diameter; each round is one equi-join +
one map-side-partial min aggregate, hash-partitioned on doc_id, with a
localCheckpoint and a convergence probe that aggregates a single monotone
checksum (sum of labels: strictly decreasing until fixpoint). For DEEP
components (chained near-dups) where diameter-many rounds would hurt,
connected_components_star implements the classic alternating
large-star/small-star contraction (O(log^2 n) rounds, same output
contract).

Keeper policy: keep the smallest doc_id per cluster (is_keeper), the
deterministic stand-in for "keep the oldest / highest-quality copy".

Oracle: DuckDB WITH RECURSIVE transitive closure over the same pair set,
labeling each node with the min reachable id — exact, engine-independent.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, functions as F

from .sqlgen import docs_aug_cte, near_dup_pairs_sql

# Most verified pairs resolve_components collects to the driver; a larger
# pair table runs the distributed hash-min / star loop instead. At the cap
# the driver holds 16 B/pair of Arrow, min_labels' numpy working set
# (~120 B/pair peak: 108-116 B/pair under tracemalloc on 1M random and 1M
# near-dup-shaped pairs, 0.5-0.7 s) and a label table of at most 2
# rows/pair (32 B/pair of Arrow, ~80 B/pair as the JVM LocalRelation that
# ships with the plan): ~250 MB in all at 1M pairs.
PAIR_COLLECT_CAP = 1_000_000


def min_labels(doc_a: np.ndarray, doc_b: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(doc_id, cluster_id) of every doc in the undirected pairs
    (doc_a[i], doc_b[i]): cluster_id is the min doc_id the doc reaches, and
    doc_ids come out sorted and distinct.

    Min-label propagation with pointer jumping over dense ids (np.unique,
    so a smaller dense id is a smaller doc_id): each round hooks every tree
    root onto the smallest root across its edges, then jumps pointers until
    every doc points at its root; an edge inside one tree stays inside it
    and is dropped. Pointers only go down, so there is no cycle, and a round
    that starts with an edge between two trees hooks at least one root, so
    the loop ends."""
    doc_id, dense = np.unique(
        np.concatenate([doc_a, doc_b]).astype(np.int64, copy=False),
        return_inverse=True,
    )
    u, v = dense[: len(doc_a)], dense[len(doc_a) :]
    parent = np.arange(len(doc_id))
    while True:
        pu, pv = parent[u], parent[v]
        cross = pu != pv
        if not cross.any():
            return doc_id, doc_id[parent]
        u, v, pu, pv = u[cross], v[cross], pu[cross], pv[cross]
        low = np.minimum(pu, pv)
        np.minimum.at(parent, pu, low)
        np.minimum.at(parent, pv, low)
        while not np.array_equal(up := parent[parent], parent):
            parent = up


def _free_local_checkpoint(df: DataFrame) -> None:
    """Proactively drop a SUPERSEDED localCheckpoint's executor blocks.

    ``DataFrame.unpersist()`` only touches cache-manager entries, never the
    checkpoint RDD's MEMORY_AND_DISK blocks, so an iterative loop that
    checkpoints per round grows block-manager storage linearly until the
    ContextCleaner happens to GC the old plans. The checkpointed DataFrame's
    LogicalRDD plan node holds the backing RDD directly; unpersisting THAT
    frees exactly this DataFrame's blocks (verified against
    getRDDStorageInfo — sibling checkpoints stay intact). DESTRUCTIVE:
    recompute is impossible afterwards, so only call once nothing will read
    the DataFrame again. Best-effort: silently a no-op on backends without
    py4j plan access (e.g. Spark Connect)."""
    try:
        df._jdf.logicalPlan().rdd().unpersist(False)
    except Exception:
        pass


def _hash_min_labels(
    nodes: DataFrame, pairs: DataFrame, max_iters: int, keep_pairs: bool = False
) -> tuple[DataFrame, bool, DataFrame | None]:
    """Hash-min label propagation core: returns ``(labels, converged,
    pairs_ck)`` where labels = (doc_id, label) with label = min doc_id
    reachable IF converged; un-converged labels are partial and must not
    be used. With ``keep_pairs=True`` the materialized pair-table
    checkpoint is returned instead of freed, so a caller that must fall
    back to another algorithm (_distributed_labels' deep-graph path) can
    reuse it rather than recompute the entire upstream pair pipeline
    (LSH + Jaccard verify — the dominant cost); the caller then owns
    freeing it via _free_local_checkpoint."""
    # Checkpoint the PAIR TABLE first, then build edges from the checkpoint:
    # 1. the two union branches otherwise each recompute the full upstream
    #    pair pipeline (LSH + Jaccard verify) — Spark does not dedup common
    #    subplans, so materialization paid 2x the dominant cost;
    # 2. a persist() would keep the giant pair-pipeline LOGICAL plan alive —
    #    re-analyzed by Catalyst on every round's join (measured 3-5s/round
    #    on 10k-row data) — and caches materialize with AQE partition
    #    coalescing disabled (spark.sql.optimizer.canChangeCachedPlan
    #    OutputPartitioning=false), leaving 2 x shuffle.partitions tiny
    #    cache blocks to re-scan each round. localCheckpoint truncates the
    #    plan to a LogicalRDD AND materializes through AQE-coalesced
    #    partitions.
    pairs_ck = pairs.selectExpr("doc_a", "doc_b").localCheckpoint()
    edges = (
        pairs_ck.selectExpr("doc_a as src", "doc_b as dst")
        .unionByName(pairs_ck.selectExpr("doc_b as src", "doc_a as dst"))
        .localCheckpoint()
    )
    if not keep_pairs:
        _free_local_checkpoint(pairs_ck)
    # localCheckpoint per round truncates lineage: an iterative DataFrame
    # referenced more than once per round otherwise grows a plan DAG whose
    # un-memoized Catalyst traversals go exponential in the round count
    # (persist() caches execution but not analysis). On a real cluster use
    # a reliable checkpoint dir for fault tolerance; the loop shape is
    # identical.
    #
    # r7: round 1 is fused — with identity labels, msgs == the edge list
    # itself (label of dst IS dst), so the first round needs no join and
    # the identity table needs no checkpoint of its own: one union + one
    # min-aggregate replaces checkpoint + join + union + aggregate. Every
    # later round is unchanged.
    labels = None
    prev = None
    converged = False
    for _ in range(max_iters):
        if labels is None:
            base = nodes.selectExpr("doc_id", "doc_id as label").unionByName(
                edges.selectExpr("src as doc_id", "dst as label")
            )
        else:
            msgs = edges.join(
                labels.selectExpr("doc_id as dst", "label"), "dst"
            ).selectExpr("src as doc_id", "label")
            base = labels.unionByName(msgs)
        new_labels = (
            base.groupBy("doc_id")
            .agg(F.min("label").alias("label"))
            .localCheckpoint()
        )
        sig = new_labels.agg(F.sum("label").alias("s")).collect()[0]["s"]
        # new_labels is materialized (eager checkpoint + the probe), so the
        # superseded round's blocks can be dropped now instead of lingering
        # until ContextCleaner GC
        if labels is not None:
            _free_local_checkpoint(labels)
        labels = new_labels
        if sig == prev:  # sum(labels) strictly decreases until fixpoint
            converged = True
            break
        prev = sig
    # labels is checkpointed (no lineage into edges), so the edge blocks
    # can be dropped now
    _free_local_checkpoint(edges)
    return labels, converged, pairs_ck if keep_pairs else None


def connected_components(
    nodes: DataFrame, pairs: DataFrame, max_iters: int = 25
) -> DataFrame:
    """(doc_id) nodes + (doc_a, doc_b) undirected pairs ->
    (doc_id, cluster_id, is_keeper); cluster_id = min doc_id reachable."""
    labels, converged, _ = _hash_min_labels(nodes, pairs, max_iters)
    if not converged:
        # labels short of fixpoint are WRONG cluster ids (a component with
        # diameter > max_iters keeps multiple labels) — fail loudly rather
        # than return silently-partial clusters
        raise RuntimeError(
            f"connected_components did not converge in {max_iters} rounds "
            "(component diameter exceeds max_iters); raise max_iters"
        )
    return labels.selectExpr(
        "doc_id", "label as cluster_id", "doc_id = label as is_keeper"
    )


def connected_components_star(
    nodes: DataFrame, pairs: DataFrame, max_rounds: int = 50
) -> DataFrame:
    """Connected components via alternating large-star / small-star
    contraction (Kiveris et al., "Connected Components in MapReduce and
    Beyond", 2014): same output contract as connected_components
    ((doc_id, cluster_id, is_keeper), cluster_id = min reachable doc_id),
    but the edge set contracts toward per-component stars in O(log^2 n)
    rounds instead of O(component diameter) — the variant to use when
    components can be DEEP (chained near-dups: A~B~C~...~Z), where
    hash-min label propagation needs diameter rounds.

    Per round: each op is one distinct-neighbor expansion, one min
    aggregate, one equi-join — all hash-partitioned on the node id,
    nothing driver-sized. Convergence probe: (edge count, sum of edge
    hashes) — O(1) bytes to the driver per round.

      large-star(u): m = min(N(u) + {u}); emit (v, m) for v in N(u), v > u
      small-star(u): m = min(N(u) + {u}); emit (v, m) for v in N(u),
                     v <= u, plus (u, m)

    At fixpoint every non-root points directly at its component minimum.
    """

    def nbrs_of(edges):
        return (
            edges.selectExpr("src as u", "dst as v")
            .unionByName(edges.selectExpr("dst as u", "src as v"))
            .distinct()
        )

    def star(edges, large: bool):
        nbrs = nbrs_of(edges)
        mins = nbrs.groupBy("u").agg(F.min("v").alias("_mv"))
        mins = mins.withColumn("m", F.least("_mv", "u")).select("u", "m")
        j = nbrs.join(mins, "u")
        if large:
            out = j.filter(F.col("v") > F.col("u")).selectExpr(
                "v as src", "m as dst"
            )
        else:
            out = j.filter(F.col("v") <= F.col("u")).selectExpr(
                "v as src", "m as dst"
            ).unionByName(mins.selectExpr("u as src", "m as dst"))
        return out.filter(F.col("src") != F.col("dst")).distinct()

    edges = pairs.selectExpr("doc_a as src", "doc_b as dst").filter(
        F.col("src") != F.col("dst")
    ).distinct().localCheckpoint()
    prev_sig = None
    converged = False
    for _ in range(max_rounds):
        # localCheckpoint: see connected_components — each round references
        # `edges` 4x through the two star ops, so lineage MUST be truncated
        # or Catalyst's plan walks go exponential in rounds
        new_edges = star(star(edges, large=True), large=False).localCheckpoint()
        # order-independent O(1)-byte signature; bit_xor cannot overflow
        # (sum of 64-bit hashes trips ANSI long-overflow)
        row = new_edges.agg(
            F.count("*").alias("n"),
            F.expr("bit_xor(xxhash64(src, dst))").alias("h"),
        ).collect()[0]
        sig = (row["n"], row["h"])
        # the probe materialized new_edges; drop the superseded round's
        # checkpoint blocks (see _free_local_checkpoint)
        _free_local_checkpoint(edges)
        edges = new_edges
        if sig == prev_sig:
            converged = True
            break
        prev_sig = sig
    if not converged:
        raise RuntimeError(
            f"connected_components_star did not converge in {max_rounds} "
            "rounds"
        )
    # fixpoint edges are stars (src -> component min); roots and isolated
    # nodes label themselves
    stars = edges.groupBy("src").agg(F.min("dst").alias("_label"))
    labels = nodes.join(
        stars.selectExpr("src as doc_id", "_label"), "doc_id", "left"
    ).selectExpr("doc_id", "coalesce(_label, doc_id) as label")
    # the returned (lazy) labels plan reads the final star edges' checkpoint
    # blocks, so they must NOT be freed here; ContextCleaner reclaims them
    # once the consumer materializes and drops the plan
    return labels.selectExpr(
        "doc_id", "label as cluster_id", "doc_id = label as is_keeper"
    )


def resolve_components(
    nodes: DataFrame,
    pairs: DataFrame,
    hashmin_budget: int = 8,
    star_rounds: int = 50,
) -> DataFrame:
    """Connected components of (doc_id) nodes over (doc_a, doc_b) undirected
    pairs — the PRODUCTION entry: (doc_id, cluster_id, is_keeper) with
    cluster_id = min reachable doc_id, one row per node.

    The pairs are collected once (PAIR_COLLECT_CAP + 1 rows at most) and
    resolved in the driver by ``min_labels``; a doc in no pair is its own
    cluster, through a left join with the local label table. A pair table
    past the cap takes the distributed path (``_distributed_labels``):
    hash-min under ``hashmin_budget`` rounds, and if the graph turns out
    DEEP (diameter > budget — chained near-dups A~B~C~...~Z) the
    large/small-star contraction under ``star_rounds``, which finishes in
    O(log^2 n) rounds regardless of diameter."""
    return _with_clusters(
        nodes, _component_labels(nodes, pairs, hashmin_budget, star_rounds)
    )


def _component_labels(
    nodes: DataFrame, pairs: DataFrame, hashmin_budget: int = 8, star_rounds: int = 50
) -> DataFrame:
    """(doc_id, cluster_id) with cluster_id = min reachable doc_id, for at
    least every doc in a pair; a doc missing from it is its own cluster.
    A local table from one bounded collect, or past PAIR_COLLECT_CAP the
    distributed labels of every node."""
    t = pairs.select("doc_a", "doc_b").limit(PAIR_COLLECT_CAP + 1).toArrow()
    if t.num_rows > PAIR_COLLECT_CAP:
        return _distributed_labels(nodes, pairs, hashmin_budget, star_rounds)
    doc_id, cluster_id = min_labels(t["doc_a"].to_numpy(), t["doc_b"].to_numpy())
    ty = t.schema.field("doc_a").type
    return nodes.sparkSession.createDataFrame(
        pa.table(
            {"doc_id": pa.array(doc_id, ty), "cluster_id": pa.array(cluster_id, ty)}
        )
    )


def _distributed_labels(
    nodes: DataFrame, pairs: DataFrame, hashmin_budget: int, star_rounds: int
) -> DataFrame:
    """Depth-aware distributed chooser for pair tables past the driver
    bound. Near-dup graphs are almost always shallow (a doc plus its
    rewrites: diameter 1-3), where hash-min converges in a handful of
    rounds and each round is cheaper than a star contraction round (one
    join + one min-agg vs distinct-expansion + min-agg + join x2). So: run
    hash-min under a fixed round budget; if the graph is deeper, discard
    the partial labels and rerun with the star contraction. The fallback
    costs the budget's wasted rounds once, instead of the unbounded (or
    raising) diameter-many rounds a hash-min-only path has."""
    # keep_pairs: the deep-graph fallback must NOT rebuild the upstream
    # pair pipeline (LSH + Jaccard verify — the dominant cost) a second
    # time; it reruns the components algorithm over the already-
    # materialized pair checkpoint instead.
    labels, converged, pairs_ck = _hash_min_labels(
        nodes, pairs, hashmin_budget, keep_pairs=True
    )
    if converged:
        _free_local_checkpoint(pairs_ck)
        return labels.selectExpr("doc_id", "label as cluster_id")
    # partial labels are wrong cluster ids — free them and switch algorithms
    _free_local_checkpoint(labels)
    out = connected_components_star(nodes, pairs_ck, max_rounds=star_rounds)
    # the star path eagerly checkpointed its own initial edge table from
    # pairs_ck before returning, so the pair blocks can be dropped now
    _free_local_checkpoint(pairs_ck)
    return out.select("doc_id", "cluster_id")


def _with_clusters(df: DataFrame, labels: DataFrame) -> DataFrame:
    """``df`` with cluster_id from ``labels`` (its own doc_id for a doc in
    no pair) and is_keeper = the doc is its cluster's min."""
    return (
        df.join(labels, "doc_id", "left")
        .withColumn("cluster_id", F.coalesce("cluster_id", "doc_id"))
        .withColumn("is_keeper", F.col("doc_id") == F.col("cluster_id"))
    )


def _near_dup_graph(spark: SparkSession, threshold: float) -> tuple[DataFrame, DataFrame]:
    """(nodes, pairs) of the docs_aug corpus: its doc_ids and its
    LSH -> Jaccard-verified (doc_a, doc_b) pairs."""
    nodes = spark.sql(
        f"WITH {docs_aug_cte('spark')} SELECT doc_id FROM docs_aug"
    )
    pairs = spark.sql(near_dup_pairs_sql("spark", threshold)).select(
        "doc_a", "doc_b"
    )
    return nodes, pairs


def near_dup_clusters_df(spark: SparkSession, threshold: float = 0.5) -> DataFrame:
    """Full near-dup dedup resolution over the docs_aug corpus: LSH ->
    Jaccard-verified pairs -> connected components (one bounded pair
    collect resolved in the driver; past PAIR_COLLECT_CAP the distributed
    hash-min / star chooser) -> keeper flag. Expects the ``documents``
    temp view to be registered."""
    return resolve_components(*_near_dup_graph(spark, threshold))


def clusters_ctes(dialect: str = "duckdb", threshold: float = 0.5) -> str:
    """Recursive-CTE chain ending in ``labels(doc_id, cluster_id)``: min
    reachable doc_id over the verified near-dup pair set (transitive
    closure). Shared by the near_dup_clusters oracle and the composed
    corpus-prep oracle. Must follow a WITH RECURSIVE keyword."""
    return f"""pairs AS (SELECT doc_a, doc_b FROM ({near_dup_pairs_sql(dialect, threshold)}) _p),
docs AS (SELECT doc_id FROM ({(
    f"WITH {docs_aug_cte(dialect)} SELECT doc_id FROM docs_aug"
)}) _d),
edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
          UNION SELECT doc_b AS src, doc_a AS dst FROM pairs),
reach(src, dst) AS (
  SELECT doc_id AS src, doc_id AS dst FROM docs
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
labels AS (SELECT src AS doc_id, MIN(dst) AS cluster_id FROM reach GROUP BY src)"""


def near_dup_clusters_sql(dialect: str = "duckdb", threshold: float = 0.5) -> str:
    """Recursive-CTE oracle: min reachable doc_id over the same pair set."""
    return f"""
WITH RECURSIVE {clusters_ctes(dialect, threshold)}
SELECT doc_id, cluster_id, doc_id = cluster_id AS is_keeper FROM labels"""


def corpus_prep_df(spark: SparkSession, threshold: float = 0.5) -> DataFrame:
    """The end-to-end corpus-prep pipeline an LLM data team actually runs,
    composed over the docs_aug corpus: rule-based filter (Gopher/C4-style
    signals) -> near-dup cluster KEEPERS (LSH -> Jaccard -> connected
    components) -> deterministic stratified sample. One row per surviving
    doc: (doc_id, lang, cluster_id, n_words, bucket).

    Scale shape: the signal projection is pure codegen over the corpus
    scan and joins the component label table directly — a local table
    from the one bounded pair collect, or past PAIR_COLLECT_CAP the
    distributed labels, hash-partitioned on doc_id; the sample is a hash
    filter."""
    from .analysis import corpus_keep_sql

    sig = spark.sql(
        f"WITH {docs_aug_cte('spark')} {corpus_keep_sql('spark', 'docs_aug')}"
    )
    labels = _component_labels(*_near_dup_graph(spark, threshold))
    return (
        _with_clusters(sig, labels)
        .filter(
            F.col("keep_rules")
            & F.col("is_keeper")
            & (F.col("bucket") < F.col("rate_permille"))
        )
        .select("doc_id", "lang", "cluster_id", "n_words", "bucket")
    )


def corpus_prep_sql(dialect: str = "duckdb", threshold: float = 0.5) -> str:
    """Single-statement oracle for corpus_prep_df: recursive-closure labels
    joined to the same keep-signal projection, filtered identically."""
    from .analysis import corpus_keep_sql

    return f"""
WITH RECURSIVE {clusters_ctes(dialect, threshold)},
{docs_aug_cte(dialect)},
ks AS ({corpus_keep_sql(dialect, 'docs_aug')})
SELECT k.doc_id, k.lang, l.cluster_id, k.n_words, k.bucket
FROM ks k JOIN labels l ON k.doc_id = l.doc_id
WHERE k.keep_rules AND l.doc_id = l.cluster_id AND k.bucket < k.rate_permille"""
