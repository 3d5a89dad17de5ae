"""Distributed graph helpers for the dedup pipeline.

The reference library has no graph operators; this module exists for
the training-data use case the near-duplicate detectors feed: pair
lists (from minhash_lsh_pairs / simhash_pairs / cosine_near_dup_pairs
/ ngram_jaccard_pairs) are EDGES, and "keep one document per duplicate
group" needs the connected components of that graph, not just the
pairs.  Transitivity matters: if A~B and B~C, dropping "the larger of
each pair" keeps A and C even though they may be mutual near-dups
through B — component-wise canonicalization is the correct endpoint.

Algorithm: alternating large-star / small-star contraction (Kiveris,
Lattanzi, Mirrokni, Rastogi, Vassilvitskii, "Connected Components in
MapReduce and Beyond", SoCC 2014) — the shuffle-native formulation:
it converges in O(log^2 n) rounds (2-4 in practice for near-dup
graphs, whose components are shallow), and never collects the edge
set to the driver.  That is the property that matters at 100 TB:
label-propagation needs diameter rounds (a pathological dup-chain
makes that O(n)), and a driver-side union-find needs all edges on one
machine; star contraction needs neither.

Round shape: each star is ONE window aggregate over ONE exchange on
the node key (large-star: min neighbour per node over both edge
directions; small-star: min smaller neighbour per node, both emitted
edges from one explode), then the small-star's dropDuplicates — three
exchanges per round, and the round's convergence signature is
observed on the eager checkpoint that materializes it (no separate
aggregate job).  Trade-off: a window keeps a node's whole
neighbourhood in one task, so a hub node of degree d — including the
root of a component that has contracted to a star — is one task
sorting d rows, where a groupBy (partial min) + join shape lets AQE's
skew-join handling split the hub's join across tasks.  Near-dup
components are small, so the saved exchanges win; a graph with
million-degree hubs is where the window's single task becomes the
straggler.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, functions as F


# The round bodies are rendered as SQL text: every Column-API node
# costs py4j round-trips, and the contraction rebuilds the same
# expressions every round.  The parsed plans equal the Column-built
# ones.

def _canon(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Undirected edge set, canonical (hi > lo), self-loops dropped."""
    return (edges.select(F.col(src).cast("long").alias("a"),
                         F.col(dst).cast("long").alias("b"))
            .where("a IS NOT NULL AND b IS NOT NULL AND a != b")
            .selectExpr("greatest(a, b) AS hi", "least(a, b) AS lo")
            .dropDuplicates())


def _large_star(e: DataFrame) -> DataFrame:
    # directed both ways; for each u: m = min(neighbors ∪ {u}); connect
    # every LARGER neighbor v to m.  (v > u >= m, so output is canonical
    # and self-loop-free by construction.)  The min is a window over
    # partitionBy(u): one exchange, no aggregate-then-join-back.
    # No dropDuplicates here: the only consumer is _small_star, whose
    # window min is duplicate-insensitive and whose own output dedup
    # bounds the round — ≤deg(u) transient duplicate edges instead of
    # one more shuffle per round.
    return (e.selectExpr("hi AS u", "lo AS v")
            .union(e.selectExpr("lo AS u", "hi AS v"))
            .selectExpr("u", "v", "least(min(v) OVER (PARTITION BY u), u) AS m")
            .where("v > u")
            .selectExpr("v AS hi", "m AS lo"))


def _small_star(e: DataFrame) -> DataFrame:
    # canonical (hi, lo) already points large → small; for each hi:
    # m = min of its smaller neighbors; connect hi and every non-min
    # smaller neighbor to m.  Both emitted edges come from one explode
    # over the window's rows (hi > lo >= m, so only lo can equal m).
    return (e.selectExpr("hi", "lo", "min(lo) OVER (PARTITION BY hi) AS m")
            .selectExpr("explode(array(hi, lo)) AS node", "m")
            .where("node != m")
            .selectExpr("node AS hi", "m AS lo")
            .dropDuplicates())


def _checkpoint(e: DataFrame) -> tuple[DataFrame, tuple[int, int]]:
    """Eager local checkpoint of an edge set, plus its signature
    (count, bit_xor(xxhash64(hi, lo))) observed on the checkpoint's own
    job — no second aggregate job.  bit_xor is order-free and
    overflow-free under ANSI mode (a sum() of xxhash64 values throws
    ARITHMETIC_OVERFLOW); edges are distinct post-dropDuplicates, so
    xor-cancellation of repeated rows cannot happen."""
    obs = Observation()
    cp = e.observe(obs, F.expr("count(1) AS n"),
                   F.expr("coalesce(bit_xor(xxhash64(hi, lo)), 0) AS h")
                   ).localCheckpoint(eager=True)
    r = obs.get
    return cp, (r["n"], r["h"])


def _union_find_components(e: DataFrame) -> DataFrame:
    """Driver-side union-find over a COUNT-GATED canonical edge set —
    the small-graph fast path of connected_components.  The star
    contraction pays O(rounds) of job+shuffle latency regardless of
    data size (measured 2-3 s for a 256-edge dup graph on local[32]:
    pure scheduler overhead, zero compute); below the gate a collect
    of <= ~1.6 MB of edge longs plus path-compressed union-find is
    exact, label-identical (component = min reachable id) and
    O(E α(E)).  This is the repo's guarded-materializer discipline
    (smallness-guarded transpose, sizeInBytes broadcast gates) — the
    caller's gate bounds the collect, and the contraction remains the
    path that runs at any real scale."""
    rows = e.collect()
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        r = x
        while parent.get(r, r) != r:
            r = parent[r]
        while parent.get(x, x) != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for row in rows:
        a, b = find(int(row["hi"])), find(int(row["lo"]))
        if a != b:
            # union by id: smaller id becomes the root, so the final
            # root of every set IS its minimum member and component
            # labels match the contraction's min-reachable-id contract
            if a < b:
                parent[b] = a
            else:
                parent[a] = b
    nodes = {int(r["hi"]) for r in rows} | {int(r["lo"]) for r in rows}
    out = [(n, find(n)) for n in sorted(nodes)]
    return e.sparkSession.createDataFrame(
        out, schema="node BIGINT, component BIGINT")


def connected_components(edges: DataFrame, src: str = "src", dst: str = "dst",
                         max_iter: int = 30,
                         small_graph_max_edges: int = 100_000) -> DataFrame:
    """Connected components of an undirected graph given as an edge list.

    Returns (node BIGINT, component BIGINT) for every node that appears
    in `edges`, where component = the smallest node id reachable from
    it.  Nodes with no edges simply don't appear — callers wanting
    singleton components left-join and coalesce to the node id (see
    duplicate_clusters).

    Scale shape: each round is a large-star and a small-star, each one
    window min over one exchange on the node key, then the small-star's
    dropDuplicates — three exchanges per round, no aggregate joined
    back.  Lineage is cut with an eager localCheckpoint per round so
    the plan stays O(1) deep across iterations — on a real cluster with
    fault-tolerance requirements, point SparkContext.setCheckpointDir
    at durable storage and swap localCheckpoint for checkpoint.
    Convergence compares edge sets by (count, bit_xor(xxhash64)),
    observed on the checkpoint job itself (pyspark.sql.Observation):
    no extra job, no driver-side edge materialization.  Hub skew: the
    window puts a node's whole neighbourhood in one task (see the
    module docstring) — the price of the saved exchanges.

    ``small_graph_max_edges``: edge sets at or below this count (the
    count observed on the canonical-edge checkpoint) skip the
    contraction for an exact driver-side union-find with IDENTICAL
    labels — the round-trip latency of even one contraction round
    dwarfs a megabyte collect.  0/None disables the fast path.
    """
    e, prev = _checkpoint(_canon(edges, src, dst))
    if prev[0] == 0:
        return e.selectExpr("hi AS node", "lo AS component")
    # small-graph fast path: the edge COUNT is already on the driver
    # (observed on the checkpoint), so the gate is free.  Near-dup
    # graphs at test scale are hundreds of edges; the contraction's
    # per-round job latency dominates below ~10^5 edges on any
    # cluster.  Pass small_graph_max_edges=0 to force the distributed
    # path (the equivalence tests do).
    if small_graph_max_edges and prev[0] <= small_graph_max_edges:
        return _union_find_components(e)
    for _ in range(max_iter):
        e2, cur = _checkpoint(_small_star(_large_star(e)))
        e.unpersist()
        e = e2
        if cur == prev:
            break
        prev = cur
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds")
    # fixed point of small-star is a star forest: every edge is
    # (member, root); roots appear only on the lo side.
    members = e.selectExpr("hi AS node", "lo AS component")
    roots = e.selectExpr("lo AS node", "lo AS component").dropDuplicates()
    return members.union(roots)


def duplicate_clusters(docs: DataFrame, pairs: DataFrame,
                       id_col: str = "doc_id",
                       pair_cols: tuple[str, str] = ("id_a", "id_b"),
                       score_col: str | None = None) -> DataFrame:
    """Component-wise duplicate clustering: every document labelled with
    its duplicate-cluster id (= min doc id in its connected component of
    the near-dup pair graph), the cluster size, and whether it is the
    canonical survivor.  `keep one per cluster` = filter is_canonical.

    The default winner is the MIN id (cheap, deterministic).  Pass
    ``score_col`` (a column of ``docs``) to keep the BEST document per
    cluster instead — highest score, ties to the smallest id — the
    CCNet discipline of retaining the best-perplexity copy of each
    duplicate group (Wenzek et al. 2020) rather than an arbitrary one.
    The winner table is one row per cluster, so the extra cost is one
    corpus-scan aggregate plus a broadcast-sized join; the score must
    be deterministic (a rounded Column expression) for reruns to
    agree.

    NULL-score contract (pinned, not accidental): a document with a
    NULL score always loses to any scored sibling (struct ordering is
    nulls-first, so ``max(struct(score, -id))`` ranks NULL below every
    real score); a cluster whose scores are ALL NULL degrades to the
    min-id default (the NULL structs tie on score and the ``-id``
    tiebreak picks the smallest id).  Pre-coalesce the score yourself
    if missing scores should mean something else.

    Returns (id_col, cluster_id, cluster_size, is_canonical), one row
    per input document (singletons form their own cluster of size 1).
    """
    cc = connected_components(pairs, src=pair_cols[0], dst=pair_cols[1])
    sel = [F.col(id_col).cast("long").alias(id_col)]
    if score_col is not None:
        sel.append(F.col(score_col))
    asg = (docs.select(*sel)
           .join(cc, on=F.col(id_col) == F.col("node"), how="left")
           .select(id_col, *([score_col] if score_col else []),
                   F.coalesce("component", id_col).alias("cluster_id")))
    sizes = asg.groupBy("cluster_id").agg(F.count("*").alias("cluster_size"))
    # cluster cardinality is tiny relative to the corpus (one row per
    # cluster) — at scale AQE broadcasts it; the alternative window
    # over partitionBy(cluster_id) would shuffle the full corpus twice.
    if score_col is None:
        return (asg.join(sizes, "cluster_id")
                .select(id_col, "cluster_id", "cluster_size",
                        (F.col(id_col) == F.col("cluster_id")).alias("is_canonical")))
    # keep-best: max(struct(score, -id)) is a total order — highest
    # score wins, ties to the smallest id (deterministic, unlike
    # max_by under ties)
    winners = (asg.groupBy("cluster_id")
               .agg(F.max(F.struct(F.col(score_col).alias("s"),
                                   (-F.col(id_col)).alias("nid"))).alias("w"))
               .select("cluster_id",
                       (-F.col("w.nid")).cast("long").alias("keep_id")))
    return (asg.join(sizes, "cluster_id").join(winners, "cluster_id")
            .select(id_col, "cluster_id", "cluster_size",
                    (F.col(id_col) == F.col("keep_id")).alias("is_canonical")))
