"""ANN operators: recall bound for LSH top-k vs brute force on
clustered data, IVF cell assignment sanity (functions/similarity.py).

The driver's synthetic embeddings are near-uniform (top-10 cosine ≈
0.3, hyperplane collision p ≈ 0.6/bit), where sub-linear ANN is
information-theoretically useless — so the recall bound is pinned on
PLANTED clustered data (the near-duplicate regime ANN exists for),
and the uniform table gets a candidate-correctness check instead.
"""

import math
import random

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from fsharp_dataframe_spark.sources.parquet import load_table
from fsharp_dataframe_spark.functions.similarity import (
    brute_force_topk, ivf_assign, lsh_topk,
)

SF = "/root/testdata/sf0.01"
DIM = 32


def _clustered(spark, n_clusters=20, per_cluster=25, noise=0.15, seed=11):
    """Deterministic clustered vectors: center + small noise, cosine
    within a cluster ≈ 0.95+."""
    rng = random.Random(seed)
    rows = []
    vid = 0
    for c in range(n_clusters):
        center = [rng.gauss(0, 1) for _ in range(DIM)]
        nrm = math.sqrt(sum(x * x for x in center))
        center = [x / nrm for x in center]
        for _ in range(per_cluster):
            v = [x + rng.gauss(0, noise / math.sqrt(DIM)) for x in center]
            rows.append((vid, c, v))
            vid += 1
    return spark.createDataFrame(rows, "vec_id int, cluster int, embedding array<double>"), rows


def test_lsh_topk_recall_on_clustered_data(spark):
    df, rows = _clustered(spark)
    df = df.cache()
    # query = first vector of cluster 3, excluded from the corpus
    qvec = rows[3 * 25][2]
    corpus = df.filter(F.col("vec_id") != 3 * 25)
    exact = {r["vec_id"] for r in brute_force_topk(corpus, qvec, k=10).collect()}
    approx = {r["vec_id"] for r in lsh_topk(corpus, qvec, k=10).collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.9, f"recall@10 = {recall}"


def test_lsh_candidates_carry_exact_scores(spark):
    # every id LSH returns must carry the same exact cosine the
    # brute-force path computes (the rescore is exact, only the
    # candidate set is approximate)
    emb = load_table(spark, SF, "embeddings").cache()
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    others = emb.filter(F.col("vec_id") != 0)
    exact = {r["vec_id"]: r["cosine_sim"]
             for r in brute_force_topk(others, qvec, k=500).collect()}
    got = lsh_topk(others, qvec, k=20).collect()
    # candidate count is data-dependent (uniform data collides rarely);
    # what must hold is non-emptiness and exact rescoring
    assert len(got) >= 1
    for r in got:
        assert r["cosine_sim"] == exact[r["vec_id"]]


def test_cosine_near_dup_cascade_recall(spark):
    # scale-path cascade (LSH buckets -> exact cosine verify) must
    # recover >= 90% of the exact near-dup pairs on clustered data,
    # with identical cosine values on the pairs it finds
    from fsharp_dataframe_spark.functions.similarity import (
        cosine_near_dup_pairs, cosine_pairs_exact,
    )

    df, _ = _clustered(spark, n_clusters=10, per_cluster=10)
    df = df.cache()
    exact = {(r["id_a"], r["id_b"]): r["cosine_sim"]
             for r in cosine_pairs_exact(df, threshold=0.9).collect()}
    casc = {(r["id_a"], r["id_b"]): r["cosine_sim"]
            for r in cosine_near_dup_pairs(df, threshold=0.9).collect()}
    assert set(casc) <= set(exact)
    for k, v in casc.items():
        assert exact[k] == v
    assert exact, "clustered data must contain near-dup pairs"
    recall = len(casc) / len(exact)
    assert recall >= 0.9, f"cascade recall {recall}"


def test_null_and_ragged_vectors_dont_kill_tasks(spark):
    # NULL embeddings (None rows) and wrong-length vectors made the
    # Arrow UDFs' np.stack throw, failing whole tasks; they must instead
    # score/bucket NULL and drop out of the results, like the Column
    # expressions they replaced
    from fsharp_dataframe_spark.functions.similarity import (
        cosine_near_dup_pairs, dot_batch, lsh_buckets_all,
    )

    df, rows = _clustered(spark, n_clusters=6, per_cluster=8)
    dirty = df.unionByName(spark.createDataFrame(
        [(900, -1, None), (901, -1, [1.0, 2.0])],
        "vec_id int, cluster int, embedding array<double>"))
    # bucketing: clean vectors keep their buckets, dirty rows get NULL
    b = dirty.select("vec_id", lsh_buckets_all(
        F.col("embedding"), DIM, 8, 2).alias("bk")).collect()
    by_id = {r["vec_id"]: r["bk"] for r in b}
    assert by_id[900] is None and by_id[901] is None
    assert all(v is not None for k, v in by_id.items() if k < 900)
    # pair scoring: NULL/ragged sides score NULL (dropped by threshold)
    p = dirty.alias("x").crossJoin(dirty.alias("y")).select(
        F.col("x.vec_id").alias("ia"), F.col("y.vec_id").alias("ib"),
        dot_batch(F.col("x.embedding"), F.col("y.embedding")).alias("d"))
    nulls = {(r["ia"], r["ib"]) for r in p.filter(F.col("d").isNull()).collect()}
    assert all(900 in pr or 901 in pr for pr in nulls)
    assert any(900 in pr for pr in nulls)
    # end-to-end cascade on the dirty corpus: runs, and never pairs 900/901
    out = cosine_near_dup_pairs(dirty, threshold=0.9).collect()
    assert out, "clean near-dup pairs must survive"
    assert all(r["id_a"] not in (900, 901) and r["id_b"] not in (900, 901)
               for r in out)


def test_ivf_topk_recall_on_clustered_data(spark):
    # centroids = the true cluster centers' first members; probing the
    # query's cell must recover the brute-force top-k (same cluster)
    df, rows = _clustered(spark)
    df = df.cache()
    cents = [rows[c * 25][2] for c in range(20)]
    qvec = rows[5 * 25][2]
    corpus = df.filter(F.col("vec_id") != 5 * 25)
    exact = {r["vec_id"] for r in brute_force_topk(corpus, qvec, k=10).collect()}
    from fsharp_dataframe_spark.functions.similarity import ivf_topk

    approx = {r["vec_id"] for r in ivf_topk(corpus, cents, qvec, k=10, n_probe=2).collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.9, f"ivf recall@10 = {recall}"


def test_ivf_assign_self_cells(spark):
    # a centroid's own vector must land in its own cell (cos=1)
    emb = load_table(spark, SF, "embeddings")
    cents = [
        [float(x) for x in r["embedding"]]
        for r in emb.filter(F.col("vec_id") < 8).orderBy("vec_id").collect()
    ]
    out = ivf_assign(emb, cents)
    own = out.filter(F.col("vec_id") < 8).orderBy("vec_id").collect()
    assert [r["ivf_cell"] for r in own] == list(range(8))
    # every vector is assigned to a valid cell
    n_bad = out.filter((F.col("ivf_cell") < 0) | (F.col("ivf_cell") >= 8)).count()
    assert n_bad == 0


def test_lsh_params_for_model(spark):
    from fsharp_dataframe_spark.functions.similarity import lsh_params_for

    # bucket budget drives n_bits: 1M vectors / 256-per-bucket needs 12 bits
    n_bits, n_tables = lsh_params_for(0.9, 1_000_000, 0.9, 256)
    assert n_bits == 12
    # the miss bound actually holds under the collision model
    p_bit = 1 - math.acos(0.9) / math.pi
    assert (1 - p_bit ** n_bits) ** n_tables <= 0.1
    # tiny corpora degenerate gracefully (>=1 bit, >=1 table)
    assert lsh_params_for(0.99, 10, 0.5, 256) >= (1, 1)
    # wider angle (lower threshold) needs MORE tables at the same bits
    _, t_loose = lsh_params_for(0.5, 1_000_000, 0.9, 256)
    assert t_loose > n_tables


def test_near_dup_lsh_driver_query_recall_on_real_table(spark):
    """The driver query is ORACLE-EXACT since r5: at its
    target_recall=0.999 parameterization the cascade recovers EVERY
    exact-tier pair on the real embeddings table (the deterministic
    hash family makes this a fixed fact), with bit-identical values —
    the contract that lets the driver compare it against the exact
    SQL oracle, turning a recall regression into a hash failure."""
    import __spark_entry__ as em
    from fsharp_dataframe_spark.functions.similarity import cosine_pairs_exact

    emb = load_table(spark, SF, "embeddings")
    exact = {(r["id_a"], r["id_b"]): r["cosine_sim"]
             for r in cosine_pairs_exact(emb, threshold=0.4).collect()}
    casc = {(r["id_a"], r["id_b"]): r["cosine_sim"]
            for r in em._all_queries()["embed_near_dup_lsh"](spark, SF).collect()}
    assert casc == exact


def test_kmeans_fit_recovers_planted_blobs(spark):
    import numpy as np

    from fsharp_dataframe_spark.functions.similarity import ivf_assign, kmeans_fit

    rng = np.random.default_rng(7)
    blobs = [np.array([10.0, 0.0, 0.0]), np.array([0.0, 10.0, 0.0]),
             np.array([0.0, 0.0, 10.0])]
    rows = []
    for i in range(90):
        c = blobs[i % 3] + rng.normal(0, 0.1, 3)
        rows.append((i, [float(x) for x in c]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = kmeans_fit(df, k=3, max_iter=8)
    # every trained centroid points at one blob (cosine > 0.99), and
    # the three blobs are each claimed by exactly one centroid
    def cos(a, b):
        a, b = np.asarray(a), np.asarray(b)
        return float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))
    claimed = {int(np.argmax([cos(c, b) for b in blobs])) for c in cents}
    assert claimed == {0, 1, 2}
    assert all(max(cos(c, b) for b in blobs) > 0.99 for c in cents)
    # assignment agrees with blob membership (cells are a relabeling)
    got = {r["vec_id"]: r["ivf_cell"]
           for r in ivf_assign(df, cents).select("vec_id", "ivf_cell").collect()}
    for i in range(90):
        for j in range(90):
            if i % 3 == j % 3:
                assert got[i] == got[j]


def test_kmeans_fit_deterministic_and_empty_cell_safe(spark):
    from fsharp_dataframe_spark.functions.similarity import kmeans_fit

    # k=4 over 3 tight blobs -> at least one cell may go empty; its
    # centroid must survive (inherit previous), and training must be
    # reproducible run-to-run
    rows = [(i, [float(i % 3 == 0), float(i % 3 == 1), float(i % 3 == 2)])
            for i in range(30)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    c1 = kmeans_fit(df, k=4, max_iter=3)
    c2 = kmeans_fit(df, k=4, max_iter=3)
    assert c1 == c2
    assert len(c1) == 4 and all(len(c) == 3 for c in c1)


def test_near_dup_string_ids_take_join_path_with_same_results(spark):
    # ADVICE r4: the broadcast verify path casts ids to long, so a
    # string id column would lookup-miss every vector and silently drop
    # all pairs.  Non-integral ids must route to the join path and
    # return the SAME pairs/cosines as integral ids, with the id dtype
    # preserved.
    from fsharp_dataframe_spark.functions.similarity import cosine_near_dup_pairs

    df, _ = _clustered(spark, n_clusters=6, per_cluster=8)
    df = df.cache()
    by_int = {(r["id_a"], r["id_b"]): r["cosine_sim"]
              for r in cosine_near_dup_pairs(df, threshold=0.9).collect()}
    sdf = df.select(F.concat(F.lit("doc-"), F.col("vec_id").cast("string"))
                    .alias("vec_id"), "embedding")
    out = cosine_near_dup_pairs(sdf, threshold=0.9)
    assert dict(out.dtypes)["id_a"] == "string"
    by_str = {(r["id_a"], r["id_b"]): r["cosine_sim"] for r in out.collect()}
    # map string pairs back: ordering differs ("doc-10" < "doc-9"), so
    # compare as unordered pairs
    canon_int = {frozenset(k): v for k, v in by_int.items()}
    canon_str = {frozenset(int(x.removeprefix("doc-")) for x in k): v
                 for k, v in by_str.items()}
    assert canon_int == canon_str
    assert canon_int, "clustered data must contain near-dup pairs"


def test_near_dup_broadcast_path_preserves_id_dtype(spark):
    # both sides of the 128MB broadcast gate must return identical
    # schemas: int input ids come back int (not widened to long)
    from fsharp_dataframe_spark.functions.similarity import cosine_near_dup_pairs

    df, _ = _clustered(spark, n_clusters=4, per_cluster=6)
    small = cosine_near_dup_pairs(df, threshold=0.9)          # broadcast path
    forced = cosine_near_dup_pairs(df, threshold=0.9,
                                   broadcast_budget_bytes=0)  # join path
    assert dict(small.dtypes)["id_a"] == "int"
    assert dict(small.dtypes) == dict(forced.dtypes)


def test_knn_join_exact_matches_per_query_topk(spark):
    # the self-join's per-vector neighbor lists must equal running the
    # single-query brute force per vector (same rounding + tiebreak)
    from fsharp_dataframe_spark.functions.similarity import (
        brute_force_topk, knn_join_exact,
    )

    df, rows = _clustered(spark, n_clusters=4, per_cluster=6)
    df = df.cache()
    out = knn_join_exact(df, k=3)
    got = {}
    for r in out.collect():
        got.setdefault(r["vec_id"], []).append((r["cosine_sim"], r["nbr_id"]))
    assert set(got) == {r[0] for r in rows}
    for vid in [0, 7, 23]:
        qvec = rows[vid][2]
        corpus = df.filter(F.col("vec_id") != vid)
        exp = [(r["cosine_sim"], r["vec_id"])
               for r in brute_force_topk(corpus, qvec, k=3).collect()]
        assert sorted(got[vid], key=lambda t: (-t[0], t[1])) == exp, vid


def test_ivf_knn_join_recall_on_clustered_data(spark):
    # cell-blocked ANN join: on clustered data (the regime IVF exists
    # for) the probed neighbor lists must recover >=90% of the exact
    # ones, and every emitted cosine must equal the exact rescore
    from fsharp_dataframe_spark.functions.similarity import (
        ivf_knn_join, kmeans_fit, knn_join_exact,
    )

    df, _ = _clustered(spark, n_clusters=8, per_cluster=12)
    df = df.cache()
    cents = kmeans_fit(df, k=8, max_iter=3)
    exact = {(r["vec_id"], r["nbr_id"]): r["cosine_sim"]
             for r in knn_join_exact(df, k=3).collect()}
    approx = {(r["vec_id"], r["nbr_id"]): r["cosine_sim"]
              for r in ivf_knn_join(df, cents, k=3, n_probe=2).collect()}
    for k_, v in approx.items():
        if k_ in exact:
            assert exact[k_] == v
    recall = len(set(exact) & set(approx)) / len(exact)
    assert recall >= 0.9, f"ivf knn recall {recall}"


def test_semantic_dedup_transitivity_and_cell_blocking(spark):
    """SemDeDup contract: same-cell cosine>=t pairs chain transitively
    to one min-id survivor; cross-cell near-dups are NOT merged (the
    cell blocking is part of the contract)."""
    from fsharp_dataframe_spark.functions.similarity import semantic_dedup
    from fsharp_dataframe_spark.functions.util import release_cached

    # two seed centroids on orthogonal axes; e = small cross-axis noise
    cents = [[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0]]
    rows = [
        # cell 0: 10 ~ 11 ~ 12 chain (10-12 alone are below threshold
        # only pairwise-adjacent? keep them all >= 0.99 -> one cluster)
        (10, [1.0, 0.0, 0.0, 0.0]),
        (11, [1.0, 0.01, 0.0, 0.0]),
        (12, [1.0, 0.02, 0.0, 0.0]),
        # cell 0 singleton: same cell, low cosine to the chain
        (13, [1.0, 0.9, 0.0, 0.0]),   # still nearer axis-0
        # cell 1: near-identical PAIR
        (20, [0.0, 1.0, 0.01, 0.0]),
        (21, [0.0, 1.0, 0.02, 0.0]),
        # cross-cell near-dup of 13 by cosine, but lands in cell 1 ->
        # must NOT merge with 13
        (22, [0.9, 1.0, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = semantic_dedup(df, cents, threshold=0.99)
    got = {r["vec_id"]: (r["sem_cell"], r["cluster_id"], r["cluster_size"],
                         r["is_canonical"]) for r in out.collect()}
    release_cached()
    assert got[10] == (0, 10, 3, True)
    assert got[11] == (0, 10, 3, False)
    assert got[12] == (0, 10, 3, False)
    assert got[13][1] == 13 and got[13][2] == 1   # same cell, not similar
    assert got[20] == (1, 20, 2, True)
    assert got[21] == (1, 20, 2, False)
    # 22 is cosine~0.95 to 13 but different cell: stays its own cluster
    assert got[22][0] == 1 and got[22][1] == 22 and got[22][3] is True


def test_random_projection_matches_reference_and_preserves_geometry(spark):
    """Projection == the driver-side numpy reference exactly; and the
    JL guarantee holds loosely on clustered data (within-cluster
    cosines stay high after 32 -> 8 reduction)."""
    import numpy as np

    from fsharp_dataframe_spark.functions.similarity import (
        _hyperplane_weights, random_projection,
    )

    df, rows = _clustered(spark, n_clusters=4, per_cluster=5)
    out = {r["vec_id"]: list(r["projected"])
           for r in random_projection(df, out_dim=8, dim=DIM, seed=0).collect()}
    planes = np.array([_hyperplane_weights(0, j, DIM) for j in range(8)]).T
    for vid, _c, v in rows:
        ref = np.zeros(8)
        for k in range(DIM):
            ref += np.asarray(v)[k] * planes[k]
        ref = ref / (8 ** 0.5)
        assert np.allclose(out[vid], ref, rtol=0, atol=0), vid
    # geometry: same-cluster pairs keep cosine > cross-cluster pairs
    def cos(a, b):
        a, b = np.asarray(a), np.asarray(b)
        return float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))
    same = cos(out[0], out[1])
    cross = cos(out[0], out[5])
    assert same > 0.7 and same > cross


def test_ivf_index_round_trip_and_partition_pruning(spark, tmp_path):
    """The persisted IVF layout must (a) return bit-identical results
    to the direct ivf_topk on the same centroids, and (b) plan the
    probe as PARTITION pruning — unprobed cell directories are never
    read (the 100 TB contract the ivf_topk docstring promises)."""
    from fsharp_dataframe_spark.functions.similarity import (
        build_ivf_index, ivf_topk, ivf_topk_indexed,
    )

    emb = load_table(spark, SF, "embeddings")
    cents = [
        [float(x) for x in r["embedding"]]
        for r in emb.filter(F.col("vec_id") < 8).orderBy("vec_id").collect()
    ]
    path = str(tmp_path / "ivf_index")
    build_ivf_index(emb, path, centroids=cents)

    q = cents[3]
    direct = [(r["vec_id"], r["cosine_sim"])
              for r in ivf_topk(emb, cents, q, k=15).collect()]
    indexed_df = ivf_topk_indexed(spark, path, q, k=15)
    indexed = [(r["vec_id"], r["cosine_sim"]) for r in indexed_df.collect()]
    assert indexed == direct and len(indexed) == 15

    plan = indexed_df._jdf.queryExecution().executedPlan().toString()
    # the probe filter reaches the scan as a PartitionFilter (pruning),
    # and the top-k is per-partition heaps, not a global sort
    assert "PartitionFilters: [" in plan and "ivf_cell" in plan.split(
        "PartitionFilters:")[1][:200]
    assert "TakeOrderedAndProject" in plan


def test_broadcast_and_join_verify_paths_agree(spark):
    """The broadcast verify (candidates deduped before it,
    searchsorted id lookup) must return exactly the join path's rows — self and directional cascades, the exact tier and the
    k-NN self-join, including on a corpus with NULL/ragged vectors."""
    from fsharp_dataframe_spark.functions.similarity import (
        cosine_near_dup_pairs, cosine_pairs_exact,
        cross_cosine_near_dup_pairs, knn_join_exact,
    )

    df, _ = _clustered(spark, n_clusters=8, per_cluster=10)
    dirty = df.unionByName(spark.createDataFrame(
        [(900, -1, None), (901, -1, [1.0, 2.0])],
        "vec_id int, cluster int, embedding array<double>")).cache()

    def rows(out):
        return sorted((r["id_a"] if "id_a" in r.__fields__ else r["new_id"],
                       r["id_b"] if "id_b" in r.__fields__ else r["old_id"],
                       r["cosine_sim"]) for r in out.collect())

    bcast = rows(cosine_near_dup_pairs(dirty, threshold=0.9))
    joined = rows(cosine_near_dup_pairs(dirty, threshold=0.9,
                                        broadcast_budget_bytes=0))
    assert bcast == joined and bcast

    new = dirty.filter(F.col("vec_id") % 5 == 4)
    old = dirty.filter(F.col("vec_id") % 5 != 4)
    n_total = dirty.count()
    xb = rows(cross_cosine_near_dup_pairs(new, old, threshold=0.9,
                                          total_vectors=n_total))
    xj = rows(cross_cosine_near_dup_pairs(new, old, threshold=0.9))
    assert xb == xj and xb

    eb = rows(cosine_pairs_exact(dirty, threshold=0.9))
    ej = rows(cosine_pairs_exact(dirty, threshold=0.9,
                                 broadcast_budget_bytes=0))
    assert eb == ej and eb

    kb = sorted(tuple(r) for r in knn_join_exact(dirty, k=3).collect())
    kj = sorted(tuple(r) for r in knn_join_exact(
        dirty, k=3, broadcast_budget_bytes=0).collect())
    assert kb == kj and kb


SETTINGS = dict(max_examples=8, deadline=None, derandomize=True,
                suppress_health_check=[HealthCheck.function_scoped_fixture])

# Near ties: the first three rows of _TIES point the same way; the
# fourth is 1e-6 off, so its cosines differ from theirs unrounded but
# round to the same 4 decimals.
_TIES = [[1.0, 2.0, 2.0], [1.0, 2.0, 2.0], [2.0, 4.0, 4.0],
         [1.0, 2.0, 2.000001], [0.0, 1.0, -1.0]]
VECTORS = st.one_of(
    st.sampled_from(_TIES),
    st.lists(st.integers(-2, 2).map(float), min_size=3, max_size=3),
    st.just([0.0, 0.0, 0.0]),          # zero norm
    st.none(),
    st.just([1.0, 1.0]),               # ragged, equal length
)
# (vector, label, in the new batch)
CORPUS = st.lists(st.tuples(VECTORS, st.sampled_from([None, 0, 1]),
                            st.booleans()), max_size=12)
_ADVERSARIAL = ([(None, 0, True), ([0.0, 0.0, 0.0], 1, True),
                 ([1.0, 1.0], 0, True), ([1.0, 1.0], 1, False)]
                + [(v, i % 2 or None, i % 2 == 0)
                   for i, v in enumerate(_TIES)]
                + [([0.0, 0.0, 0.0], 0, False), ([1.0, -1.0, 0.0], 1, False)])


def _ids(n, id_type):
    # long ids straddle ±2^62 so a lossy cast or overflow would show
    if id_type == "long":
        return [(-1) ** i * (2 ** 62 - i) for i in range(n)]
    return [7 * i - 20 for i in range(n)]


# every example runs eight Spark queries, so fewer generated examples
# than SETTINGS; the explicit ones hold every adversarial case
@given(corpus=CORPUS, id_type=st.sampled_from(["int", "long"]))
@example(corpus=_ADVERSARIAL, id_type="long")
@example(corpus=[], id_type="int")
@settings(**{**SETTINGS, "max_examples": 3})
def test_broadcast_path_equals_join_path(spark, corpus, id_type):
    """Both sides of the size gate return the same rows for all four
    gated tiers, under the session's ANSI default: zero-norm, NULL and
    equal-length ragged vectors never score, empty sides give empty
    results, rounding and the k-NN tiebreak agree at near ties, and
    NULL labels never mine or serve (the label mask runs with long
    ids)."""
    from fsharp_dataframe_spark.functions.similarity import (
        cosine_near_dup_pairs, cosine_pairs_exact,
        cross_cosine_near_dup_pairs, knn_join_exact,
    )

    schema = f"vec_id {id_type}, embedding array<double>, label int"
    rows = [(i, v, lb) for i, (v, lb, _) in
            zip(_ids(len(corpus), id_type), corpus)]
    is_new = [c[2] for c in corpus]
    df = spark.createDataFrame(rows, schema)
    new = spark.createDataFrame(
        [r for r, f in zip(rows, is_new) if f], schema)
    old = spark.createDataFrame(
        [r for r, f in zip(rows, is_new) if not f], schema)

    def same(fn, *args, **kw):
        b = sorted(tuple(r) for r in fn(*args, **kw).collect())
        kw.setdefault("broadcast_budget_bytes", 0)
        kw.pop("total_vectors", None)
        j = sorted(tuple(r) for r in fn(*args, **kw).collect())
        assert b == j, (fn.__name__, b, j)

    n = len(rows)
    label = "label" if id_type == "long" else None
    same(cosine_pairs_exact, df, threshold=0.5, n_vectors=n)
    same(knn_join_exact, df, k=2, neq_label_col=label, n_vectors=n)
    same(cosine_near_dup_pairs, df, threshold=0.5, n_bits=1, n_tables=1,
         n_vectors=n)
    same(cross_cosine_near_dup_pairs, new, old, threshold=0.5, dim=3,
         n_bits=1, n_tables=2, total_vectors=n)


def test_broadcast_path_rejects_duplicate_ids(spark):
    from fsharp_dataframe_spark.functions.similarity import (
        cosine_near_dup_pairs, cosine_pairs_exact,
        cross_cosine_near_dup_pairs, knn_join_exact,
    )

    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (1, [0.9, 0.1]), (2, [0.0, 1.0])],
        "vec_id long, embedding array<double>")
    for fn in (cosine_pairs_exact, knn_join_exact, cosine_near_dup_pairs):
        with pytest.raises(ValueError, match="vec_id 1 appears more than once"):
            fn(df)
    with pytest.raises(ValueError, match="vec_id 1"):
        cross_cosine_near_dup_pairs(df.limit(1), df, total_vectors=4)


def test_zero_vector_never_in_topk(spark):
    """cosine() is NULL, not DIVIDE_BY_ZERO under ANSI, for a zero
    vector, and the single-query tiers never return it."""
    from fsharp_dataframe_spark.functions.similarity import (
        ivf_knn_join, ivf_topk,
    )

    df, rows = _clustered(spark, n_clusters=4, per_cluster=5)
    dirty = df.unionByName(spark.createDataFrame(
        [(999, -1, [0.0] * DIM)], "vec_id int, cluster int, embedding array<double>"))
    q = rows[0][2]
    cents = [rows[c * 5][2] for c in range(4)]
    n = len(rows) + 1
    assert ivf_assign(dirty, cents).where("vec_id = 999").first()["ivf_cell"] is None
    for out in (brute_force_topk(dirty, q, k=n), lsh_topk(dirty, q, k=n),
                ivf_topk(dirty, cents, q, k=n, n_probe=4)):
        got = [r["vec_id"] for r in out.collect()]
        assert got and 999 not in got
    knn = ivf_knn_join(dirty, cents, k=n, n_probe=4).collect()
    assert knn and all(999 not in (r["vec_id"], r["nbr_id"]) for r in knn)


def test_single_table_lsh(spark):
    """lsh_params_for sizes one table for small or tight inputs; one
    table must bucket like table 0 of two, and the cascade must run."""
    from fsharp_dataframe_spark.functions.similarity import (
        cosine_near_dup_pairs, lsh_buckets_all, lsh_params_for,
    )

    df, _ = _clustered(spark, n_clusters=4, per_cluster=6)
    one = df.select("vec_id", lsh_buckets_all(F.col("embedding"), DIM, 8, 1)
                    .alias("b")).collect()
    two = {r["vec_id"]: r["b"] for r in df.select(
        "vec_id", lsh_buckets_all(F.col("embedding"), DIM, 8, 2)
        .alias("b")).collect()}
    assert all(list(r["b"]) == [two[r["vec_id"]][0]] for r in one)
    assert lsh_params_for(0.99, 10, 0.5) == (1, 1)
    assert lsh_params_for(0.95, 1000, 0.5) == (2, 1)
    for n_bits, n_tables in (lsh_params_for(0.99, 10, 0.5),
                             lsh_params_for(0.95, 1000, 0.5)):
        out = cosine_near_dup_pairs(df, threshold=0.9, n_bits=n_bits,
                                    n_tables=n_tables).collect()
        assert out
