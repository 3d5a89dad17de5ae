"""Connected components / duplicate clustering (functions/graph.py).

Reference implementation for equivalence: a driver-side union-find —
the thing the distributed algorithm must agree with but cannot be at
scale.
"""

import random

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from fsharp_dataframe_spark.functions.graph import (
    connected_components, duplicate_clusters,
)
from fsharp_dataframe_spark.sources.parquet import load_table

SF = "/root/testdata/sf0.001"


def _union_find(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # min-id labeling
    return {n: find(n) for n in parent}


def _cc_spark(spark, edges):
    df = spark.createDataFrame(edges, "src long, dst long")
    out = connected_components(df)
    return {r["node"]: r["component"] for r in out.collect()}


def test_cc_chain_star_singletons(spark):
    # chain (worst diameter for label propagation), star, pair, self-loop
    edges = [(1, 2), (2, 3), (3, 4), (4, 5),
             (10, 11), (10, 12), (10, 13),
             (20, 21), (30, 30)]
    got = _cc_spark(spark, edges)
    exp = _union_find([(a, b) for a, b in edges if a != b])
    assert got == exp
    assert got[5] == 1 and got[13] == 10 and got[21] == 20
    assert 30 not in got  # self-loop only: no edges -> not emitted


def test_cc_random_graphs_match_union_find(spark):
    rng = random.Random(7)
    for trial in range(3):
        n = 80
        edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(60)]
        edges = [(a, b) for a, b in edges if a != b]
        got = _cc_spark(spark, edges)
        exp = _union_find(edges)
        assert got == exp, f"trial {trial}"


def test_cc_empty(spark):
    df = spark.createDataFrame([], "src long, dst long")
    assert connected_components(df).count() == 0


def test_duplicate_clusters_keep_one(spark):
    docs = spark.createDataFrame([(i,) for i in range(8)], "doc_id long")
    pairs = spark.createDataFrame(
        [(0, 3), (3, 5), (1, 2)], "id_a long, id_b long")
    out = duplicate_clusters(docs, pairs)
    rows = {r["doc_id"]: r for r in out.collect()}
    assert rows[0]["cluster_id"] == 0 and rows[3]["cluster_id"] == 0 \
        and rows[5]["cluster_id"] == 0
    assert rows[5]["cluster_size"] == 3 and not rows[5]["is_canonical"]
    assert rows[0]["is_canonical"]
    assert rows[1]["cluster_id"] == 1 and rows[2]["cluster_id"] == 1
    for single in (4, 6, 7):
        assert rows[single]["cluster_size"] == 1 and rows[single]["is_canonical"]
    # keep-one endpoint: one survivor per cluster, count = n_clusters
    assert out.filter("is_canonical").count() == 5


def test_duplicate_clusters_transitivity_beats_pairwise_drop(spark):
    # A~B, B~C but not A~C: the naive "drop larger of each pair" keeps
    # {A, C} which may still be mutual near-dups through B; clustering
    # keeps exactly one
    docs = spark.createDataFrame([(1,), (2,), (3,)], "doc_id long")
    pairs = spark.createDataFrame([(1, 2), (2, 3)], "id_a long, id_b long")
    out = duplicate_clusters(docs, pairs)
    assert out.filter("is_canonical").count() == 1


def test_duplicate_clusters_on_real_neardup_pairs(spark):
    from fsharp_dataframe_spark.functions.dedup import ngram_jaccard_pairs

    docs = load_table(spark, SF, "documents")
    pairs = ngram_jaccard_pairs(docs, threshold=0.2).select("id_a", "id_b")
    out = duplicate_clusters(docs, pairs)
    assert out.count() == docs.count()
    uf = _union_find([(r["id_a"], r["id_b"]) for r in pairs.collect()])
    got = {r["doc_id"]: r["cluster_id"] for r in out.collect()}
    for n, c in uf.items():
        assert got[n] == c


def test_duplicate_clusters_keep_best_winner_rule(spark):
    # keep-best: the highest-score member wins even when it is not the
    # min id; ties go to the smallest id; singletons always win
    docs = spark.createDataFrame(
        [(0, 0.2), (3, 0.9), (5, 0.9), (1, 0.5), (2, 0.5), (4, 0.7)],
        "doc_id long, q double")
    pairs = spark.createDataFrame(
        [(0, 3), (3, 5), (1, 2)], "id_a long, id_b long")
    out = duplicate_clusters(docs, pairs, score_col="q")
    rows = {r["doc_id"]: r for r in out.collect()}
    # cluster {0,3,5}: 3 and 5 tie at 0.9 -> 3 wins (smaller id)
    assert rows[3]["is_canonical"] and not rows[0]["is_canonical"] \
        and not rows[5]["is_canonical"]
    # cluster {1,2}: tie at 0.5 -> 1 wins
    assert rows[1]["is_canonical"] and not rows[2]["is_canonical"]
    # singleton
    assert rows[4]["is_canonical"] and rows[4]["cluster_size"] == 1
    # cluster ids unchanged by the winner rule (still min id)
    assert rows[5]["cluster_id"] == 0
    assert out.filter("is_canonical").count() == 3


def test_cc_distributed_and_union_find_paths_agree(spark):
    """The small-graph driver union-find (default below the gate) and
    the star contraction (the 100 TB path, forced via gate=0) emit
    IDENTICAL (node, component) labels."""
    rng = random.Random(11)
    n = 120
    edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(90)]
    edges = [(a, b) for a, b in edges if a != b]
    df = spark.createDataFrame(edges, "src long, dst long")
    fast = {(r["node"], r["component"])
            for r in connected_components(df).collect()}
    dist = {(r["node"], r["component"])
            for r in connected_components(
                df, small_graph_max_edges=0).collect()}
    assert fast == dist and fast


# Scale-path property: the star contraction (forced with
# small_graph_max_edges=0) against the union-find above on adversarial
# edge lists.  Derandomized like tests/test_properties.py.
SETTINGS = dict(max_examples=8, deadline=None, derandomize=True,
                suppress_health_check=[HealthCheck.function_scoped_fixture])

LONG_MAX = 2**63 - 1
IDS = st.one_of(st.integers(-40, 40),
                st.integers(LONG_MAX - 20, LONG_MAX),
                st.integers(-LONG_MAX - 1, -LONG_MAX + 20))


@st.composite
def adversarial_edges(draw):
    """A chain, a hub star and random extras over one node set, then
    repeated and reversed copies, self-loops and NULL endpoints."""
    nodes = draw(st.lists(IDS, max_size=40, unique=True))
    cut = draw(st.integers(0, len(nodes)))
    chain, rest = nodes[:cut], nodes[cut:]
    edges = list(zip(chain, chain[1:]))
    edges += [(rest[0], leaf) for leaf in rest[1:]]
    if nodes:
        pick = st.sampled_from(nodes)
        edges += draw(st.lists(st.tuples(pick, pick), max_size=8))
    if edges:
        copies = draw(st.lists(st.sampled_from(edges), max_size=6))
        edges += copies + [(b, a) for a, b in copies]
    edges += draw(st.lists(st.tuples(st.none() | IDS, st.none()), max_size=2))
    return draw(st.permutations(edges))


def _zigzag_chain(n):
    # ids alternate far/near so no star step can shortcut the chain
    ids = [i if i % 2 else LONG_MAX - i for i in range(n)]
    return list(zip(ids, ids[1:]))


@given(edges=adversarial_edges())
@example(edges=[])
@example(edges=[(None, None), (5, 5), (7, None)])
@example(edges=_zigzag_chain(64))
@example(edges=[(0, leaf) for leaf in range(1, 80)]
         + [(LONG_MAX, -LONG_MAX - 1), (-LONG_MAX - 1, LONG_MAX)])
@settings(**SETTINGS)
def test_cc_scale_path_matches_union_find(spark, edges):
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["component"]
           for r in connected_components(df, small_graph_max_edges=0).collect()}
    exp = _union_find([(a, b) for a, b in edges
                       if a is not None and b is not None and a != b])
    assert got == exp
