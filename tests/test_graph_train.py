"""Unit tests for the round-6 layer: PQ codebook training and
integer-exact PageRank (plans/graph_train.py is oracle-gated; these
pin the operator semantics on hand-computed inputs)."""

from __future__ import annotations

from sm_etl_cloud_run_spark.operators.graph import pagerank_undirected
from sm_etl_cloud_run_spark.operators.similarity import pq_train_codebook


def test_pq_train_codebook_hand_computed(spark):
    # 4-dim vectors, 2 subspaces of width 2, 2 codewords.
    # Codeword subvectors: cw0 = ([1,0], [1,0]), cw1 = ([0,1], [0,1]).
    code_vecs = [[1.0, 0.0, 1.0, 0.0], [0.0, 1.0, 0.0, 1.0]]
    rows = [
        ([2.0, 0.0, 0.0, 3.0],),   # sub0 → cw0 (dot 2 vs 0); sub1 → cw1 (0 vs 3)
        ([4.0, 0.0, 0.0, 5.0],),   # sub0 → cw0;               sub1 → cw1
        ([0.0, 6.0, 7.0, 0.0],),   # sub0 → cw1 (0 vs 6);      sub1 → cw0 (7 vs 0)
    ]
    emb = spark.createDataFrame(rows, "embedding array<float>")
    out = pq_train_codebook(emb, code_vecs, num_subspaces=2)
    got = {
        (r["m"], r["cw"], r["pos"]): (r["centroid"], r["n"]) for r in out.collect()
    }
    # subspace 0, cw0 members: [2,0], [4,0] → mean [3,0], n=2
    assert got[(0, 0, 1)] == (3.0, 2)
    assert got[(0, 0, 2)] == (0.0, 2)
    # subspace 0, cw1 members: [0,6] → n=1
    assert got[(0, 1, 1)] == (0.0, 1)
    assert got[(0, 1, 2)] == (6.0, 1)
    # subspace 1, cw0 members: [7,0]; cw1 members: [0,3], [0,5] → mean [0,4]
    assert got[(1, 0, 1)] == (7.0, 1)
    assert got[(1, 1, 2)] == (4.0, 2)
    assert len(got) == 2 * 2 * 2


def test_pq_train_codebook_tie_breaks_to_lower_codeword(spark):
    # Equidistant from both codewords → assigned to cw 0.
    code_vecs = [[1.0, 0.0], [0.0, 1.0]]
    emb = spark.createDataFrame([([5.0, 5.0],)], "embedding array<float>")
    out = pq_train_codebook(emb, code_vecs, num_subspaces=1)
    assert {r["cw"] for r in out.collect()} == {0}


def test_pagerank_path_graph_hand_computed(spark):
    # Path a-b-c: deg(a)=deg(c)=1, deg(b)=2; n=3.
    # SCALE=1e12: pr0 = 333333333333, teleport = 49999999999 (15·pr0)//100.
    # Round 1: c(a)=c(c)=pr0, c(b)=pr0//2=166666666666.
    #   s(a)=s(c)=166666666666 → pr=49999999999+(85·166666666666)//100
    #        = 49999999999+141666666666 = 191666666665
    #   s(b)=2·333333333333 → pr=49999999999+(85·666666666666)//100
    #        = 49999999999+566666666666 = 616666666665
    pairs = spark.createDataFrame([(1, 2), (2, 3)], "id_a long, id_b long")
    out = {r["id"]: r for r in pagerank_undirected(pairs, iterations=1).collect()}
    assert out[1]["deg"] == 1 and out[2]["deg"] == 2
    assert out[1]["pr_micro"] == 191_666_666_665
    assert out[3]["pr_micro"] == 191_666_666_665
    assert out[2]["pr_micro"] == 616_666_666_665
    # total mass ≈ SCALE (truncation loses only micro-units)
    total = sum(r["pr_micro"] for r in out.values())
    assert abs(total - 1_000_000_000_000) < 100


def test_pagerank_symmetric_star_hub_dominates(spark):
    # Star: hub 0 connected to 1..4 — hub accumulates the most mass,
    # leaves stay identical (symmetry), and 2 iterations stay integral.
    pairs = spark.createDataFrame(
        [(0, i) for i in range(1, 5)], "id_a long, id_b long"
    )
    rows = {r["id"]: r for r in pagerank_undirected(pairs, iterations=2).collect()}
    leaf_prs = {rows[i]["pr_micro"] for i in range(1, 5)}
    assert len(leaf_prs) == 1
    assert rows[0]["pr_micro"] > leaf_prs.pop()
    assert rows[0]["deg"] == 4


def test_pagerank_disconnected_components_independent(spark):
    # Two disjoint edges: all four nodes symmetric → identical mass.
    pairs = spark.createDataFrame([(1, 2), (3, 4)], "id_a long, id_b long")
    prs = {r["pr_micro"] for r in pagerank_undirected(pairs, iterations=2).collect()}
    assert len(prs) == 1


def test_min_label_components_chain_and_singleton(spark):
    from sm_etl_cloud_run_spark.operators.graph import min_label_components

    nodes = spark.createDataFrame([(i,) for i in range(7)], "node long")
    # chain 0-1-2-3 (diameter 3), pair 4-5, isolated 6
    edges = spark.createDataFrame(
        [(1, 0), (1, 2), (3, 2), (4, 5)], "src long, dst long"
    )
    got = {r["node"]: r["component_rep"]
           for r in min_label_components(nodes, edges).collect()}
    assert got == {0: 0, 1: 0, 2: 0, 3: 0, 4: 4, 5: 4, 6: 6}


def test_bfs_levels_distances_and_unreachable(spark):
    from sm_etl_cloud_run_spark.operators.graph import bfs_levels

    # path 0-1-2-3, branch 1-4; island 5-6 (unreachable from 0)
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (1, 4), (5, 6)], "src long, dst long"
    )
    got = {r["node"]: r["dist"] for r in bfs_levels(edges, 0).collect()}
    assert got == {0: 0, 1: 1, 2: 2, 3: 3, 4: 2}
