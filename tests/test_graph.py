from pyspark.sql import functions as F

from sheep_spark import graph
from tests.conftest import SF_DIR, degree_pos, edges_df, random_graph


def test_symmetrize_invariants(spark):
    raw = spark.createDataFrame([(1, 2), (2, 1), (3, 3), (1, 2), (4, 1)], "a long, b long")
    sym = graph.symmetrize(raw, "a", "b")
    rows = {(r.src, r.dst) for r in sym.collect()}
    assert rows == {(1, 2), (2, 1), (1, 4), (4, 1)}


def test_degree_sequence_matches_oracle(spark):
    edges = random_graph(60, 120, seed=7)
    sym = edges_df(spark, edges)
    verts = graph.vertices_from_edges(sym).collect()
    pos_oracle = degree_pos(edges)
    deg_oracle: dict[int, int] = {}
    for a, b in edges:
        deg_oracle[a] = deg_oracle.get(a, 0) + 1
        deg_oracle[b] = deg_oracle.get(b, 0) + 1
    assert {r.vid: r.pos for r in verts} == pos_oracle
    assert {r.vid: r.degree for r in verts} == deg_oracle


def test_attach_rank_total_order(spark):
    df = spark.createDataFrame([(v,) for v in [5, 3, 9, 1, 7, 2]], "x long")
    ranked = {r.x: r.pos for r in graph.attach_rank(df, ["x"]).collect()}
    assert ranked == {1: 0, 2: 1, 3: 2, 5: 3, 7: 4, 9: 5}


def test_tpch_graph_deterministic(spark):
    e1, v1 = graph.graph_from_tpch(spark, SF_DIR)
    n_edges = e1.count()
    assert n_edges % 2 == 0 and n_edges > 0
    assert e1.where(F.col("src") == F.col("dst")).count() == 0
    # doubled: reversed set equals forward set
    fwd = e1.where(F.col("src") < F.col("dst")).count()
    rev = e1.where(F.col("src") > F.col("dst")).count()
    assert fwd == rev == n_edges // 2
    # pos is a dense permutation ordered by (degree, vid)
    rows = sorted(v1.collect(), key=lambda r: r.pos)
    assert [r.pos for r in rows] == list(range(len(rows)))
    assert all(
        (a.degree, a.vid) < (b.degree, b.vid) for a, b in zip(rows, rows[1:])
    )


def test_degree_sequence_driver_and_distributed_agree(spark, monkeypatch):
    """The driver lexsort rank (small-V funnel) and the distributed
    two-phase rank must produce identical (vid, degree, pos) rows."""
    from tests.conftest import edges_df, random_graph

    from sheep_spark import graph

    edges = random_graph(150, 400, seed=31)
    sym = edges_df(spark, edges)
    a = graph.vertices_from_edges(sym)  # n << cap → driver path
    monkeypatch.setattr(graph, "DRIVER_RANK_MAX", 0)  # force distributed
    b = graph.vertices_from_edges(sym)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_fused_driver_funnel_matches_staged_path(spark):
    """driver_sequence_tree_arrays (one collect + driver kernels) must
    reproduce the staged vertices_from_edges + edges_pos + build_tree
    pipeline exactly — vertices, tree with both weights, and vmeta
    alike. Exercised on dense ids (int32 transfer, dense-vid rank) and
    on ids shifted past int32 (int64 transfer, sparse relabel)."""
    from sheep_spark import graph, partitioner, tree
    from tests.conftest import random_graph

    base = random_graph(500, 2000, seed=77)
    for shift, label, transfer in ((0, "dense", "int32"), (10**12, "sparse", "int64")):
        edges = [(a + shift, b + shift) for a, b in base]
        raw = spark.createDataFrame(edges, "src long, dst long")
        canon = graph.symmetrize_canonical(raw).persist()
        sym = graph.doubled_view(canon)

        # staged path
        verts = graph.vertices_from_edges(sym).persist()
        n = verts.count()
        t_staged = tree.build_tree(graph.edges_pos(sym, verts), n, with_pre_weight=True)

        # fused path
        arrs = graph.driver_sequence_tree_arrays(canon)
        assert arrs["transfer"] == transfer, label
        assert arrs["n_vertices"] == len(arrs["vid"]) == n
        fused_verts = {
            (int(v), int(d), int(p))
            for v, d, p in zip(arrs["vid"], arrs["degree"], arrs["pos"])
        }
        staged_verts = {
            (r["vid"], r["degree"], r["pos"]) for r in verts.collect()
        }
        assert fused_verts == staged_verts, label

        fused_t = tree.tree_df_from_arrays(spark, arrs, with_pre_weight=True)
        assert fused_t.exceptAll(t_staged).unionAll(t_staged.exceptAll(fused_t)).count() == 0, label

        parts, _ = partitioner.forward_partition(arrs["parent"], arrs["pst_weight"], 4)
        vmeta_arr = partitioner.vertex_meta_from_arrays(
            spark, arrs["vid"], arrs["pos"], parts
        )
        vmeta_join = partitioner.vertex_meta(verts, partitioner.assign_df(spark, parts).join(
            verts.select("vid", "pos"), "pos").select("vid", "part"))
        a = {(r["vid"], r["pos"], r["part"]) for r in vmeta_arr.collect()}
        b = {(r["vid"], r["pos"], r["part"]) for r in vmeta_join.collect()}
        assert a == b, label
        canon.unpersist()
        verts.unpersist()


_FUNNEL_KEYS = ("vid", "degree", "pos", "parent", "pst_weight", "pre_weight")


def test_fused_seq_tree_matches_staged(spark, monkeypatch):
    """driver_sequence_tree_arrays must return the same arrays on every
    path: the fused compiled call, the numpy sequence + compiled sweep
    fallback, and the kernel-disabled fallback (numpy sequence +
    interpreted sweep) used as the reference — dense ids (int32
    transfer) and sparse ids (int64 transfer) alike, plus the empty
    graph."""
    import numpy as np

    from sheep_spark import _csweep, graph
    from tests.conftest import random_graph

    def run(canon, disable=()):
        with monkeypatch.context() as mp:
            for name in disable:
                mp.setattr(_csweep, name, lambda: None)
            return graph.driver_sequence_tree_arrays(canon)

    base = random_graph(400, 1600, seed=55)
    for shift, label in ((0, "dense"), (10**12, "sparse")):
        edges = [(a + shift, b + shift) for a, b in base]
        raw = spark.createDataFrame(edges, "src long, dst long")
        canon = graph.symmetrize_canonical(raw).persist()

        ref = run(canon, disable=("loaded_seq_tree", "loaded_sort_sweep"))
        variants = [run(canon), run(canon, disable=("loaded_seq_tree",))]

        for out in variants:
            assert out["n_vertices"] == ref["n_vertices"] == len(ref["vid"]), label
            assert out["transfer"] == ref["transfer"], label
            for k in _FUNNEL_KEYS:
                assert out[k].dtype == np.int64, (label, k)
                assert np.array_equal(out[k], ref[k]), (label, k)
        canon.unpersist()

    # empty graph
    empty = spark.createDataFrame([], "src long, dst long")
    out = graph.driver_sequence_tree_arrays(empty)
    assert out["n_vertices"] == 0 and len(out["parent"]) == 0


def test_collect_columns_rejects_nulls(spark):
    """A null in a collected column raises ValueError naming the column
    instead of arriving as float64 and breaking the driver kernels."""
    import pytest

    from sheep_spark import tree

    df = spark.createDataFrame([(0, 1), (1, None)], "src long, dst long")
    with pytest.raises(ValueError, match="'dst'"):
        tree.collect_columns(df, ("src", "dst"))
    with pytest.raises(ValueError, match="'dst'"):
        graph.driver_sequence_tree_arrays(df)
