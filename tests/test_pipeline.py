"""pipeline.partition_graph: the one edges → parts path. Its driver
funnel, its distributed path and the staged public chain must agree
row-for-row; ids outside int32 must take the int64 transfer instead of
wrapping; and the CLI built on it must match the python oracles."""

import json
import os
import subprocess
import sys

import numpy as np
import pyarrow.dataset as ds

from sheep_spark import evaluate, graph, partitioner, pipeline, tree
from tests.conftest import degree_pos, random_graph

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _rows(df, cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


def _outputs(verts, t, vmeta):
    return (
        _rows(verts, ("vid", "degree", "pos")),
        _rows(t, ("jnid", "parent", "pst_weight")),
        _rows(vmeta, ("vid", "pos", "part")),
    )


def _staged_chain(canon, k):
    """The staged public calls, as the perfbench workload drives them."""
    sym = graph.doubled_view(canon)
    verts = graph.vertices_from_edges(sym)
    n = verts.count()
    t = tree.build_tree(graph.edges_pos(sym, verts), n)
    vmeta = partitioner.vertex_meta(verts, partitioner.sheep_partition(t, verts, k))
    return verts, t, vmeta


def _distributed(canon, k, monkeypatch):
    with monkeypatch.context() as mp:
        # below zero, so even the empty graph exceeds the driver cap
        mp.setattr(tree, "DRIVER_TREE_MAX_EDGES", -1)
        verts, t, vmeta, rep = pipeline.partition_graph(canon, k)
        out = _outputs(verts, t, vmeta)
        t.unpersist()
    return out, rep


def test_partition_graph_driver_distributed_and_staged_agree(spark, monkeypatch):
    """Dense ids, sparse ids (+10^12) and the empty graph: the driver
    funnel, the distributed path (forced by a negative edge cap) and the
    staged chain return identical vertices, tree and vmeta."""
    base = random_graph(300, 1200, seed=41)
    cases = [
        ("dense", base, "int32"),
        ("sparse", [(a + 10**12, b + 10**12) for a, b in base], "int64"),
        ("empty", [], "int32"),
    ]
    for label, edges, transfer in cases:
        canon = graph.symmetrize_canonical(
            spark.createDataFrame(edges, "src long, dst long")
        ).persist()
        verts, t, vmeta, rep = pipeline.partition_graph(canon, 4)
        drv = _outputs(verts, t, vmeta)
        assert rep["path"] == "driver" and rep["transfer"] == transfer, label
        assert rep["n_edges"] == len(edges) and rep["n_vertices"] == len(drv[0]), label
        assert {"count_s", "collect_s", "funnel_s", "ffd_s"} <= set(rep["walls_s"]), label

        dist, rep_d = _distributed(canon, 4, monkeypatch)
        assert rep_d["path"] == "distributed" and rep_d["transfer"] is None, label
        assert dist == drv, label
        assert _outputs(*_staged_chain(canon, 4)) == drv, label
        canon.unpersist()


def test_wrapped_ids_take_int64_transfer(spark, monkeypatch):
    """Ids at 2^31+7 and 2^32+5 do not fit int32. A plain int cast wraps
    them under non-ANSI SQL (2^32+5 would alias vertex 5); the funnel's
    try_cast turns them into NULLs and re-collects at int64, under both
    ANSI settings. The tree must equal the distributed (int64) path and
    the serial oracle."""
    big_a, big_b = 2**31 + 7, 2**32 + 5
    edges = [(0, 5), (5, big_a), (0, big_b), (big_a, big_b), (5, big_b)]
    canon = spark.createDataFrame(edges, "src long, dst long")
    pos = degree_pos(edges)
    parent_o, pst_o = tree.serial_tree_oracle(edges, pos)
    want_tree = sorted(zip(range(len(pos)), parent_o, pst_o))
    prev = spark.conf.get("spark.sql.ansi.enabled")
    try:
        for ansi in ("true", "false"):
            spark.conf.set("spark.sql.ansi.enabled", ansi)
            verts, t, vmeta, rep = pipeline.partition_graph(canon, 2)
            assert rep["path"] == "driver" and rep["transfer"] == "int64", ansi
            out = _outputs(verts, t, vmeta)
            assert {vid: p for vid, _, p in out[0]} == pos, ansi
            assert out[1] == want_tree, ansi
            dist, _ = _distributed(canon, 2, monkeypatch)
            assert dist == out, ansi
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)


def test_cli_end_to_end(tmp_path):
    """scripts/run_pipeline.py on a seeded SNAP file: the JSON metrics
    equal the python evaluator oracle over the serial-oracle tree's FFD
    parts, the saved tree equals that tree, and the partitioned sink
    holds every undirected edge once, in its lower-pos endpoint's part."""
    edges = random_graph(400, 1500, seed=19)
    snap = tmp_path / "graph.txt"
    snap.write_text("# seeded test graph\n" + "".join(f"{a}\t{b}\n" for a, b in edges))
    out_dir, tree_dir = tmp_path / "parts", tmp_path / "tree"
    proc = subprocess.run(
        [
            sys.executable, os.path.join(REPO, "scripts", "run_pipeline.py"),
            "--input", str(snap), "--k", "4", "--cores", "2",
            "--output", str(out_dir), "--tree-out", str(tree_dir),
        ],
        capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    report = json.loads([ln for ln in proc.stdout.splitlines() if ln.startswith("{")][-1])

    pos = degree_pos(edges)
    parent_o, pst_o = tree.serial_tree_oracle(edges, pos)
    saved = ds.dataset(str(tree_dir), format="parquet").to_table().sort_by("jnid")
    assert saved.column("parent").to_pylist() == parent_o
    assert saved.column("pst_weight").to_pylist() == pst_o

    parent = np.array([-1 if p is None else p for p in parent_o], dtype=np.int64)
    parts, _ = partitioner.forward_partition(parent, np.array(pst_o, dtype=np.int64), 4)
    part = {v: int(parts[p]) for v, p in pos.items()}
    want = evaluate.evaluate_oracle(edges, pos, part)
    assert report["n_vertices"] == len(pos)
    assert report["partition"]["path"] == "driver"
    for m in ("edges_cut", "ecv_down", "down_balance"):
        assert report[m] == want[m], m

    sink = ds.dataset(str(out_dir), format="parquet", partitioning="hive").to_table()
    got = sorted(zip(*(sink.column(c).to_pylist() for c in ("src", "dst", "part"))))
    assert got == sorted(
        (a, b, part[a] if pos[a] < pos[b] else part[b]) for a, b in edges
    )

