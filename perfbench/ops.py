"""One operation ("op") per workload, driven through sheep_spark's
public calls the way ``scripts/run_pipeline.py`` drives them.

Every span closes at a point where the program materializes its result
(``count``, ``collect``/``toArrow``, a write, or a call that collects
internally), so a span never times the construction of a lazy plan.
"""

from __future__ import annotations

import time
from contextlib import contextmanager

import numpy as np

K = 8
BALANCE = 1.03
HEADLINE_METRICS = ("edges_cut", "ecv_down", "down_balance")  # the CLI default subset
PAGERANK_TOL = 1e-6


class Tracer:
    """Records one span per timed call. When ``tagged``, every Spark job
    a span submits carries the span's key as its job group, so the event
    log can be attributed to spans afterwards."""

    def __init__(self, spark, tagged: bool):
        self.spark = spark
        self.tagged = tagged
        self.spans: list[dict] = []
        self.op = 0

    @contextmanager
    def span(self, name: str):
        key = f"{name}#{self.op}"
        sc = self.spark.sparkContext
        if self.tagged:
            sc.setJobGroup(key, name)
        t0 = time.time()
        try:
            yield
        finally:
            t1 = time.time()
            if self.tagged:
                sc.setLocalProperty("spark.jobGroup.id", None)
            self.spans.append({"key": key, "name": name, "op": self.op, "t0": t0, "t1": t1})


def _load(spark, tracer: Tracer, path: str):
    from sheep_spark import graph, io

    with tracer.span("graph.load"):
        raw = io.read_snap(spark, path)
        edges = graph.symmetrize(raw).persist()
        verts = graph.vertices_from_edges(edges).persist()
        n_vertices = verts.count()
    return edges, verts, n_vertices


def _int_column(tbl, name: str, null: int = -1) -> np.ndarray:
    return tbl.column(name).fill_null(null).to_numpy().astype(np.int64)


def partition_op(spark, tracer: Tracer, path: str, out_dir: str) -> dict:
    """The CLI's ``--input <snap> --k 8 --output <dir>`` chain."""
    from sheep_spark import evaluate, graph, partitioner, tree

    edges, verts, n_vertices = _load(spark, tracer, path)
    with tracer.span("tree.build"):
        t = tree.build_tree(graph.edges_pos(edges, verts), n_vertices)
    with tracer.span("partitioner.assign"):
        assign = partitioner.sheep_partition(t, verts, K, BALANCE)
        vmeta = partitioner.vertex_meta(verts, assign).persist()
        vmeta.count()
    with tracer.span("evaluate.metrics"):
        metrics = evaluate.evaluate(edges, vmeta, metrics=HEADLINE_METRICS)
    with tracer.span("partitioner.write"):
        partitioner.write_partitioned(partitioner.down_assign(edges, vmeta), out_dir)
    # outputs for the checks, collected after the op's last span
    tree_tbl = t.toArrow().sort_by("jnid")
    vm = vmeta.toArrow()
    spark.catalog.clearCache()
    return {
        "parent": _int_column(tree_tbl, "parent"),
        "pst": _int_column(tree_tbl, "pst_weight"),
        "vid": _int_column(vm, "vid"),
        "pos": _int_column(vm, "pos"),
        "part": _int_column(vm, "part"),
        "metrics": metrics,
        "out_dir": out_dir,
    }


def analytics_op(spark, tracer: Tracer, path: str) -> dict:
    """PageRank to 1e-6 (the CLI's ``--pagerank`` path), then connected
    components, then the global triangle count, over the CLI's load."""
    from sheep_spark import analytics

    edges, verts, _ = _load(spark, tracer, path)
    with tracer.span("analytics.pagerank"):
        t0 = time.perf_counter()
        ranks, pr_info = analytics.pagerank(edges, verts, tol=PAGERANK_TOL)
        converge_s = time.perf_counter() - t0
        ranks_tbl = ranks.toArrow()
    with tracer.span("analytics.cc"):
        labels, cc_info = analytics.connected_components(edges)
        labels_tbl = labels.toArrow()
    with tracer.span("analytics.triangles"):
        n_triangles = analytics.triangle_count(edges, verts)
    spark.catalog.clearCache()
    return {
        "rank_vid": _int_column(ranks_tbl, "vid"),
        "rank": ranks_tbl.column("rank").to_numpy(),
        "supersteps": pr_info["iterations"],
        "superstep_secs": list(pr_info["superstep_secs"]),
        "converge_s": converge_s,
        "label_vid": _int_column(labels_tbl, "vid"),
        "label": _int_column(labels_tbl, "component"),
        "cc_converged": bool(cc_info["converged"]),
        "triangles": n_triangles,
    }
