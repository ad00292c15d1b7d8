"""One orchestration path from edges to parts.

Sheep is one chain: load → sequence → tree → partition → assign →
evaluate (the reference's dist-partition.sh). ``partition_graph`` owns
sequence → assign for every caller — the CLI, the ``__spark_entry__``
queries and the bench legs; loading and evaluation stay with them. The
driver funnel and the distributed path it chooses between return
identical vertices, tree and vmeta (tests/test_pipeline.py).
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame

from . import graph, partitioner, tree


def partition_graph(
    canon: DataFrame, k: int, balance: float = 1.03
) -> tuple[DataFrame, DataFrame, DataFrame, dict]:
    """Canonical edge half → ``(vertices, tree, vmeta, report)``.

    ``canon`` holds each undirected edge once as deduped (src < dst)
    rows (``graph.symmetrize_canonical``, or ``src < dst`` over the
    doubled table). ``k`` and ``balance`` are the FFD part count and
    balance factor (partition.cpp:54-57).

    One sizing ``count()`` of ``canon`` picks the path. At or below
    ``tree.DRIVER_TREE_MAX_EDGES`` (driver): one Arrow collect feeds the
    fused sequence + tree funnel (``graph.driver_sequence_tree_arrays``),
    FFD packs its arrays, and tree, vertices and vmeta each ship back as
    one Arrow upload — sheep's rank-0 centralization. Above it
    (distributed): ``vertices_from_edges`` → ``edges_pos`` → map/reduce
    ``build_tree`` → ``sheep_partition`` → ``vertex_meta``.

    Returns ``vertices(vid, degree, pos)``, ``tree(jnid, parent,
    pst_weight)``, ``vmeta(vid, pos, part)`` and a report dict: ``path``
    (driver/distributed), ``n_edges`` (undirected), ``n_vertices``,
    ``transfer`` (the funnel's endpoint width, int32/int64; None on the
    distributed path, which collects no endpoints) and ``walls_s``, the
    per-stage walls in seconds. On the distributed path the tree is
    persisted (the FFD collect materializes it); unpersist it when done.
    """
    spark = canon.sparkSession
    walls: dict[str, float] = {}

    def lap(name: str, t0: float) -> float:
        now = time.monotonic()
        walls[name] = round(now - t0, 2)
        return now

    t = time.monotonic()
    n_edges = canon.count()
    t = lap("count_s", t)
    if n_edges <= tree.DRIVER_TREE_MAX_EDGES:
        arrs = graph.driver_sequence_tree_arrays(canon, timings=walls)
        t = lap("funnel_s", t)
        tree_df = tree.tree_df_from_arrays(spark, arrs)
        t = lap("tree_upload_s", t)
        parts, _ = partitioner.forward_partition(arrs["parent"], arrs["pst_weight"], k, balance)
        t = lap("ffd_s", t)
        vertices = graph.vertices_df_from_arrays(spark, arrs["vid"], arrs["degree"], arrs["pos"])
        t = lap("vertices_upload_s", t)
        vmeta = partitioner.vertex_meta_from_arrays(spark, arrs["vid"], arrs["pos"], parts)
        lap("vmeta_upload_s", t)
        path, n_vertices, transfer = "driver", arrs["n_vertices"], arrs["transfer"]
    else:
        vertices = graph.vertices_from_edges(graph.doubled_view(canon))
        n_vertices = vertices.count()
        t = lap("vertices_s", t)
        epos = graph.edges_pos(None, vertices, n_vertices=n_vertices, once=canon)
        tree_df = tree.build_tree(epos, n_vertices, n_edges=n_edges).persist()
        assign = partitioner.sheep_partition(tree_df, vertices, k, balance)
        epos.unpersist()  # build_tree's input cache; the tree cache now holds its result
        lap("tree_partition_s", t)
        vmeta = partitioner.vertex_meta(vertices, assign)
        path, transfer = "distributed", None
    report = {
        "path": path,
        "n_edges": n_edges,
        "n_vertices": int(n_vertices),
        "transfer": transfer,
        "walls_s": walls,
    }
    return vertices, tree_df, vmeta, report
