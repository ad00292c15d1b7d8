import numpy as np
import pytest

from sheep_spark import graph, tree
from tests.conftest import degree_pos, edges_df, random_graph


def _sweep_pairs(lo, hi, n):
    kid, par = tree._eliminate(
        np.asarray(lo, dtype=np.int64), np.asarray(hi, dtype=np.int64), n
    )
    return set(zip(kid.tolist(), par.tolist()))


def _eliminate_via(path, monkeypatch, lo, hi, n, weights_out=None):
    """Run tree._eliminate on one of its paths: the compiled kernel with
    32-bit internals ("c32"), the compiled kernel forced to its 64-bit
    internals ("c64"), or the interpreted list sweep ("py")."""
    from sheep_spark import _csweep

    with monkeypatch.context() as mp:
        if path == "c64":
            mp.setattr(tree, "_INT32_LIMIT", 0)
        elif path == "py":
            mp.setattr(_csweep, "loaded_sort_sweep", lambda: None)
        return tree._eliminate(lo.copy(), hi.copy(), n, weights_out=weights_out)


def _paths():
    from sheep_spark import _csweep

    return ["c32", "c64", "py"] if _csweep.loaded_sort_sweep() is not None else ["py"]


@pytest.mark.parametrize("seed", range(10))
def test_msf_select_preserves_sweep_output(seed):
    """Boruvka pre-selection must be a pure input filter: sweeping the
    selected subset yields the identical (kid, parent) set as sweeping
    everything (MSF threshold property; VERDICT r2 task 1). Covers dense
    and sparse inputs, duplicate edges, and multi-component graphs."""
    rng = np.random.default_rng(seed)
    n = int(rng.integers(20, 300))
    m = int(rng.integers(10, 2500))
    a = rng.integers(0, n, m)
    b = rng.integers(0, n, m)
    keep = a != b
    lo = np.minimum(a, b)[keep].astype(np.int64)
    hi = np.maximum(a, b)[keep].astype(np.int64)
    if seed % 2 == 0:  # half the seeds: deduped like edges_pos output
        pairs = np.unique(np.stack([lo, hi], 1), axis=0)
        lo, hi = pairs[:, 0], pairs[:, 1]
    sl, sh = tree._msf_select(lo, hi, n)
    assert len(sl) <= len(lo)
    assert _sweep_pairs(sl, sh, n) == _sweep_pairs(lo, hi, n)


@pytest.mark.parametrize("seed", range(6))
@pytest.mark.parametrize("chunk", [17, 64, 509])
def test_msf_select_chunked_preserves_sweep_output(seed, chunk):
    """Filter-Kruskal chunking (r6) must be invisible to the sweep: any
    chunk size yields the same (kid, parent) set as the unchunked
    selection — a heavier chunk's edge is dropped only when lighter
    SELECTED edges already connect its endpoints (cycle property)."""
    rng = np.random.default_rng(4000 + seed)
    n = int(rng.integers(20, 300))
    m = int(rng.integers(10, 2500))
    a = rng.integers(0, n, m)
    b = rng.integers(0, n, m)
    keep = a != b
    lo = np.minimum(a, b)[keep].astype(np.int64)
    hi = np.maximum(a, b)[keep].astype(np.int64)
    sl, sh = tree._msf_select(lo, hi, n, chunk_edges=chunk)
    assert _sweep_pairs(sl, sh, n) == _sweep_pairs(lo, hi, n)


def test_msf_select_dense_graph_selects_at_most_v_minus_1():
    """On a dense graph run to completion, selection returns exactly the
    MSF — ≤ V-1 edges — which is the whole point of running it ahead of
    the interpreted sweep."""
    rng = np.random.default_rng(99)
    n = 100
    a = rng.integers(0, n, 8000)
    b = rng.integers(0, n, 8000)
    keep = a != b
    lo = np.minimum(a, b)[keep].astype(np.int64)
    hi = np.maximum(a, b)[keep].astype(np.int64)
    sl, sh = tree._msf_select(lo, hi, n)
    assert len(sl) <= n - 1
    assert _sweep_pairs(sl, sh, n) == _sweep_pairs(lo, hi, n)


def spark_tree(spark, edges, n_partials):
    sym = edges_df(spark, edges)
    verts = graph.vertices_from_edges(sym)
    ep = graph.edges_pos(sym, verts)
    n = verts.count()
    t = tree.build_tree(ep, n, n_partials=n_partials)
    rows = sorted(t.collect(), key=lambda r: r.jnid)
    parent = [r.parent for r in rows]
    pst = [r.pst_weight for r in rows]
    return parent, pst


@pytest.mark.parametrize("seed", [1, 2, 3])
@pytest.mark.parametrize("n_partials", [1, 4, 16])
def test_distributed_tree_equals_serial_oracle(spark, seed, n_partials):
    """Merge associativity (jnode.cpp:174-201): the distributed build must
    equal the serial jtree.cpp:34-55 semantics for ANY partial count."""
    edges = random_graph(80, 160, seed=seed)
    pos = degree_pos(edges)
    parent_o, pst_o = tree.serial_tree_oracle(edges, pos)
    parent_s, pst_s = spark_tree(spark, edges, n_partials)
    assert parent_s == parent_o
    assert pst_s == pst_o


def test_tree_structural_invariants(spark):
    edges = random_graph(120, 200, seed=9)
    parent, pst = spark_tree(spark, edges, 4)
    n = len(parent)
    # parent strictly later in the sequence (elimination goes upward)
    assert all(p is None or p > j for j, p in enumerate(parent))
    # sum pst_weight == number of undirected edges (each counted at its lo end)
    assert sum(pst) == len(edges)
    # roots == number of connected components (python union-find oracle)
    uf = {}

    def find(x):
        while uf.get(x, x) != x:
            uf[x] = uf.get(uf[x], uf[x])
            x = uf[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            uf[ra] = rb
    n_comp = len({find(v) for v in {v for e in edges for v in e}})
    assert sum(1 for p in parent if p is None) == n_comp


def test_disconnected_graph(spark):
    edges = [(0, 1), (1, 2), (10, 11), (12, 13), (11, 12)]
    pos = degree_pos(edges)
    parent_o, pst_o = tree.serial_tree_oracle(edges, pos)
    parent_s, pst_s = spark_tree(spark, edges, 4)
    assert parent_s == parent_o and pst_s == pst_o
    assert sum(1 for p in parent_s if p is None) == 2


def _parity_inputs():
    """(lo, hi, n, deduped) pos-space inputs: random multigraphs plus the
    empty, single-edge, duplicate-edge and disconnected cases."""
    rng = np.random.default_rng(29)
    cases = []
    for n, m in [(6, 3), (40, 200), (500, 3000), (4000, 30000)]:
        a = rng.integers(0, n, size=m)
        b = rng.integers(0, n, size=m)
        keep = a != b
        cases.append((np.minimum(a, b)[keep], np.maximum(a, b)[keep], n, False))
    cases += [
        ([], [], 7, True),
        ([2], [5], 6, True),
        ([0, 1, 0, 1, 0], [1, 2, 1, 2, 2], 3, False),
        ([0, 1, 3, 4, 6], [1, 2, 4, 5, 7], 9, True),
    ]
    return [(np.asarray(lo, np.int64), np.asarray(hi, np.int64), n, d)
            for lo, hi, n, d in cases]


def test_csweep_matches_interpreted_sweep(monkeypatch):
    """Kernel parity: the compiled counting-sort sweep with 32-bit and
    with 64-bit internals, the interpreted list sweep and the
    independent serial_tree_oracle all emit the same (kid, parent) set
    and bincounts."""
    for lo, hi, n, deduped in _parity_inputs():
        pairs = sorted(set(zip(lo.tolist(), hi.tolist())))
        parent_o, pst_o = tree.serial_tree_oracle(pairs, {v: v for v in range(n)})
        want = {(j, p) for j, p in enumerate(parent_o) if p is not None}
        if deduped:
            assert pst_o == np.bincount(lo, minlength=n).tolist()
        for path in _paths():
            w: dict = {}
            k, p = _eliminate_via(path, monkeypatch, lo, hi, n, weights_out=w)
            assert len(set(k.tolist())) == len(k), path  # each kid adopted once
            assert set(zip(k.tolist(), p.tolist())) == want, (path, n)
            assert np.array_equal(w["pre_weight"], np.bincount(hi, minlength=n)), path
            assert np.array_equal(w["pst_weight"], np.bincount(lo, minlength=n)), path


def test_eliminate_rejects_out_of_range_ids_on_every_path(monkeypatch):
    """Out-of-range ids raise the same ValueError on every _eliminate
    path (the interpreted sweep used to wrap a negative index into an
    empty tree, or emit an edge to a vertex past n_vertices)."""
    for path in _paths():
        for bad_lo, bad_hi in (([0], [5]), ([-1], [2])):
            with pytest.raises(ValueError, match="outside"):
                _eliminate_via(path, monkeypatch, np.array(bad_lo, np.int64),
                               np.array(bad_hi, np.int64), 3)


def test_compiled_kernel_unavailable_warns(tmp_path):
    """A process whose compiled kernels are unavailable says why, once:
    when disabled by the environment, and when no compiler is found
    (empty PATH, no cached .so in a fresh temp dir)."""
    import os
    import subprocess
    import sys

    code = (
        "import warnings; warnings.simplefilter('always')\n"
        "from sheep_spark import _csweep\n"
        "with warnings.catch_warnings(record=True) as rec:\n"
        "    assert _csweep.loaded_sort_sweep() is None\n"
        "    assert _csweep.loaded_ffd() is None\n"
        "msgs = [str(r.message) for r in rec]\n"
        "assert len(msgs) == 1 and {why!r} in msgs[0], msgs\n"
    )
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    for why, env in (
        ("SPARK_GRAFT_NO_CSWEEP", {"SPARK_GRAFT_NO_CSWEEP": "1"}),
        ("FileNotFoundError", {"PATH": str(tmp_path), "TMPDIR": str(tmp_path)}),
    ):
        subprocess.run([sys.executable, "-c", code.format(why=why)], check=True,
                       env={**os.environ, **env}, cwd=root)
