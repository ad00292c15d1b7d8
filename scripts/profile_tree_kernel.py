#!/usr/bin/env python3
"""Profile the elimination-tree kernel in isolation (no Spark).

Generates the same skewed distribution as bench.synth_edges (default
com-lj scale: 35M undirected edges, V=4M; override with PROF_EDGES /
PROF_V), converts to deduped (lo, hi) pos-space pairs, then measures:

  1. ``tree._eliminate`` as the engine runs it — the compiled
     counting-sort sweep when a toolchain is present, with the sort and
     sweep phases timed inside C (``kernel_s``, ``kernel_detail``);
  2. unless PROF_SKIP_NOSELECT=1, the interpreted reference
     (_msf_select + Python-list sweep, what runs without a compiler),
     and checks that both emit the identical (kid, parent) set.

Prints one JSON line.
"""

from __future__ import annotations

import json
import os
import sys
import time

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from sheep_spark import tree  # noqa: E402

E = int(os.environ.get("PROF_EDGES", str(35_000_000)))
V = int(os.environ.get("PROF_V", str(4_000_000)))
SKIP_NOSELECT = os.environ.get("PROF_SKIP_NOSELECT") == "1"


def _warm_memory_pool() -> None:
    """Pre-touch a pool of pages and free it. Fresh pages are backed
    lazily (measured ~60 MB/s first touch on a throttled VM, 4+ GB/s
    warm), so any phase that allocates big fresh arrays pays a one-time
    cost a long-lived driver doesn't have. The pool scales with the
    edge count: 8 GB at 35M edges."""
    block = np.ones(int(8.0 * E / 35e6 * 125_000_000), dtype=np.int64)
    del block


def main() -> None:
    _warm_memory_pool()
    rng = np.random.default_rng(7)
    # same shape as bench.synth_edges: src uniform, dst ~ u^2.5 hubs
    src = rng.integers(0, V, E, dtype=np.int64)
    dst = (rng.random(E) ** 2.5 * V).astype(np.int64)
    keep = src != dst
    lo = np.minimum(src, dst)[keep]
    hi = np.maximum(src, dst)[keep]
    pairs = np.unique(lo * np.int64(V) + hi)
    lo, hi = pairs // V, pairs % V
    # pos space: the profile uses vid order directly (the sweep only
    # depends on the ORDER being total, which vids are)
    n_edges = len(lo)

    out: dict = {"n_edges_undirected": n_edges, "n_vertices": V}

    from sheep_spark import _csweep

    tm: dict = {}
    t0 = time.time()
    kid, par = tree._eliminate(lo, hi, V, timings=tm)
    out["kernel_s"] = round(time.time() - t0, 2)
    out["kernel_detail"] = tm
    out["tree_edges"] = len(kid)
    out["kernel_rate_Medges_per_s"] = round(n_edges / out["kernel_s"] / 1e6, 2)
    out["sort_sweep_compiled"] = _csweep.loaded_sort_sweep() is not None

    if not SKIP_NOSELECT:
        # the interpreted reference: what _eliminate runs without a
        # compiler (Boruvka selection, then the Python-list sweep)
        real_ss = _csweep.loaded_sort_sweep
        _csweep.loaded_sort_sweep = lambda: None
        try:
            tm2: dict = {}
            t0 = time.time()
            kid2, par2 = tree._eliminate(lo, hi, V, timings=tm2)
            out["interpreted_s"] = round(time.time() - t0, 2)
            out["interpreted_detail"] = tm2
        finally:
            _csweep.loaded_sort_sweep = real_ss
        assert set(zip(kid.tolist(), par.tolist())) == set(
            zip(kid2.tolist(), par2.tolist())
        ), "kernel paths disagree!"
        out["outputs_identical"] = True

    print(json.dumps(out))


if __name__ == "__main__":
    from bench import ensure_malloc_retention

    ensure_malloc_retention()  # first-touch artifact; see bench.py
    main()
