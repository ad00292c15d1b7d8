"""Compiled kernels for the driver-side sequential loops.

Two kernels numpy cannot vectorize are written here in C, compiled to a
small shared library at first use, and called through ctypes on numpy
buffers:

- the elimination sweep (tree.py ``_eliminate``): one counting-sort +
  union-find core, instantiated with int32 internals and, for inputs
  with 2^31 or more vertices or edges, int64 internals. The fused
  sequence+tree funnel (``sheep_seq_tree``) ends in the same core.
- the FFD tree packing (partitioner.py ``forward_partition``).

Each has one interpreted reference in Python that produces identical
output (the FFD kid tie-break is spelled out as the total order Python's
stable sort produces); the pytest suite checks each pair. The compiled
versions are an accelerator, never a dependency: when they cannot be
built or loaded (no compiler, unwritable temp dir, missing symbol) the
engine runs the interpreted references and warns once per process with
the reason. SPARK_GRAFT_NO_CSWEEP=1 forces the interpreted references.
The library is cached per source hash in the temp dir and renamed into
place atomically, so concurrent executor workers race safely.
"""

from __future__ import annotations

import ctypes
import hashlib
import os
import subprocess
import tempfile

import numpy as np

_C_SRC = r"""
#include <stdint.h>
#include <stdlib.h>

/* Kid ordering for the FFD cut step: weight DESC, jnid ASC — the same
   total order python's STABLE list.sort(key=-comp) produces over the
   ascending-jnid kids slice (jnids are distinct, so this comparator is
   deterministic even though qsort itself is not stable). */
typedef struct { int64_t w; int64_t id; } ffd_kid;

static int ffd_kid_cmp(const void *a, const void *b) {
    const ffd_kid *x = (const ffd_kid *)a, *y = (const ffd_kid *)b;
    if (x->w != y->w) return (x->w > y->w) ? -1 : 1;   /* weight desc */
    return (x->id < y->id) ? -1 : 1;                   /* jnid asc */
}

/* FFD tree packing — exact port of partitioner.py::forward_partition.
   parent: jnid-indexed (-1 roots, parent > kid); comp: per-node weight,
   MUTATED into accumulated component weights exactly like the python
   `comp` list; kid_order/par_sorted: stable argsort of parent and the
   sorted parents (the kids(j) index); parts: out, preinit -1;
   part_size: bin scratch of `cap` slots; ks: scratch of n ffd_kid.
   Returns the number of bins opened, or -1 if cap would overflow
   (caller falls back to the interpreted path). */
int64_t sheep_ffd(const int64_t *parent, int64_t n, int64_t *comp,
                  const int64_t *kid_order, const int64_t *par_sorted,
                  int64_t max_component, int64_t *parts,
                  int64_t *part_size, int64_t cap, ffd_kid *ks) {
    int64_t n_bins = 0;
    for (int64_t j = 0; j < n; j++) {
        int64_t cj = comp[j];
        if (cj > max_component) {
            /* ks = kids_of(j): the contiguous par_sorted slice */
            int64_t lo = 0, hi = n;
            while (lo < hi) {  /* lower bound */
                int64_t mid = (lo + hi) / 2;
                if (par_sorted[mid] < j) lo = mid + 1; else hi = mid;
            }
            int64_t lo2 = lo, hi2 = n;
            while (lo2 < hi2) {  /* upper bound */
                int64_t mid = (lo2 + hi2) / 2;
                if (par_sorted[mid] <= j) lo2 = mid + 1; else hi2 = mid;
            }
            int64_t nk = lo2 - lo;
            for (int64_t i = 0; i < nk; i++) {
                int64_t k = kid_order[lo + i];
                ks[i].w = comp[k];   /* kids precede j: weights final */
                ks[i].id = k;
            }
            qsort(ks, (size_t)nk, sizeof(ffd_kid), ffd_kid_cmp);
            while (comp[j] > max_component) {
                int64_t before = comp[j];
                for (int64_t i = 0; i < nk; i++) {
                    if (comp[j] <= max_component) break;
                    int64_t kid = ks[i].id;
                    if (parts[kid] != -1) continue;
                    int64_t ck = comp[kid];
                    for (int64_t cur = 0; cur < n_bins; cur++) {
                        if (part_size[cur] + ck <= max_component) {
                            comp[j] -= ck;
                            part_size[cur] += ck;
                            parts[kid] = cur;
                            break;
                        }
                    }
                }
                if (comp[j] > max_component) {
                    /* no-progress guard (reference's latent infinite
                       loop, partition.cpp:109-131) */
                    if (before == comp[j] && n_bins > 0 &&
                        part_size[n_bins - 1] == 0)
                        break;
                    if (n_bins >= cap) return -1;
                    part_size[n_bins++] = 0;
                }
            }
            cj = comp[j];
        }
        int64_t p = parent[j];
        if (p >= 0) comp[p] += cj;
    }
    /* push labels down to uncut vertices; pack roots last-fit */
    for (int64_t j = n - 1; j >= 0; j--) {
        if (parts[j] == -1 && parent[j] >= 0) parts[j] = parts[parent[j]];
        if (parts[j] == -1 && comp[j] > max_component) {
            if (n_bins >= cap) return -1;
            part_size[n_bins] = comp[j];
            parts[j] = n_bins;
            n_bins++;
        }
        while (parts[j] == -1) {
            for (int64_t cur = n_bins - 1; cur >= 0; cur--) {
                if (part_size[cur] + comp[j] <= max_component) {
                    part_size[cur] += comp[j];
                    parts[j] = cur;
                    break;
                }
            }
            if (parts[j] == -1) {
                if (n_bins >= cap) return -1;
                part_size[n_bins++] = 0;
            }
        }
    }
    return n_bins;
}

#include <time.h>

static double sheep_now(void) {
    struct timespec ts; clock_gettime(CLOCK_MONOTONIC, &ts);
    return ts.tv_sec + ts.tv_nsec * 1e-9;
}

/* The elimination sweep (jtree.cpp:34-55), written once. Counting-sort
   the (lo, hi) edges by hi — the bucket of an edge IS its hi, so only
   lo is materialized sorted — then walk the buckets ascending: for each
   edge find the root of lo's component with path halving; if it
   differs from hi, emit (root -> hi) and union. Edges with equal hi
   commute, so the counting sort's input-order buckets are as good as
   any hi-sorted order.

   IN is the element type of lo/hi; T is the width of the internals
   (lo_s: n_edges slots, cnt: n_vertices + 1, uf: n_vertices). T is
   int32 whenever n_vertices and n_edges are below 2^31 — the loops are
   memory-bound, so halving the width halves their traffic — and int64
   otherwise. Every id must lie in [0, n_vertices); callers check.
   pre_w/pst_w receive bincount(hi)/bincount(lo) in n_vertices slots as
   byproducts of the sort, or are both NULL to skip them. kid_out and
   par_out hold min(n_edges, n_vertices) slots; phases = double[2]
   (sort wall, sweep wall). Returns the number of pairs emitted. */
#define SHEEP_SORT_SWEEP(NAME, IN, T)                                     \
static int64_t NAME(const IN *lo, const IN *hi, int64_t n_edges,          \
                    int64_t n_vertices, T *lo_s, T *cnt, T *uf,           \
                    int64_t *kid_out, int64_t *par_out,                   \
                    int64_t *pre_w, int64_t *pst_w, double *phases) {     \
    double t0 = sheep_now();                                              \
    for (int64_t v = 0; v <= n_vertices; v++) cnt[v] = 0;                 \
    for (int64_t i = 0; i < n_edges; i++) {                               \
        if (i + 64 < n_edges) __builtin_prefetch(&cnt[hi[i + 64]], 1, 1); \
        cnt[hi[i]]++;                                                     \
    }                                                                     \
    int64_t run = 0;                                                      \
    for (int64_t v = 0; v < n_vertices; v++) {                            \
        T c = cnt[v];                                                     \
        if (pre_w) { pre_w[v] = c; pst_w[v] = 0; }                        \
        uf[v] = (T)v;                                                     \
        cnt[v] = (T)run;                                                  \
        run += c;                                                         \
    }                                                                     \
    for (int64_t i = 0; i < n_edges; i++) {                               \
        if (i + 64 < n_edges) {                                           \
            __builtin_prefetch(&cnt[hi[i + 64]], 1, 1);                   \
            if (pst_w) __builtin_prefetch(&pst_w[lo[i + 64]], 1, 1);      \
        }                                                                 \
        T l = (T)lo[i];                                                   \
        lo_s[cnt[hi[i]]++] = l;                                           \
        if (pst_w) pst_w[l]++;                                            \
    }                                                                     \
    phases[0] = sheep_now() - t0;                                         \
    t0 = sheep_now();                                                     \
    /* cnt[x] is now the END offset of bucket x */                        \
    int64_t n_out = 0, pos = 0;                                           \
    for (int64_t x = 0; x < n_vertices; x++) {                            \
        int64_t end = cnt[x];                                             \
        for (; pos < end; pos++) {                                        \
            if (pos + 16 < n_edges)                                       \
                __builtin_prefetch(&uf[lo_s[pos + 16]], 0, 1);            \
            T r = lo_s[pos];                                              \
            T p = uf[r];                                                  \
            while (p != r) {  /* path halving */                          \
                T pp = uf[p];                                             \
                uf[r] = pp;                                               \
                r = pp;                                                   \
                p = uf[r];                                                \
            }                                                             \
            if (r != (T)x) {                                              \
                kid_out[n_out] = r;                                       \
                par_out[n_out] = x;                                       \
                n_out++;                                                  \
                uf[r] = (T)x;                                             \
            }                                                             \
        }                                                                 \
    }                                                                     \
    phases[1] = sheep_now() - t0;                                         \
    return n_out;                                                         \
}

SHEEP_SORT_SWEEP(sort_sweep_w32, int64_t, int32_t)
SHEEP_SORT_SWEEP(sort_sweep_w64, int64_t, int64_t)
SHEEP_SORT_SWEEP(sort_sweep_seq, int32_t, int32_t)
#undef SHEEP_SORT_SWEEP

/* tree.py _eliminate's compiled path: int64 (lo, hi) in any order;
   ``wide`` selects the int64 internals (scratch buffers sized to
   match). See SHEEP_SORT_SWEEP for the contract. */
int64_t sheep_sort_sweep(const int64_t *lo, const int64_t *hi,
                         int64_t n_edges, int64_t n_vertices, int64_t wide,
                         void *lo_s, void *cnt, void *uf,
                         int64_t *kid_out, int64_t *par_out,
                         int64_t *pre_w, int64_t *pst_w, double *phases) {
    if (wide)
        return sort_sweep_w64(lo, hi, n_edges, n_vertices, lo_s, cnt, uf,
                              kid_out, par_out, pre_w, pst_w, phases);
    return sort_sweep_w32(lo, hi, n_edges, n_vertices, lo_s, cnt, uf,
                          kid_out, par_out, pre_w, pst_w, phases);
}

/* Fused sequence + tree: the whole rank-0 funnel body after the Arrow
   collect in one call — degree histogram over (src, dst), counting
   rank by (degree asc, vid asc) (sequence.h:52-63 semantics; the
   counting sort's vid-ascending placement IS the tie-break), pos-space
   edge transform, then the SHEEP_SORT_SWEEP core over the int32
   pos-space edges — emitting deg_full / pos_full (-1 for isolated
   vertices), the (kid, parent) tree edges and the pos-indexed pre/pst
   weights. Exactly equal to the numpy rank pass + sheep_sort_sweep
   (asserted by pytest). Requires ids and n_edges < 2^31; out-of-range
   ids return -2 before any use. *out_n receives the non-isolated
   vertex count n; pre_w/pst_w use slots [0, n); phases = double[3]
   (hist+rank, edge transform + sort, sweep). ``elem`` is the input
   element width (4 or 8 bytes): the int32 funnel transfer stays narrow
   end-to-end — no driver-side widening pass. */
int64_t sheep_seq_tree(const void *src_v, const void *dst_v, int64_t elem,
                       int64_t n_edges, int64_t m,
                       int64_t *deg_full,              /* [m] out */
                       int32_t *pos_full,              /* [m] out */
                       int32_t *lo_t, int32_t *hi_t,   /* [E] scratch */
                       int32_t *lo_s,                  /* [E] scratch */
                       int32_t *cnt,                   /* [m+1] scratch */
                       int32_t *uf,                    /* [m] scratch */
                       int64_t *kid_out, int64_t *par_out,  /* [min(E,m)] */
                       int64_t *pre_w, int64_t *pst_w,      /* [m] out */
                       int64_t *out_n, double *phases) {
    const int32_t *s32 = (const int32_t *)src_v;
    const int32_t *d32 = (const int32_t *)dst_v;
    const int64_t *s64 = (const int64_t *)src_v;
    const int64_t *d64 = (const int64_t *)dst_v;
    if (elem != 4 && elem != 8) return -2;
    double t0 = sheep_now();
    for (int64_t v = 0; v < m; v++) deg_full[v] = 0;
#define SHEEP_SEQ_HIST(SRC, DST)                                  \
    for (int64_t i = 0; i < n_edges; i++) {                       \
        int64_t a = SRC[i], b = DST[i];                           \
        if ((uint64_t)a >= (uint64_t)m) return -2;                \
        if ((uint64_t)b >= (uint64_t)m) return -2;                \
        deg_full[a]++;                                            \
        deg_full[b]++;                                            \
    }
    if (elem == 4) { SHEEP_SEQ_HIST(s32, d32) } else { SHEEP_SEQ_HIST(s64, d64) }
#undef SHEEP_SEQ_HIST
    /* counting rank: degree histogram (degree <= 2E but a vertex's
       degree in a deduped simple graph is <= m-1; cnt has m+1 slots
       and degrees beyond m cannot occur because each neighbor is
       distinct — duplicate edges would raise the degree, so clamp-
       check to be exact on arbitrary multigraph input) */
    for (int64_t v = 0; v <= m; v++) cnt[v] = 0;
    int64_t n = 0;
    int64_t maxd = 0;
    for (int64_t v = 0; v < m; v++) {
        int64_t d = deg_full[v];
        if (d > 0) {
            if (d > maxd) maxd = d;
            if (d <= m) cnt[d]++;
            n++;
        }
    }
    if (maxd > m) return -3;  /* multigraph degree overflow: fall back */
    int64_t run = 0;
    for (int64_t d = 1; d <= maxd; d++) {
        int32_t c = cnt[d]; cnt[d] = (int32_t)run; run += c;
    }
    for (int64_t v = 0; v < m; v++) {
        int64_t d = deg_full[v];
        pos_full[v] = d > 0 ? cnt[d]++ : -1;
    }
    phases[0] = sheep_now() - t0;
    t0 = sheep_now();
#define SHEEP_SEQ_XFORM(SRC, DST)                                 \
    for (int64_t i = 0; i < n_edges; i++) {                       \
        int32_t ps = pos_full[SRC[i]];                            \
        int32_t pd = pos_full[DST[i]];                            \
        lo_t[i] = ps < pd ? ps : pd;                              \
        hi_t[i] = ps < pd ? pd : ps;                              \
    }
    if (elem == 4) { SHEEP_SEQ_XFORM(s32, d32) } else { SHEEP_SEQ_XFORM(s64, d64) }
#undef SHEEP_SEQ_XFORM
    double xform_s = sheep_now() - t0;
    int64_t n_out = sort_sweep_seq(lo_t, hi_t, n_edges, n, lo_s, cnt, uf,
                                   kid_out, par_out, pre_w, pst_w,
                                   phases + 1);
    phases[1] += xform_s;
    *out_n = n;
    return n_out;
}
"""

_cached_ffd = None
_cached_sort_sweep = None
_cached_seq_tree = None
_load_attempted = False


def _compile() -> str:
    """Compile the kernels once per source version; atomic cache in tmp.
    Raises OSError (no gcc, unwritable tmp) or CalledProcessError /
    TimeoutExpired (the compile itself failed)."""
    tag = hashlib.md5(_C_SRC.encode()).hexdigest()[:16]
    tmpdir = tempfile.gettempdir()
    so_path = os.path.join(tmpdir, f"sheep_csweep_{tag}.so")
    if os.path.exists(so_path):
        return so_path
    c_path = os.path.join(tmpdir, f"sheep_csweep_{tag}_{os.getpid()}.c")
    build_path = so_path + f".build_{os.getpid()}"
    try:
        with open(c_path, "w") as f:
            f.write(_C_SRC)
        subprocess.run(
            ["gcc", "-O2", "-shared", "-fPIC", "-o", build_path, c_path],
            check=True,
            capture_output=True,
            timeout=60,
        )
        os.rename(build_path, so_path)  # atomic: concurrent compiles race safely
        return so_path
    finally:
        for p in (c_path, build_path):
            try:
                os.remove(p)
            except OSError:
                pass


def loaded_ffd():
    """The compiled FFD packer as a python callable, or None (fallback).

    Signature: fn(parent, comp, kid_order, par_sorted, max_component,
    parts, part_size, ks) -> n_bins (or -1 on bin-capacity overflow);
    parent/kid_order/par_sorted int64 inputs; comp MUTATED (pass a
    copy of weight); parts preinit -1; part_size a cap-slot scratch;
    ks an (n, 2) int64 scratch.
    """
    _load()
    return _cached_ffd


def loaded_sort_sweep():
    """The compiled counting-sort + sweep as a python callable, or None.

    Signature: fn(lo, hi, n_vertices, wide, weights) -> (kid, par,
    pre_w, pst_w, (sort_s, sweep_s)); lo/hi C-contiguous int64 in ANY
    order with values in [0, n_vertices) (the caller checks); ``wide``
    selects the int64 internals, required once n_vertices or len(lo)
    reaches 2^31; pre_w/pst_w are bincount(hi)/bincount(lo) when
    ``weights``, else None (not computed)."""
    _load()
    return _cached_sort_sweep


def loaded_seq_tree():
    """The fused sequence+tree kernel as a python callable, or None.

    Signature: fn(src, dst, m) -> dict(n, kid, par, deg_full, pos_full,
    pre_w, pst_w, phases) or None when the kernel declines the input
    (multigraph degree overflow); raises ValueError on out-of-range
    ids. src/dst are C-contiguous int32 or int64 (same dtype) with
    values in [0, m); m, n_edges < 2^31 (caller's guard)."""
    _load()
    return _cached_seq_tree


def _unavailable(reason: str) -> None:
    import warnings

    warnings.warn(
        f"sheep_spark compiled kernels unavailable ({reason}); using the "
        "interpreted tree sweep and FFD packer, which run several times slower",
        RuntimeWarning,
        stacklevel=3,
    )


def _load() -> None:
    global _cached_ffd, _cached_sort_sweep, _cached_seq_tree, _load_attempted
    if _load_attempted:
        return
    _load_attempted = True
    if os.environ.get("SPARK_GRAFT_NO_CSWEEP") == "1":
        _unavailable("disabled by SPARK_GRAFT_NO_CSWEEP=1")
        return
    vp, i64 = ctypes.c_void_p, ctypes.c_int64
    try:
        lib = ctypes.CDLL(_compile())
        raw_ffd = lib.sheep_ffd
        raw_ss = lib.sheep_sort_sweep
        raw_st = lib.sheep_seq_tree
    except subprocess.CalledProcessError as e:
        _unavailable(f"gcc failed: {e.stderr.decode(errors='replace')[-300:]}")
        return
    except (OSError, subprocess.TimeoutExpired, AttributeError) as e:
        _unavailable(f"{type(e).__name__}: {e}")
        return
    raw_ffd.restype = i64
    raw_ffd.argtypes = [vp, i64, vp, vp, vp, i64, vp, vp, i64, vp]
    raw_ss.restype = i64
    raw_ss.argtypes = [vp, vp, i64, i64, i64, vp, vp, vp, vp, vp, vp, vp, vp]
    raw_st.restype = i64
    raw_st.argtypes = [vp, vp, i64, i64, i64] + [vp] * 13

    def fn_ffd(parent: np.ndarray, comp: np.ndarray, kid_order: np.ndarray,
               par_sorted: np.ndarray, max_component: int, parts: np.ndarray,
               part_size: np.ndarray, ks: np.ndarray) -> int:
        return raw_ffd(
            parent.ctypes.data, len(parent), comp.ctypes.data,
            kid_order.ctypes.data, par_sorted.ctypes.data, max_component,
            parts.ctypes.data, part_size.ctypes.data, len(part_size),
            ks.ctypes.data,
        )

    def fn_sort_sweep(lo: np.ndarray, hi: np.ndarray, n_vertices: int,
                      wide: bool, weights: bool):
        it = np.int64 if wide else np.int32
        scratch = (np.empty(len(lo), it), np.empty(n_vertices + 1, it),
                   np.empty(n_vertices, it))
        kid = np.empty(min(len(lo), n_vertices), dtype=np.int64)
        par = np.empty_like(kid)
        pre_w = np.empty(n_vertices, dtype=np.int64) if weights else None
        pst_w = np.empty(n_vertices, dtype=np.int64) if weights else None
        phases = np.zeros(2, dtype=np.float64)
        n_out = raw_ss(
            lo.ctypes.data, hi.ctypes.data, len(lo), n_vertices, int(wide),
            *(a.ctypes.data for a in scratch), kid.ctypes.data, par.ctypes.data,
            None if pre_w is None else pre_w.ctypes.data,
            None if pst_w is None else pst_w.ctypes.data,
            phases.ctypes.data,
        )
        return kid[:n_out], par[:n_out], pre_w, pst_w, (float(phases[0]), float(phases[1]))

    def fn_seq_tree(src: np.ndarray, dst: np.ndarray, m: int):
        if src.dtype != dst.dtype or src.dtype not in (np.int32, np.int64):
            raise ValueError("sheep_seq_tree: src/dst must share an int32/int64 dtype")
        n_edges = len(src)
        deg_full = np.empty(m, dtype=np.int64)
        pos_full = np.empty(m, dtype=np.int32)
        scratch = (np.empty(n_edges, np.int32), np.empty(n_edges, np.int32),
                   np.empty(n_edges, np.int32), np.empty(m + 1, np.int32),
                   np.empty(m, np.int32))
        kid_out = np.empty(min(n_edges, m), dtype=np.int64)
        par_out = np.empty_like(kid_out)
        pre_w = np.empty(m, dtype=np.int64)
        pst_w = np.empty(m, dtype=np.int64)
        out_n = np.zeros(1, dtype=np.int64)
        phases = np.zeros(3, dtype=np.float64)
        n_out = raw_st(
            src.ctypes.data, dst.ctypes.data, src.dtype.itemsize, n_edges, m,
            deg_full.ctypes.data, pos_full.ctypes.data,
            *(a.ctypes.data for a in scratch),
            kid_out.ctypes.data, par_out.ctypes.data,
            pre_w.ctypes.data, pst_w.ctypes.data,
            out_n.ctypes.data, phases.ctypes.data,
        )
        if n_out == -2:
            raise ValueError(
                f"sheep_seq_tree: an endpoint falls outside [0, {m})"
            )
        if n_out == -3:  # multigraph degree overflow: caller falls back
            return None
        n = int(out_n[0])
        return {
            "n": n,
            "kid": kid_out[:n_out],
            "par": par_out[:n_out],
            "deg_full": deg_full,
            "pos_full": pos_full,
            "pre_w": pre_w[:n],
            "pst_w": pst_w[:n],
            "phases": (float(phases[0]), float(phases[1]), float(phases[2])),
        }

    _cached_ffd = fn_ffd
    _cached_sort_sweep = fn_sort_sweep
    _cached_seq_tree = fn_seq_tree
