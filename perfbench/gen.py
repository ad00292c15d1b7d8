#!/usr/bin/env python3
"""Seeded input generator for the benchmark.

Writes power-law SNAP edge lists with numpy in one process. The shape
is the skewed synthetic graph the engine has always been benchmarked
on: ``src`` uniform over the id range, ``dst = floor(u**2.5 * V)`` so
hubs sit at low ids. Raw pairs may repeat and may be self loops; the
engine's ``symmetrize`` removes both.

Each file is recorded in a manifest with its raw pair count, its
vertex count (distinct ids on a non-loop pair) and a sha256 of its
bytes. The engine under test receives only the files.

    python3 perfbench/gen.py --seed 7 --workload partition-small --out DIR
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os

import numpy as np

# workload -> (raw pairs, id range) of its one file. The sizes make a
# warm op last 10-13 s on a 4-CPU host, long enough that one op's wall
# averages over the host's swings of a few seconds, while one benchmark
# run (JVM launch, a cold op, a warm op, setup samples and the output
# checks) stays near a minute. The analytics graph is dense (average
# degree ~100), so PageRank converges in eight supersteps on every seed,
# the eighth being the one that cuts lineage, and the op's length does
# not swing with the seed.
WORKLOADS = {
    "partition-powerlaw": (250_000, 37_500),
    "analytics-converge": (40_000, 600),
}


def graph_pairs(rng: np.random.Generator, n_pairs: int, n_ids: int) -> tuple[np.ndarray, np.ndarray]:
    src = rng.integers(0, n_ids, size=n_pairs, dtype=np.int64)
    dst = np.minimum((rng.random(n_pairs) ** 2.5 * n_ids).astype(np.int64), n_ids - 1)
    return src, dst


def snap_bytes(src: np.ndarray, dst: np.ndarray) -> bytes:
    return "".join(map("{} {}\n".format, src.tolist(), dst.tolist())).encode()


def vertex_count(src: np.ndarray, dst: np.ndarray) -> int:
    keep = src != dst
    return int(np.unique(np.concatenate([src[keep], dst[keep]])).size)


def generate(workload: str, seed: int, out_dir: str) -> dict:
    """Write the workload's SNAP file under ``out_dir`` and return its
    manifest entry."""
    if workload not in WORKLOADS:
        raise ValueError(f"unknown workload {workload!r}; expected one of {sorted(WORKLOADS)}")
    os.makedirs(out_dir, exist_ok=True)
    n_pairs, n_ids = WORKLOADS[workload]
    src, dst = graph_pairs(np.random.default_rng([seed, sorted(WORKLOADS).index(workload)]), n_pairs, n_ids)
    data = snap_bytes(src, dst)
    path = os.path.join(out_dir, "graph.snap")
    with open(path, "wb") as f:
        f.write(data)
    manifest = {
        "workload": workload,
        "seed": seed,
        "path": path,
        "pairs": n_pairs,
        "vertices": vertex_count(src, dst),
        "sha256": hashlib.sha256(data).hexdigest(),
    }
    with open(os.path.join(out_dir, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1)
    return manifest


def read_pairs(path: str) -> tuple[np.ndarray, np.ndarray]:
    """Parse a SNAP file back into (src, dst) int64 arrays."""
    with open(path, "rb") as f:
        flat = np.array(f.read().split(), dtype=np.int64)
    return flat[0::2].copy(), flat[1::2].copy()


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--workload", choices=sorted(WORKLOADS), required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    print(json.dumps(generate(args.workload, args.seed, args.out)))


if __name__ == "__main__":
    main()
