"""Partition-quality evaluators — sheep's exhaustive metric suite
(lib/partition.cpp:428-521) as DataFrame aggregations.

Every metric comes from one plan, whatever the part count k: join the
symmetrized edge table to per-vertex (pos, part) on both endpoints,
derive an owner part per edge under each rule, then aggregate per
(vertex, part). Each rule's owner parts are OR-ed into a one-hot part
mask whose popcount is the vertex's distinct-part count; the mask is
split into ceil(k / 62) BIGINT words (one word for k <= 62). The scalar
and per-rule ownership counts ride along as plain sums. Map-side partial
aggregation keeps hub vertices skew-safe: the group value is a few longs
regardless of degree.

Metrics (names match the reference's printout):
- edges_cut  : undirected edges with endpoints in different parts (:452)
- vcom_vol   : Σ_X |{X's part} ∪ {parts of X's neighbors}| − 1 (:444-460)
- ecv_hash   : edge owned by endpoint with smaller cormen_hash (:455, :423-427)
- ecv_down   : edge owned by lower-pos endpoint (:505) — the headline metric
- ecv_up     : mirror (:506)
- *_balance  : max per-part load for each ownership rule (:436-441, :507-508)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# multiplicative hashes for the ECV(hash) owner rule:
# cormen (partition.cpp:423-427): k * floor((sqrt(5)-1)/2 * 2^32) mod 2^32
# knuth  (partition.cpp:414-421): k * 2654435761 mod 2^32
_CORMEN_S = 2654435769
_KNUTH_S = 2654435761
_HASH_CONSTS = {"cormen": _CORMEN_S, "knuth": _KNUTH_S}


def _mult_hash(col, hash_fn: str):
    return F.pmod(col * F.lit(_HASH_CONSTS[hash_fn]), F.lit(2**32))


def joined_edges(edges_sym: DataFrame, vmeta: DataFrame, n_vertices: int | None = None,
                 once: DataFrame | None = None) -> DataFrame:
    """Symmetrized edges annotated with (pos, part) of both endpoints.
    The broadcast hint is size-guarded (graph.maybe_broadcast); pass
    ``n_vertices`` to skip the guard's count job in hot paths.

    ``once`` (r6, guide §2.3): callers holding the CANONICAL half (each
    undirected edge exactly once, src < dst) pass it here; the join then
    runs over E/2 rows — one scan of the canonical source and TWO
    broadcast probes per undirected edge instead of four — and both
    directed perspectives are re-created afterwards by exploding a
    2-struct array per row. The exploded rows are exactly the doubled
    view's rows, so every downstream aggregation is unchanged."""
    from .graph import maybe_broadcast

    v = maybe_broadcast(vmeta, n_rows=n_vertices)
    a = v.select(F.col("vid").alias("src"), F.col("pos").alias("pos_a"), F.col("part").alias("part_a"))
    b = v.select(F.col("vid").alias("dst"), F.col("pos").alias("pos_b"), F.col("part").alias("part_b"))
    if once is None:
        return edges_sym.join(a, "src").join(b, "dst")
    j = once.join(a, "src").join(b, "dst")
    both = F.array(
        F.struct(
            F.col("src"), F.col("dst"),
            F.col("pos_a"), F.col("part_a"), F.col("pos_b"), F.col("part_b"),
        ),
        F.struct(
            F.col("dst").alias("src"), F.col("src").alias("dst"),
            F.col("pos_b").alias("pos_a"), F.col("part_b").alias("part_a"),
            F.col("pos_a").alias("pos_b"), F.col("part_a").alias("part_b"),
        ),
    )
    return j.select(F.explode(both).alias("e")).select(
        "e.src", "e.dst", "e.pos_a", "e.part_a", "e.pos_b", "e.part_b"
    )


#: every metric evaluate() can produce (reference printout order)
ALL_METRICS = (
    "edges_cut", "vcom_vol", "ecv_down", "ecv_up", "ecv_hash",
    "down_balance", "up_balance", "hash_balance", "vertex_balance",
)

#: parts per BIGINT mask word
_WORD_BITS = 62


def _part_words(part: str, n_words: int) -> list:
    """One-hot mask of the int column ``part`` as ``n_words`` BIGINT
    words: word w is ``shiftleft(1, part % 62)`` when ``part DIV 62 = w``,
    else 0; a single word is the plain shift. SQL shiftleft: the shift
    amount may be a column (the python F.shiftleft wrapper only takes a
    literal)."""
    if n_words == 1:
        return [F.expr(f"shiftleft(CAST(1 AS BIGINT), {part})")]
    bit = f"shiftleft(CAST(1 AS BIGINT), {part} % {_WORD_BITS})"
    return [
        F.expr(f"IF({part} DIV {_WORD_BITS} = {w}, {bit}, CAST(0 AS BIGINT))")
        for w in range(n_words)
    ]


def _distinct_minus_one(words: list[list[str]]):
    """The group's distinct-part count minus one: per mask word, OR the
    group's bit_or of each listed column and popcount it; sum the words."""
    total = None
    for cols in words:
        m = F.bit_or(cols[0])
        for c in cols[1:]:
            m = m.bitwiseOR(F.bit_or(c))
        total = F.bit_count(m) if total is None else total + F.bit_count(m)
    return total - 1


def evaluate(edges_sym: DataFrame, vmeta: DataFrame, hash_fn: str = "cormen",
             metrics=None, once: DataFrame | None = None) -> dict:
    """Partition-quality metric dict for any part count in TWO jobs:
    (1) the O(V) part histogram, (2) ONE pass over the edge-join that
    aggregates per (vertex, part) and re-groups by part, collecting one
    row per part. The join is NOT cached: with the vertex side broadcast
    it is a pure map-side hash probe, and re-deriving it is cheaper at
    scale than materializing a 9-column E-sized cache (measured at 35M
    edges: a cached 3-job form cost 222 s cold; see BASELINE.md).

    ``metrics`` selects a subset of ALL_METRICS (default: all); a subset
    drops the other metrics' columns from the same plan. The headline
    quality gate only needs ``("edges_cut", "ecv_down",
    "down_balance")``. ``n_edges`` (and ``ecv_down_per_edge`` when
    ecv_down is requested) are always included. ``once``: see
    joined_edges.
    """
    requested = tuple(metrics) if metrics is not None else ALL_METRICS
    unknown = set(requested) - set(ALL_METRICS)
    if unknown:
        raise ValueError(f"unknown metrics: {sorted(unknown)}")
    down_owner = F.when(F.col("pos_a") < F.col("pos_b"), F.col("part_a")).otherwise(F.col("part_b"))
    up_owner = F.when(F.col("pos_a") > F.col("pos_b"), F.col("part_a")).otherwise(F.col("part_b"))
    hash_owner = F.when(
        _mult_hash(F.col("src"), hash_fn) < _mult_hash(F.col("dst"), hash_fn),
        F.col("part_a"),
    ).otherwise(F.col("part_b"))
    owners = {"down": down_owner, "up": up_owner, "hash": hash_owner}
    ecv_wanted = [m for m in ("vcom_vol", "ecv_down", "ecv_up", "ecv_hash") if m in requested]
    edge_bal = [m for m in ("down_balance", "up_balance", "hash_balance") if m in requested]

    # ONE tiny O(V) job yields the part histogram → the mask word count,
    # the broadcast guard's row count, AND vertex_balance.
    part_rows = vmeta.groupBy("part").agg(F.count("*").alias("c")).collect()
    n_vertices = sum(int(r["c"]) for r in part_rows)
    n_parts = max((int(r["part"]) for r in part_rows), default=0) + 1
    n_words = -(-n_parts // _WORD_BITS)

    j = joined_edges(edges_sym, vmeta, n_vertices=n_vertices, once=once)

    # ONE pass over the edge-join: per (src, part), bit_or
    # each requested ownership rule's part into its mask words (integer
    # shiftleft — no floating point), popcount at the end; the scalar
    # counts AND the per-rule ownership counts ride along as plain sums.
    # The per-vertex rows then re-group by part (V→K rows, a tiny second
    # exchange inside the same job) and K rows are collected.
    #
    # Balance identities (exact, not approximations): a down/up-owned
    # directed row's owner part IS part_a — the group key — because
    # ownership picks the src endpoint exactly when the pos comparison
    # favors it; and exactly one directed row of each undirected edge
    # satisfies the strict hash-winner predicate below (ties broken
    # toward the larger vid, the reference's rule for x < y).
    sel = [
        "src",
        F.col("part_a").alias("part"),
        ((F.col("src") < F.col("dst")) & (F.col("part_a") != F.col("part_b")))
        .cast("long").alias("cut"),
    ]
    aggs = [F.count("*").alias("n_directed"), F.sum("cut").alias("edges_cut")]
    if "vcom_vol" in ecv_wanted:
        words = zip(_part_words("part_a", n_words), _part_words("part_b", n_words))
        for w, (ma, mb) in enumerate(words):
            sel += [ma.alias(f"ma_{w}"), mb.alias(f"mb_{w}")]
        aggs.append(
            _distinct_minus_one([[f"ma_{w}", f"mb_{w}"] for w in range(n_words)]).alias("vcom_vol")
        )
    for name, owner in owners.items():
        key = f"ecv_{name}"
        if key in ecv_wanted:
            j = j.withColumn(f"{name}_p", owner)
            sel += [m.alias(f"m_{name}_{w}") for w, m in enumerate(_part_words(f"{name}_p", n_words))]
            aggs.append(_distinct_minus_one([[f"m_{name}_{w}"] for w in range(n_words)]).alias(key))
    if "down_balance" in edge_bal:
        sel.append((F.col("pos_a") < F.col("pos_b")).cast("long").alias("own_down"))
        aggs.append(F.sum("own_down").alias("n_down"))
    if "up_balance" in edge_bal:
        sel.append((F.col("pos_a") > F.col("pos_b")).cast("long").alias("own_up"))
        aggs.append(F.sum("own_up").alias("n_up"))
    if "hash_balance" in edge_bal:
        h_src = _mult_hash(F.col("src"), hash_fn)
        h_dst = _mult_hash(F.col("dst"), hash_fn)
        sel.append(
            ((h_src < h_dst) | ((h_src == h_dst) & (F.col("src") > F.col("dst"))))
            .cast("long").alias("own_hash")
        )
        aggs.append(F.sum("own_hash").alias("n_hash"))
    per_vertex = j.select(*sel).groupBy("src", "part").agg(*aggs)
    bal_col = {"down_balance": "n_down", "up_balance": "n_up", "hash_balance": "n_hash"}
    sums = ["n_directed", "edges_cut", *ecv_wanted, *(bal_col[m] for m in edge_bal)]
    rows = per_vertex.groupBy("part").agg(*[F.sum(c).alias(c) for c in sums]).collect()

    out = {"n_edges": sum(int(r["n_directed"] or 0) for r in rows) // 2}
    for m in ("edges_cut", *ecv_wanted):
        if m in requested:
            out[m] = sum(int(r[m] or 0) for r in rows)
    for m in edge_bal:
        out[m] = max((int(r[bal_col[m]] or 0) for r in rows), default=0)
    if "vertex_balance" in requested:
        out["vertex_balance"] = max((int(r["c"]) for r in part_rows), default=0)
    if "ecv_down" in requested:
        out["ecv_down_per_edge"] = out["ecv_down"] / max(out["n_edges"], 1)
    return out


def evaluate_oracle(edges: list[tuple[int, int]], pos: dict[int, int], part: dict[int, int],
                    hash_fn: str = "cormen") -> dict:
    """Pure-python port of the evaluator semantics (partition.cpp:428-521)
    for tests: exact, per the reference's nested-loop definition."""
    adj: dict[int, set[int]] = {}
    for a, b in edges:
        if a == b:
            continue
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)

    def cormen(k: int) -> int:
        return (k * _HASH_CONSTS[hash_fn]) % 2**32

    edges_cut = vcom = ecv_down = ecv_up = ecv_hash = 0
    down_bal: dict[int, int] = {}
    up_bal: dict[int, int] = {}
    hash_bal: dict[int, int] = {}
    vert_bal: dict[int, int] = {}
    n_edges = sum(len(s) for s in adj.values()) // 2
    for x, nbrs in adj.items():
        vert_bal[part[x]] = vert_bal.get(part[x], 0) + 1
        vset = {part[x]}
        dset, uset, hset = set(), set(), set()
        for y in nbrs:
            if x < y and part[x] != part[y]:
                edges_cut += 1
            vset.add(part[y])
            d = part[x] if pos[x] < pos[y] else part[y]
            u = part[x] if pos[x] > pos[y] else part[y]
            h = part[x] if cormen(x) < cormen(y) else part[y]
            dset.add(d)
            uset.add(u)
            hset.add(h)
            if pos[x] < pos[y]:
                down_bal[part[x]] = down_bal.get(part[x], 0) + 1
            if pos[x] > pos[y]:
                up_bal[part[x]] = up_bal.get(part[x], 0) + 1
            if x < y:
                hash_bal[h] = hash_bal.get(h, 0) + 1
        vcom += len(vset) - 1
        ecv_down += len(dset) - 1
        ecv_up += len(uset) - 1
        ecv_hash += len(hset) - 1
    return {
        "n_edges": n_edges,
        "edges_cut": edges_cut,
        "vcom_vol": vcom,
        "ecv_down": ecv_down,
        "ecv_up": ecv_up,
        "ecv_hash": ecv_hash,
        "down_balance": max(down_bal.values(), default=0),
        "up_balance": max(up_bal.values(), default=0),
        "hash_balance": max(hash_bal.values(), default=0),
        "vertex_balance": max(vert_bal.values(), default=0),
        "ecv_down_per_edge": ecv_down / max(n_edges, 1),
    }
