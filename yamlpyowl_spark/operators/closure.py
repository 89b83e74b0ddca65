"""Semi-naive transitive closure of an edge relation.

Used for rdfs:subClassOf / transitive-property closure (the reference
delegates this to the Pellet reasoner; here it is an iterative
DataFrame self-join). Semi-naive: each round joins only the *delta*
paths against the base edges, so work is proportional to new paths, not
all paths. ``localCheckpoint`` per round cuts the growing lineage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .. import schema

# abort cap on the driver-computed closure: past it the distributed
# loops below run unchanged
_DRIVER_CLOSURE_PAIRS = 500_000


def _py_closure(pairs, cap: int):
    """Exact transitive closure of a tiny edge list on the driver.
    Per-source BFS (cycle-safe; a source reaches itself only via a real
    cycle, matching the distributed semantics of 1+ hops). Returns None
    if the result would exceed ``cap`` — caller falls back to the
    distributed loop."""
    from collections import defaultdict

    adj = defaultdict(list)
    for a, b in pairs:
        adj[a].append(b)
    out = []
    for s in adj:
        seen = set()
        stack = list(adj[s])
        while stack:
            v = stack.pop()
            if v not in seen:
                seen.add(v)
                if v in adj:
                    stack.extend(adj[v])
        out.extend((s, v) for v in seen)
        if len(out) > cap:
            return None
    return sorted(out)


def transitive_closure(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
) -> DataFrame:
    """All pairs (src, dst) reachable via 1+ hops. Deduplicated.

    Path doubling: each round extends the DELTA by the full CLOSURE so
    far (not just base edges), so after round k every path of length
    ≤ 2^k is present — O(log diameter) rounds instead of O(diameter).
    Each round costs one join + one anti-join + one checkpoint; for
    driver-loop iteration the round count IS the latency, and deep
    chains at corpus scale stay bounded.

    Size dispatch (``schema.measured``): the checkpoint of the distinct
    edge set counts its own rows. A measured-tiny relation (subclass
    hierarchies, transitive-property graphs) is closed on the driver by
    one BFS and shipped back as a local relation — an iterative loop
    there pays almost only Spark job latency. While the known closure
    stays under ``schema.BROADCAST_ROWS`` each round is a broadcast
    squaring; past it, semi-naive rounds keep the shuffle plans. Both
    loops share one ``max_iter`` round budget, and each round's
    convergence count also materializes its lazy checkpoint."""
    base = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).distinct()
    closure, n_closure, rows = schema.measured(base, schema.DRIVER_ROWS)
    if rows is not None:
        # identical pair set by construction: 1+-hop reachability over
        # the same distinct string pairs
        pairs = _py_closure(rows, _DRIVER_CLOSURE_PAIRS)
        if pairs is not None:
            return schema.arrow_local_df(edges.sparkSession, pairs, closure.schema)

    delta, n_delta = closure, n_closure
    rounds = 0
    while rounds < max_iter and n_closure + n_delta <= schema.BROADCAST_ROWS:
        rounds += 1
        # broadcast regime: naive squaring — closure ∪ closure∘closure
        # per round still doubles the covered path length (O(log
        # diameter) rounds) for one broadcast build and one count;
        # semi-naive's delta machinery only pays off when the join work
        # is big. Equal count ⇔ equal set (the union only grows), so
        # convergence stays exact.
        c2 = closure.select(F.col("src").alias("csrc"), F.col("dst").alias("cdst"))
        ext = closure.join(
            F.broadcast(c2), F.col("dst") == F.col("csrc")
        ).select("src", F.col("cdst").alias("dst"))
        new_closure = closure.union(ext).distinct().localCheckpoint(eager=False)
        n_new = new_closure.count()
        if n_new == n_closure:
            return closure
        # delta for a potential hand-off to the big-regime loop below:
        # the conservative superset (the whole closure) keeps semi-naive
        # correct — it only re-derives more than strictly needed once
        n_delta = n_new - n_closure
        closure, n_closure = new_closure, n_new
        delta = closure

    for _ in range(max_iter - rounds):
        # big regime, on the rounds the small loop left: semi-naive with
        # path doubling — every genuinely-new pair decomposes into two
        # halves of which at least one is new (else it existed already),
        # so extend the delta on BOTH sides — delta∘closure alone misses
        # pairs whose only new half is the suffix
        # fresh exprIds via aliased projections: in round 1 delta IS
        # closure, and a dataset-alias self-join trips constraint
        # propagation at the checkpoint (`key not found` in
        # rewriteStatsAndConstraints)
        c2 = closure.select(F.col("src").alias("csrc"), F.col("dst").alias("cdst"))
        fwd = delta.join(c2, F.col("dst") == F.col("csrc")).select(
            "src", F.col("cdst").alias("dst")
        )
        bwd = c2.join(delta, F.col("cdst") == F.col("src")).select(
            F.col("csrc").alias("src"), "dst"
        )
        new_paths = fwd.union(bwd).distinct()
        delta = new_paths.join(closure, ["src", "dst"], "left_anti").localCheckpoint(
            eager=False
        )
        n_delta = delta.count()
        if n_delta == 0:
            break
        # lazy: the next round's first action (or the caller's)
        # materializes it — one fewer job per round; the union of two
        # checkpointed frames keeps lineage depth 1 either way
        closure = closure.union(delta).localCheckpoint(eager=False)
        n_closure += n_delta

    return closure
