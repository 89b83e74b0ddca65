"""Semi-naive transitive closure of an edge relation.

Used for rdfs:subClassOf / transitive-property closure (the reference
delegates this to the Pellet reasoner; here it is an iterative
DataFrame self-join). Semi-naive: each round joins only the *delta*
paths against the base edges, so work is proportional to new paths, not
all paths. ``localCheckpoint`` per round cuts the growing lineage.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame, functions as F


@contextmanager
def small_loop_planning(spark, small: bool):
    """Scoped planning mode for a measured-SMALL iterative loop: with
    every join side already broadcast-hinted (the caller's size
    dispatch), AQE's stage-by-stage execution only adds one scheduled
    job per exchange it materializes — ~5× the action count on a
    tiny-graph round (measured 28 jobs for a 3-round closure). AQE's
    value (re-planning big shuffles, skew splitting) needs big
    shuffles; past the caller's size bound this is a no-op and AQE
    stays on. The session value is restored on exit."""
    if not small:
        yield
        return
    old = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        yield
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", old)


# closure-side broadcast bound (rows of the two-string pair tuple):
# see the dispatch note inside transitive_closure
_BROADCAST_PAIR_ROWS = 100_000

# driver-closure regime bounds (r7, guide §1.2/§3.1): a MEASURED-tiny
# edge relation (subclass hierarchies, transitive-property graphs — a
# few hundred distinct pairs at every SF) pays the iterative loop
# almost entirely in Spark job latency (~2 jobs × ~120 ms per doubling
# round), not compute. Under these bounds the closure is computed on
# the driver from ONE bounded collect and shipped back as a local
# relation — the bounded-collect discipline of the SWRL bad-rule
# diagnostic (swrl.check_rules). Both bounds are hard caps, not hints:
# past either, the distributed loops below run unchanged.
_DRIVER_CLOSURE_EDGES = 5_000      # collect ≤ ~1 MB of string pairs
_DRIVER_CLOSURE_PAIRS = 500_000    # abort cap on the result size


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

    r7 latency work (guide §3.1, §1.2): the per-round convergence count
    doubles as the action that materializes the round's LAZY checkpoint
    (one action per round instead of eager-checkpoint + isEmpty), and
    the counts it returns drive a measured-size broadcast dispatch —
    while the known closure size stays under ``_BROADCAST_PAIR_ROWS``
    the round's join sides are broadcast-hinted, collapsing the
    sort-merge exchanges (and their AQE stage jobs) that dominate a
    small-graph closure; a closure past the bound keeps the shuffle
    plans exactly as before. Hints never change the result set."""
    spark = edges.sparkSession
    base = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).distinct()
    closure = base.localCheckpoint()

    # driver-closure regime: ONE bounded probe (limit N+1 — never an
    # unbounded collect) answers both "how big" and "what are the
    # rows". If the relation fits, the whole closure is one Python
    # BFS + one parallelize — 2 jobs total instead of ~2 per doubling
    # round; identical pair set by construction (1+-hop reachability
    # over the same distinct string pairs).
    probe = closure.limit(_DRIVER_CLOSURE_EDGES + 1).collect()
    if len(probe) <= _DRIVER_CLOSURE_EDGES:
        pairs = _py_closure([(r["src"], r["dst"]) for r in probe], _DRIVER_CLOSURE_PAIRS)
        if pairs is not None:
            # ship back through the Arrow path (pandas → LocalTableScan):
            # a tuple-list createDataFrame plans as a pickled Python RDD
            # that re-runs a Python worker pass on EVERY downstream
            # action (~1.4 s each measured); the Arrow local relation
            # is JVM-resident and costs ~0.1 s
            import pandas as pd

            return spark.createDataFrame(
                pd.DataFrame(pairs, columns=["src", "dst"]), schema=closure.schema
            )

    delta = closure
    n_closure = closure.count()
    n_delta = n_closure

    for _ in range(max_iter):
        if (n_closure + n_delta) > _BROADCAST_PAIR_ROWS:
            break
        # measured-SMALL regime: naive squaring — closure ∪ closure∘
        # closure per round still doubles the covered path length
        # (O(log diameter) rounds), and a round costs exactly ONE
        # broadcast build + ONE count (which also materializes the lazy
        # checkpoint). Semi-naive's delta machinery exists to bound the
        # join work when the relation is big; under the bound the job
        # count IS the runtime, so the simpler round wins (~7 jobs →
        # ~2 per round measured). Equal count ⇔ equal set (the union
        # only grows), so convergence stays exact.
        c2 = closure.select(F.col("src").alias("csrc"), F.col("dst").alias("cdst"))
        ext = closure.join(
            F.broadcast(c2), F.col("dst") == F.col("csrc")
        ).select("src", F.col("cdst").alias("dst"))
        new_closure = closure.union(ext).distinct().localCheckpoint(eager=False)
        with small_loop_planning(spark, True):
            n_new = new_closure.count()
        if n_new == n_closure:
            return closure
        # delta for a potential hand-off to the big-regime loop below:
        # the conservative superset (the whole closure) keeps semi-naive
        # correct — it only re-derives more than strictly needed once
        n_delta = n_new - n_closure
        closure, n_closure = new_closure, n_new
        delta = closure

    for _ in range(max_iter):
        # big regime (or small loop exhausted max_iter): semi-naive with
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
