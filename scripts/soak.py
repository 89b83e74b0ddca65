#!/usr/bin/env python
"""10x soak: end-to-end materialize + linking at ~100k documents.

One-off verification that the pipeline's shape holds an order of
magnitude above the bench corpus. Writes BENCH/soak.json, which
bench.py's BASELINE.md generator includes on every regeneration
(the soak is too slow to run per-bench).

    python scripts/soak.py [n_forks]   # default 25600 -> ~102k docs

Cores come from ``SPARK_GRAFT_CPUS`` (default: nproc); the driver heap
from ``YPO_DRIVER_MEM`` (default 6g, sized for a 15 GB box).
"""

from __future__ import annotations

import json
import os
import resource
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main():
    n_forks = int(sys.argv[1]) if len(sys.argv) > 1 else 25_600
    # cores: SPARK_GRAFT_CPUS, else every CPU this process may run on
    # (what nproc prints)
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
    # a 6g driver heap leaves a 15 GB box room for the OS and one
    # Python worker per core; reasoning runs per document inside the
    # workers, so the heap holds no fixpoint state. YPO_DRIVER_MEM
    # overrides it.
    os.environ.setdefault("YPO_DRIVER_MEM", "6g")
    from pyspark.sql import functions as F

    from yamlpyowl_spark.operators.linking import canonical_nodes
    from yamlpyowl_spark.plans.pipeline import KGPipeline
    from yamlpyowl_spark.plans.session import get_spark
    from yamlpyowl_spark.sources.corpus import write_corpus_parquet
    from yamlpyowl_spark.sources.fixtures import build_default_import_map

    corpus = os.path.join(REPO, ".artifacts", f"soak_corpus_{n_forks}.parquet")
    if not os.path.exists(corpus):
        os.makedirs(os.path.dirname(corpus), exist_ok=True)
        n = write_corpus_parquet(
            corpus, n_forks=n_forks, noise=True, giant_repo_fraction=0.5, seed=7
        )
        print(f"soak corpus: {n} rows", file=sys.stderr)

    spark = get_spark(cpus=cpus, app_name="ypo-soak")
    pipe = KGPipeline(spark, import_map=build_default_import_map())
    src = spark.read.parquet(corpus)
    n_docs = src.filter(
        (F.col("lang") == "yaml") & F.col("path").endswith(".owl.yml")
    ).count()

    out = tempfile.mkdtemp(prefix="soak_out_")
    t0 = time.time()
    pipe.materialize(src, out)
    mat_sec = time.time() - t0
    n_triples = spark.read.parquet(f"{out}/triples").count()

    t0 = time.time()
    triples = spark.read.parquet(f"{out}/triples")
    nodes = pipe.nodes(triples).localCheckpoint()
    canon = canonical_nodes(nodes)
    n_mentions = canon.count()
    link_sec = time.time() - t0

    # r6 (r5 verdict #6): soak the REASONING path too — SWRL forward
    # chain + DL CSP + OWL-RL over the full 10x corpus (doc-scoped, so
    # this exercises the per-document fan-out at ~100k groups), not
    # just parse+link
    t0 = time.time()
    n_inferred = pipe.reasoned(triples).count()
    reason_sec = time.time() - t0

    rss_gb = round(resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1e6, 2)
    result = {
        "n_docs": n_docs,
        "materialize_sec": round(mat_sec, 1),
        "n_triples": n_triples,
        "triples_per_sec": round(n_triples / mat_sec),
        "linking_sec": round(link_sec, 1),
        "n_canonical_mentions": n_mentions,
        "reason_sec": round(reason_sec, 1),
        "n_inferred": n_inferred,
        "inferred_triples_per_sec": round(n_inferred / reason_sec)
        if reason_sec
        else None,
        "driver_rss_gb": rss_gb,
    }
    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    with open(os.path.join(REPO, "BENCH", "soak.json"), "w") as fh:
        json.dump(result, fh, indent=2)
    print(json.dumps(result))
    spark.stop()


if __name__ == "__main__":
    main()
