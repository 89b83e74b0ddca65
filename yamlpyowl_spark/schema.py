"""Spark StructTypes for every pipeline table (see FIXTURES.md §2)."""

from pyspark.sql import Observation, functions as F, types as T

# the only pipeline input — exact shape from BASELINE.json input_hint
SOURCE_SCHEMA = T.StructType(
    [
        T.StructField("repo", T.StringType(), False),
        T.StructField("path", T.StringType(), False),
        T.StructField("commit", T.StringType(), False),
        T.StructField("lang", T.StringType(), False),
        T.StructField("content", T.StringType(), False),
    ]
)

TRIPLE_FIELDS = [
    T.StructField("subj", T.StringType(), True),
    T.StructField("pred", T.StringType(), True),
    T.StructField("obj", T.StringType(), True),
    T.StructField("obj_is_literal", T.BooleanType(), True),
    T.StructField("obj_datatype", T.StringType(), True),
    T.StructField("doc_iri", T.StringType(), True),
]

LINEAGE_FIELDS = [
    T.StructField("src_repo", T.StringType(), False),
    T.StructField("src_path", T.StringType(), False),
    T.StructField("src_commit", T.StringType(), False),
    T.StructField("src_sha256", T.StringType(), False),
]

TRIPLES_SCHEMA = T.StructType(TRIPLE_FIELDS + LINEAGE_FIELDS)

ERRORS_SCHEMA = T.StructType(
    LINEAGE_FIELDS
    + [
        T.StructField("stage", T.StringType(), False),
        T.StructField("message", T.StringType(), False),
    ]
)

# combined parse-UDF output: one Arrow stream, split relationally afterwards
PARSED_SCHEMA = T.StructType(
    [T.StructField("rec", T.StringType(), False)]  # "t" (triple) | "e" (error)
    + TRIPLE_FIELDS
    + LINEAGE_FIELDS
    + [
        T.StructField("stage", T.StringType(), True),
        T.StructField("message", T.StringType(), True),
    ]
)

NODES_SCHEMA = T.StructType(
    [
        T.StructField("iri", T.StringType(), False),
        T.StructField("name", T.StringType(), False),
        T.StructField("kind", T.StringType(), False),
        T.StructField("doc_iri", T.StringType(), True),
    ]
    + LINEAGE_FIELDS
)

PROGRESS_SCHEMA = T.StructType(
    LINEAGE_FIELDS
    + [
        T.StructField("n_triples", T.LongType(), False),
        T.StructField("n_errors", T.LongType(), False),
        T.StructField("run_id", T.StringType(), False),
    ]
)


def arrow_local_df(spark, rows, schema):
    """JVM-resident local relation from driver rows (pandas → Arrow →
    LocalTableScan). A tuple-list ``createDataFrame`` plans as a
    pickled Python RDD instead, re-running a Python worker pass on
    EVERY downstream action (~0.4–1.7 s at local[32]) — measurably
    wrong for the small inline relations (VALUES datablocks, ASK
    results, driver-computed closures) queries touch once per action.

    ``schema`` is a DDL string, a StructType, or a plain column-name
    list (types then inferred from the values, as the tuple path
    would). Values must be Arrow-convertible (strings/bools/numbers/
    None — the callers' contract)."""
    import pandas as pd

    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    if isinstance(schema, T.StructType):
        cols = [f.name for f in schema.fields]
        return spark.createDataFrame(
            pd.DataFrame(rows, columns=cols), schema=schema
        )
    # plain column-name list: keep the tuple path's type inference
    return spark.createDataFrame(pd.DataFrame(rows, columns=list(schema)))


# measured-size regimes shared by every operator that dispatches on a
# row count (closure, CC, linking): up to DRIVER_ROWS rows (≤ ~1 MB of
# string pairs) a relation is collected and solved on the driver; up to
# BROADCAST_ROWS rows (two-string rows ≈ 200 B → ~20 MB, inside the
# session's 64 MB autoBroadcastJoinThreshold) its joins are broadcast-
# hinted; past that the shuffle plans stand. Hints never change rows.
DRIVER_ROWS = 5_000
BROADCAST_ROWS = 100_000


def measured(df, collect_under=0):
    """``(checkpointed df, row count, rows or None)`` for one size
    dispatch. ``df`` is checkpointed once; the count is an
    ``Observation`` riding on that checkpoint's own job, so measuring
    costs no action beyond the materialization the caller needs anyway.
    Rows are collected from the checkpoint only when the count is at
    most ``collect_under``."""
    obs = Observation()
    ckpt = df.observe(obs, F.count(F.lit(1)).alias("n")).localCheckpoint()
    n = obs.get["n"]
    return ckpt, n, ckpt.collect() if n <= collect_under else None


FACT_COLS = [f.name for f in TRIPLE_FIELDS]


def doc_grouped_map(facts, fn):
    """One ``applyInPandas`` grouped on ``doc_iri``: ``fn(doc_iri,
    rows)`` gets the document's (subj, pred, obj, obj_is_literal,
    obj_datatype) tuples and returns output tuples of the same shape;
    the result carries the fact schema.

    The input is hash-partitioned on ``doc_iri`` to the session's
    parallelism first, as the parse repartitions before its UDF: the
    per-document Python CPU is invisible to AQE's byte-based partition
    coalescing, which would otherwise fold a small fact table — and
    every document's reasoning with it — into one task."""
    n = facts.sparkSession.sparkContext.defaultParallelism

    def per_doc(pdf):
        import pandas as pd

        doc_iri = pdf["doc_iri"].iloc[0]
        rows = zip(*(pdf[c].tolist() for c in FACT_COLS[:5]))
        return pd.DataFrame(
            [(*t, doc_iri) for t in fn(doc_iri, rows)], columns=FACT_COLS
        )

    return (
        facts.select(*FACT_COLS)
        .repartition(n, "doc_iri")
        .groupBy("doc_iri")
        .applyInPandas(per_doc, T.StructType(TRIPLE_FIELDS))
    )
