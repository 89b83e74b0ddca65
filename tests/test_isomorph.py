"""Solve-once-per-isomorphism-class wrapper: the wrapped reasoner must
produce EXACTLY the per-document output while invoking the underlying
operator on one representative per content class."""

import pytest

from yamlpyowl_spark.operators.dlreason import (
    OWL,
    OWL_ON_CLASS,
    OWL_ON_PROPERTY,
    RDF_FIRST,
    RDF_NIL,
    RDF_REST,
    RDFS_RANGE,
    dl_model_search,
)
from yamlpyowl_spark.operators.isomorph import reason_per_isomorph
from yamlpyowl_spark.operators.owlrl import owlrl_materialize
from yamlpyowl_spark import vocab as V

SCHEMA = (
    "subj string, pred string, obj string, obj_is_literal boolean, "
    "obj_datatype string, doc_iri string"
)


def _qualified_doc(base):
    """The kg_dl_qualified fixture shape, rebased onto `base`."""
    def enum(cls, *members):
        e, rows = f"_:e_{cls}", []
        rows.append((base + cls, V.OWL_EQUIVALENT_CLASS, e))
        rows.append((e, OWL + "oneOf", f"_:l_{cls}0"))
        for i, mbr in enumerate(members):
            nxt = f"_:l_{cls}{i + 1}" if i + 1 < len(members) else RDF_NIL
            rows.append((f"_:l_{cls}{i}", RDF_FIRST, base + mbr))
            rows.append((f"_:l_{cls}{i}", RDF_REST, nxt))
        return rows

    rows = (
        enum("Man", "alice")
        + enum("House", "h1", "h2")
        + enum("Warm", "h1")
        + [(base + "q", RDFS_RANGE, base + "House")]
        + [
            (base + "alice", V.RDF_TYPE, "_:r1"),
            ("_:r1", OWL_ON_PROPERTY, base + "q"),
            ("_:r1", OWL + "qualifiedCardinality", "1"),
            ("_:r1", OWL_ON_CLASS, base + "Warm"),
        ]
    )
    return [(s, p, o, False, None, base) for s, p, o in rows]


def _symp_doc(base):
    rows = [
        (base + "p", V.RDF_TYPE, OWL + "SymmetricProperty"),
        (base + "a", base + "p", base + "b"),
    ]
    return [(s, p, o, False, None, base) for s, p, o in rows]


@pytest.fixture(scope="module")
def forked(spark):
    # three IRI-rewritten forks of the CSP doc + one distinct rule doc
    rows = []
    for k in range(3):
        rows += _qualified_doc(f"https://w3id.org/forks/qual/{k}#")
    rows += _symp_doc("https://ex.org/symp#")
    return spark.createDataFrame(rows, SCHEMA)


def test_isomorph_dl_output_equals_per_doc(forked):
    direct = {tuple(r) for r in dl_model_search(forked).collect()}
    wrapped = {
        tuple(r)
        for r in reason_per_isomorph(forked, dl_model_search).collect()
    }
    assert wrapped == direct
    # the entailment really instantiates per fork
    assert any(
        s.endswith("alice") and p.endswith("q") and "forks/qual/2#" in s
        for s, p, o, *_ in wrapped
    )


def test_isomorph_owlrl_output_equals_per_doc(forked):
    direct = {tuple(r) for r in owlrl_materialize(forked).collect()}
    wrapped = {
        tuple(r)
        for r in reason_per_isomorph(forked, owlrl_materialize).collect()
    }
    assert wrapped == direct


def test_isomorph_solves_one_rep_per_class(forked):
    seen = {}

    def op(df):
        seen["n_docs"] = df.select("doc_iri").distinct().count()
        return dl_model_search(df)

    reason_per_isomorph(forked, op).count()
    # 3 forks collapse to 1 representative; the symp doc is its own
    assert seen["n_docs"] == 2


def test_isomorph_distinct_contents_stay_separate(spark):
    # two docs whose contents differ (not just rebased) must NOT merge
    rows = _symp_doc("https://ex.org/s1#") + [
        (
            "https://ex.org/s2#p",
            V.RDF_TYPE,
            OWL + "SymmetricProperty",
            False,
            None,
            "https://ex.org/s2#",
        ),
        (
            "https://ex.org/s2#a",
            "https://ex.org/s2#p",
            "https://ex.org/s2#c",  # different object -> different class
            False,
            None,
            "https://ex.org/s2#",
        ),
    ]
    t = spark.createDataFrame(rows, SCHEMA)
    direct = {tuple(r) for r in owlrl_materialize(t).collect()}
    wrapped = {tuple(r) for r in reason_per_isomorph(t, owlrl_materialize).collect()}
    assert wrapped == direct
    assert any(o.endswith("s2#a") for _s, _p, o, *_ in wrapped)


def _string_builtin_fork(base):
    """A rule whose builtins read inside an IRI-bound variable: the
    derived values differ between forks, not just by the base IRI."""
    rows = [
        (base + "r", V.YPO_RULE_SRC,
         "named(?x, ?y), stringLength(?n, ?y), upperCase(?u, ?y) "
         "-> nameLen(?x, ?n), nameUpper(?x, ?u)", True),
        (base + "a", base + "named", base + "b", False),
    ]
    return [(s, p, o, il, None, base) for s, p, o, il in rows]


def test_string_builtin_docs_reason_alone(spark):
    """Two forks that differ only in base IRI, with stringLength/
    upperCase over an IRI-bound variable: reasoned() must equal the
    three engines run per document without dedup."""
    from pyspark.sql import functions as F

    from yamlpyowl_spark.operators.swrl import forward_chain
    from yamlpyowl_spark.plans.pipeline import KGPipeline

    t = spark.createDataFrame(
        _string_builtin_fork("http://a.org/x#") + _string_builtin_fork("http://bb.org/x#"),
        SCHEMA,
    )
    direct = {
        tuple(r)
        for r in forward_chain(t, on_unsupported="skip")
        .unionByName(dl_model_search(t))
        .unionByName(owlrl_materialize(t))
        .collect()
    }
    got = {tuple(r) for r in KGPipeline(spark).reasoned(t).collect()}
    assert got == direct
    lens = {
        r["obj"]
        for r in KGPipeline(spark).reasoned(t).filter(F.col("pred").endswith("nameLen")).collect()
    }
    assert lens == {str(len("http://a.org/x#b")), str(len("http://bb.org/x#b"))}


def test_reasoned_plan_one_fingerprint_one_grouped_map(spark, forked):
    """reasoned() is ONE Spark pass: one grouped-map Python stage for
    all three engines, one fingerprint aggregate (its exchange reused
    by every consumer), and the grouped map's input hash-partitioned on
    doc_iri to the session's parallelism rather than left to AQE's
    coalescing."""
    import re

    from yamlpyowl_spark.plans.pipeline import KGPipeline

    assert spark.sparkContext.defaultParallelism > 1
    df = KGPipeline(spark).reasoned(forked)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Final Plan ==")[1].split("== Initial Plan ==")[0]
    assert final.count("FlatMapGroupsInPandas") == 1
    # one map-side and one final fingerprint aggregate
    n_partial = final.count("partial_collect_list(")
    assert n_partial == 1 and final.count("collect_list(") - n_partial == 1, final
    lines = final.splitlines()
    i = next(k for k, l in enumerate(lines) if "FlatMapGroupsInPandas" in l)
    ex = next(l for l in lines[i:] if "Exchange " in l)
    m = re.search(r"Exchange hashpartitioning\(doc_iri#\d+, (\d+)\)", ex)
    assert m and int(m.group(1)) == spark.sparkContext.defaultParallelism, ex
