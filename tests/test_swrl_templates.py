"""SWRL rule compilation into structural templates (one compiled shape
per rule structure, shared across documents), the per-document
semi-naive engine's parity with the sequential oracle, and up-front
validation of unsupported fragments (ADVICE r01)."""

import pytest
from pyspark.sql import functions as F, types as T

from yamlpyowl_spark import vocab as V
from yamlpyowl_spark.operators import swrl
from yamlpyowl_spark.operators.swrl import (
    INVERSE_KEY,
    TRANSITIVE_KEY,
    UnsupportedSWRLError,
    encode_rule,
    forward_chain,
    rule_table,
)

TRIPLE_COLS = T.StructType(
    [
        T.StructField("subj", T.StringType()),
        T.StructField("pred", T.StringType()),
        T.StructField("obj", T.StringType()),
        T.StructField("obj_is_literal", T.BooleanType()),
        T.StructField("obj_datatype", T.StringType()),
        T.StructField("doc_iri", T.StringType()),
    ]
)


def _doc(iri, n=3):
    """One synthetic doc: a chain a0-p->a1-p->...-p->a{n}, a rule
    'p(?x,?y) -> q(?x,?y)', and one typed individual."""
    rows = [
        (f"{iri}rule1", V.YPO_RULE_SRC, "p(?x, ?y) -> q(?x, ?y)", True, None, iri),
        (f"{iri}a0", V.RDF_TYPE, f"{iri}Thing", False, None, iri),
    ]
    for i in range(n):
        rows.append((f"{iri}a{i}", f"{iri}p", f"{iri}a{i+1}", False, None, iri))
    return rows


def test_synth_keys_match_encoder():
    # the fixed keys used for TransitiveProperty/inverseOf rows must
    # stay in lockstep with encode_rule's output for the same shapes
    k, s = encode_rule("D#", [("p", ["?x", "?y"]), ("p", ["?y", "?z"])], [("p", ["?x", "?z"])])
    assert k == TRANSITIVE_KEY and s == ["D#p", "D#p", "D#p"]
    k, s = encode_rule("D#", [("p", ["?x", "?y"])], [("q", ["?y", "?x"])])
    assert k == INVERSE_KEY and s == ["D#p", "D#q"]


def test_same_shape_rules_share_template():
    k1, _ = encode_rule("A#", [("hasPart", ["?a", "?b"])], [("contains", ["?a", "?b"])])
    k2, _ = encode_rule("B#", [("owns", ["?x", "?y"])], [("holds", ["?x", "?y"])])
    assert k1 == k2


def test_hundred_docs_one_template(spark):
    rows = []
    for i in range(120):
        rows.extend(_doc(f"http://ex.org/d{i}#"))
    triples = spark.createDataFrame(rows, TRIPLE_COLS)

    rt = rule_table(triples)
    keys = [r[0] for r in rt.select("template_key").distinct().collect()]
    # 120 documents, 120 rule instances -> ONE template
    assert keys == ["P(v0,v1)=>P(v1,v0)"] or len(keys) == 1
    assert rt.count() == 120

    inferred = forward_chain(triples)
    # every doc gets its own q-facts, none cross documents
    got = inferred.filter(F.col("doc_iri") == "http://ex.org/d7#")
    objs = {(r["subj"], r["pred"], r["obj"]) for r in got.collect()}
    P = "http://ex.org/d7#"
    assert objs == {(f"{P}a{i}", f"{P}q", f"{P}a{i+1}") for i in range(3)}
    assert inferred.count() == 120 * 3


def test_builtin_first_rejected_up_front(spark):
    rows = [
        ("http://e#r", V.YPO_RULE_SRC, "greaterThan(?v, 1), p(?x, ?v) -> q(?x, ?x)",
         True, None, "http://e#"),
    ]
    triples = spark.createDataFrame(rows, TRIPLE_COLS)
    with pytest.raises(UnsupportedSWRLError, match="must follow an atom binding"):
        forward_chain(triples)
    # skip mode drops the rule with a warning instead of crashing
    with pytest.warns(UserWarning, match="skipping unsupported"):
        out = forward_chain(triples, on_unsupported="skip")
    assert out.count() == 0


def test_unbound_head_var_rejected():
    with pytest.raises(UnsupportedSWRLError, match="not bound in body"):
        encode_rule("D#", [("p", ["?x", "?y"])], [("q", ["?x", "?z"])])


def test_class_atom_head(spark):
    # Person(?x) -> Adult(?x): standard SWRL the old engine crashed on
    rows = [
        ("http://e#r", V.YPO_RULE_SRC, "Person(?x) -> Adult(?x)", True, None, "http://e#"),
        ("http://e#bob", V.RDF_TYPE, "http://e#Person", False, None, "http://e#"),
        # chains: a second rule consumes the inferred class membership
        ("http://e#r2", V.YPO_RULE_SRC, "Adult(?x) -> canVote(?x, ?x)", True, None, "http://e#"),
    ]
    triples = spark.createDataFrame(rows, TRIPLE_COLS)
    inferred = forward_chain(triples)
    got = {(r["subj"], r["pred"], r["obj"]) for r in inferred.collect()}
    assert ("http://e#bob", V.RDF_TYPE, "http://e#Adult") in got
    assert ("http://e#bob", "http://e#canVote", "http://e#bob") in got


def test_class_atom_chain_multi_round(spark):
    # A 3-round type chain (Person -> Adult -> Voter -> canVote fact)
    # plus a mixed body consuming a round-2 type: exercises the
    # types-DELTA semi-naive path (r2 verdict #1 — class atoms now
    # evaluate in delta position instead of full re-evaluation)
    E = "http://e#"
    rows = [
        (f"{E}r1", V.YPO_RULE_SRC, "Person(?x) -> Adult(?x)", True, None, E),
        (f"{E}r2", V.YPO_RULE_SRC, "Adult(?x) -> Voter(?x)", True, None, E),
        (f"{E}r3", V.YPO_RULE_SRC, "Voter(?x), likes(?x, ?y) -> endorses(?x, ?y)", True, None, E),
        (f"{E}bob", V.RDF_TYPE, f"{E}Person", False, None, E),
        (f"{E}ann", V.RDF_TYPE, f"{E}Adult", False, None, E),
        (f"{E}bob", f"{E}likes", f"{E}ann", False, None, E),
    ]
    triples = spark.createDataFrame(rows, TRIPLE_COLS)
    got = {
        (r["subj"], r["pred"], r["obj"])
        for r in forward_chain(triples).collect()
    }
    assert got == {
        (f"{E}bob", V.RDF_TYPE, f"{E}Adult"),
        (f"{E}bob", V.RDF_TYPE, f"{E}Voter"),
        (f"{E}ann", V.RDF_TYPE, f"{E}Voter"),
        (f"{E}bob", f"{E}endorses", f"{E}ann"),
    }


def test_subclass_closure_feeds_delta_types(spark):
    # an inferred type must trigger class atoms over its SUPERCLASS in
    # a later round (the types delta is closed before the anti-join)
    E = "http://e#"
    rows = [
        (f"{E}r1", V.YPO_RULE_SRC, "seed(?x, ?y) -> Cat(?y)", True, None, E),
        (f"{E}r2", V.YPO_RULE_SRC, "Animal(?x) -> Tracked(?x)", True, None, E),
        (f"{E}Cat", V.RDFS_SUBCLASSOF, f"{E}Animal", False, None, E),
        (f"{E}a", f"{E}seed", f"{E}tom", False, None, E),
    ]
    triples = spark.createDataFrame(rows, TRIPLE_COLS)
    got = {
        (r["subj"], r["pred"], r["obj"])
        for r in forward_chain(triples).collect()
    }
    assert (f"{E}tom", V.RDF_TYPE, f"{E}Tracked") in got


def test_bad_rule_collect_is_bounded(spark):
    # 10k systematically-bad rules: the diagnostic must collect at most
    # 6 rows (plus one aggregate count), never the full set, and the
    # message reports the true remainder
    E = "http://e#"
    rows = [
        # unique srcs (rule_table de-dups on src), each invalid up front
        (f"{E}r{i}", V.YPO_RULE_SRC,
         f"greaterThan(?v, 1), p{i}(?x, ?v) -> q(?x, ?x)", True, None, E)
        for i in range(10_000)
    ]
    triples = spark.createDataFrame(rows, TRIPLE_COLS)
    with pytest.raises(UnsupportedSWRLError, match=r"\(\+9995 more\)"):
        forward_chain(triples)


def test_rule_parse_is_distributed(spark):
    # the rules table (the bad-rule diagnostic's input) is built by an
    # Arrow-batched stage, never row-at-a-time Python
    rows = _doc("http://ex.org/solo#")
    triples = spark.createDataFrame(rows, TRIPLE_COLS)
    plan = rule_table(triples)._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan or "FlatMapGroupsInPandas" in plan or "MapInArrow" in plan
    assert "BatchEvalPython" not in plan


# ---------------------------------------------------------------------------
# property-based: encode_rule <-> _parse_template slot-walk symmetry
# ---------------------------------------------------------------------------

from hypothesis import given, settings, strategies as st

from yamlpyowl_spark.operators.swrl import _parse_template

_names = st.sampled_from(["p", "q", "hasPart", "owns", "rel_x"])
_vars = st.sampled_from(["?x", "?y", "?z", "?v"])
_consts = st.sampled_from(["bob", "dresden", "42"])


@st.composite
def _rules(draw):
    """Random rules within the supported fragment: property/class body
    atoms, optional trailing builtin over a bound variable, property or
    class head over bound variables/constants."""
    n_body = draw(st.integers(1, 4))
    body, bound = [], []
    for _ in range(n_body):
        kind = draw(st.sampled_from(["prop", "prop", "cls"]))
        if kind == "cls":
            a = draw(st.one_of(_vars, _consts))
            body.append((draw(_names).capitalize(), [a]))
        else:
            s = draw(st.one_of(_vars, _consts))
            o = draw(st.one_of(_vars, _consts))
            body.append((draw(_names), [s, o]))
        bound.extend(x for x in body[-1][1] if x.startswith("?"))
    if bound and draw(st.booleans()):
        body.append(("greaterThan", [draw(st.sampled_from(bound)), "0.5"]))
    if not bound:
        head_args = [draw(_consts), draw(_consts)]
    else:
        head_args = [draw(st.sampled_from(bound)), draw(st.one_of(st.sampled_from(bound), _consts))]
    head = [(draw(_names), head_args)]
    return body, head


@settings(max_examples=200, deadline=None)
@given(_rules())
def test_encode_parse_template_slot_walk_symmetry(rule):
    """The driver-side template parser must consume slots in exactly
    the order the encoder emits them — for ANY rule in the fragment."""
    body, head = rule
    key, slots = encode_rule("http://d#", body, head)
    tb, th, n_slots = _parse_template(key)
    assert n_slots == len(slots)
    assert len(tb) == len(body) and len(th) == len(head)
    # every slot index referenced is in range and each slot is
    # referenced exactly once
    seen = []

    def track(atom, is_head):
        kind = atom[0]
        if kind == "bi":
            if atom[3][0] == "c":
                seen.append(atom[3][1])
        elif kind == "cls":
            seen.append(atom[1])
            if atom[2][0] == "c":
                seen.append(atom[2][1])
        else:
            seen.append(atom[1])
            for sub in (atom[2], atom[3]):
                if sub[0] == "c":
                    seen.append(sub[1])
                elif sub[0] == "c2":
                    seen.extend([sub[1], sub[2]])
                elif sub[0] == "lit":
                    seen.extend([sub[1], sub[2]])

    for a in tb:
        track(a, False)
    for a in th:
        track(a, True)
    assert sorted(seen) == list(range(len(slots)))


@settings(max_examples=100, deadline=None)
@given(_rules(), _rules())
def test_same_key_means_same_shape(r1, r2):
    """Two rules sharing a template key MUST have identical structure
    (the whole basis for evaluating them in one plan)."""
    k1, s1 = encode_rule("http://a#", *r1)
    k2, s2 = encode_rule("http://b#", *r2)
    if k1 == k2:
        assert len(s1) == len(s2)


def test_builtin_comparison_skips_non_numeric_bindings(spark):
    """A greaterThan builtin over a property that ALSO has non-numeric
    values must drop those bindings (the sequential oracle skips them
    on ValueError) — ANSI mode's throwing cast would kill the job."""
    from yamlpyowl_spark.operators.swrl import forward_chain

    E = "http://ex.org/bi#"
    SWRL = "http://www.w3.org/2003/11/swrl#"
    rows = [
        # rule: hasV(?x, ?v) ^ greaterThan(?v, 10) -> Big(?x)
        (E, "https://w3id.org/yamlpyowl-spark/vocab#ruleSrc",
         "hasV(?x, ?v), greaterThan(?v, 10) -> Big(?x)", True, None, E),
        (E + "a", E + "hasV", "30", True,
         "http://www.w3.org/2001/XMLSchema#integer", E),
        (E + "b", E + "hasV", "not-a-number", True,
         "http://www.w3.org/2001/XMLSchema#string", E),
    ]
    schema = ("subj string, pred string, obj string, obj_is_literal boolean, "
              "obj_datatype string, doc_iri string")
    t = spark.createDataFrame(rows, schema)
    got = {(r["subj"], r["pred"], r["obj"]) for r in forward_chain(t).collect()}
    RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
    assert (E + "a", RDF_TYPE, E + "Big") in got
    assert not any(s == E + "b" for s, _, _ in got)


def test_extended_builtin_codes(spark):
    """r6: greaterThanOrEqual / lessThanOrEqual / equal / notEqual and
    var-var builtin operands run through the same join pipeline."""
    from yamlpyowl_spark.operators.swrl import forward_chain

    E = "http://ex.org/bi#"
    schema = ("subj string, pred string, obj string, obj_is_literal boolean, "
              "obj_datatype string, doc_iri string")
    RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
    SRC = "https://w3id.org/yamlpyowl-spark/vocab#ruleSrc"
    rows = [
        (E, SRC, "hasV(?x, ?v), greaterThanOrEqual(?v, 30) -> BigEnough(?x)",
         True, None, E),
        (E, SRC, "hasV(?x, ?v), equal(?v, 7) -> Lucky(?x)", True, None, E),
        (E, SRC, "hasV(?x, ?v), notEqual(?v, 7) -> NotLucky(?x)", True, None, E),
        (E, SRC, "hasV(?x, ?v), hasW(?x, ?w), lessThanOrEqual(?v, ?w) "
                 "-> Balanced(?x)", True, None, E),
        (E + "a", E + "hasV", "30", True, None, E),
        (E + "a", E + "hasW", "45", True, None, E),
        (E + "b", E + "hasV", "7", True, None, E),
        (E + "b", E + "hasW", "5", True, None, E),
    ]
    t = spark.createDataFrame(rows, schema)
    got = {(r["subj"], r["obj"]) for r in forward_chain(t).collect()
           if r["pred"] == RDF_TYPE}
    assert (E + "a", E + "BigEnough") in got
    assert (E + "b", E + "BigEnough") not in got
    assert (E + "b", E + "Lucky") in got
    assert (E + "a", E + "Lucky") not in got
    assert (E + "a", E + "NotLucky") in got
    # equal is NUMERIC: "7" == 7.0 — lexical variants match too
    assert (E + "b", E + "NotLucky") not in got
    # var-var: v <= w holds for a (30 <= 45), not for b (7 <= 5)
    assert (E + "a", E + "Balanced") in got
    assert (E + "b", E + "Balanced") not in got


def test_builtin_rhs_var_must_be_bound():
    from yamlpyowl_spark.operators.swrl import UnsupportedSWRLError, encode_rule

    with pytest.raises(UnsupportedSWRLError, match="binding"):
        encode_rule(
            "http://d#",
            [("p", ["?x", "?v"]), ("greaterThan", ["?v", "?unbound"])],
            [("q", ["?x", "?x"])],
        )


def test_arith_builtins_bind_and_check(spark):
    """r6b swrlb arithmetic: add/subtract/multiply/mod bind the
    result-first argument; a pre-bound result argument becomes an
    equality check; non-integral operands and mod-by-zero drop rows;
    mod is truncation-based on negatives. Spark pipeline and the
    sequential oracle must agree exactly."""
    from yamlpyowl_spark.operators.swrl import forward_chain
    from yamlpyowl_spark.sources.artifacts import sequential_forward_chain

    E = "http://ex.org/ar#"
    SRC = "https://w3id.org/yamlpyowl-spark/vocab#ruleSrc"
    schema = ("subj string, pred string, obj string, obj_is_literal boolean, "
              "obj_datatype string, doc_iri string")
    rows = [
        (E, SRC, "hasV(?x, ?v), add(?z, ?v, 5) -> hasPlus5(?x, ?z)",
         True, None, E),
        (E, SRC, "hasV(?x, ?v), hasW(?x, ?w), multiply(?z, ?v, ?w) "
                 "-> hasProduct(?x, ?z)", True, None, E),
        (E, SRC, "hasV(?x, ?v), mod(?z, ?v, 4) -> hasMod4(?x, ?z)",
         True, None, E),
        # check form: ?w already bound — subtract(?w, ?v, 5) filters to
        # subjects where w == v - 5
        (E, SRC, "hasV(?x, ?v), hasW(?x, ?w), subtract(?w, ?v, 5) "
                 "-> Shifted(?x)", True, None, E),
        (E, SRC, "hasV(?x, ?v), mod(?z, ?v, 0) -> ModZero(?x)",
         True, None, E),
        (E + "a", E + "hasV", "30", True, None, E),
        (E + "a", E + "hasW", "25", True, None, E),
        (E + "b", E + "hasV", "-7", True, None, E),
        (E + "b", E + "hasW", "3", True, None, E),
        (E + "c", E + "hasV", "not-a-number", True, None, E),
    ]
    t = spark.createDataFrame(rows, schema)
    got = {(r["subj"], r["pred"], r["obj"]) for r in forward_chain(t).collect()}
    assert (E + "a", E + "hasPlus5", "35") in got
    assert (E + "b", E + "hasPlus5", "-2") in got
    assert (E + "a", E + "hasProduct", "750") in got
    assert (E + "b", E + "hasProduct", "-21") in got
    assert (E + "a", E + "hasMod4", "2") in got
    # truncation-based mod: -7 % 4 = -3 (Java), NOT 1 (Python floor)
    assert (E + "b", E + "hasMod4", "-3") in got
    assert (E + "a", V.RDF_TYPE, E + "Shifted") in got      # 25 == 30-5
    assert (E + "b", V.RDF_TYPE, E + "Shifted") not in got  # 3 != -12
    # mod-by-zero: NULL result drops the row, never raises under ANSI
    assert not any(p == V.RDF_TYPE and o == E + "ModZero" for _, p, o in got)
    # non-integral binding drops out of every arithmetic atom
    assert not any(s == E + "c" for s, _, _ in got)
    # engine parity: sequential oracle derives the identical delta
    seq = {(s, p, o) for s, p, o, il, dt, d in sequential_forward_chain(rows)}
    assert seq == got


def test_arith_builtin_rejects_bad_shapes():
    from yamlpyowl_spark.operators.swrl import UnsupportedSWRLError, encode_rule

    with pytest.raises(UnsupportedSWRLError, match="3 args"):
        encode_rule("http://d#", [("p", ["?x", "?v"]), ("add", ["?z", "?v"])],
                    [("q", ["?x", "?z"])])
    with pytest.raises(UnsupportedSWRLError, match="must be a variable"):
        encode_rule("http://d#", [("p", ["?x", "?v"]), ("add", ["9", "?v", "1"])],
                    [("q", ["?x", "?v"])])
    with pytest.raises(UnsupportedSWRLError, match="binding"):
        encode_rule("http://d#", [("p", ["?x", "?v"]), ("add", ["?z", "?u", "1"])],
                    [("q", ["?x", "?z"])])
    with pytest.raises(UnsupportedSWRLError, match="integer fragment"):
        encode_rule("http://d#", [("p", ["?x", "?v"]), ("add", ["?z", "?v", "0.5"])],
                    [("q", ["?x", "?z"])])


def test_string_builtins_bind_check_and_filter(spark):
    """r6c swrlb strings: stringConcat (n-ary), stringLength,
    upperCase/lowerCase bind result-first (pre-bound result = equality
    check); contains/startsWith/endsWith filter. Spark pipeline and
    the sequential oracle must agree exactly — including a quoted
    constant containing a comma."""
    from yamlpyowl_spark.operators.swrl import forward_chain
    from yamlpyowl_spark.sources.artifacts import sequential_forward_chain

    E = "http://ex.org/str#"
    SRC = "https://w3id.org/yamlpyowl-spark/vocab#ruleSrc"
    schema = ("subj string, pred string, obj string, obj_is_literal boolean, "
              "obj_datatype string, doc_iri string")
    rows = [
        (E, SRC, 'hasName(?x, ?n), stringConcat(?z, ?n, "-v2") '
                 "-> hasTag(?x, ?z)", True, None, E),
        (E, SRC, "hasName(?x, ?n), stringLength(?l, ?n) "
                 "-> hasNameLen(?x, ?l)", True, None, E),
        (E, SRC, "hasName(?x, ?n), upperCase(?u, ?n) -> hasUpper(?x, ?u)",
         True, None, E),
        (E, SRC, 'hasName(?x, ?n), startsWith(?n, "al") -> AlPrefixed(?x)',
         True, None, E),
        (E, SRC, 'hasName(?x, ?n), contains(?n, "ob") -> HasOb(?x)',
         True, None, E),
        # check form: ?t bound, concat must equal it
        (E, SRC, "hasName(?x, ?n), hasTitle(?x, ?t), "
                 'stringConcat(?t, "Dr. ", ?n) -> Doctor(?x)', True, None, E),
        # quoted constant containing a comma survives the arg split
        (E, SRC, 'hasName(?x, ?n), stringConcat(?z, ?n, ", Esq.") '
                 "-> hasLegal(?x, ?z)", True, None, E),
        (E + "a", E + "hasName", "alice", True, None, E),
        (E + "b", E + "hasName", "bob", True, None, E),
        (E + "a", E + "hasTitle", "Dr. alice", True, None, E),
        (E + "b", E + "hasTitle", "Mr. bob", True, None, E),
    ]
    t = spark.createDataFrame(rows, schema)
    got = {(r["subj"], r["pred"], r["obj"]) for r in forward_chain(t).collect()}
    assert (E + "a", E + "hasTag", "alice-v2") in got
    assert (E + "a", E + "hasNameLen", "5") in got
    assert (E + "b", E + "hasNameLen", "3") in got
    assert (E + "a", E + "hasUpper", "ALICE") in got
    assert (E + "a", V.RDF_TYPE, E + "AlPrefixed") in got
    assert (E + "b", V.RDF_TYPE, E + "AlPrefixed") not in got
    assert (E + "b", V.RDF_TYPE, E + "HasOb") in got
    assert (E + "a", V.RDF_TYPE, E + "Doctor") in got   # "Dr. alice" matches
    assert (E + "b", V.RDF_TYPE, E + "Doctor") not in got  # "Mr. bob" doesn't
    assert (E + "a", E + "hasLegal", "alice, Esq.") in got
    seq = {(s, p, o) for s, p, o, il, dt, d in sequential_forward_chain(rows)}
    assert seq == got


def test_string_builtin_rejects_bad_shapes():
    from yamlpyowl_spark.operators.swrl import UnsupportedSWRLError, encode_rule

    with pytest.raises(UnsupportedSWRLError, match="args"):
        encode_rule("http://d#", [("p", ["?x", "?v"]), ("stringLength", ["?z"])],
                    [("q", ["?x", "?z"])])
    with pytest.raises(UnsupportedSWRLError, match="must be a variable"):
        encode_rule("http://d#",
                    [("p", ["?x", "?v"]), ("upperCase", ['"A"', "?v"])],
                    [("q", ["?x", "?v"])])
    with pytest.raises(UnsupportedSWRLError, match="binding"):
        encode_rule("http://d#",
                    [("p", ["?x", "?v"]), ("stringConcat", ["?z", "?u", '"s"'])],
                    [("q", ["?x", "?z"])])
    with pytest.raises(UnsupportedSWRLError, match="binding"):
        encode_rule("http://d#",
                    [("p", ["?x", "?v"]), ("endsWith", ["?u", '"s"'])],
                    [("q", ["?x"])])


def test_substring_builtin_integer_fragment(spark):
    """r6d swrlb:substring — XPath integer positions [start,
    start+length), 1-based; negative start shifts the window; a
    non-integral start (bound from a fact) drops the row via
    try_cast; 2-arg form takes everything from max(start, 1); check
    form compares against a pre-bound result. Spark pipeline ==
    sequential oracle on every case."""
    from yamlpyowl_spark.operators.swrl import forward_chain
    from yamlpyowl_spark.sources.artifacts import sequential_forward_chain

    E = "http://ex.org/ss#"
    SRC = "https://w3id.org/yamlpyowl-spark/vocab#ruleSrc"
    schema = ("subj string, pred string, obj string, obj_is_literal boolean, "
              "obj_datatype string, doc_iri string")
    rows = [
        # plain: chars 2..4 of the name
        (E, SRC, "hasName(?x, ?n), substring(?z, ?n, 2, 3) -> hasMid(?x, ?z)",
         True, None, E),
        # negative start: positions [-1, 2) ∩ [1, ..] = {1} → first char
        (E, SRC, "hasName(?x, ?n), substring(?z, ?n, -1, 3) -> hasNeg(?x, ?z)",
         True, None, E),
        # zero/negative effective length → empty string, not a drop
        (E, SRC, "hasName(?x, ?n), substring(?z, ?n, 3, 0) -> hasNil(?x, ?z)",
         True, None, E),
        # 2-arg form: suffix from position 3
        (E, SRC, "hasName(?x, ?n), substring(?z, ?n, 3) -> hasSfx(?x, ?z)",
         True, None, E),
        # start bound from a data fact; non-integral binding drops
        (E, SRC, "hasName(?x, ?n), hasOff(?x, ?o), substring(?z, ?n, ?o, 2) "
                 "-> hasAt(?x, ?z)", True, None, E),
        # check form: bound ?p must equal the computed prefix
        (E, SRC, "hasName(?x, ?n), hasPfx(?x, ?p), substring(?p, ?n, 1, 2) "
                 "-> PfxOk(?x)", True, None, E),
        (E + "a", E + "hasName", "alice", True, None, E),
        (E + "b", E + "hasName", "bob", True, None, E),
        (E + "a", E + "hasOff", "2", True, None, E),
        (E + "b", E + "hasOff", "1.5", True, None, E),   # drops via try_cast
        (E + "a", E + "hasPfx", "al", True, None, E),
        (E + "b", E + "hasPfx", "xx", True, None, E),
    ]
    t = spark.createDataFrame(rows, schema)
    got = {(r["subj"], r["pred"], r["obj"]) for r in forward_chain(t).collect()}
    assert (E + "a", E + "hasMid", "lic") in got
    assert (E + "b", E + "hasMid", "ob") in got           # past-end truncates
    assert (E + "a", E + "hasNeg", "a") in got
    assert (E + "a", E + "hasNil", "") in got
    assert (E + "a", E + "hasSfx", "ice") in got
    assert (E + "b", E + "hasSfx", "b") in got
    assert (E + "a", E + "hasAt", "li") in got
    assert not any(p == E + "hasAt" and s == E + "b" for s, p, _ in got)
    assert (E + "a", V.RDF_TYPE, E + "PfxOk") in got
    assert (E + "b", V.RDF_TYPE, E + "PfxOk") not in got
    seq = {(s, p, o) for s, p, o, il, dt, d in sequential_forward_chain(rows)}
    assert seq == got


def test_substring_rejects_float_and_bad_arity():
    from yamlpyowl_spark.operators.swrl import UnsupportedSWRLError, encode_rule

    with pytest.raises(UnsupportedSWRLError, match="integer fragment"):
        encode_rule("http://d#",
                    [("p", ["?x", "?v"]), ("substring", ["?z", "?v", "1.5"])],
                    [("q", ["?x", "?z"])])
    with pytest.raises(UnsupportedSWRLError, match="3 or 4 args"):
        encode_rule("http://d#",
                    [("p", ["?x", "?v"]), ("substring", ["?z", "?v"])],
                    [("q", ["?x", "?z"])])
    with pytest.raises(UnsupportedSWRLError, match="3 or 4 args"):
        encode_rule("http://d#",
                    [("p", ["?x", "?v"]),
                     ("substring", ["?z", "?v", "1", "2", "3"])],
                    [("q", ["?x", "?z"])])


# ---------------------------------------------------------------------------
# fuzz: arbitrary rule text must parse or raise ParseError /
# UnsupportedSWRLError — never another exception type, never hang
# ---------------------------------------------------------------------------

from hypothesis import given, settings, strategies as hy_st


@settings(max_examples=300, deadline=None)
@given(hy_st.text(max_size=120))
def test_swrl_fuzz_arbitrary_text(src):
    from yamlpyowl_spark.operators.swrl import UnsupportedSWRLError, encode_rule
    from yamlpyowl_spark.parser.document import ParseError, _parse_swrl

    try:
        body, head = _parse_swrl(src)
        encode_rule("http://d#", body, head)
    except (ParseError, UnsupportedSWRLError):
        pass


_RULE_SOUP = hy_st.lists(
    hy_st.sampled_from(
        ["P", "Q", "hasName", "greaterThan", "add", "mod", "stringConcat",
         "substring", "upperCase", "contains", "stringLength",
         "(", ")", ",", "->", "?x", "?y", "?z", "const", "3", "1.5",
         '"s"', '"a,b"', "differentFrom", "A", " "]
    ),
    max_size=18,
)


@settings(max_examples=300, deadline=None)
@given(_RULE_SOUP)
def test_swrl_fuzz_token_soup(parts):
    from yamlpyowl_spark.operators.swrl import UnsupportedSWRLError, encode_rule
    from yamlpyowl_spark.parser.document import ParseError, _parse_swrl

    try:
        body, head = _parse_swrl(" ".join(parts))
        encode_rule("http://d#", body, head)
    except (ParseError, UnsupportedSWRLError):
        pass


def test_boolean_not_builtin(spark):
    """r6d swrlb:booleanNot — result-first: binds the flipped boolean
    lexical ("1"/"0" accepted, canonical "true"/"false" emitted),
    drops non-boolean bindings, checks when the result is pre-bound.
    Spark pipeline == sequential oracle."""
    from yamlpyowl_spark.operators.swrl import forward_chain
    from yamlpyowl_spark.sources.artifacts import sequential_forward_chain

    E = "http://ex.org/bn#"
    SRC = "https://w3id.org/yamlpyowl-spark/vocab#ruleSrc"
    schema = ("subj string, pred string, obj string, obj_is_literal boolean, "
              "obj_datatype string, doc_iri string")
    rows = [
        (E, SRC, "hasFlag(?x, ?f), booleanNot(?g, ?f) -> hasUnflag(?x, ?g)",
         True, None, E),
        (E, SRC, "hasFlag(?x, ?f), hasOther(?x, ?o), booleanNot(?o, ?f) "
                 "-> Opposite(?x)", True, None, E),
        (E + "a", E + "hasFlag", "true", True, None, E),
        (E + "b", E + "hasFlag", "0", True, None, E),
        (E + "c", E + "hasFlag", "maybe", True, None, E),  # drops
        (E + "a", E + "hasOther", "false", True, None, E),
        (E + "b", E + "hasOther", "0", True, None, E),
    ]
    t = spark.createDataFrame(rows, schema)
    got = {(r["subj"], r["pred"].split("#")[-1], r["obj"])
           for r in forward_chain(t).collect()}
    assert (E + "a", "hasUnflag", "false") in got
    assert (E + "b", "hasUnflag", "true") in got
    assert not any(s == E + "c" for s, _, _ in got)
    # check form: a's other ("false") == not(true) ✓; b's ("0") is the
    # lexical "0", not the canonical "true" → no match
    assert (E + "a", "type", E + "Opposite") in got
    assert not any(s == E + "b" and p == "type" for s, p, _ in got)
    seq = {(s, p.split("#")[-1], o)
           for s, p, o, il, dt, d in sequential_forward_chain(rows)}
    assert seq == got


def test_class_atoms_never_inherit_types_across_documents(spark):
    """Doc A's axiom A#X ⊑ B#Y must not let doc B's individual typed
    A#X fire doc B's rule over Y: the subclass closure is the
    document's own. Engine == sequential oracle (which derives
    nothing here)."""
    from yamlpyowl_spark.sources.artifacts import sequential_forward_chain

    A, B = "http://ex.org/a#", "http://ex.org/b#"
    rows = [
        (A + "X", V.RDFS_SUBCLASSOF, B + "Y", False, None, A),
        (B + "i", V.RDF_TYPE, A + "X", False, None, B),
        (B + "r", V.YPO_RULE_SRC, "Y(?x) -> tagged(?x, ?x)", True, None, B),
    ]
    got = {tuple(r) for r in forward_chain(spark.createDataFrame(rows, TRIPLE_COLS)).collect()}
    assert got == set(sequential_forward_chain(rows))
    assert (B + "i", B + "tagged", B + "i", False, None, B) not in got
