"""Reason once per isomorphism class: the doc-scoped SWRL, DL and OWL-RL
engines in one grouped-map pass over one representative per class.

A web-scale ontology corpus is fork-heavy: the same document appears
thousands of times with only its base IRI rewritten (the reference's
users vendor/fork ontology files; the synthetic corpus models this —
sources/corpus.py ``_fork_content`` rewrites exactly the base IRI).
Running the per-document rule passes (:mod:`swrl`, :mod:`owlrl`) and
CSP solves (:mod:`dlreason`) on every copy multiplies identical Python
work by the fork count — the 10x reasoning soak measured ~25k
isomorphic zebra solves dominating wall-clock (the pre-fix pass did not
finish within 30 minutes).

The scale-correct shape is dedup-before-expensive-compute:

1. fingerprint each document's triples NORMALIZED by (a) replacing its
   own ``doc_iri`` with a placeholder and (b) canonicalizing the
   parser's per-document blank-node prefix (``_:<sha256(content)[:16]>_``
   — parser/document.py:18-19 — which necessarily differs between
   forks because the rewritten IRI changes the content hash); one slim
   JVM-side ``groupBy(doc_iri).agg(md5(concat(array_sort(...))))``;
2. run the wrapped operator ONLY on one representative document per
   fingerprint (left-semi join against the tiny representative set);
3. instantiate each class's output for every member document by
   substituting the representative's base IRI and blank prefix with
   the member's (broadcast-friendly join; output volume is unchanged —
   the saving is compute, which drops from O(docs) to O(distinct
   contents)).

:func:`reason_all` is that wrapper around ONE grouped map running all
three engines per representative — one fingerprint, one Python
crossing per document, no joint closure (each engine reads only the
document's asserted triples, as it does alone).

Exactness: fingerprint equality means the member's rows are literally
``subst(rep rows)`` for the two-part substitution (base IRI + blank
prefix; the placeholders cannot occur naturally), and the engines treat
IRIs, blank labels and literals as opaque strings apart from fixed
vocabulary constants (rdf:/owl:/ypo:, which never contain a document
base IRI) — so the operator commutes with the substitution and the
instantiated output equals the per-document run. Two exceptions:

* SWRL string builtins (``stringConcat/stringLength/upperCase/
  lowerCase/substring/contains/startsWith/endsWith``) read INSIDE
  values, where a base IRI may sit — ``stringLength`` of a member's IRI
  is not the substituted length of the representative's. A document
  whose rules use one gets a class of its own (its fingerprint is its
  ``doc_iri``); numeric and boolean builtins never match an IRI-bearing
  value, so they commute.
* a step-capped CSP solve is represented by its class representative
  (deterministic, and the cap fallback is conservative in both worlds).
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, Window, functions as F

from .. import vocab as V
from ..schema import FACT_COLS, doc_grouped_map

# placeholder + separators: control chars that cannot occur in IRIs or
# in the YAML dialect's literal values
_PH = "\x02"
_FS = "\x1f"
_RS = "\x1e"

# the parser's deterministic per-document blank prefix (16 hex chars of
# the content sha); docs built by other means (tests, facade writes)
# may use arbitrary labels — those normalize as-is, which is still
# exact (equal fingerprints then require literally equal labels)
_BLANK_RE = "^_:([0-9a-f]{16})_"

# a rule src calling a value-reading SWRL string builtin (atom names
# are bare words, parser/document.py _SWRL_ATOM_RE)
_STRING_BUILTIN_RE = (
    r"(?<![A-Za-z0-9_])(stringConcat|stringLength|upperCase|lowerCase"
    r"|substring|contains|startsWith|endsWith)\("
)


def reason_per_isomorph(
    triples: DataFrame,
    operator: Callable[[DataFrame], DataFrame],
) -> DataFrame:
    """Apply a doc-scoped ``operator(triples) -> delta`` once per
    content-isomorphism class and instantiate the delta for every
    member document. Both frames carry the standard fact schema
    (subj, pred, obj, obj_is_literal, obj_datatype, doc_iri)."""
    t = triples.select(*FACT_COLS)

    def norm(c: str):
        base_neutral = F.replace(F.col(c), F.col("doc_iri"), F.lit(_PH))
        return F.regexp_replace(base_neutral, _BLANK_RE, f"_:{_PH}_")

    norm_row = F.concat_ws(
        _FS,
        norm("subj"),
        norm("pred"),
        norm("obj"),
        F.col("obj_is_literal").cast("string"),
        F.coalesce(F.col("obj_datatype"), F.lit("")),
    )
    blank_prefix = F.greatest(
        F.regexp_extract(F.col("subj"), _BLANK_RE, 1),
        F.regexp_extract(F.col("obj"), _BLANK_RE, 1),
    )
    own_class = (F.col("pred") == V.YPO_RULE_SRC) & F.col("obj").rlike(_STRING_BUILTIN_RE)
    fp = (
        t.select(
            "doc_iri",
            norm_row.alias("r"),
            blank_prefix.alias("b"),
            own_class.alias("own"),
        )
        .groupBy(F.col("doc_iri").alias("target"))
        .agg(
            F.md5(F.concat_ws(_RS, F.array_sort(F.collect_list("r")))).alias("h"),
            F.max("b").alias("target_bp"),
            F.max("own").alias("own"),
        )
        .select(
            "target",
            "target_bp",
            # an md5 is 32 hex chars, so the doc-keyed form never collides
            F.when(F.col("own"), F.concat(F.lit("doc:"), "target"))
            .otherwise(F.col("h"))
            .alias("fp"),
        )
    )
    # every document -> its class representative (rep -> rep included):
    # the class's least (doc_iri, blank prefix) key, by a window rather
    # than an aggregate joined back, so fp has ONE consumer. Both uses
    # of the mapping below read the same columns (is_rep needs the
    # member key too), so they plan one shared subtree and the
    # fingerprint exchanges run once.
    key = F.concat_ws(_FS, "target", "target_bp")
    rep = F.min(key).over(Window.partitionBy("fp"))
    mapping = fp.select(
        F.substring_index(rep, _FS, 1).alias("doc_iri"),
        F.substring_index(rep, _FS, -1).alias("rep_bp"),
        "target",
        "target_bp",
        (rep == key).alias("is_rep"),
    )
    rep_triples = t.join(
        F.broadcast(mapping.filter("is_rep").select("doc_iri")),
        "doc_iri",
        "left_semi",
    )
    delta = operator(rep_triples)

    def inst(c: str):
        col = F.replace(F.col(c), F.col("doc_iri"), F.col("target"))
        # blank-prefix remap — a no-op when the class has no parser
        # blanks (rep_bp = ""), and when rep == target
        return F.when(F.col("rep_bp") == "", col).otherwise(
            F.replace(
                col,
                F.concat(F.lit("_:"), F.col("rep_bp"), F.lit("_")),
                F.concat(F.lit("_:"), F.col("target_bp"), F.lit("_")),
            )
        )

    return delta.join(mapping, "doc_iri").select(
        inst("subj").alias("subj"),
        inst("pred").alias("pred"),
        inst("obj").alias("obj"),
        "obj_is_literal",
        "obj_datatype",
        F.col("target").alias("doc_iri"),
    )


def reason_all(triples: DataFrame, swrl_on_unsupported: str = "skip") -> DataFrame:
    """The inferred delta of SWRL (:func:`swrl.forward_chain_doc`), DL
    model search (:func:`dlreason.dl_doc`) and OWL-RL
    (:func:`owlrl.owlrl_doc`) in ONE grouped map on ``doc_iri``, run
    once per isomorphism class and instantiated for every member. Each
    engine reads only the document's asserted triples, as it does on
    its own, so the output equals the union of the three operators.

    ``swrl_on_unsupported`` is :func:`swrl.forward_chain`'s
    ``on_unsupported``: the eager bad-rule diagnostic raises or warns
    before any reasoning runs."""
    from .dlreason import dl_doc
    from .owlrl import owlrl_doc
    from .swrl import check_rules, forward_chain_doc

    check_rules(triples, swrl_on_unsupported)

    def per_doc(doc_iri, rows):
        rows = set(rows)
        return forward_chain_doc(doc_iri, rows) | dl_doc(doc_iri, rows) | owlrl_doc(rows)

    return reason_per_isomorph(
        triples, lambda reps: doc_grouped_map(reps, per_doc)
    ).distinct()
