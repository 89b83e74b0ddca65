"""SWRL-rule forward chaining, one document at a time.

The reference applies SWRL rules by shelling out to a Java/Pellet
reasoner (core.py:1342-1343, sync_reasoner_pellet). Here each rule is
compiled once into a structural **template** (the rule's signature —
atom kinds, variable pattern, constant positions — with concrete
predicate/class names abstracted into slots; :func:`encode_rule` /
:func:`_parse_template`) and evaluated by :func:`forward_chain_doc`, a
semi-naive, predicate-indexed Python fixpoint over ONE document's rows.

Scale shape: inference never crosses ``doc_iri``, so the fixpoint runs
inside a grouped map on ``doc_iri`` — one Python crossing per document,
no driver loop, no per-round Spark jobs; the work is O(document size ×
rounds) and spreads over all tasks. ``KGPipeline.reasoned`` runs it in
the same grouped map as the DL and OWL-RL engines, once per
isomorphism class (:mod:`isomorph`). The bad-rule diagnostic stays
eager and bounded on the driver (:func:`check_rules`).

Supported (everything the reference fixtures use, plus class-atom
heads which the reference's Pellet path also accepts):

* class atoms        ``C(?x)``        — with rdfs:subClassOf-closure
                                        semantics (a District is a
                                        GeographicEntity), in body AND
                                        head position;
* property atoms     ``p(?x, ?y)``    — object or data properties,
                                        constants allowed in any slot;
* arithmetic atoms   ``add/subtract/multiply/mod(?z, ?x, ?y)`` —
  swrlb result-first convention; binds ``?z`` (or checks it when
  already bound); INTEGER fragment with Spark's try_cast/try_add
  BIGINT semantics (r6b)
* string atoms       ``stringConcat(?z, ?a, ?b, ...)`` (n-ary),
  ``stringLength/upperCase/lowerCase(?z, ?x)`` — result-first, bind
  or check like the arithmetic batch; ``contains/startsWith/
  endsWith(?x, ?y)`` filter; double-quoted constants allowed (commas
  inside quotes survive the arg split) (r6c);
  ``booleanNot(?z, ?x)`` flips the boolean lexicals ("1"/"0"
  accepted, canonical "true"/"false" emitted; non-boolean bindings
  drop) (r6d);
  ``substring(?z, ?s, start[, length])`` in the INTEGER fragment
  (r6d): XPath character positions ``p >= start`` and
  ``p < start + length`` (1-based; a negative/zero ``start`` shifts
  the window, never wraps), start/length are integer constants or
  previously-bound variables — non-integral bindings drop the row
  exactly like the arithmetic batch. XPath's
  FLOAT-argument rounding stays outside the fragment (a
  Java-vs-Python formatting parity trap) and raises up front;
* builtin atoms      ``greaterThan/lessThan/greaterThanOrEqual/
  lessThanOrEqual/equal/notEqual(?v, const-or-?w)`` (numeric
  comparison; r6 adds the OrEqual/equal/notEqual codes and var-var
  operands);
* owl:TransitiveProperty — expanded to ``p(?x,?y), p(?y,?z) → p(?x,?z)``;
* owl:inverseOf      — ``p(?x,?y) → q(?y,?x)`` in both directions.

Anything outside the fragment (unknown builtins, builtins over unbound
variables, >2-ary atoms, head variables not bound in the body) raises
``UnsupportedSWRLError`` up front with the offending rule source —
never an opaque mid-fixpoint crash; pass ``on_unsupported="skip"`` to
drop such rules with a warning instead.

NOT a DL reasoner: OneOf/Functional/AllDifferent model enumeration
(the zebra puzzle's solution step) lives in ``operators/dlreason.py``;
``api.OntologyManager.sync_reasoner`` composes the two. The
triple-parity contract is on asserted triples (SURVEY.md §2.5).

Rule names are resolved against the document IRI (rules are emitted by
the parser as ``(rule_iri, ypo:ruleSrc, src)`` literals), and chaining
is doc-scoped: a rule reads only its own document's facts, class
memberships and rdfs:subClassOf axioms.
"""

from __future__ import annotations

import operator
import re
import warnings
from functools import lru_cache
from typing import List, Tuple

from pyspark.sql import DataFrame, functions as F, types as T

from .. import vocab as V
from ..parser.document import _parse_swrl
from ..parser.model import ParseError
from ..schema import doc_grouped_map

_BUILTINS = {
    "greaterThan": "gt",
    "lessThan": "lt",
    "greaterThanOrEqual": "ge",
    "lessThanOrEqual": "le",
    "equal": "eq",
    "notEqual": "ne",
}
_BI_OPS = {
    "gt": operator.gt,
    "lt": operator.lt,
    "ge": operator.ge,
    "le": operator.le,
    "eq": operator.eq,
    "ne": operator.ne,
}
# swrlb arithmetic (r6b): add/subtract/multiply/mod with the FIRST
# argument as the result (swrlb argument convention). INTEGER fragment:
# operands read as BIGINT (a non-integral binding drops the row, the
# comparison-builtin skip semantics); overflow and mod-by-zero drop the
# row too, never raise. Division stays outside the
# fragment (its value is non-integral almost surely; a float dialect
# would hitch engine parity to Java-vs-Python double formatting).
_ARITH = {"add": "ad", "subtract": "sb", "multiply": "ml", "mod": "md"}
_AR_CODES = frozenset(_ARITH.values())
# swrlb string builtins (r6c): result-first like the arithmetic batch.
# stringConcat is n-ary (result + >=2 operands); stringLength binds the
# decimal lexical of the CHARACTER count; upperCase/lowerCase follow
# Python/Java default-locale casing (identical over ASCII — the corpus
# dialect; engine parity asserted in tests). contains/startsWith/
# endsWith are check builtins over bound strings/constants. substring
# (r6d) is the XPath INTEGER fragment: start/length must be integer
# constants or bound variables (a non-integral binding drops the row);
# float arguments would need XPath round() parity and stay loud-out.
_STR_FN = {
    "stringConcat": "sc",
    "stringLength": "sl",
    "upperCase": "uc",
    "lowerCase": "lc",
    "substring": "ss",
    # swrlb:booleanNot — result-first over the boolean lexicals
    # ("true"/"false"/"1"/"0"; a non-boolean binding drops the row);
    # binds the canonical lexical of the flipped value
    "booleanNot": "bn",
}
_SF_CODES = frozenset(_STR_FN.values())
_STR_CHECK = {"contains": "ct", "startsWith": "sw", "endsWith": "ew"}
_SCK_FN = {
    "ct": lambda a, b: b in a,
    "sw": str.startswith,
    "ew": str.endswith,
}
_INVALID = "!unsupported"


def _unquote(a: str) -> str:
    """Strip surrounding double quotes from a SWRL string constant
    (backslash escapes unescaped); bare words pass through."""
    if len(a) >= 2 and a[0] == '"' and a[-1] == '"':
        return a[1:-1].replace('\\"', '"').replace("\\\\", "\\")
    return a


# fixed templates for rules synthesized from property axioms; unit
# tests assert these equal encode_rule() output for the same shapes
TRANSITIVE_KEY = "P(v0,v1);P(v1,v2)=>P(v0,v2)"
INVERSE_KEY = "P(v0,v1)=>P(v1,v0)"


class UnsupportedSWRLError(ParseError):
    """A rule uses a construct outside the supported SWRL fragment."""


# --------------------------------------------------------------------------
# rule encoding: (body, head) atom lists -> (template_key, slots)
# --------------------------------------------------------------------------


def encode_rule(doc_iri: str, body: list, head: list) -> Tuple[str, List[str]]:
    """Encode one parsed rule as a structural template key plus the
    flat list of concrete slot values (full IRIs / literal lexical
    forms). Two rules from different documents with the same structure
    share a key and are evaluated by one join pipeline.

    Raises :class:`UnsupportedSWRLError` on rules outside the fragment
    (validated up front so a bad rule can never abort a running
    fixpoint — ADVICE r01 item on builtin-first / unary-head crashes).
    """
    varmap: dict = {}

    def v(a: str) -> str:
        if a not in varmap:
            varmap[a] = len(varmap)
        return f"v{varmap[a]}"

    sig, slots = [], []
    for name, args in body:
        if name in _ARITH:
            if len(args) != 3:
                raise UnsupportedSWRLError(f"builtin {name} needs 3 args, got {args}")
            out, a1, a2 = args
            if not out.startswith("?"):
                raise UnsupportedSWRLError(
                    f"builtin {name}({', '.join(args)}): the result argument "
                    "must be a variable"
                )
            opsigs = []
            for a in (a1, a2):
                if a.startswith("?"):
                    if a not in varmap:
                        raise UnsupportedSWRLError(
                            f"builtin {name}({', '.join(args)}) must follow "
                            f"an atom binding {a}"
                        )
                    opsigs.append(v(a))
                else:
                    try:
                        slots.append(str(int(a)))
                    except ValueError:
                        raise UnsupportedSWRLError(
                            f"non-integer arithmetic constant {a!r} "
                            "(integer fragment)"
                        )
                    opsigs.append("C")
            # out NEW at this point in the walk -> binding form; out
            # already bound -> equality check (eval mirrors via its own
            # bound-set walk)
            sig.append(f"{_ARITH[name]}({v(out)},{opsigs[0]},{opsigs[1]})")
        elif name in _STR_FN:
            if name == "stringConcat":
                ok, want = len(args) >= 3, ">= 3"
            elif name == "substring":
                ok, want = len(args) in (3, 4), "3 or 4"
            else:
                ok, want = len(args) == 2, "2"
            if not ok:
                raise UnsupportedSWRLError(
                    f"builtin {name} needs {want} args, got {args}"
                )
            out = args[0]
            if not out.startswith("?"):
                raise UnsupportedSWRLError(
                    f"builtin {name}({', '.join(args)}): the result argument "
                    "must be a variable"
                )
            opsigs = []
            for pos, a in enumerate(args[1:]):
                if a.startswith("?"):
                    if a not in varmap:
                        raise UnsupportedSWRLError(
                            f"builtin {name}({', '.join(args)}) must follow "
                            f"an atom binding {a}"
                        )
                    opsigs.append(v(a))
                else:
                    if name == "substring" and pos >= 1:
                        # XPath INTEGER fragment: a float start/length
                        # needs XPath round() parity — loud-out
                        try:
                            slots.append(str(int(a)))
                        except ValueError:
                            raise UnsupportedSWRLError(
                                f"non-integer substring constant {a!r} "
                                "(integer fragment)"
                            )
                    else:
                        slots.append(_unquote(a))
                    opsigs.append("C")
            sig.append(f"{_STR_FN[name]}({v(out)},{','.join(opsigs)})")
        elif name in _STR_CHECK:
            if len(args) != 2:
                raise UnsupportedSWRLError(f"builtin {name} needs 2 args, got {args}")
            opsigs = []
            for a in args:
                if a.startswith("?"):
                    if a not in varmap:
                        raise UnsupportedSWRLError(
                            f"builtin {name}({', '.join(args)}) must follow "
                            f"an atom binding {a}"
                        )
                    opsigs.append(v(a))
                else:
                    slots.append(_unquote(a))
                    opsigs.append("C")
            sig.append(f"{_STR_CHECK[name]}({opsigs[0]},{opsigs[1]})")
        elif name in _BUILTINS:
            if len(args) != 2:
                raise UnsupportedSWRLError(f"builtin {name} needs 2 args, got {args}")
            var, rhs = args
            if not var.startswith("?") or var not in varmap:
                raise UnsupportedSWRLError(
                    f"builtin {name}({', '.join(args)}) must follow an atom binding {var}"
                )
            if rhs.startswith("?"):
                # var-var comparison (r6): both sides must already be
                # bound by earlier atoms
                if rhs not in varmap:
                    raise UnsupportedSWRLError(
                        f"builtin {name}({', '.join(args)}) must follow an "
                        f"atom binding {rhs}"
                    )
                sig.append(f"{_BUILTINS[name]}({v(var)},{v(rhs)})")
            else:
                try:
                    float(rhs)
                except ValueError:
                    raise UnsupportedSWRLError(f"non-numeric builtin constant {rhs!r}")
                sig.append(f"{_BUILTINS[name]}({v(var)},C)")
                slots.append(rhs)
        elif len(args) == 1:
            a = args[0]
            slots.append(doc_iri + name)
            if a.startswith("?"):
                sig.append(f"T({v(a)})")
            else:
                sig.append("T(C)")
                slots.append(doc_iri + a)
        elif len(args) == 2:
            s, o = args
            slots.append(doc_iri + name)
            if s.startswith("?"):
                ssig = v(s)
            else:
                ssig = "C"
                slots.append(doc_iri + s)
            if o.startswith("?"):
                osig = v(o)
            else:
                # constant object matches a literal lexical form OR a
                # local entity name — keep both resolutions as slots
                osig = "C"
                slots.extend([o, doc_iri + o])
            sig.append(f"P({ssig},{osig})")
        else:
            raise UnsupportedSWRLError(f"atom {name}({', '.join(args)}) has arity {len(args)}")

    if not sig:
        raise UnsupportedSWRLError("rule has an empty body")

    hsig = []
    for name, args in head:
        if name in _BUILTINS:
            raise UnsupportedSWRLError(f"builtin {name} not allowed in rule head")
        if len(args) == 1:
            a = args[0]
            slots.append(doc_iri + name)
            if a.startswith("?"):
                if a not in varmap:
                    raise UnsupportedSWRLError(f"head variable {a} not bound in body")
                hsig.append(f"T({v(a)})")
            else:
                hsig.append("T(CE)")
                slots.append(doc_iri + a)
        elif len(args) == 2:
            s, o = args
            slots.append(doc_iri + name)
            if s.startswith("?"):
                if s not in varmap:
                    raise UnsupportedSWRLError(f"head variable {s} not bound in body")
                ssig = v(s)
            else:
                ssig = "CE"
                slots.append(doc_iri + s)
            if o.startswith("?"):
                if o not in varmap:
                    raise UnsupportedSWRLError(f"head variable {o} not bound in body")
                osig = v(o)
            else:
                lit = None
                try:
                    lit = (str(int(o)), V.XSD_INTEGER)
                except ValueError:
                    try:
                        lit = (str(float(o)), V.XSD_DOUBLE)
                    except ValueError:
                        pass
                if lit is not None:
                    osig = "CL"
                    slots.extend(lit)
                else:
                    osig = "CE"
                    slots.append(doc_iri + o)
            hsig.append(f"P({ssig},{osig})")
        else:
            raise UnsupportedSWRLError(f"head atom {name}({', '.join(args)}) has arity {len(args)}")
    if not hsig:
        raise UnsupportedSWRLError("rule has an empty head")

    return ";".join(sig) + "=>" + ";".join(hsig), slots


_ATOM_RE = re.compile(r"(P|T|gt|lt|ge|le|eq|ne|ad|sb|ml|md|sc|sl|uc|lc|ss|bn|ct|sw|ew)\(([^)]*)\)")


@lru_cache(maxsize=4096)
def _parse_template(key: str):
    """Inverse of :func:`encode_rule`'s key: atom descriptors with slot
    indices assigned by the identical walk. Cached: every document
    carrying a rule of this shape re-parses it otherwise (callers never
    mutate the result)."""
    body_s, head_s = key.split("=>")
    slot = 0
    body = []
    for m in _ATOM_RE.finditer(body_s):
        kind, args = m.group(1), m.group(2).split(",")
        if kind in _BI_OPS:
            if args[1] == "C":
                body.append(("bi", kind, int(args[0][1:]), ("c", slot)))
                slot += 1
            else:
                body.append(("bi", kind, int(args[0][1:]), ("v", int(args[1][1:]))))
        elif kind in _AR_CODES:
            outv = int(args[0][1:])
            ops = []
            for a in args[1:]:
                if a == "C":
                    ops.append(("c", slot))
                    slot += 1
                else:
                    ops.append(("v", int(a[1:])))
            body.append(("ar", kind, outv, ops[0], ops[1]))
        elif kind in _SF_CODES:
            outv = int(args[0][1:])
            ops = []
            for a in args[1:]:
                if a == "C":
                    ops.append(("c", slot))
                    slot += 1
                else:
                    ops.append(("v", int(a[1:])))
            body.append(("sf", kind, outv, ops))
        elif kind in _SCK_FN:
            ops = []
            for a in args:
                if a == "C":
                    ops.append(("c", slot))
                    slot += 1
                else:
                    ops.append(("v", int(a[1:])))
            body.append(("sck", kind, ops[0], ops[1]))
        elif kind == "T":
            cls_slot = slot
            slot += 1
            if args[0] == "C":
                inst = ("c", slot)
                slot += 1
            else:
                inst = ("v", int(args[0][1:]))
            body.append(("cls", cls_slot, inst))
        else:
            pred_slot = slot
            slot += 1
            s, o = args
            if s == "C":
                ssub = ("c", slot)
                slot += 1
            else:
                ssub = ("v", int(s[1:]))
            if o == "C":
                osub = ("c2", slot, slot + 1)
                slot += 2
            else:
                osub = ("v", int(o[1:]))
            body.append(("prop", pred_slot, ssub, osub))
    head = []
    for m in _ATOM_RE.finditer(head_s):
        kind, args = m.group(1), m.group(2).split(",")
        if kind == "T":
            cls_slot = slot
            slot += 1
            if args[0] == "CE":
                inst = ("c", slot)
                slot += 1
            else:
                inst = ("v", int(args[0][1:]))
            head.append(("cls", cls_slot, inst))
        else:
            pred_slot = slot
            slot += 1
            s, o = args
            if s == "CE":
                ssub = ("c", slot)
                slot += 1
            else:
                ssub = ("v", int(s[1:]))
            if o == "CL":
                osub = ("lit", slot, slot + 1)
                slot += 2
            elif o == "CE":
                osub = ("c", slot)
                slot += 1
            else:
                osub = ("v", int(o[1:]))
            head.append(("prop", pred_slot, ssub, osub))
    return body, head, slot


# --------------------------------------------------------------------------
# rule table (feeds the bad-rule diagnostic)
# --------------------------------------------------------------------------

_RULES_SCHEMA = T.StructType(
    [
        T.StructField("doc_iri", T.StringType()),
        T.StructField("template_key", T.StringType()),
        T.StructField("slots", T.ArrayType(T.StringType())),
    ]
)


def _rule_rel(triples: DataFrame) -> DataFrame:
    """The three rule sources (rule srcs, transitive-property axioms,
    inverseOf axioms) in one filtered pass with ONE wide distinct."""
    return (
        triples.filter(
            (F.col("pred") == V.YPO_RULE_SRC)
            | ((F.col("pred") == V.RDF_TYPE) & (F.col("obj") == V.OWL_TRANSITIVE))
            | (F.col("pred") == V.OWL_INVERSE_OF)
        )
        .select("doc_iri", "pred", "subj", "obj")
        .distinct()
    )


def _encode_one(doc_iri: str, src: str):
    """(template_key, slots) for one rule src — invalid rules become
    the `!unsupported` diagnostic row (same contract as rule_table)."""
    try:
        body, head = _parse_swrl(src)
        return encode_rule(doc_iri, body, head)
    except Exception as e:  # noqa: BLE001 — recorded as a row
        return _INVALID, [f"{type(e).__name__}: {e}", src]


def rule_table(triples: DataFrame) -> DataFrame:
    """``(doc_iri, template_key, slots)`` — one row per rule instance,
    fully distributed (Arrow-batched parse; nothing is collected).
    Invalid rules get ``template_key = '!unsupported'`` with
    ``slots = [reason, src]`` so the caller can raise or skip.

    Includes rules synthesized from owl:TransitiveProperty and
    owl:inverseOf axioms, built with pure column expressions.

    One scan: the three rule sources (rule srcs, transitive-property
    axioms, inverseOf axioms) ride a single filtered pass over the
    triple table with ONE wide distinct; the per-branch projections
    dedupe on the resulting tiny frame (r7, guide §2.2 — it was three
    full scans + three full-width shuffles of the triple table)."""
    rel = _rule_rel(triples).localCheckpoint(eager=False)
    srcs = rel.filter(F.col("pred") == V.YPO_RULE_SRC).select("doc_iri", "obj").distinct()

    def batches(it):
        import pandas as pd

        for pdf in it:
            docs = pdf["doc_iri"].tolist()
            enc = [_encode_one(d, s) for d, s in zip(docs, pdf["obj"])]
            yield pd.DataFrame(
                {
                    "doc_iri": docs,
                    "template_key": [k for k, _ in enc],
                    "slots": [s for _, s in enc],
                }
            )

    parsed = srcs.mapInPandas(batches, _RULES_SCHEMA)

    # pred (and obj, for the transitive branch) are constants inside
    # each branch, so the wide distinct above already dedupes them —
    # no per-branch re-shuffle needed. srcs keeps its distinct: two
    # rule NODES (distinct subj) can carry the same src text.
    trans = (
        rel.filter((F.col("pred") == V.RDF_TYPE) & (F.col("obj") == V.OWL_TRANSITIVE))
        .select("doc_iri", "subj")
        .select(
            "doc_iri",
            F.lit(TRANSITIVE_KEY).alias("template_key"),
            F.array("subj", "subj", "subj").alias("slots"),
        )
    )
    # inverseOf rows are (subj=q, obj=p); fire both directions
    inv = rel.filter(F.col("pred") == V.OWL_INVERSE_OF).select("doc_iri", "subj", "obj")
    inv_both = inv.select(
        "doc_iri",
        F.lit(INVERSE_KEY).alias("template_key"),
        F.array("obj", "subj").alias("slots"),
    ).unionByName(
        inv.select(
            "doc_iri",
            F.lit(INVERSE_KEY).alias("template_key"),
            F.array("subj", "obj").alias("slots"),
        )
    )
    return parsed.unionByName(trans).unionByName(inv_both)


def check_rules(triples: DataFrame, on_unsupported: str = "raise") -> None:
    """Eager, bounded bad-rule diagnostic: collect at most 6 invalid
    rules (5 to show + 1 to know there are more) and count the rest
    only then — 10^9 documents with a systematic bad rule must not
    become an unbounded driver collect. ``"raise"`` fails fast listing
    them; ``"skip"`` warns (the per-document engine drops them)."""
    bad_df = rule_table(triples).filter(F.col("template_key") == _INVALID)
    bad = bad_df.select("doc_iri", "slots").limit(6).collect()
    if not bad:
        return
    n_bad = bad_df.count() if len(bad) >= 6 else len(bad)
    msgs = [f"{r['doc_iri']}: {r['slots'][0]} in rule {r['slots'][1]!r}" for r in bad[:5]]
    more = f" (+{n_bad - 5} more)" if n_bad > 5 else ""
    if on_unsupported == "raise":
        raise UnsupportedSWRLError("unsupported SWRL fragment: " + "; ".join(msgs) + more)
    warnings.warn("skipping unsupported SWRL rules: " + "; ".join(msgs) + more)


# --------------------------------------------------------------------------
# per-document evaluation
# --------------------------------------------------------------------------


def _bind_rule(key: str, slots: List[str]):
    """One rule's template with its slot values substituted: constant
    refs become ``("c", value)``, variables stay ``("v", index)``."""
    body, head, _ = _parse_template(key)

    def ref(r):
        return ("c", slots[r[1]]) if r[0] == "c" else r

    bb = []
    for a in body:
        kind = a[0]
        if kind == "bi":
            bb.append(("bi", _BI_OPS[a[1]], a[2], ref(a[3])))
        elif kind == "ar":
            bb.append(("ar", a[1], a[2], ref(a[3]), ref(a[4])))
        elif kind == "sf":
            bb.append(("sf", a[1], a[2], [ref(o) for o in a[3]]))
        elif kind == "sck":
            bb.append(("sck", _SCK_FN[a[1]], ref(a[2]), ref(a[3])))
        elif kind == "cls":
            bb.append(("cls", slots[a[1]], ref(a[2])))
        else:
            o = a[3]
            if o[0] == "c2":
                o = ("c2", slots[o[1]], slots[o[2]])
            bb.append(("prop", slots[a[1]], ref(a[2]), o))
    hh = []
    for a in head:
        if a[0] == "cls":
            hh.append(("cls", slots[a[1]], ref(a[2])))
        else:
            o = a[3]
            if o[0] == "lit":
                o = ("lit", slots[o[1]], slots[o[2]])
            hh.append(("prop", slots[a[1]], ref(a[2]), ref(o)))
    return bb, hh


def _doc_rules(doc_iri: str, rows) -> list:
    """The document's rules — SWRL srcs plus rules synthesized from its
    TransitiveProperty / inverseOf axioms — compiled through the same
    encode_rule/_parse_template pair the diagnostic uses. Invalid rules
    are dropped here: check_rules already raised or warned."""
    srcs, trans, inv = set(), set(), set()
    for s, p, o, _il, _dt in rows:
        if p == V.YPO_RULE_SRC:
            srcs.add(o)
        elif p == V.RDF_TYPE and o == V.OWL_TRANSITIVE:
            trans.add(s)
        elif p == V.OWL_INVERSE_OF:
            inv.add((s, o))
    enc = [_encode_one(doc_iri, src) for src in sorted(srcs)]
    enc += [(TRANSITIVE_KEY, [p, p, p]) for p in sorted(trans)]
    for q, p in sorted(inv):
        enc += [(INVERSE_KEY, [p, q]), (INVERSE_KEY, [q, p])]
    return [_bind_rule(k, s) for k, s in enc if k != _INVALID]


_I64 = 2**63


def _int(x):
    """try_cast(x AS BIGINT): the integer, or None (the row drops)."""
    try:
        v = int(x)
    except (TypeError, ValueError):
        return None
    return v if -_I64 <= v < _I64 else None


def _arith(op, a, b):
    """try_add/try_subtract/try_multiply/try_mod over BIGINT: None on
    overflow or mod-by-zero; mod truncates like Java's %."""
    if op == "ad":
        r = a + b
    elif op == "sb":
        r = a - b
    elif op == "ml":
        r = a * b
    elif b == 0:
        return None
    else:
        r = abs(a) % abs(b)
        r = -r if a < 0 else r
    return r if -_I64 <= r < _I64 else None


def _strfn(op, vals):
    """String builtin result, or None where the row drops."""
    if op == "sc":
        return "".join(vals)
    if op == "sl":
        return str(len(vals[0]))
    if op == "uc":
        return vals[0].upper()
    if op == "lc":
        return vals[0].lower()
    if op == "bn":
        return {"true": "false", "1": "false", "false": "true", "0": "true"}.get(vals[0])
    # substring, XPath integer fragment: positions p with p >= start and
    # p < start + length (1-based); drops wherever a BIGINT/INT bound
    # overflows or an argument is not integral
    st = _int(vals[1])
    if st is None:
        return None
    lo = max(st, 1)
    if len(vals) == 2:
        return vals[0][lo - 1:] if lo < 2**31 else None
    ln = _int(vals[2])
    if ln is None:
        return None
    hi = st + ln
    if not -_I64 <= hi < _I64:
        return None
    n = hi - lo
    if n <= 0:
        return ""
    if lo >= 2**31 or n >= 2**31:
        return None
    return vals[0][lo - 1: lo - 1 + n]


class _Facts:
    """Predicate-indexed facts: ``pred -> [(s, o, il)]`` and
    ``(pred, s) -> [(o, il)]``."""

    __slots__ = ("by_p", "by_ps")

    def __init__(self, rows=()):
        self.by_p, self.by_ps = {}, {}
        for r in rows:
            self.add(r)

    def add(self, r):
        s, p, o, il = r[0], r[1], r[2], r[3]
        self.by_p.setdefault(p, []).append((s, o, il))
        self.by_ps.setdefault((p, s), []).append((o, il))


class _Types:
    """Closed class memberships: ``inst -> {cls}`` and ``cls -> [inst]``."""

    __slots__ = ("by_inst", "by_cls")

    def __init__(self):
        self.by_inst, self.by_cls = {}, {}

    def add(self, inst, cls) -> bool:
        cs = self.by_inst.setdefault(inst, set())
        if cls in cs:
            return False
        cs.add(cls)
        self.by_cls.setdefault(cls, []).append(inst)
        return True


def _val(ref, b):
    return ref[1] if ref[0] == "c" else b[ref[1]]


def _fire(body, head, facts, types, out, pos=-1, dfacts=None, dtypes=None):
    """Enumerate the rule's bindings in body order — atom ``pos`` reads
    the round's delta (facts or types), every other atom the full
    sets — and add the head facts to ``out``. Variables bind in index
    order (encode_rule numbers them by first appearance), so the
    bound/new split is ``index < len(binding)``."""
    binds = [()]
    for j, atom in enumerate(body):
        if not binds:
            return
        kind = atom[0]
        k = len(binds[0])
        if kind == "prop":
            _, p, ss, os_ = atom
            src = dfacts if j == pos else facts
            s_new = ss[0] == "v" and ss[1] >= k
            if os_[0] == "c2":
                o_mode = 0
            elif os_[1] < k:
                o_mode = 1  # bound variable
            elif s_new and os_[1] == ss[1]:
                o_mode = 2  # p(?x, ?x) with ?x new
            else:
                o_mode = 3  # new variable
            nb = []
            for b in binds:
                if s_new:
                    cands = src.by_p.get(p, ())
                else:
                    s = _val(ss, b)
                    cands = [(s, o, il) for o, il in src.by_ps.get((p, s), ())]
                hits = []
                for s, o, il in cands:
                    if o_mode == 0:
                        if o != (os_[1] if il else os_[2]):
                            continue
                    elif o_mode == 1:
                        if o != b[os_[1]]:
                            continue
                    elif o_mode == 2 and o != s:
                        continue
                    hits.append((s, o))
                if not s_new and o_mode != 3:
                    if hits:
                        nb.append(b)  # pure filter: a semi-join
                    continue
                for s, o in hits:
                    t = b + (s,) if s_new else b
                    nb.append(t + (o,) if o_mode == 3 else t)
            binds = nb
        elif kind == "cls":
            _, cls, inst = atom
            src = dtypes if j == pos else types
            if inst[0] == "c":
                if cls not in src.by_inst.get(inst[1], ()):
                    binds = []
            elif inst[1] < k:
                binds = [b for b in binds if cls in src.by_inst.get(b[inst[1]], ())]
            else:
                members = src.by_cls.get(cls, ())
                binds = [b + (x,) for b in binds for x in members]
        elif kind == "bi":
            _, fn, vi, rhs = atom
            nb = []
            for b in binds:
                try:
                    if fn(float(b[vi]), float(_val(rhs, b))):
                        nb.append(b)
                except ValueError:
                    pass  # non-numeric binding: drops out (try_cast NULL)
            binds = nb
        elif kind == "ar":
            _, op, outv, o1, o2 = atom
            nb = []
            for b in binds:
                x, y = _int(_val(o1, b)), _int(_val(o2, b))
                r = None if x is None or y is None else _arith(op, x, y)
                if r is None:
                    continue
                if outv >= k:
                    nb.append(b + (str(r),))
                elif _int(b[outv]) == r:
                    nb.append(b)
            binds = nb
        elif kind == "sf":
            _, op, outv, ops = atom
            nb = []
            for b in binds:
                r = _strfn(op, [_val(o, b) for o in ops])
                if r is None:
                    continue
                if outv >= k:
                    nb.append(b + (r,))
                elif b[outv] == r:
                    nb.append(b)
            binds = nb
        else:  # sck
            _, fn, o1, o2 = atom
            binds = [b for b in binds if fn(_val(o1, b), _val(o2, b))]

    for b in binds:
        for atom in head:
            if atom[0] == "cls":
                out.add((_val(atom[2], b), V.RDF_TYPE, atom[1], False, None))
                continue
            _, p, ss, os_ = atom
            if os_[0] == "lit":
                out.add((_val(ss, b), p, os_[1], True, os_[2]))
            else:
                out.add((_val(ss, b), p, _val(os_, b), False, None))


def forward_chain_doc(doc_iri: str, rows, max_iter: int = 15) -> set:
    """The inferred delta of ONE document, as (subj, pred, obj,
    obj_is_literal, obj_datatype) tuples: semi-naive rounds over
    predicate-indexed facts. Round 0 fires every rule over everything;
    a later round fires a rule once per body atom that can read the
    previous round's delta (a property atom whose predicate the delta
    carries, a class atom when new memberships appeared), so round cost
    tracks the delta. Class atoms read rdf:type closed under the
    document's own rdfs:subClassOf. At most ``max_iter`` rounds."""
    rows = list(rows)
    rules = _doc_rules(doc_iri, rows)
    if not rules:
        return set()
    base = {r for r in rows if not r[0].startswith("_:") and not r[2].startswith("_:")}
    edges: dict = {}
    for s, p, o, _il, _dt in base:
        if p == V.RDFS_SUBCLASSOF:
            edges.setdefault(s, set()).add(o)
    sup: dict = {}
    for start, nxt in edges.items():
        seen, stack = set(), list(nxt)
        while stack:
            n = stack.pop()
            if n not in seen:
                seen.add(n)
                stack.extend(edges.get(n, ()))
        sup[start] = seen

    def close_types(new_facts, types):
        added = _Types()
        for s, p, o, _il, _dt in new_facts:
            if p == V.RDF_TYPE:
                for c in (o, *sup.get(o, ())):
                    if types.add(s, c):
                        added.add(s, c)
        return added

    known = set(base)
    facts, types = _Facts(base), _Types()
    close_types(base, types)
    dfacts = dtypes = None
    for rnd in range(max_iter):
        new: set = set()
        for body, head in rules:
            if rnd == 0:
                _fire(body, head, facts, types, new)
                continue
            for j, a in enumerate(body):
                if (a[0] == "prop" and a[1] in dfacts.by_p) or (
                    a[0] == "cls" and a[1] in dtypes.by_cls
                ):
                    _fire(body, head, facts, types, new, j, dfacts, dtypes)
        new -= known
        if not new:
            break
        known |= new
        dfacts = _Facts(new)
        for r in new:
            facts.add(r)
        dtypes = close_types(new, types)
    return known - base


def forward_chain(
    triples: DataFrame, max_iter: int = 15, on_unsupported: str = "raise"
) -> DataFrame:
    """Returns the INFERRED facts (subj, pred, obj, obj_is_literal,
    obj_datatype, doc_iri) — the delta the Pellet step would add for
    the supported fragment: :func:`forward_chain_doc` per document in
    one grouped map on ``doc_iri``.

    ``on_unsupported``: "raise" (default) fails fast listing the bad
    rules; "skip" drops them with a warning."""
    check_rules(triples, on_unsupported)
    return doc_grouped_map(triples, lambda d, rows: forward_chain_doc(d, rows, max_iter))
