"""OWL-RL-style rule materialization for defined classes, equivalence
closure and domain subsumption — the Pellet behaviors the reference's
TestCore2 observes beyond SWRL chaining and the OneOf CSP
(tests/test_core.py:329-382):

* **defined-class membership** (cls-hv2 / cls-svf "if" direction, plus
  union/intersection): ``C ≡ hasValue(p, v)`` and ``p(x, v)`` ⇒
  ``type(x, C)``; ``C ≡ ∃p.D`` and ``p(x, y), type(y, D*)`` ⇒
  ``type(x, C)`` — with Or = any disjunct, And = all conjuncts;
* **equivalence closure** (eq-sym / eq-trans over NAMED classes):
  ``Class6 ≡ Class2`` ⇒ ``Class2 ≡ Class6``; chains close
  transitively (``10c ≡ 10d ≡ 10e`` ⇒ ``10c ≡ 10e``);
* **domain subsumption** (scm-dom composed with restriction
  definitions): ``C ⊑/≡ ∃p.X`` (or hasValue) and ``domain(p) = D`` ⇒
  ``C ⊑ D`` — every member of C has a p-value, hence is in p's
  domain. Or-expressions require EVERY disjunct to yield the same
  domain; And-expressions any conjunct;
* **property rules** (prp-trp / prp-symp / prp-inv / prp-spo1 /
  prp-spo2), run to a joint fixpoint so they compose (e.g. an inverse
  of a transitive property receives the full transposed closure;
  ``p owl:propertyChainAxiom (p1 ... pn)`` composes entity facts
  along the chain — p1(x,u1), ..., pn(u_{n-1},y) ⇒ p(x,y)):
  ``TransitiveProperty(p), p(x,y), p(y,z)`` ⇒ ``p(x,z)``;
  ``SymmetricProperty(p), p(x,y)`` ⇒ ``p(y,x)``;
  ``inverseOf(p,q), p(x,y)`` ⇒ ``q(y,x)`` (both directions);
  ``subPropertyOf(p,q), p(x,y)`` ⇒ ``q(x,y)`` (propagated over the
  transitively-closed sub-property graph; literal-valued facts
  propagate for data sub-properties, while symmetric / transitive /
  inverse steps apply to entity facts only);
  ``equivalentProperty(p,q)`` (prp-eqp1/eqp2) folds into that graph
  as ⊑ both ways, closing through mixed ⊑/≡ chains. The reference
  gets these from Pellet (core.py:1342; transitive ``hasPart`` is
  observed post-reasoner by tests/test_core.py:90-117);
* **domain / range typing** (prp-dom / prp-rng): ``domain(p) = D,
  p(x, y)`` ⇒ ``type(x, D)``; ``range(p) = R, p(x, y)`` ⇒
  ``type(y, R)`` for entity-valued facts — applied AFTER the
  property-rule fixpoint so propagated facts are typed too.
  ``Or``-domains (blank nodes) are skipped, never flattened to one
  unsound disjunct; datatype ranges never fire (their objects are
  literals);
* **type inheritance** (cax-sco): ``type(x, C), C ⊑ D`` ⇒
  ``type(x, D)`` over the transitively-closed NAMED subclass graph
  — last, over asserted plus every type fact this pass inferred
  (defined-class memberships and domain/range typings inherit
  upward, as Pellet materializes them). ``owl:*`` vocabulary
  classes (NamedIndividual etc.) are excluded;
* **consistency** (cax-dw): ``type(x,C), type(x,D), disjointWith(C,
  D)`` — where Pellet raises OwlReadyInconsistentOntologyError, this
  materializer emits loud ``ypo:disjointViolation`` diagnostic rows
  (checked over the final, post-inheritance type set);
  ``sync_reasoner`` surfaces them as an INCONSISTENT warning and
  keeps them out of the ontology facts;
* **class rules completing the RL profile** (r6b): cls-hv1 (``x ∈ C,
  C ⊑/≡ hasValue(p,v)`` ⇒ ``p(x,v)``, before the property fixpoint so
  derived facts compose), cls-avf (``C ⊑/≡ ∀p.D, p(x,y)`` ⇒
  ``type(y,D)``), cls-oo (enumerated individuals are typed), scm-uni
  (``C ≡ C1 ⊔ ... ⊔ Cn`` ⇒ ``Ci ⊑ C``), scm-int (``C ⊑/≡ C1 ⊓ ... ⊓
  Cn`` ⇒ ``C ⊑ Ci``), cls-com (complementOf folds into the cax-dw
  disjointness checks), cls-nothing2 (``owl:Nothing`` membership ⇒
  loud ``ypo:disjointViolation`` diagnostic);
* **equality rules completing the RL profile** (r6b): prp-fp / prp-ifp
  (functional / inverse-functional conflicts merge into the prp-key
  union-find; entity values only — sameAs over literals is outside the
  fact model), cls-maxc2 / cls-maxqc3 (max-1 restrictions merge the
  provably-qualified successors, non-UNA), cls-maxc1 / cls-maxqc1
  (max-0 restrictions: any successor ⇒ loud ``ypo:propertyViolation``),
  eq-diff1 (provably-same pair asserted ``owl:differentFrom`` —
  incl. ``owl:AllDifferent`` member lists — ⇒ loud paired
  ``ypo:identityViolation`` diagnostics). The distributed wrapper runs
  :func:`_infer_doc` to an outer per-document fixpoint
  (:func:`infer_doc_fixpoint`) so cross-stage cascades converge;
* **facet-constrained data ranges** (r6c, via the shared
  :mod:`.facets` evaluator): ``C ≡ ∃p.(xsd-datatype or
  onDatatype+withRestrictions range)`` infers membership for subjects
  with a witnessing asserted literal value; ``C ⊑/≡ ∀p.(range)`` and
  ``rdfs:range (range)`` check asserted literal values and emit loud
  ``ypo:facetViolation`` diagnostics on failures (Pellet raises);
  ranges the evaluator cannot decode are inert here — dlreason owns
  the ``ypo:dlUnsupportedConstruct`` diagnostic;
* **property consistency** (prp-irp / prp-asyp / prp-pdw, r6):
  ``IrreflexiveProperty(p), p(x,x)``; ``AsymmetricProperty(p),
  p(x,y), p(y,x)``; ``propertyDisjointWith(p1,p2), p1(x,y),
  p2(x,y)`` — each emits ``ypo:propertyViolation`` diagnostic rows
  over the POST-fixpoint fact base, same INCONSISTENT surfacing.

Scale architecture: identical to :mod:`dlreason` — the rules are
document-local, so the distributed dimension is ``doc_iri`` (one
Arrow-batched ``applyInPandas`` group per document) and the per-doc
payload is pure-Python graph walking over that document's triples.
No join or driver loop grows with the corpus.

OWL RL is the W3C profile DESIGNED for rule-based forward
materialization at scale — this implements the fragment the
reference's own tests observe, not the full profile; anything beyond
it stays behind :mod:`dlreason`'s loud unsupported-construct boundary.
"""

from __future__ import annotations

from typing import Dict, List, Optional, Set, Tuple

from pyspark.sql import DataFrame

from .. import vocab as V
from ..schema import doc_grouped_map
from . import facets as _FX

OWL = "http://www.w3.org/2002/07/owl#"


class _Doc:
    def __init__(self, rows):
        # rows: (subj, pred, obj, obj_is_literal)
        self.spo: Dict[Tuple[str, str], List[Tuple[str, bool]]] = {}
        for s, p, o, il in rows:
            self.spo.setdefault((s, p), []).append((o, il))

    def objs(self, s: str, p: str) -> List[str]:
        return [o for o, _ in self.spo.get((s, p), [])]

    def obj(self, s: str, p: str) -> Optional[str]:
        v = self.spo.get((s, p))
        return v[0][0] if v else None

    def rdf_list(self, node: str) -> List[str]:
        out, seen = [], set()
        while node and node != V.RDF_NIL and node not in seen:
            seen.add(node)
            head = self.obj(node, V.RDF_FIRST)
            if head is not None:
                out.append(head)
            node = self.obj(node, V.RDF_REST)
        return out


def _infer_doc(rows) -> Set[Tuple[str, str, str, bool]]:
    """rows: (subj, pred, obj, obj_is_literal). Returns inferred
    (subj, pred, obj, obj_is_literal) triples: entity triples (types,
    equivalences, subClassOf, object-property facts) plus
    literal-valued facts propagated by prp-spo1."""
    m = _Doc(rows)

    # ---- indexes ----------------------------------------------------
    # property facts p -> {(x, o_lexical)}
    facts: Dict[str, Set[Tuple[str, str]]] = {}
    # same facts WITH the literal flag — the prp-rule fact base
    pf: Dict[str, Set[Tuple[str, str, bool]]] = {}
    # asserted types with subClassOf closure (for some-filler checks)
    types: Dict[str, Set[str]] = {}
    sub: Dict[str, Set[str]] = {}
    named_eq: List[Tuple[str, str]] = []
    eq_exprs: List[Tuple[str, str]] = []  # (named class, blank expr)
    sub_exprs: List[Tuple[str, str]] = []
    domains: Dict[str, str] = {}
    ranges: Dict[str, str] = {}
    range_drs: Dict[str, str] = {}  # p -> blank datatype-restriction node
    individuals: Set[str] = set()
    inv_pairs: List[Tuple[str, str]] = []
    subprop: Dict[str, Set[str]] = {}
    chains: List[Tuple[str, List[str]]] = []
    disjoint: List[Tuple[str, str]] = []
    prop_disjoint: List[Tuple[str, str]] = []
    keys: List[Tuple[str, List[str]]] = []  # C owl:hasKey (p1..pn)
    same_pairs: List[Tuple[str, str]] = []  # asserted owl:sameAs
    du_subclass: List[Tuple[str, str]] = []  # (part, whole) cls-duo edges
    diff_pairs: List[Tuple[str, str]] = []  # owl:differentFrom (eq-diff1)

    for (s, p), objs in m.spo.items():
        if p == V.RDF_TYPE:
            for o, il in objs:
                if o == V.OWL_NAMED_INDIVIDUAL:
                    individuals.add(s)
                if not o.startswith("_:") and not s.startswith("_:"):
                    types.setdefault(s, set()).add(o)
        elif p == V.RDFS_SUBCLASSOF and not s.startswith("_:"):
            for o, il in objs:
                if o.startswith("_:"):
                    sub_exprs.append((s, o))
                else:
                    sub.setdefault(s, set()).add(o)
        elif p == V.OWL_EQUIVALENT_CLASS and not s.startswith("_:"):
            for o, il in objs:
                if o.startswith("_:"):
                    eq_exprs.append((s, o))
                else:
                    named_eq.append((s, o))
        elif p == V.RDFS_DOMAIN and not s.startswith("_:"):
            o = objs[0][0]
            if not o.startswith("_:"):
                domains[s] = o
        elif p == V.RDFS_RANGE and not s.startswith("_:"):
            o = objs[0][0]
            if not o.startswith("_:") and not o.startswith(V.XSD):
                ranges[s] = o
            elif o.startswith("_:"):
                # facet-constrained data range as the property's range
                # (checked post-fixpoint; unparseable → skipped here,
                # dlreason owns the unsupported diagnostic)
                range_drs[s] = o
        elif p == V.OWL_INVERSE_OF and not s.startswith("_:"):
            for o, il in objs:
                if not o.startswith("_:"):
                    inv_pairs.append((s, o))
        elif p == V.RDFS_SUBPROPERTYOF and not s.startswith("_:"):
            for o, il in objs:
                if not o.startswith("_:"):
                    subprop.setdefault(s, set()).add(o)
        elif p == OWL + "equivalentProperty" and not s.startswith("_:"):
            # prp-eqp1/eqp2: p ≡ q ⇔ p ⊑ q and q ⊑ p — fold into the
            # sub-property propagation graph (facts flow both ways,
            # closing transitively through mixed ⊑/≡ chains)
            for o, il in objs:
                if not o.startswith("_:"):
                    subprop.setdefault(s, set()).add(o)
                    subprop.setdefault(o, set()).add(s)
        elif p == OWL + "disjointWith" and not s.startswith("_:"):
            for o, il in objs:
                if not o.startswith("_:"):
                    disjoint.append((s, o))
        elif p == OWL + "propertyDisjointWith" and not s.startswith("_:"):
            for o, il in objs:
                if not o.startswith("_:"):
                    prop_disjoint.append((s, o))
        elif p == OWL + "hasKey" and not s.startswith("_:"):
            # prp-key parse: the object is an RDF list of named
            # properties (a bare named property is accepted as a
            # 1-element key for hand-authored facts)
            for o, il in objs:
                ps = m.rdf_list(o) if o.startswith("_:") else [o]
                if ps and not any(k.startswith("_:") for k in ps):
                    keys.append((s, ps))
        elif p == OWL + "disjointUnionOf" and not s.startswith("_:"):
            # cls-duo decomposition: C ≡ C1 ⊔ ... ⊔ Cn with parts
            # pairwise disjoint ⇒ Ci ⊑ C edges (feeding cax-sco) and
            # pairwise disjointWith pairs (feeding cax-dw)
            for o, il in objs:
                if o.startswith("_:"):
                    parts = [c for c in m.rdf_list(o) if not c.startswith("_:")]
                    for c in parts:
                        du_subclass.append((c, s))
                    for i1 in range(len(parts)):
                        for i2 in range(i1 + 1, len(parts)):
                            disjoint.append((parts[i1], parts[i2]))
        elif p == OWL + "sameAs" and not s.startswith("_:"):
            for o, il in objs:
                if not o.startswith("_:"):
                    same_pairs.append((s, o))
        elif p == OWL + "differentFrom" and not s.startswith("_:"):
            for o, il in objs:
                if not o.startswith("_:"):
                    diff_pairs.append((s, o))
        elif p == OWL + "complementOf" and not s.startswith("_:"):
            # cls-com: c1 complementOf c2 ⇒ provable co-membership is an
            # inconsistency — exactly the cax-dw check, so fold into the
            # disjoint pair list (named complements only; expression
            # complements are folded below)
            for o, il in objs:
                if not o.startswith("_:"):
                    disjoint.append((s, o))
        elif p == OWL + "propertyChainAxiom" and not s.startswith("_:"):
            for o, il in objs:
                if o.startswith("_:"):
                    chain = m.rdf_list(o)
                    if len(chain) >= 2 and not any(
                        c.startswith("_:") for c in chain
                    ):
                        chains.append((s, chain))
        elif (
            not s.startswith("_:")
            and not p.startswith("_:")
            # ypo: diagnostic rows are OUTPUTS, never rule inputs — on a
            # fixpoint re-pass they must not enter the fact base (eq-rep
            # would copy a violation onto merged twins, subproperty
            # rules would propagate it)
            and not p.startswith(V.YPO)
        ):
            for o, il in objs:
                facts.setdefault(p, set()).add((s, o))
                pf.setdefault(p, set()).add((s, o, il))

    # n-ary disjointness axioms (cax-adc / prp-adp) and negative
    # property assertions live on blank nodes typed with the axiom
    # class — decompose members lists into the same pairwise checks
    npa_nodes: List[str] = []
    for (s0, p0), objs0 in m.spo.items():
        if p0 != V.RDF_TYPE:
            continue
        typeset = {o for o, _ in objs0}
        if OWL + "NegativePropertyAssertion" in typeset:
            npa_nodes.append(s0)
        if OWL + "AllDifferent" in typeset:
            lst = m.obj(s0, OWL + "distinctMembers") or m.obj(s0, OWL + "members")
            members = [
                c for c in (m.rdf_list(lst) if lst else []) if not c.startswith("_:")
            ]
            for i1 in range(len(members)):
                for i2 in range(i1 + 1, len(members)):
                    diff_pairs.append((members[i1], members[i2]))
        if (
            OWL + "AllDisjointClasses" in typeset
            or OWL + "AllDisjointProperties" in typeset
        ):
            lst = m.obj(s0, OWL + "members")
            members = [
                c for c in (m.rdf_list(lst) if lst else []) if not c.startswith("_:")
            ]
            tgt = (
                disjoint
                if OWL + "AllDisjointClasses" in typeset
                else prop_disjoint
            )
            for i1 in range(len(members)):
                for i2 in range(i1 + 1, len(members)):
                    tgt.append((members[i1], members[i2]))

    # disjointUnionOf part-edges join the named subclass graph BEFORE
    # any closure is taken, so filler checks and cax-sco see them
    for part, whole in du_subclass:
        sub.setdefault(part, set()).add(whole)

    # subClassOf closure for filler checks (tiny per doc)
    def closed_types(x: str) -> Set[str]:
        out = set(types.get(x, ()))
        frontier = list(out)
        while frontier:
            c = frontier.pop()
            for up in sub.get(c, ()):
                if up not in out:
                    out.add(up)
                    frontier.append(up)
        return out

    # ---- expression evaluation -------------------------------------
    def members_of(node: str, depth: int = 0) -> Optional[Set[str]]:
        """Individuals satisfying the class expression at `node`;
        None = not evaluable in this fragment."""
        if depth > 16:
            return None
        if not node.startswith("_:"):
            return {x for x in individuals if node in closed_types(x)}
        union = m.obj(node, V.OWL + "unionOf")
        if union:
            out: Set[str] = set()
            for part in m.rdf_list(union):
                sub_m = members_of(part, depth + 1)
                if sub_m is None:
                    return None
                out |= sub_m
            return out
        inter = m.obj(node, V.OWL + "intersectionOf")
        if inter:
            acc: Optional[Set[str]] = None
            for part in m.rdf_list(inter):
                sub_m = members_of(part, depth + 1)
                if sub_m is None:
                    return None
                acc = sub_m if acc is None else (acc & sub_m)
            return acc or set()
        oneof = m.obj(node, V.OWL_ONE_OF)
        if oneof:
            # cls-oo: the enumerated individuals ARE the known members
            return {x for x in m.rdf_list(oneof) if not x.startswith("_:")}
        on_p = m.obj(node, V.OWL_ON_PROPERTY)
        if on_p and not on_p.startswith("_:"):
            hv = m.spo.get((node, V.OWL_HAS_VALUE))
            if hv:
                v = hv[0][0]
                return {x for x, o in facts.get(on_p, ()) if o == v}
            sv = m.obj(node, V.OWL_SOME_VALUES_FROM)
            if sv is not None and not sv.startswith("_:"):
                if sv == V.OWL_THING:
                    return {x for x, _ in facts.get(on_p, ())}
                if sv.startswith(V.XSD):
                    # ∃p.xsd-datatype: a literal value in the
                    # datatype's lexical space witnesses membership
                    # (witnessed members only — sound for the "if"
                    # direction; unsupported datatypes witness nothing)
                    return {
                        x
                        for x, o, il in pf.get(on_p, ())
                        if il and _FX.lexically_valid(o, sv) is True
                    }
                return {
                    x
                    for x, y in facts.get(on_p, ())
                    if sv in closed_types(y)
                }
            if sv is not None and sv.startswith("_:"):
                # ∃p.(facet-constrained data range): an asserted
                # literal value inside the range witnesses membership
                rng = _FX.parse_data_range(m, sv)
                if rng is not None:
                    return {
                        x
                        for x, o, il in pf.get(on_p, ())
                        if il and _FX.literal_in_range(o, rng)
                    }
        return None

    def domain_of(node: str, depth: int = 0) -> Optional[str]:
        """The domain class every member of the expression must be in;
        None when not derivable."""
        if depth > 16 or not node.startswith("_:"):
            return None
        union = m.obj(node, V.OWL + "unionOf")
        if union:
            doms = {domain_of(p, depth + 1) for p in m.rdf_list(union)}
            return doms.pop() if len(doms) == 1 and None not in doms else None
        inter = m.obj(node, V.OWL + "intersectionOf")
        if inter:
            for part in m.rdf_list(inter):
                d = domain_of(part, depth + 1)
                if d is not None:
                    return d
            return None
        on_p = m.obj(node, V.OWL_ON_PROPERTY)
        if on_p and not on_p.startswith("_:"):
            has_filler = (
                m.spo.get((node, V.OWL_HAS_VALUE))
                or m.obj(node, V.OWL_SOME_VALUES_FROM) is not None
            )
            if has_filler:
                return domains.get(on_p)
        return None

    inferred: Set[Tuple[str, str, str, bool]] = set()

    # cls-duo: materialize the decomposed Ci ⊑ C edges
    for part, whole in du_subclass:
        if whole not in {
            o for o, _ in m.spo.get((part, V.RDFS_SUBCLASSOF), ())
        }:
            inferred.add((part, V.RDFS_SUBCLASSOF, whole, False))

    # ---- schema decomposition over class definitions (r6b) ----------
    # scm-uni: C ≡ (C1 ⊔ ... ⊔ Cn) ⇒ Ci ⊑ C for NAMED parts — emitted
    # as triples and joined into `sub` so this pass's closures see them
    # (the "if" membership direction stays with members_of above).
    # scm-int: C ⊑/≡ (C1 ⊓ ... ⊓ Cn) ⇒ C ⊑ Ci for named parts.
    # cls-com over expressions: C ⊑/≡ ¬D ⇒ C,D disjoint (cax-dw check).
    for cls, expr in eq_exprs:
        u = m.obj(expr, V.OWL + "unionOf")
        if u:
            for part in m.rdf_list(u):
                if not part.startswith("_:") and cls not in sub.get(part, set()):
                    sub.setdefault(part, set()).add(cls)
                    inferred.add((part, V.RDFS_SUBCLASSOF, cls, False))
    for cls, expr in list(eq_exprs) + list(sub_exprs):
        inter = m.obj(expr, V.OWL + "intersectionOf")
        if inter:
            for part in m.rdf_list(inter):
                if part.startswith("_:"):
                    # C ⊑ (R1 ⊓ R2) ⇒ C ⊑ Ri for expression conjuncts
                    # too — hands each blank restriction to the hv1/
                    # avf/maxc checks below
                    sub_exprs.append((cls, part))
                elif part not in sub.get(cls, set()):
                    sub.setdefault(cls, set()).add(part)
                    inferred.add((cls, V.RDFS_SUBCLASSOF, part, False))
        comp = m.obj(expr, V.OWL_COMPLEMENT_OF)
        if comp and not comp.startswith("_:"):
            disjoint.append((cls, comp))

    # defined-class membership (incl. cls-oo via members_of's oneOf)
    for cls, expr in eq_exprs:
        ms = members_of(expr)
        if ms:
            for x in ms:
                if cls not in types.get(x, ()):
                    inferred.add((x, V.RDF_TYPE, cls, False))
                    types.setdefault(x, set()).add(cls)

    # equivalence closure over named classes (sym + trans, minus self)
    adj: Dict[str, Set[str]] = {}
    for a, b in named_eq:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    for start in adj:
        seen = {start}
        frontier = [start]
        while frontier:
            c = frontier.pop()
            for nxt in adj.get(c, ()):
                if nxt not in seen:
                    seen.add(nxt)
                    frontier.append(nxt)
        for other in seen - {start}:
            if other not in {o for o, _ in m.spo.get((start, V.OWL_EQUIVALENT_CLASS), ())}:
                inferred.add((start, V.OWL_EQUIVALENT_CLASS, other, False))

    # domain subsumption
    for cls, expr in sub_exprs + eq_exprs:
        d = domain_of(expr)
        if d is not None and d != cls and d not in sub.get(cls, ()):
            inferred.add((cls, V.RDFS_SUBCLASSOF, d, False))

    # ---- cls-hv1 (r6b): x ∈ C, C ⊑/≡ hasValue(p, v) ⇒ p(x, v) -------
    # before the property fixpoint so derived facts compose with
    # trans/symp/inv/spo1/spo2; literal values keep their flag
    for cls, expr in eq_exprs + sub_exprs:
        on_p = m.obj(expr, V.OWL_ON_PROPERTY)
        if not on_p or on_p.startswith("_:"):
            continue
        hv = m.spo.get((expr, V.OWL_HAS_VALUE))
        if not hv:
            continue
        v, il = hv[0]
        tgt = pf.setdefault(on_p, set())
        for x in list(types):
            if x.startswith("_:") or cls not in closed_types(x):
                continue
            if (x, v, il) not in tgt:
                tgt.add((x, v, il))
                facts.setdefault(on_p, set()).add((x, v))
                inferred.add((x, on_p, v, il))

    # ---- property rules: prp-spo1 / prp-symp / prp-inv / prp-trp ----
    trans = {x for x, ts in types.items() if V.OWL_TRANSITIVE in ts}
    sym = {x for x, ts in types.items() if V.OWL_SYMMETRIC in ts}

    # transitively close the sub-property graph once (scm-spo is used
    # for propagation, not emitted as triples)
    subprop_closed: Dict[str, Set[str]] = {}
    for p0 in subprop:
        seen, frontier = set(), [p0]
        while frontier:
            c = frontier.pop()
            for up in subprop.get(c, ()):
                if up not in seen and up != p0:
                    seen.add(up)
                    frontier.append(up)
        subprop_closed[p0] = seen

    if trans or sym or inv_pairs or subprop_closed or chains:
        asserted = {p: set(v) for p, v in pf.items()}
        changed, rounds = True, 0
        while changed and rounds < 64:
            rounds += 1
            changed = False
            # prp-spo2: p1(x,u1) ∧ ... ∧ pn(u_{n-1},y) ⇒ p(x,y) —
            # object-property chains over entity facts, inside the
            # joint fixpoint so chains compose with trans/symp/inv/spo1
            for p0, chain in chains:
                cur = [(s2, o2) for s2, o2, il2 in pf.get(chain[0], ()) if not il2]
                for step in chain[1:]:
                    if not cur:
                        break
                    by_src: Dict[str, List[str]] = {}
                    for s2, o2, il2 in pf.get(step, ()):
                        if not il2:
                            by_src.setdefault(s2, []).append(o2)
                    cur = [
                        (s1, o3)
                        for s1, o2 in cur
                        for o3 in by_src.get(o2, ())
                    ]
                if cur:
                    tgt = pf.setdefault(p0, set())
                    new = {(s1, o1, False) for s1, o1 in cur} - tgt
                    if new:
                        tgt |= new
                        changed = True
            for p1, sups in subprop_closed.items():
                for fact in list(pf.get(p1, ())):
                    for p2 in sups:
                        tgt = pf.setdefault(p2, set())
                        if fact not in tgt:
                            tgt.add(fact)
                            changed = True
            for p in sym:
                cur = pf.get(p)
                if cur:
                    new = {(o, s, False) for s, o, il in cur if not il} - cur
                    if new:
                        cur |= new
                        changed = True
            for p, q in inv_pairs:
                for a, b in ((p, q), (q, p)):
                    fa = pf.get(a)
                    if not fa:
                        continue
                    fb = pf.setdefault(b, set())
                    new = {(o, s, False) for s, o, il in fa if not il} - fb
                    if new:
                        fb |= new
                        changed = True
            for p in trans:
                cur = pf.get(p)
                if cur:
                    by_src: Dict[str, Set[str]] = {}
                    for s, o, il in cur:
                        if not il:
                            by_src.setdefault(s, set()).add(o)
                    new = set()
                    for s, o, il in cur:
                        if il:
                            continue
                        for o2 in by_src.get(o, ()):
                            t = (s, o2, False)
                            if t not in cur:
                                new.add(t)
                    if new:
                        cur |= new
                        changed = True
        for p, cur in pf.items():
            for s, o, il in cur - asserted.get(p, set()):
                inferred.add((s, p, o, il))

    # ---- domain / range typing: prp-dom / prp-rng -------------------
    # after the fixpoint, so facts derived by the property rules are
    # typed too (Pellet runs all rules to a joint fixpoint)
    # owl:Thing memberships are trivially true — not worth materializing
    for p, dom in domains.items():
        if dom == V.OWL_THING:
            continue
        for s, _o, _il in pf.get(p, ()):
            if not s.startswith("_:") and dom not in types.get(s, ()):
                inferred.add((s, V.RDF_TYPE, dom, False))
    for p, rng in ranges.items():
        if rng == V.OWL_THING:
            continue
        for _s, o, il in pf.get(p, ()):
            if not il and not o.startswith("_:") and rng not in types.get(o, ()):
                inferred.add((o, V.RDF_TYPE, rng, False))
    # prp-rng over facet-constrained data ranges: an asserted literal
    # value outside the declared range is a provable inconsistency →
    # loud ypo:facetViolation on the SUBJECT (the fact's owner)
    for p, node in range_drs.items():
        rng2 = _FX.parse_data_range(m, node)
        if rng2 is None:
            continue
        for s3, o3, il3 in pf.get(p, ()):
            if il3 and not _FX.literal_in_range(o3, rng2):
                inferred.add((s3, V.YPO + "facetViolation", p, False))

    # ---- cls-avf / cls-maxc / prp-fp / prp-ifp (r6b) ----------------
    # over the POST-fixpoint fact base and the types inferred so far.
    # cls-avf: x ∈ C, C ⊑/≡ ∀p.D, p(x,y) ⇒ y ∈ D (entity fillers).
    # cls-maxc2/maxqc3: max-1 restriction ⇒ the (provably-qualified)
    # successors merge via owl:sameAs (non-UNA); max-0 ⇒ any successor
    # is a provable inconsistency → loud ypo:propertyViolation rows.
    # prp-fp / prp-ifp: functional / inverse-functional conflicts merge
    # the value / subject pair. Literal-valued merge candidates are
    # SKIPPED (owl:sameAs over literals is outside this fact model and
    # two lexical forms may denote one value — never a safe diagnostic).
    mid_types: Dict[str, Set[str]] = {x: set(ts) for x, ts in types.items()}
    mid_sub: Dict[str, Set[str]] = {c: set(v) for c, v in sub.items()}
    for s2, p2, o2, _il in inferred:
        if p2 == V.RDF_TYPE:
            mid_types.setdefault(s2, set()).add(o2)
        elif p2 == V.RDFS_SUBCLASSOF and not o2.startswith("_:"):
            mid_sub.setdefault(s2, set()).add(o2)

    def closed_mid(x: str) -> Set[str]:
        out = set(mid_types.get(x, ()))
        frontier = list(out)
        while frontier:
            c = frontier.pop()
            for up in mid_sub.get(c, ()):
                if up not in out:
                    out.add(up)
                    frontier.append(up)
        return out

    derived_same: List[Tuple[str, str]] = []
    for cls, expr in eq_exprs + sub_exprs:
        on_p = m.obj(expr, V.OWL_ON_PROPERTY)
        if not on_p or on_p.startswith("_:"):
            continue
        avf = m.obj(expr, OWL + "allValuesFrom")
        maxc = m.obj(expr, OWL + "maxCardinality")
        qual = None
        if maxc is None:
            maxc = m.obj(expr, OWL + "maxQualifiedCardinality")
            if maxc is not None:
                qual = m.obj(expr, OWL + "onClass")
                if qual == V.OWL_THING:
                    qual = None
        if avf is None and maxc is None:
            continue
        try:
            nmax = int(maxc) if maxc is not None else None
        except ValueError:
            nmax = None
        # ∀p.(data range): literal fillers must be IN the range — an
        # asserted value outside it is a provable inconsistency, so it
        # becomes a loud ypo:facetViolation diagnostic (the Pellet
        # analog raises). Ranges this module cannot decide parse to
        # None and stay out (dlreason owns the unsupported diagnostic).
        avf_rng = avf_dt = None
        if avf is not None and avf.startswith("_:"):
            avf_rng = _FX.parse_data_range(m, avf)
        elif avf is not None and avf.startswith(V.XSD):
            avf_dt = avf if avf in _FX.SUPPORTED_BASES else None
        if avf is not None and (avf.startswith("_:") or avf.startswith(V.XSD)):
            avf = None
        if avf is None and nmax is None and avf_rng is None and avf_dt is None:
            continue
        members = [
            x
            for x in list(mid_types)
            if not x.startswith("_:") and cls in closed_mid(x)
        ]
        if not members:
            continue
        by_subj: Dict[str, List[str]] = {}
        lit_by_subj: Dict[str, List[str]] = {}
        for s2, o2, il2 in pf.get(on_p, ()):
            if not il2 and not o2.startswith("_:"):
                by_subj.setdefault(s2, []).append(o2)
            elif il2 and (avf_rng is not None or avf_dt is not None):
                lit_by_subj.setdefault(s2, []).append(o2)
        for x in members:
            succs = by_subj.get(x, ())
            if avf is not None and avf != V.OWL_THING:
                for y in succs:
                    if avf not in mid_types.get(y, set()):
                        mid_types.setdefault(y, set()).add(avf)
                        inferred.add((y, V.RDF_TYPE, avf, False))
            if avf_rng is not None or avf_dt is not None:
                for lex in lit_by_subj.get(x, ()):
                    bad = (
                        not _FX.literal_in_range(lex, avf_rng)
                        if avf_rng is not None
                        else _FX.lexically_valid(lex, avf_dt) is False
                    )
                    if bad:
                        inferred.add(
                            (x, V.YPO + "facetViolation", on_p, False)
                        )
            if nmax is not None:
                qs = sorted(
                    {y for y in succs if qual is None or qual in closed_mid(y)}
                )
                if nmax == 0 and qs:
                    inferred.add((x, V.YPO + "propertyViolation", on_p, False))
                elif nmax == 1 and len(qs) > 1:
                    for y2 in qs[1:]:
                        derived_same.append((qs[0], y2))
    for p, ts in types.items():
        fp = OWL + "FunctionalProperty" in ts or V.OWL_FUNCTIONAL in ts
        ifp = (
            OWL + "InverseFunctionalProperty" in ts
            or V.OWL_INVERSE_FUNCTIONAL in ts
        )
        if not fp and not ifp:
            continue
        cur = pf.get(p, ())
        if fp:
            by_s: Dict[str, Set[str]] = {}
            for s2, o2, il2 in cur:
                if not il2 and not o2.startswith("_:"):
                    by_s.setdefault(s2, set()).add(o2)
            for s2, vals in by_s.items():
                vs = sorted(vals)
                for y2 in vs[1:]:
                    derived_same.append((vs[0], y2))
        if ifp:
            by_o: Dict[Tuple[str, bool], Set[str]] = {}
            for s2, o2, il2 in cur:
                if not s2.startswith("_:"):
                    by_o.setdefault((o2, il2), set()).add(s2)
            for _v, subjs in by_o.items():
                ss = sorted(subjs)
                for x2 in ss[1:]:
                    derived_same.append((ss[0], x2))

    # ---- type inheritance: cax-sco + cax-eqc ------------------------
    # asserted types plus everything this pass inferred, lifted through
    # the named-subclass closure AND across named equivalences (C ≡ D
    # share members, and an equivalent of a subclass inherits upward
    # too); owl:/rdf: vocabulary classes are not user classes and stay
    # out
    eq_adj: Dict[str, Set[str]] = {}
    for a, b in named_eq:
        eq_adj.setdefault(a, set()).add(b)
        eq_adj.setdefault(b, set()).add(a)
    # the closure graph must include subClassOf edges inferred EARLIER
    # in this pass (domain subsumption adds C ⊑ D to `inferred`, not
    # `sub`) — otherwise members typed C miss D, an incompleteness
    # relative to Pellet's joint fixpoint (r4 advice #4)
    sub_all: Dict[str, Set[str]] = {c: set(v) for c, v in sub.items()}
    for s2, p2, o2, _il in inferred:
        if p2 == V.RDFS_SUBCLASSOF and not o2.startswith("_:"):
            sub_all.setdefault(s2, set()).add(o2)
    all_types: Dict[str, Set[str]] = {x: set(ts) for x, ts in types.items()}
    for s2, p2, o2, _il in inferred:
        if p2 == V.RDF_TYPE:
            all_types.setdefault(s2, set()).add(o2)
    for x, ts in all_types.items():
        if x.startswith("_:"):
            continue
        closed: Set[str] = set()
        frontier = [c for c in ts]
        while frontier:
            c = frontier.pop()
            for up in (*sub_all.get(c, ()), *eq_adj.get(c, ())):
                if up not in closed and up not in ts:
                    closed.add(up)
                    frontier.append(up)
        for up in closed:
            if up != V.OWL_THING and not up.startswith(V.OWL) and not up.startswith(V.RDF):
                inferred.add((x, V.RDF_TYPE, up, False))

    # ---- consistency: cax-dw --------------------------------------
    # type(x, C), type(x, D), disjointWith(C, D) is an inconsistency
    # Pellet would RAISE on; this engine stays a materializer, so the
    # violation surfaces as loud diagnostic triples
    # (x ypo:disjointViolation C) + (x ypo:disjointViolation D) —
    # never a silent pass. Checked over the FINAL type set (asserted +
    # everything this pass inferred, post-inheritance).
    final_types: Dict[str, Set[str]] = {x: set(ts) for x, ts in types.items()}
    for s2, p2, o2, _il in inferred:
        if p2 == V.RDF_TYPE:
            final_types.setdefault(s2, set()).add(o2)
    if disjoint:
        for x, ts in final_types.items():
            for c, d in disjoint:
                if c in ts and d in ts:
                    inferred.add((x, V.YPO + "disjointViolation", c, False))
                    inferred.add((x, V.YPO + "disjointViolation", d, False))

    # ---- prp-key + sameAs closure: eq-sym / eq-trans / eq-rep -------
    # ``C owl:hasKey (p1..pn)``: two named individuals both in C that
    # share a value for EVERY key property are owl:sameAs (prp-key).
    # Derived and asserted sameAs close into cliques (eq-sym/eq-trans)
    # whose members then share all property facts and types
    # (eq-rep-s/eq-rep-o, applied once over the post-fixpoint base).
    # Key matching re-runs over the MERGED value sets until no new
    # merges — a merge can complete another pair's key overlap.
    # Bounded by #entities per document; Pellet merges individuals and
    # re-saturates, which this converging loop mirrors doc-locally.
    # derived_same (prp-fp / prp-ifp / cls-maxc2, r6b) seeds the same
    # union-find as prp-key merges and asserted sameAs — the cliques
    # then share facts and types via eq-rep exactly once
    if keys or same_pairs or derived_same:
        parent: Dict[str, str] = {}
        touched: Set[str] = set()

        def find(x: str) -> str:
            while parent.get(x, x) != x:
                parent[x] = parent.get(parent[x], parent[x])
                x = parent[x]
            return x

        def union(a: str, b: str) -> bool:
            touched.update((a, b))
            ra, rb = find(a), find(b)
            if ra == rb:
                return False
            parent[max(ra, rb)] = min(ra, rb)
            return True

        for a, b in same_pairs:
            union(a, b)
        for a, b in derived_same:
            union(a, b)
        if keys:
            changed_keys = True
            while changed_keys:
                changed_keys = False
                rep_types: Dict[str, Set[str]] = {}
                for x, ts in final_types.items():
                    if not x.startswith("_:"):
                        rep_types.setdefault(find(x), set()).update(ts)
                for cls, ps in keys:
                    cands = sorted(
                        r for r, ts in rep_types.items() if cls in ts
                    )
                    # per-candidate value sets, entity values compared
                    # under the current merge (merged fillers match)
                    vsets: Dict[str, List[Set[Tuple[str, bool]]]] = {}
                    for rep in cands:
                        sets: List[Set[Tuple[str, bool]]] = []
                        for p in ps:
                            vs = {
                                (o if il else find(o), il)
                                for (s2, o, il) in pf.get(p, ())
                                if find(s2) == rep
                            }
                            if not vs:
                                break
                            sets.append(vs)
                        if len(sets) == len(ps):
                            vsets[rep] = sets
                    reps = sorted(vsets)
                    for i1 in range(len(reps)):
                        for i2 in range(i1 + 1, len(reps)):
                            a, b = reps[i1], reps[i2]
                            if all(
                                sa & sb
                                for sa, sb in zip(vsets[a], vsets[b])
                            ) and union(a, b):
                                changed_keys = True
        cliques: Dict[str, Set[str]] = {}
        for x in touched:
            cliques.setdefault(find(x), set()).add(x)
        asserted_same = set(same_pairs)
        for members in cliques.values():
            mem = sorted(members)
            if len(mem) < 2:
                continue
            for a in mem:
                for b in mem:
                    if a != b and (a, b) not in asserted_same:
                        inferred.add((a, OWL + "sameAs", b, False))
            # eq-rep-s / eq-rep-o over the post-fixpoint fact base
            for p, cur in pf.items():
                for s2, o, il in list(cur):
                    if s2 in members:
                        for a in mem:
                            if a != s2 and (a, o, il) not in cur:
                                inferred.add((a, p, o, il))
                    if not il and o in members:
                        for a in mem:
                            if a != o and (s2, a, False) not in cur:
                                inferred.add((s2, p, a, False))
            shared_types: Set[str] = set()
            for a in mem:
                shared_types |= final_types.get(a, set())
            for a in mem:
                for t in shared_types - final_types.get(a, set()):
                    if (
                        t != V.OWL_THING
                        and not t.startswith(V.OWL)
                        and not t.startswith(V.RDF)
                    ):
                        inferred.add((a, V.RDF_TYPE, t, False))

        # eq-diff1 (r6b): provably-same pair asserted differentFrom —
        # Pellet raises; the materializer emits loud paired
        # ypo:identityViolation diagnostic rows
        for a, b in diff_pairs:
            if a != b and find(a) == find(b):
                inferred.add((a, V.YPO + "identityViolation", b, False))
                inferred.add((b, V.YPO + "identityViolation", a, False))

    # cls-nothing2 (r6b): membership in owl:Nothing is a provable
    # inconsistency — surfaced in the cax-dw diagnostic shape
    # ("x is in a class that can have no members")
    for x, ts in final_types.items():
        if V.OWL_NOTHING in ts and not x.startswith("_:"):
            inferred.add((x, V.YPO + "disjointViolation", V.OWL_NOTHING, False))

    # ---- consistency: prp-irp / prp-asyp / prp-pdw (r6) -------------
    # Pellet raises on these; the materializer surfaces them as loud
    # ypo:propertyViolation diagnostics over the POST-fixpoint fact
    # base (a violation introduced by symmetry/inverse/chain
    # propagation is caught, not just asserted ones)
    irreflexive = {x for x, ts in types.items() if OWL + "IrreflexiveProperty" in ts}
    asymmetric = {x for x, ts in types.items() if OWL + "AsymmetricProperty" in ts}
    for p in irreflexive:
        for s, o, il in pf.get(p, ()):
            if not il and s == o:
                inferred.add((s, V.YPO + "propertyViolation", p, False))
    for p in asymmetric:
        cur = {(s, o) for s, o, il in pf.get(p, ()) if not il}
        for s, o in cur:
            if (o, s) in cur:
                inferred.add((s, V.YPO + "propertyViolation", p, False))
                inferred.add((o, V.YPO + "propertyViolation", p, False))
    for p1, p2 in prop_disjoint:
        a = {(s, o) for s, o, il in pf.get(p1, ())}
        b = {(s, o) for s, o, il in pf.get(p2, ())}
        for s, o in a & b:
            inferred.add((s, V.YPO + "propertyViolation", p1, False))
            inferred.add((s, V.YPO + "propertyViolation", p2, False))

    # ---- consistency: prp-npa1 / prp-npa2 ---------------------------
    # owl:NegativePropertyAssertion nodes: the asserted-or-derived
    # presence of the denied fact is an inconsistency Pellet raises on
    # — surfaced as the same loud propertyViolation diagnostics,
    # checked over the POST-fixpoint base (a chain/inverse-derived
    # denied fact is caught too)
    for node in sorted(npa_nodes):
        src = m.obj(node, OWL + "sourceIndividual")
        ap = m.obj(node, OWL + "assertionProperty")
        if not src or not ap:
            continue
        tgts = list(m.spo.get((node, OWL + "targetIndividual"), ()))
        tgts += list(m.spo.get((node, OWL + "targetValue"), ()))
        for o, il in tgts:
            if (src, o, il) in pf.get(ap, ()):
                inferred.add((src, V.YPO + "propertyViolation", ap, False))

    return inferred


def infer_doc_fixpoint(rows) -> Set[Tuple[str, str, str, bool]]:
    """Run :func:`_infer_doc` to an OUTER fixpoint: triples inferred by
    one pass (cls-hv1 facts, scm-uni/int subclass edges, sameAs merges,
    avf typings) are fed back as input until no pass adds anything new.

    Single-pass staging already orders the common compositions
    (hv1 before the property fixpoint, avf/fp/ifp after it, cax-sco
    last), so most documents converge on pass 2 — the loop exists for
    the cross-stage cascades a fixed order cannot express (an avf-typed
    filler satisfying another class definition, an eq-rep-copied fact
    completing a functional conflict). Bounded: the triple universe per
    document is finite and every pass is monotone; 16 passes is far
    beyond any real document's rule-dependency depth."""
    base: Set[Tuple[str, str, str, bool]] = set(rows)
    acc: Set[Tuple[str, str, str, bool]] = set()
    for _ in range(16):
        delta = _infer_doc(sorted(base | acc)) - acc - base
        if not delta:
            break
        acc |= delta
    else:
        # every pass produced new facts and the cap cut the loop: the
        # closure is not proven complete — say so loudly instead of
        # silently returning it (ADVICE r6; the loud-boundary
        # principle). The warning lands in the executor task log.
        import warnings

        warnings.warn(
            "OWL-RL doc fixpoint hit the 16-pass cap while still "
            "deriving new facts — the returned closure may be partial",
            stacklevel=2,
        )
    return acc


def owlrl_doc(rows) -> set:
    """One document's OWL-RL delta as (subj, pred, obj, obj_is_literal,
    obj_datatype) tuples: :func:`infer_doc_fixpoint` over its triples,
    plus dt-not-type (r6d): an asserted literal whose lexical form is
    outside its DECLARED datatype's lexical/value space is an
    inconsistency Pellet raises on — same canon() evaluator as the
    facet checks (xsd:byte "999" is ill-typed, unknown datatypes are
    left alone, never silently validated)."""
    rows = list(rows)
    out = set(infer_doc_fixpoint([(s, p, o, il) for s, p, o, il, _ in rows]))
    for s, p, o, il, dt in rows:
        if il and dt and _FX.lexically_valid(o, dt) is False:
            out.add((s, V.YPO + "datatypeViolation", p, False))
    return {(s, p, o, il, None) for s, p, o, il in out}


def owlrl_materialize(triples: DataFrame) -> DataFrame:
    """Distributed materialization: :func:`owlrl_doc` — one rule pass
    per document — in a grouped map on ``doc_iri``. Returns the
    inferred delta with the standard fact schema (entity triples
    only)."""
    return doc_grouped_map(triples, lambda _d, rows: owlrl_doc(rows))
