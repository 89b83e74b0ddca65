"""The benchmark's workloads: generated input, the input property each
workload was chosen for, the expected parse, and the SPARQL query mix
with its SQL twins.

Everything here runs without Spark: the expected values come from the
package's single-document ``DocumentParser`` run on the driver, and
the query twins are plain SQL for duckdb.
"""

from __future__ import annotations

import hashlib
import random
import re
from collections import Counter, defaultdict
from dataclasses import dataclass, field
from typing import Dict, List, Tuple

import gen

RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
RDFS_SUBCLASSOF = "http://www.w3.org/2000/01/rdf-schema#subClassOf"
OWL = "http://www.w3.org/2002/07/owl#"
YPO_RULE_SRC = "https://w3id.org/yamlpyowl-spark/vocab#ruleSrc"

# KGPipeline.nodes' kind precedence (lowest rank wins)
_KIND_RANK = {
    OWL + "NamedIndividual": ("individual", 0),
    OWL + "ObjectProperty": ("object_property", 1),
    OWL + "DatatypeProperty": ("data_property", 2),
    "http://www.w3.org/2003/11/swrl#Imp": ("rule", 3),
    OWL + "Class": ("class", 4),
}

WORKLOADS = ("forks_build", "distinct_build")


@dataclass
class Query:
    name: str
    sparql: str
    sql: str  # duckdb twin over a view `t` of the triples table


@dataclass
class Workload:
    name: str
    corpus: gen.Corpus
    # (repo, path) -> triple count of the document, from DocumentParser
    expected_triples: Dict[Tuple[str, str], int]
    # the input property the workload was chosen for, as measured
    props: Dict[str, object] = field(default_factory=dict)
    queries: List[Query] = field(default_factory=list)

    @property
    def n_docs(self) -> int:
        return len(self.corpus.ontology_rows)


def _link_key(kind: str, iri: str) -> str:
    name = re.split("[#/]", iri)[-1]
    return kind + "|" + re.sub("[_\\-]", "", name).lower()


def _parse_all(corpus: gen.Corpus):
    """Parse every distinct ontology content once on the driver."""
    from yamlpyowl_spark.parser.document import DocumentParser, ParseError

    by_content: Dict[str, object] = {}
    expected: Dict[Tuple[str, str], int] = {}
    parsed: Dict[Tuple[str, str], object] = {}
    for repo, path, _commit, _lang, content in corpus.ontology_rows:
        if content not in by_content:
            try:
                by_content[content] = DocumentParser(content).parse()
            except ParseError:
                by_content[content] = None
        res = by_content[content]
        if res is not None:
            expected[(repo, path)] = len(res.triples)
            parsed[(repo, path)] = res
    return expected, parsed


def _shape(parsed) -> Dict[str, object]:
    """Input properties that decide which regime each operator takes:
    isomorphism classes, link keys per IRI, alias edges, rule rows."""
    fingerprints = set()
    rule_rows = 0
    kind_of: Dict[Tuple[str, str], int] = {}
    for key, res in parsed.items():
        base = res.iri
        blank = re.compile(r"_:[0-9a-f]{16}_")
        norm = sorted(
            tuple(blank.sub("_:B_", str(x).replace(base, "\x02")) for x in t) for t in res.triples
        )
        fingerprints.add(hashlib.md5(repr(norm).encode()).hexdigest())
        rows = set()
        for s, p, o, _lit, _dt in res.triples:
            if p == YPO_RULE_SRC or p == OWL + "inverseOf" or (p == RDF_TYPE and o == OWL + "TransitiveProperty"):
                rows.add((p, s, o))
            if p == RDF_TYPE and o in _KIND_RANK and not s.startswith("_:"):
                r = _KIND_RANK[o][1]
                k = (s, res.iri + "\0" + key[0] + "\0" + key[1])
                kind_of[k] = min(kind_of.get(k, 9), r)
        rule_rows += len(rows)
    rank_kind = {r: k for k, r in _KIND_RANK.values()}
    keys_of_iri: Dict[str, set] = defaultdict(set)
    mentions: List[Tuple[str, str]] = []
    for (iri, _doc), r in kind_of.items():
        lk = _link_key(rank_kind[r], iri)
        keys_of_iri[iri].add(lk)
        mentions.append((iri, lk))
    group_min: Dict[str, str] = {}
    for iri, lk in mentions:
        if lk not in group_min or iri < group_min[lk]:
            group_min[lk] = iri
    # connected_components' input: distinct (iri, group minimum) pairs
    alias_edges = len({(iri, group_min[lk]) for iri, lk in mentions if iri != group_min[lk]})
    sizes = sorted(len(res.triples) for res in parsed.values())
    return {
        "isomorph_classes": len(fingerprints),
        "rule_rows": rule_rows,
        "iris_with_two_link_keys": sum(1 for v in keys_of_iri.values() if len(v) > 1),
        "alias_edges": alias_edges,
        "doc_triples_max_over_median": round(sizes[-1] / sizes[len(sizes) // 2], 2),
    }


def _queries(rng: random.Random, parsed) -> List[Query]:
    """The fixed query mix: BGP join, `+` path, FILTER, GROUP BY /
    ORDER BY / LIMIT, OPTIONAL. The seed picks the document whose
    IRIs the document-scoped queries name."""
    keys = sorted(parsed)
    res = parsed[keys[rng.randrange(len(keys))]]
    b = res.iri
    cls = sorted(
        s for s, p, o, _l, _d in res.triples
        if p == RDF_TYPE and o == OWL + "Class" and s.startswith(b) and not s.startswith(b + "Near")
        and s != b + "Trio"
    )
    typed = Counter(o for s, p, o, _l, _d in res.triples if p == RDF_TYPE and o in cls)
    target = sorted(typed, key=lambda c: (-typed[c], c))[0]
    sub = RDFS_SUBCLASSOF
    return [
        Query(
            "bgp_join",
            f"SELECT ?c ?g WHERE {{ ?c <{sub}> ?p . ?p <{sub}> ?g }}",
            f"SELECT DISTINCT a.subj, b.obj FROM t a JOIN t b ON a.obj = b.subj "
            f"WHERE a.pred = '{sub}' AND b.pred = '{sub}' AND NOT a.obj_is_literal AND NOT b.obj_is_literal",
        ),
        Query(
            "path_plus",
            f"SELECT ?x ?y WHERE {{ ?x <{b}partOf>+ ?y }}",
            f"WITH RECURSIVE e AS (SELECT DISTINCT subj AS s, obj AS o FROM t WHERE pred = '{b}partOf' "
            f"AND NOT obj_is_literal), c(s, o) AS (SELECT s, o FROM e UNION "
            f"SELECT c.s, e.o FROM c JOIN e ON c.o = e.s) SELECT DISTINCT s, o FROM c",
        ),
        Query(
            "filter",
            f"SELECT ?s ?w WHERE {{ ?s <{b}weight> ?w . FILTER(?w > 50) }}",
            f"SELECT DISTINCT subj, obj FROM t WHERE pred = '{b}weight' AND TRY_CAST(obj AS DOUBLE) > 50",
        ),
        Query(
            "group_order_limit",
            "SELECT ?t (COUNT(?s) AS ?n) WHERE { ?s a ?t } GROUP BY ?t ORDER BY DESC(?n) ?t LIMIT 10",
            # make_query counts a triple once per document that states it
            f"SELECT obj, count(*) AS n FROM t WHERE pred = '{RDF_TYPE}' GROUP BY obj ORDER BY n DESC, obj LIMIT 10",
        ),
        Query(
            "optional",
            f"SELECT ?s ?w WHERE {{ ?s a <{target}> . OPTIONAL {{ ?s <{b}weight> ?w }} }}",
            f"SELECT DISTINCT a.subj, w.obj FROM (SELECT DISTINCT subj FROM t WHERE pred = '{RDF_TYPE}' "
            f"AND obj = '{target}') a LEFT JOIN (SELECT DISTINCT subj, obj FROM t WHERE pred = '{b}weight') w "
            f"ON a.subj = w.subj",
        ),
    ]


def _check_shape(name: str, shape: Dict[str, object], n_docs: int) -> List[str]:
    """The property each workload was chosen for; an empty list means
    the generated input has it. ``n_docs`` counts the well-formed
    ontology documents."""
    bad = []

    def need(cond: bool, what: str):
        if not cond:
            bad.append(f"{name}: input lacks {what}: {shape}")

    if name == "forks_build":
        need(shape["isomorph_classes"] * 10 <= n_docs, "isomorphism classes << documents")
        need(shape["iris_with_two_link_keys"] == 0, "one link key per IRI (CC identity shortcut)")
        need(shape["rule_rows"] <= gen.DRIVER_RULE_ROWS, "rule rows inside the driver-rules bound")
    elif name == "distinct_build":
        need(shape["isomorph_classes"] == n_docs, "one isomorphism class per document")
        need(shape["iris_with_two_link_keys"] > 0, "IRIs carrying two link keys (iterative CC)")
        need(shape["alias_edges"] > gen.DRIVER_CC_EDGES, "alias edges past the driver-CC bound")
        need(shape["rule_rows"] <= gen.DRIVER_RULE_ROWS, "rule rows inside the driver-rules bound")
        need(shape["doc_triples_max_over_median"] >= 5, "heavy-tailed document sizes")
    return bad


def build(name: str, seed: int) -> Tuple[Workload, List[str]]:
    """The workload's generated input, its measured shape and the
    shape violations (empty when the input has its property)."""
    if name == "forks_build":
        corpus = gen.forks_corpus(seed)
    elif name == "distinct_build":
        corpus = gen.distinct_corpus(seed)
    else:
        raise ValueError(f"unknown workload {name!r}")
    expected, parsed = _parse_all(corpus)
    shape = _shape(parsed)
    wl = Workload(name, corpus, expected, shape, _queries(random.Random(seed * 7919 + 1), parsed))
    return wl, _check_shape(name, shape, len(parsed))
