"""Seeded input generator for the end-to-end benchmark.

Writes the pipeline's source table ``(repo, path, commit, lang,
content)`` as parquet, with ontology documents authored here in the
yamlpyowl dialect. Nothing is read from the package's fixtures, so a
change to them cannot move the benchmark's inputs.

The seed picks names, facts and which documents go where; the sizes
(document count, entity count per document, size schedule) are fixed
per workload, so every seed gives the same amount of work.
"""

from __future__ import annotations

import hashlib
import random
from dataclasses import dataclass, field
from typing import Dict, List, Tuple

Row = Tuple[str, str, str, str, str]  # repo, path, commit, lang, content

MONOREPO = "megacorp/monorepo"

_SYLLABLES = (
    "ka ri to me sa lu no ve da pi mo ze ta ru ki be lo fa ni go "
    "su ha re wi yo ca de fo gu ji"
).split()

# the package's driver-regime bounds the workloads are sized against
# (operators/swrl.py _DRIVER_RULE_ROWS, operators/cc.py _DRIVER_CC_EDGES)
DRIVER_RULE_ROWS = 10_000
DRIVER_CC_EDGES = 5_000


def _word(rng: random.Random, n: int) -> str:
    return "".join(rng.choice(_SYLLABLES) for _ in range(n))


def vocabulary(rng: random.Random, size: int) -> List[str]:
    """``size`` distinct lowercase words (2-4 syllables)."""
    seen: set = set()
    out: List[str] = []
    while len(out) < size:
        w = _word(rng, rng.randint(2, 4))
        if w not in seen:
            seen.add(w)
            out.append(w)
    return out


def _cap(w: str) -> str:
    return w[:1].upper() + w[1:]


def _commit(repo: str, path: str, content: str) -> str:
    return hashlib.sha1(f"{repo}\0{path}\0{content}".encode()).hexdigest()


@dataclass
class DocSpec:
    """The entities of one ontology document, before rendering."""

    iri: str
    classes: List[str]
    individuals: List[str]
    # individual name -> class name
    types: Dict[str, str] = field(default_factory=dict)
    part_of: List[Tuple[str, str]] = field(default_factory=list)
    linked: List[Tuple[str, str]] = field(default_factory=list)
    weight: Dict[str, float] = field(default_factory=dict)
    # entity names declared as individuals although another document
    # declares them as classes (the vendored kind-changing copies)
    as_individuals: List[str] = field(default_factory=list)
    note: str = ""
    n_rules: int = 0


def make_spec(rng: random.Random, iri: str, words: List[str], n_classes: int, n_inds: int, n_rules: int) -> DocSpec:
    names = rng.sample(words, n_classes + n_inds)
    classes = [_cap(w) for w in names[:n_classes]]
    inds = names[n_classes:]
    spec = DocSpec(iri=iri, classes=classes, individuals=inds, n_rules=n_rules)
    for i in inds:
        spec.types[i] = rng.choice(classes[1:])
    # a two-level part hierarchy: the transitive closure adds one level
    for k, i in enumerate(inds[1:], 1):
        spec.part_of.append((i, inds[0] if k < 3 else inds[rng.randrange(1, 3)]))
    for _ in range(len(inds)):
        a, b = rng.sample(inds, 2)
        spec.linked.append((a, b))
    for i in inds:
        if rng.random() < 0.6:
            spec.weight[i] = round(rng.uniform(0.5, 99.5), 2)
    spec.note = " ".join(rng.sample(words, 4))
    return spec


def render(spec: DocSpec) -> str:
    """The document's YAML text. Every construct family the pipeline's
    reasoners read is present: a class hierarchy, a transitive property
    with its inverse, a functional data property, facts, SWRL rules, a
    hasValue-defined class (OWL-RL) and a OneOf class with an
    all-different axiom (DL model search)."""
    c = spec.classes
    ind = spec.individuals
    out = [f'- iri: "{spec.iri}"', f'- annotation: "{spec.note}"', "- multiple_owl_classes:"]
    out.append(f"    - {c[0]}:\n        SubClassOf: \"owl:Thing\"")
    for k, name in enumerate(c[1:], 1):
        out.append(f"    - {name}:\n        SubClassOf: {c[(k - 1) // 2]}")
    out.append(
        "- owl_object_property:\n    partOf:\n"
        f"        Domain: {c[0]}\n        Range: {c[0]}\n"
        "        Characteristics:\n            - Transitive"
    )
    out.append("- owl_inverse_property:\n    hasPart:\n        Inverse: partOf")
    out.append(f"- owl_object_property:\n    linkedTo:\n        Domain: {c[0]}\n        Range: {c[0]}")
    for prop in ("derivedLink", "relatedTo"):
        out.append(f"- owl_object_property:\n    {prop}:\n        Domain: {c[0]}\n        Range: {c[0]}")
    out.append(
        "- owl_data_property:\n    weight:\n"
        f"        Domain: {c[0]}\n        Range: float\n"
        "        Characteristics:\n            - Functional"
    )
    by_type: Dict[str, List[str]] = {}
    for i in ind:
        by_type.setdefault(spec.types[i], []).append(i)
    for cls in sorted(by_type):
        out.append(
            f"- owl_multiple_individuals:\n    names: [{', '.join(by_type[cls])}]\n"
            f"    types:\n        - {cls}"
        )
    for name in spec.as_individuals:
        out.append(f"- owl_individual:\n    {name}:\n        types:\n            - {c[0]}")
    facts = ["- property_facts:", "    partOf:", "        Facts:"]
    facts += [f"            - {a}: {b}" for a, b in spec.part_of]
    facts += ["    linkedTo:", "        Facts:"]
    facts += [f"            - {a}: {b}" for a, b in spec.linked]
    if spec.weight:
        facts += ["    weight:", "        Facts:"]
        facts += [f"            - {a}: {v}" for a, v in spec.weight.items()]
    out.append("\n".join(facts))
    # hasValue-defined class: OWL-RL derives its members
    anchor = ind[0]
    out.append(f"- owl_class:\n    Near{_cap(anchor)}:\n        SubClassOf: {c[0]}")
    out.append(
        f"- axiom_equivalent_to:\n    Subject: Near{_cap(anchor)}\n"
        f"    Body:\n        linkedTo:\n            value: {anchor}"
    )
    # a small enumerated class: the DL model search's fragment
    enum = ind[:3]
    out.append(f"- owl_class:\n    Trio:\n        EquivalentTo:\n            OneOf: [{', '.join(enum)}]")
    # one rule shape, so the rules share one SWRL template; the class
    # and property constants make every rule distinct
    combos = [(k, p, h) for h in ("derivedLink", "relatedTo") for p in ("linkedTo", "partOf", "hasPart") for k in c[1:]]
    for r, (cls, prop, head) in enumerate(combos[: spec.n_rules]):
        src = f"{cls}(?x), {prop}(?x, ?y) -> {head}(?x, ?y)"
        out.append(f'- swrl_rule:\n    name: rule{r}\n    src: "{src}"')
    out.append("- different_individuals:\n" + "".join(f"    - {i}\n" for i in enum).rstrip("\n"))
    return "\n".join(out) + "\n"


def noise_rows(rng: random.Random, n_noise: int) -> Tuple[List[Row], List[Tuple[str, str]]]:
    """Rows the scan filter must drop, plus malformed ontology
    documents that must each become exactly one error row. Returns the
    rows and the (repo, path) keys of the malformed documents."""
    rows: List[Row] = []
    for i in range(n_noise):
        lang, ext = [("python", "py"), ("markdown", "md"), ("json", "json")][i % 3]
        body = " ".join(_word(rng, 2) for _ in range(rng.randint(20, 80)))
        repo, path = f"noise/repo{i % 4}", f"src/file_{i}.{ext}"
        rows.append((repo, path, _commit(repo, path, body), lang, body))
    for repo, path, body in (
        ("noise/ci", ".gitlab-ci.yml", "stages:\n  - test\ntest:\n  script:\n    - pytest -q\n"),
        ("noise/cfg", "config/app.yml", "server:\n  port: 8080\n"),
    ):
        rows.append((repo, path, _commit(repo, path, body), "yaml", body))
    bad = []
    for k, body in enumerate(
        (
            # YAML syntax error
            "- iri: https://example.org/broken#\n- owl_class:\n    A:\n      SubClassOf: [unclosed\n",
            # valid YAML, undeclared name
            "- iri: https://example.org/sem#\n- owl_individual:\n    foo:\n      types:\n        - NoSuchClass\n",
            # valid YAML, not a list of mappings
            "iri: https://example.org/flat#\nowl_class: A\n",
        )
    ):
        repo, path = f"noise/broken{k}", f"ontologies/broken{k}.owl.yml"
        rows.append((repo, path, _commit(repo, path, body), "yaml", body))
        bad.append((repo, path))
    return rows, bad


@dataclass
class Corpus:
    rows: List[Row]
    # (repo, path) of the documents that must become error rows
    malformed: List[Tuple[str, str]]

    @property
    def ontology_rows(self) -> List[Row]:
        return [r for r in self.rows if r[3] == "yaml" and r[1].endswith(".owl.yml")]


def forks_corpus(seed: int, n_templates: int = 4, n_forks: int = 20, n_noise: int = 24) -> Corpus:
    """A few template documents, each forked ``n_forks`` times with its
    base IRI rewritten; half of every template's forks sit in one
    monorepo (the skew the salted repartition spreads)."""
    rng = random.Random(seed)
    words = vocabulary(rng, 400)
    rows: List[Row] = []
    for t in range(n_templates):
        spec = make_spec(rng, "", words, n_classes=8, n_inds=10, n_rules=6)
        stem = f"{words[t]}-kb"
        for k in range(n_forks):
            spec.iri = f"https://w3id.org/forks/{stem}/{k}#"
            content = render(spec)
            if k % 2 == 0:
                repo, path = MONOREPO, f"vendored/{stem}/{k}/{stem}.owl.yml"
            else:
                repo, path = f"forks/{stem}-{k}", f"ontologies/{stem}.owl.yml"
            rows.append((repo, path, _commit(repo, path, content), "yaml", content))
    extra, bad = noise_rows(rng, n_noise)
    rows += extra
    rng.shuffle(rows)
    return Corpus(rows, bad)


def _zipf_sizes(n_docs: int, largest: int, smallest: int) -> List[int]:
    """Heavy-tailed entity counts: rank r gets ~largest / r, floored at
    ``smallest``. Fixed by ``n_docs`` alone, so every seed has the same
    total size."""
    return [max(smallest, largest // (r + 1)) for r in range(n_docs)]


def distinct_corpus(seed: int, n_docs: int = 80, n_vendored: int = 16, n_noise: int = 24) -> Corpus:
    """Every document has its own content and heavy-tailed size. Names
    come from one shared vocabulary, so link keys (kind + local name)
    collide across documents. ``n_vendored`` of the largest documents
    are re-vendored under another repo with the same base IRI, declaring
    half of the original's classes as individuals: those IRIs carry two
    link keys, which forces the iterative connected-components path."""
    rng = random.Random(seed)
    words = vocabulary(rng, 560)
    sizes = _zipf_sizes(n_docs, largest=400, smallest=40)
    rng.shuffle(sizes)
    rows: List[Row] = []
    specs = []
    for d, n_inds in enumerate(sizes):
        n_classes = max(6, n_inds // 3)
        spec = make_spec(rng, f"https://example.org/{words[d]}{d}/onto#", words, n_classes, n_inds, n_rules=8)
        specs.append(spec)
        repo, path = f"org{d % 37}/project{d}", f"ontology/{words[d]}.owl.yml"
        content = render(spec)
        rows.append((repo, path, _commit(repo, path, content), "yaml", content))
    largest = sorted(range(n_docs), key=lambda d: -sizes[d])[:n_vendored]
    for v, d in enumerate(largest):
        src = specs[d]
        keep = len(src.classes) // 2
        spec = DocSpec(**{**src.__dict__, "classes": src.classes[:keep], "as_individuals": src.classes[keep:]})
        spec.types = {i: (t if t in spec.classes else spec.classes[1]) for i, t in src.types.items()}
        content = render(spec)
        repo, path = f"vendor{v % 7}/thirdparty", f"vendored/{v}/onto.owl.yml"
        rows.append((repo, path, _commit(repo, path, content), "yaml", content))
    extra, bad = noise_rows(rng, n_noise)
    rows += extra
    rng.shuffle(rows)
    return Corpus(rows, bad)


def write_parquet(rows: List[Row], path: str, row_group_size: int = 64) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    cols = list(zip(*rows))
    table = pa.table({k: list(v) for k, v in zip(("repo", "path", "commit", "lang", "content"), cols)})
    pq.write_table(table, path, row_group_size=row_group_size)
