"""Drop-in user facade mirroring the reference's ``OntologyManager``.

A user of cknoll/yamlpyowl writes::

    om = ypo.OntologyManager("examples/pizza.owl.yml", world)
    om.n.mypizza1 ...
    om.make_query(sparql)
    om.sync_reasoner(...)

This facade exposes the same session surface on Spark::

    om = OntologyManager("examples/pizza.owl.yml", spark)
    om.triples                      # the triples DataFrame
    om.concepts / om.roles / om.individuals
    om.make_query(sparql)           # set of result names, like the reference
    om.sync_reasoner()              # SWRL forward chain + closure, merged in

Single-document convenience on top of the distributed pipeline — the
same parser, the same operators.
"""

from __future__ import annotations

import os
from typing import Optional, Set

from pyspark.sql import DataFrame, SparkSession, functions as F

from .operators.sparql import make_query as _make_query
from .parser.document import DocumentParser
from .schema import SOURCE_SCHEMA
from .sources.fixtures import build_default_import_map


class AnnotationList(list):
    """list with owlready's ``.first()`` convenience
    (reference tests/test_core.py:292 ``om.n.Class4.label.first()``)."""

    def first(self):
        return self[0] if self else None


class ClassConstruct:
    """Value object for an anonymous class expression (Or/And/Not/
    OneOf) decoded from its blank-node triples — equality is structural,
    so user code can assert ``n.Class7.equivalent_to[0] == Or([n.Class2,
    n.Class3])`` like the reference does with owlready's constructs
    (tests/test_core.py:335)."""

    __slots__ = ("kind", "members")

    def __init__(self, kind: str, members: list):
        self.kind = kind
        self.members = list(members)

    def __eq__(self, other):
        return (
            isinstance(other, ClassConstruct)
            and self.kind == other.kind
            and self.members == other.members
        )

    def __hash__(self):
        return hash((self.kind, tuple(self.members)))

    def __repr__(self):
        return f"{self.kind}({self.members!r})"


def Or(members):  # noqa: N802 — mirrors the reference's constructor names
    return ClassConstruct("Or", members)


def And(members):  # noqa: N802
    return ClassConstruct("And", members)


def Not(member):  # noqa: N802
    return ClassConstruct("Not", [member])


def OneOf(members):  # noqa: N802
    return ClassConstruct("OneOf", members)


class Restriction:
    """Structural value for ``∃p.C`` / ``p value v`` / ``∀p.C`` —
    built by :meth:`EntityHandle.some` / ``.value`` / ``.only`` and by
    decoding restriction blank nodes, so
    ``n.has_x.some(n.Class2) in n.Class10a.is_a`` holds like the
    reference's owlready construct equality (tests/test_core.py:361)."""

    __slots__ = ("rtype", "prop", "filler")

    def __init__(self, rtype: str, prop, filler):
        self.rtype = rtype  # some | value | only
        self.prop = prop
        self.filler = filler

    def __eq__(self, other):
        return (
            isinstance(other, Restriction)
            and self.rtype == other.rtype
            and self.prop == other.prop
            and self.filler == other.filler
        )

    def __hash__(self):
        return hash((self.rtype, self.prop, self.filler))

    def __repr__(self):
        return f"{self.prop!r}.{self.rtype}({self.filler!r})"


class EntityHandle:
    """Lightweight stand-in for an owlready2 entity: ``.name``/``.iri``
    /``.kind``, lazily-collected ``label``/``comment``/``is_a``/
    ``equivalent_to``, and attribute access to property values —
    ``om.n.Ukrainian.drinks`` returns the ``tea`` handle for a
    functional property, a list for a non-functional one (reference
    Container semantics, core.py:55-69; used pervasively in reference
    tests, e.g. tests/test_core.py:210, 263)."""

    __slots__ = ("name", "iri", "kind", "_om")

    def __init__(self, name: str, iri: str, kind: str, om: "OntologyManager"):
        self.name = name
        self.iri = iri
        self.kind = kind
        self._om = om

    def _objs(self, pred: str):
        return [
            (r["obj"], r["obj_is_literal"], r["obj_datatype"])
            for r in self._om.triples.filter(
                (F.col("subj") == self.iri) & (F.col("pred") == pred)
            ).collect()
        ]

    def _to_value(self, obj: str, is_lit: bool, dtype):
        from . import vocab as V

        if is_lit:
            if dtype == V.XSD_INTEGER:
                return int(obj)
            if dtype == V.XSD_DOUBLE:
                return float(obj)
            if dtype == V.XSD_BOOLEAN:
                return obj in ("true", "True")
            return obj
        local = obj.replace(self._om.iri, "")
        if local in self._om.n:
            return getattr(self._om.n, local)
        return EntityHandle(local, obj, "entity", self._om)

    @property
    def label(self):
        from . import vocab as V

        return AnnotationList(o for o, _, _ in self._objs(V.RDFS_LABEL))

    @property
    def comment(self):
        from . import vocab as V

        return AnnotationList(o for o, _, _ in self._objs(V.RDFS_COMMENT))

    @property
    def is_a(self):
        # owlready semantics: a CLASS's is_a lists its superclasses,
        # an individual's its types (reference tests/test_core.py:313
        # asserts a BFO superclass in Class3.is_a). Blank-node entries
        # decode to structural Restriction/ClassConstruct values so
        # `n.p.some(n.C) in n.X.is_a` holds (tests/test_core.py:361
        # and the zebra restriction asserts :245-261)
        from . import vocab as V

        pred = V.RDFS_SUBCLASSOF if self.kind == "class" else V.RDF_TYPE
        out = []
        for o, _, _ in self._objs(pred):
            if o.startswith("_:"):
                out.append(self._om._resolve_ref(o))
            else:
                out.append(self._to_value(o, False, None))
        return out

    @property
    def equivalent_to(self):
        """owl:equivalentClass values — named classes as handles,
        anonymous Or/And/Not/OneOf expressions decoded to structural
        :class:`ClassConstruct` values (reference tests/test_core.py:
        329-341)."""
        from . import vocab as V

        return [
            self._om._resolve_ref(o)
            for o, _, _ in self._objs(V.OWL_EQUIVALENT_CLASS)
        ]

    def __getattr__(self, name: str):
        # property-value access: om.n.Ukrainian.drinks → tea handle.
        # __getattr__ fires only for non-slot attributes; reject dunder
        # probes so copy/pickle don't trigger Spark jobs
        if name.startswith("_"):
            raise AttributeError(name)
        om = self._om
        if name not in om.roles:
            raise AttributeError(
                f"{self.name} has no attribute {name!r} (not a declared property)"
            )
        vals = [self._to_value(*t) for t in self._objs(om.iri + name)]
        # the functional flag is known driver-side at parse time — one
        # Spark job per access (the value collect), not two (ADVICE r02)
        if name in om.functional_roles:
            return vals[0] if vals else None
        return vals

    # -- owlready-style construct builders on property handles ---------

    def some(self, filler) -> Restriction:
        return Restriction("some", self, filler)

    def value(self, v) -> Restriction:
        return Restriction("value", self, v)

    def only(self, filler) -> Restriction:
        return Restriction("only", self, filler)

    def instances(self) -> list:
        """Individuals typed with this class (owlready
        ``Class.instances()``; grows after ``sync_reasoner`` merges
        inferred memberships — reference tests/test_core.py:338-346)."""
        from . import vocab as V

        rows = self._om.triples.filter(
            (F.col("pred") == V.RDF_TYPE) & (F.col("obj") == self.iri)
        ).select("subj").distinct().collect()
        return [self._om._resolve_ref(r["subj"]) for r in rows]

    def subclasses(self) -> list:
        """Direct subclasses (owlready ``Class.subclasses()``)."""
        from . import vocab as V

        rows = self._om.triples.filter(
            (F.col("pred") == V.RDFS_SUBCLASSOF) & (F.col("obj") == self.iri)
        ).select("subj").distinct().collect()
        return [
            self._om._resolve_ref(r["subj"])
            for r in rows
            if not r["subj"].startswith("_:")
        ]

    def __repr__(self):
        return f"<{self.kind} {self.name}>"

    def __hash__(self):
        return hash(self.iri)

    def __eq__(self, other):
        return isinstance(other, EntityHandle) and self.iri == other.iri


class NameContainer:
    """``om.n.<name>`` attribute access over every named entity in the
    document (classes, properties, individuals)."""

    def __init__(self, entities: dict):
        self._entities = entities

    def __getattr__(self, name: str) -> EntityHandle:
        try:
            return self._entities[name]
        except KeyError:
            raise AttributeError(f"no entity named {name!r} in this ontology") from None

    def __dir__(self):
        return list(self._entities)

    def __contains__(self, name: str) -> bool:
        return name in self._entities

    def __repr__(self):
        return f"<NameContainer (len={len(self._entities)})>"


class _World:
    """Dict-style IRI → entity lookup (reference ``om.world[...]``)."""

    def __init__(self, om: "OntologyManager"):
        self._om = om

    def __getitem__(self, iri: str) -> EntityHandle:
        return self._om._resolve_ref(iri)


class _OntoHandle:
    """The reference's ``om.onto`` surface subset its tests read."""

    def __init__(self, om: "OntologyManager"):
        self._om = om

    @property
    def base_iri(self) -> str:
        return self._om.iri

    @property
    def metadata(self) -> EntityHandle:
        # ontology-level annotations live on the ontology IRI subject;
        # EntityHandle.comment / .label read them
        return EntityHandle("", self._om.iri, "ontology", self._om)

    @property
    def imported_ontologies(self) -> list:
        from . import vocab as V

        rows = (
            self._om.triples.filter(
                (F.col("subj") == self._om.iri) & (F.col("pred") == V.OWL_IMPORTS)
            )
            .select("obj")
            .collect()
        )
        return [_ImportedOnto(r["obj"], self._om) for r in rows]


class _ImportedOnto:
    """An imported ontology: ``.base_iri`` plus annotation access."""

    def __init__(self, iri: str, om: "OntologyManager"):
        self.base_iri = iri
        self._om = om

    @property
    def comment(self):
        return EntityHandle("", self.base_iri, "ontology", self._om).comment

    def __repr__(self):
        return f"<imported {self.base_iri}>"


class OntologyManager:
    def __init__(
        self,
        fpath_or_content: str,
        spark: SparkSession,
        import_map: Optional[dict] = None,
        repo: str = "local",
        path: str = "ontology.owl.yml",
    ):
        if os.path.exists(fpath_or_content):
            path = fpath_or_content
            with open(fpath_or_content) as fh:
                content = fh.read()
        elif "\n" not in fpath_or_content:
            # single-line arg that isn't a file → almost certainly a path
            # typo, not an inline document
            raise FileNotFoundError(f"no such ontology file: {fpath_or_content}")
        else:
            content = fpath_or_content
        self.spark = spark
        if import_map is None:
            import_map = build_default_import_map()

        # parse once on the driver for the symbol tables (tiny), and hold
        # the triples as a DataFrame for querying (scales out)
        parser = DocumentParser(content, import_map=import_map)
        try:
            result = parser.parse()
        except Exception as err:
            raise ValueError(f"document failed to parse: {err}") from err
        self.iri = result.iri
        self.concepts = [c.name for c in parser.concepts]
        self.roles = {name: r.kind for name, r in parser.roles.items()}
        # functional-property flags, known at parse time: consulted by
        # EntityHandle.__getattr__ without launching a Spark job
        self.functional_roles = {
            name for name, r in parser.roles.items() if r.is_functional
        }
        self.individuals = [i.name for i in parser.individuals]
        self.rules = [r.name for r in result.rules]
        self.n = NameContainer(
            {
                e.name: EntityHandle(e.name, e.iri, e.kind, self)
                for group in (parser.concepts, parser.roles.values(), parser.individuals)
                for e in group
            }
        )

        import hashlib

        self._lineage = (repo, path, "0" * 40, hashlib.sha256(content.encode()).hexdigest())
        from .schema import arrow_local_df

        src = arrow_local_df(
            spark, [(repo, path, "0" * 40, "yaml", content)], SOURCE_SCHEMA
        )
        from .plans.pipeline import KGPipeline

        pipe = KGPipeline(spark, import_map=import_map, parse_partitions=1)
        parsed = pipe.parsed(src).persist()
        self.triples: DataFrame = pipe.triples(parsed)
        errors = pipe.errors(parsed).collect()
        if errors:
            raise ValueError(f"document failed to parse: {errors[0]['message']}")
        self._reasoned = False

    def make_query(self, sparql_src: str) -> Set[str]:
        """Single-variable SELECT → set of local names (the reference
        returns a set of entities, core.py:1321-1340)."""
        df = _make_query(self.triples, sparql_src)
        if len(df.columns) == 1:
            # prefix-strip ONCE (same rule as _resolve_ref): replace()
            # would mangle an IRI that embeds the base IRI mid-string
            return {
                (r[0][len(self.iri):] if r[0].startswith(self.iri) else r[0])
                if isinstance(r[0], str) else r[0]
                for r in df.collect()
            }
        return {tuple(r) for r in df.collect()}

    # ------------------------------------------------------------------
    # owlready-shaped read surface: om.onto / om.world / expression decode
    # ------------------------------------------------------------------

    def _blank_map(self) -> dict:
        """(subj, pred) → [obj] for every blank-node-subject triple of
        this (single) document — collected once, cached; anonymous class
        expressions and RDF lists are decoded driver-side from it.
        Mutations/reasoning never rewrite existing blank nodes, so the
        cache stays valid across them."""
        if getattr(self, "_blank_cache", None) is None:
            m: dict = {}
            for r in self.triples.filter(F.col("subj").startswith("_:")).collect():
                m.setdefault((r["subj"], r["pred"]), []).append(r["obj"])
            self._blank_cache = m
        return self._blank_cache

    def _rdf_list(self, head: str) -> list:
        from . import vocab as V

        m = self._blank_map()
        out, seen = [], set()
        while head and head != V.RDF_NIL and head not in seen:
            seen.add(head)
            first = m.get((head, V.RDF_FIRST))
            if first:
                out.append(first[0])
            rest = m.get((head, V.RDF_REST))
            head = rest[0] if rest else None
        return out

    def _resolve_ref(self, ref: str):
        """IRI or blank-node ref → EntityHandle or ClassConstruct."""
        from . import vocab as V

        if not ref.startswith("_:"):
            # prefix-strip ONCE: replace() would mangle a non-local IRI
            # that embeds the base IRI mid-string
            local = ref[len(self.iri):] if ref.startswith(self.iri) else ref
            if local in self.n:
                return getattr(self.n, local)
            return EntityHandle(local, ref, "entity", self)
        m = self._blank_map()
        for key, kind in (
            (V.OWL_UNION_OF, "Or"),
            (V.OWL_INTERSECTION_OF, "And"),
            (V.OWL_ONE_OF, "OneOf"),
        ):
            head = m.get((ref, key))
            if head:
                return ClassConstruct(
                    kind, [self._resolve_ref(x) for x in self._rdf_list(head[0])]
                )
        comp = m.get((ref, V.OWL_COMPLEMENT_OF))
        if comp:
            return ClassConstruct("Not", [self._resolve_ref(comp[0])])
        on_p = m.get((ref, V.OWL_ON_PROPERTY))
        if on_p:
            prop = self._resolve_ref(on_p[0])
            sv = m.get((ref, V.OWL_SOME_VALUES_FROM))
            if sv:
                return Restriction("some", prop, self._resolve_ref(sv[0]))
            av = m.get((ref, V.OWL + "allValuesFrom"))
            if av:
                return Restriction("only", prop, self._resolve_ref(av[0]))
            hv = m.get((ref, V.OWL_HAS_VALUE))
            if hv:
                return Restriction("value", prop, self._resolve_ref(hv[0]))
        inv = m.get((ref, V.OWL_INVERSE_OF))
        if inv:
            # anonymous Inverse(p) property node inside a restriction
            return ClassConstruct("Inverse", [self._resolve_ref(inv[0])])
        return EntityHandle(ref, ref, "restriction", self)

    @property
    def world(self) -> "_World":
        """Dict-style entity lookup by FULL IRI (reference
        ``om.world["http://..."]``, tests/test_core.py:312)."""
        return _World(self)

    @property
    def onto(self) -> "_OntoHandle":
        """The loaded-ontology handle: ``.base_iri``,
        ``.metadata.comment`` (ontology-level annotations) and
        ``.imported_ontologies`` (reference tests/test_core.py:278-297)."""
        return _OntoHandle(self)

    # ------------------------------------------------------------------
    # write side: imperative mutation after load (owlready2 lets users
    # add facts/entities to the loaded ontology, re-reason and save —
    # reference core.py's owlready objects are live; this is the Spark
    # analogue over the triples DataFrame)
    # ------------------------------------------------------------------

    def _handle_of(self, entity) -> EntityHandle:
        if isinstance(entity, EntityHandle):
            return entity
        if isinstance(entity, str) and entity in self.n:
            return getattr(self.n, entity)
        raise ValueError(f"unknown entity: {entity!r}")

    def _append_rows(self, rows) -> None:
        """rows: (subj, pred, obj, obj_is_literal, obj_datatype)."""
        full = [
            (s, p, o, il, dt, self.iri) + self._lineage for s, p, o, il, dt in rows
        ]
        from .schema import arrow_local_df

        new = arrow_local_df(self.spark, full, self.triples.schema)
        old = self.triples
        self.triples = old.unionByName(new).persist()
        self.triples.count()  # materialize before releasing the old blocks
        old.unpersist()  # repeated mutations must not pin dead cache blocks
        self._reasoned = False  # new facts may enable new inferences

    def add_fact(self, subject, prop: str, value) -> None:
        """Assert ``prop(subject) = value`` on the loaded ontology.
        ``subject`` is a name or EntityHandle; ``value`` is a name,
        an EntityHandle, or a Python literal (typed like the parser
        types YAML literals). Clears the reasoned flag so a subsequent
        ``sync_reasoner()`` chains over the new fact."""
        from . import vocab as V

        if prop not in self.roles:
            raise ValueError(f"not a declared property: {prop!r}")
        subj = self._handle_of(subject)
        if isinstance(value, EntityHandle):
            row = (subj.iri, self.iri + prop, value.iri, False, None)
        elif isinstance(value, str) and value in self.n:
            row = (subj.iri, self.iri + prop, getattr(self.n, value).iri, False, None)
        else:
            row = (
                subj.iri,
                self.iri + prop,
                V.literal_lexical(value),
                True,
                V.literal_datatype(value),
            )
        self._append_rows([row])

    def new_individual(self, name: str, types=()) -> EntityHandle:
        """Create a named individual after load (owlready2's
        ``Class(name)`` instantiation surface)."""
        from . import vocab as V

        if name in self.n:
            raise ValueError(f"entity {name!r} already exists")
        iri = self.iri + name
        rows = [(iri, V.RDF_TYPE, V.OWL_NAMED_INDIVIDUAL, False, None)]
        for t in types:
            rows.append((iri, V.RDF_TYPE, self._handle_of(t).iri, False, None))
        self._append_rows(rows)
        handle = EntityHandle(name, iri, "individual", self)
        self.n._entities[name] = handle
        self.individuals.append(name)
        return handle

    def new_class(self, name: str, parents=()) -> EntityHandle:
        """Declare a new class after load (owlready2's ``types.new_class``
        surface, reference core.py's dynamic class creation)."""
        from . import vocab as V

        if name in self.n:
            raise ValueError(f"entity {name!r} already exists")
        iri = self.iri + name
        rows = [(iri, V.RDF_TYPE, V.OWL_CLASS, False, None)]
        for p in parents:
            rows.append((iri, V.RDFS_SUBCLASSOF, self._handle_of(p).iri, False, None))
        self._append_rows(rows)
        handle = EntityHandle(name, iri, "class", self)
        self.n._entities[name] = handle
        self.concepts.append(name)
        return handle

    def save(self, path: str, format: str = "rdfxml") -> int:
        """Serialize the current triples (including mutations and merged
        inferences) — the reference's ``onto.save(path, format)``
        (script.py:51). Formats: ``rdfxml`` | ``ntriples``. Returns the
        triple count written. Above ``export.DRIVER_EXPORT_MAX_ROWS``
        the N-Triples path writes distributed part files under ``path``
        (a directory) instead of collecting to the driver."""
        sel = self.triples.select(
            "subj", "pred", "obj", "obj_is_literal", "obj_datatype"
        )
        if format == "ntriples":
            from .export import DRIVER_EXPORT_MAX_ROWS, write_ntriples

            dedup = sel.distinct()
            n = dedup.count()
            if n > DRIVER_EXPORT_MAX_ROWS:
                write_ntriples(dedup, path)
                return n
        rows = [tuple(r) for r in sel.collect()]
        if format == "rdfxml":
            from .rdfxml import write_rdfxml

            return write_rdfxml(rows, path, base_iri=self.iri)
        if format == "ntriples":
            from .cli import ntriples_line

            with open(path, "w") as fh:
                for r in sorted(set(rows)):
                    fh.write(ntriples_line(*r) + "\n")
            return len(set(rows))
        raise ValueError(f"unsupported format: {format!r} (rdfxml|ntriples)")

    def sync_reasoner(self, **_kwargs) -> int:
        """Forward-chain SWRL rules + transitive/inverse axioms, plus
        DL model search for the OneOf/Functional/AllDifferent fragment
        (the zebra puzzle) and OWL-RL rules — the same one-pass
        composition as ``KGPipeline.reasoned``, but raising on an
        unsupported SWRL rule — and merge the inferred facts into
        ``self.triples`` (the reference shells out to Pellet here,
        core.py:1342-1343). Returns #inferred."""
        if self._reasoned:
            return 0
        import warnings

        from .operators.dlreason import YPO_DL_UNSUPPORTED
        from .operators.isomorph import reason_all

        inferred = reason_all(self.triples, swrl_on_unsupported="raise")
        # diagnostic rows must not masquerade as ontology facts in
        # self.triples / save(): surface them as warnings instead
        from .vocab import YPO

        YPO_DISJOINT_VIOLATION = YPO + "disjointViolation"
        YPO_PROPERTY_VIOLATION = YPO + "propertyViolation"
        YPO_IDENTITY_VIOLATION = YPO + "identityViolation"
        YPO_FACET_VIOLATION = YPO + "facetViolation"
        YPO_DATATYPE_VIOLATION = YPO + "datatypeViolation"
        DIAG_PREDS = (
            YPO_DL_UNSUPPORTED,
            YPO_DISJOINT_VIOLATION,
            YPO_PROPERTY_VIOLATION,
            YPO_IDENTITY_VIOLATION,
            YPO_FACET_VIOLATION,
            YPO_DATATYPE_VIOLATION,
        )
        diag_counts = {
            r["pred"]: r["n"]
            for r in inferred.filter(F.col("pred").isin(*DIAG_PREDS))
            .groupBy("pred")
            .agg(F.count("*").alias("n"))
            .collect()
        }
        n_diag = diag_counts.get(YPO_DL_UNSUPPORTED, 0)
        if n_diag:
            warnings.warn(
                f"sync_reasoner: {n_diag} DL construct(s) outside the "
                "implemented fragments were NOT reasoned over "
                "(ypo:dlUnsupportedConstruct); inferences may be incomplete",
                stacklevel=2,
            )
        n_dw = diag_counts.get(YPO_DISJOINT_VIOLATION, 0)
        n_pv = diag_counts.get(YPO_PROPERTY_VIOLATION, 0)
        n_iv = diag_counts.get(YPO_IDENTITY_VIOLATION, 0)
        n_fv = diag_counts.get(YPO_FACET_VIOLATION, 0)
        n_dtv = diag_counts.get(YPO_DATATYPE_VIOLATION, 0)
        if n_dw or n_pv or n_iv or n_fv or n_dtv:
            # cax-dw / prp-irp / prp-asyp / prp-pdw: Pellet raises
            # OwlReadyInconsistentOntologyError here; this engine is a
            # materializer, so the inconsistency is LOUD but non-fatal
            # (ypo:disjointViolation / ypo:propertyViolation rows)
            parts = []
            if n_dw:
                parts.append(
                    f"{n_dw} disjointness violation(s) (ypo:disjointViolation)"
                )
            if n_pv:
                parts.append(
                    f"{n_pv} property-characteristic violation(s) "
                    "(ypo:propertyViolation)"
                )
            if n_iv:
                parts.append(
                    f"{n_iv} sameAs-vs-differentFrom violation(s) "
                    "(ypo:identityViolation)"
                )
            if n_fv:
                parts.append(
                    f"{n_fv} datatype facet-range violation(s) "
                    "(ypo:facetViolation)"
                )
            if n_dtv:
                parts.append(
                    f"{n_dtv} ill-typed literal(s) (ypo:datatypeViolation)"
                )
            warnings.warn(
                f"sync_reasoner: ontology is INCONSISTENT — {' and '.join(parts)}; "
                "an OWL-DL reasoner would reject this ontology",
                stacklevel=2,
            )
        if diag_counts:
            inferred = inferred.filter(~F.col("pred").isin(*DIAG_PREDS))
        lineage = self.triples.select(
            "src_repo", "src_path", "src_commit", "src_sha256"
        ).limit(1)
        enriched = inferred.crossJoin(F.broadcast(lineage)).select(
            *self.triples.columns
        )
        # count the genuinely NEW delta: a second call after a mutation
        # re-derives previously-merged inferences — they must not count.
        # eqNullSafe: obj_datatype is NULL on entity triples and a plain
        # anti-join would treat every such row as unmatched
        a, b = enriched.alias("a"), self.triples.alias("b")
        cond = None
        for c in self.triples.columns:
            e = F.col(f"a.{c}").eqNullSafe(F.col(f"b.{c}"))
            cond = e if cond is None else cond & e
        n = a.join(b, cond, "left_anti").count()
        old = self.triples
        # distinct: re-reasoning after a mutation must not duplicate
        # facts inferred by an earlier sync_reasoner call
        self.triples = old.unionByName(enriched).distinct().persist()
        self.triples.count()
        old.unpersist()
        self._reasoned = True
        return n
