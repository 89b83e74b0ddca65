"""Cross-document entity linking & canonicalization.

The reference resolves names only *within* one document via its
in-memory symbol table (core.py:507-509). Across documents we link
mentions of the same logical entity (same kind + local name, e.g. the
same class declared in many forked ontologies) to one canonical node
id, then merge transitive aliases with connected components.

Scale design:

* the mention key is ``(kind, name_norm)``; groups can be enormous
  (every fork of a popular ontology) → we DON'T build mention-pair
  cliques. Each mention links to its group minimum ("star" edges):
  linear in mentions, and gives the CC pass diameter-2 inputs;
* group minimum is computed with a two-stage salted aggregate
  (partial min per (key, salt) bucket, then final min) so one hot key
  cannot skew a reducer — same trick as map-side combine, made
  explicit;
* the mapping join back onto nodes uses a plain equi-join on the key —
  AQE handles residual skew (skewJoin enabled in session config);
* under ``schema.BROADCAST_ROWS`` mapping rows the joins onto the
  mapping are broadcast-hinted instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .. import schema


def normalized_label(col):
    """IRI-normalization for linking: local name, lowercased, with
    separators collapsed ('MyClass' / 'my_class' / 'my-class' match)."""
    return F.lower(F.regexp_replace(col, "[_\\-]", ""))


def mention_keys(nodes: DataFrame) -> DataFrame:
    return nodes.withColumn("link_key", F.concat_ws("|", "kind", normalized_label(F.col("name"))))


def canonical_mapping(nodes: DataFrame, salt_buckets: int = 16) -> DataFrame:
    """(iri, link_key, canonical_iri): canonical = min iri in the
    (kind, normalized name) group, via salted two-stage aggregation."""
    m = mention_keys(nodes).select("iri", "link_key")
    partial = (
        m.withColumn("salt", F.pmod(F.hash("iri"), F.lit(salt_buckets)))
        .groupBy("link_key", "salt")
        .agg(F.min("iri").alias("min_iri"))
    )
    final = partial.groupBy("link_key").agg(F.min("min_iri").alias("canonical_iri"))
    return m.join(final, "link_key").select("iri", "link_key", "canonical_iri")


def link_key_stats(nodes: DataFrame, salt_buckets: int = 16) -> DataFrame:
    """(link_key, n_mentions, canonical_iri) — the per-group linking
    summary, computed in the SAME two-stage salted aggregation that
    finds the canonical (min + count ride one partial aggregate).
    Equivalent to ``canonical_mapping(...).groupBy(link_key,
    canonical_iri).count()`` — the canonical is unique per key — but
    with no join of the full mention table and one fewer shuffle of it
    (r7, guide §2.3 aggregate-before-shuffle)."""
    m = mention_keys(nodes).select("iri", "link_key")
    partial = (
        m.withColumn("salt", F.pmod(F.hash("iri"), F.lit(salt_buckets)))
        .groupBy("link_key", "salt")
        .agg(F.min("iri").alias("min_iri"), F.count("*").alias("n"))
    )
    return partial.groupBy("link_key").agg(
        F.sum("n").alias("n_mentions"), F.min("min_iri").alias("canonical_iri")
    )


def canonical_nodes(nodes: DataFrame, salt_buckets: int = 16) -> DataFrame:
    """nodes + ``canonical_id`` after alias merging (linking + CC).

    CC matters only when alias groups OVERLAP — one iri carrying
    several link keys (e.g. declared a class in one document and an
    individual in another, or multiple normalizations). When every iri
    maps to exactly one group, the alias graph is a disjoint union of
    stars and CC is the identity on it: comp(node) = its group minimum.
    That case is detected with one aggregation (does any iri have >1
    canonical candidate?) and the iterative CC pass — the dominant cost
    at corpus scale — is skipped; the mapping IS the component table.
    """
    from .cc import connected_components

    mapping = canonical_mapping(nodes, salt_buckets).localCheckpoint()
    # ONE aggregate on the checkpointed mapping answers both dispatch
    # questions (r7): the row count drives the measured-size broadcast
    # for the rewrite join below (comp has at most one row per mapping
    # row — under the bound it is a BroadcastHashJoin, past it the
    # shuffle plan stands), and "some iri has >1 distinct canonical"
    # is exactly distinct(iri, canonical) > distinct(iri) — the
    # groupBy + isEmpty probe this replaces.
    stats = mapping.agg(
        F.count("*").alias("n"),
        F.countDistinct("iri").alias("ni"),
        F.countDistinct("iri", "canonical_iri").alias("nic"),
    ).head()
    small = stats["n"] <= schema.BROADCAST_ROWS
    overlapping = stats["nic"] > stats["ni"]
    if overlapping:
        edges = mapping.filter(F.col("iri") != F.col("canonical_iri")).select(
            F.col("iri").alias("src"), F.col("canonical_iri").alias("dst")
        )
        comp = connected_components(edges, "src", "dst")
    else:
        comp = mapping.select(
            F.col("iri").alias("node"), F.col("canonical_iri").alias("component")
        ).distinct()
    comp = comp.withColumnRenamed("node", "iri")
    return (
        nodes.join(F.broadcast(comp) if small else comp, "iri", "left")
        .withColumn("canonical_id", F.coalesce("component", "iri"))
        .drop("component")
    )


def canonical_edges(edges: DataFrame, canonical: DataFrame) -> DataFrame:
    """Rewrite an edge table onto canonical ids — src, dst AND the
    predicate (properties are nodes too; without this, fork copies of
    the same logical edge keep distinct per-document predicate IRIs and
    never collapse)."""
    # snapshot once: the mapping feeds THREE joins below and would
    # otherwise re-run its distinct (a full shuffle) per join. Its
    # measured size picks the join strategy for all three rewrites:
    # under the bound each left join is a BroadcastHashJoin reusing one
    # broadcast, and the edge table is never shuffled; past it the
    # sort-merge plans stand.
    mapping, n, _ = schema.measured(canonical.select("iri", "canonical_id").distinct())
    small = n <= schema.BROADCAST_ROWS

    def _b(df: DataFrame) -> DataFrame:
        return F.broadcast(df) if small else df

    return (
        edges.join(_b(mapping.withColumnRenamed("iri", "src_id")), "src_id", "left")
        .withColumnRenamed("canonical_id", "src_canon")
        .join(_b(mapping.withColumnRenamed("iri", "dst_id")), "dst_id", "left")
        .withColumnRenamed("canonical_id", "dst_canon")
        .join(_b(mapping.withColumnRenamed("iri", "pred")), "pred", "left")
        .withColumnRenamed("canonical_id", "pred_canon")
        .select(
            F.coalesce("src_canon", F.col("src_id")).alias("src_id"),
            F.coalesce("pred_canon", F.col("pred")).alias("pred"),
            F.coalesce("dst_canon", F.col("dst_id")).alias("dst_id"),
        )
    )
