"""Canonicalization — stage P5: label resolution + surface-form clustering.

Three kernels:

* ``resolve_labels`` — the reference's mode-label-with-priority resolution
  (cellfinder_clean.ipynb cell 16 ``get_mode_label``): per surface term, the
  most frequent label wins, ties broken by a fixed priority order
  (CellLine > Anatomy > CellType ...), and every mention of that term is
  overwritten with the winning label. Expressed as groupBy-count +
  ``row_number`` over a (count desc, priority asc) window + broadcast join
  back — the canonical Spark shape for argmax-per-group.

* ``alias_clusters`` — dictionary alias clustering (the reference's
  canonicalization-by-grouping, cellfinder_clean.ipynb cell 16): union-find
  on the driver over the alias keys that ``PreparedDictionary.build``
  collects in its one pass over the broadcast-scale dictionary. No Spark
  job and no checkpointed lineage; ``entity_clusters`` hands the result on
  as a DataFrame.

* ``connected_components`` — min-label propagation over a data-scale edge
  DataFrame, the graph step the north rule requires. Iterative DataFrame
  self-joins with per-iteration ``localCheckpoint`` to cut lineage;
  converges in O(log diameter) rounds with pointer jumping, and fails
  loudly if ``max_iter`` rounds do not converge. It is the one data-scale
  algorithm: alternating large-star/small-star (Kiveris et al., SoCC'14)
  was slower at local[4] on every shape measured (battery chains, a
  2,000-node chain, a 20k-node random graph, a 20k-leaf hub).
"""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Label priority for canonicalization tie-breaks (cellfinder_clean.ipynb cell 16:
# CellLine > Anatomy > CellType; extended for our label set).
LABEL_PRIORITY = ["CellLine", "Anatomy", "CellType", "Tissue", "Drug", "AdverseEvent"]

# Generic type-words stripped when building alias keys ("hela cell" ~ "HeLa").
GENERIC_WORDS = ("cell", "cells", "line", "lines", "tissue", "tissues")


def label_priority_sql(label: str) -> str:
    """SQL text: rank of the label ``label`` in the fixed priority order;
    unknown labels last.

    Built as a constant-folded ``map_from_arrays`` literal looked up with
    ``try_element_at`` — NOT ``GetMapValue(CreateMap(...))``, which is not
    constant-folded and re-materializes the map per row (the same pitfall
    functions/text.py norm_key_sql documents)."""
    from otar3088_spark.functions.text import sql_str_array

    ranks = ", ".join(str(i) for i in range(len(LABEL_PRIORITY)))
    return (
        f"coalesce(try_element_at(map_from_arrays({sql_str_array(LABEL_PRIORITY)}, "
        f"array({ranks})), {label}), {len(LABEL_PRIORITY)})"
    )


def resolve_labels(spans: DataFrame) -> DataFrame:
    """A2 kernel: per term (lowercased), pick mode label w/ priority tie-break,
    overwrite span labels, and keep only the winning (label, ent_id) rows —
    this doubles as homonym disambiguation (P4): mentions of a term that is
    both CellLine and CellType collapse onto the corpus-level winner.
    """
    counts = spans.groupBy(F.expr("lower(term)").alias("term_key"), "label").agg(
        F.expr("count(1)").alias("cnt")
    )
    winners = (
        counts.selectExpr(
            "*",
            "row_number() OVER (PARTITION BY term_key ORDER BY cnt DESC, "
            f"{label_priority_sql('label')} ASC, label ASC) AS rn",
        )
        .where("rn = 1")
        .selectExpr("term_key", "label AS resolved_label")
    )
    out = spans.selectExpr("*", "lower(term) AS term_key").join(
        F.broadcast(winners), "term_key", "left"
    )
    # keep only spans whose dictionary row carries the winning label. The
    # min-ent_id tie-break already happened array-side in drop_contained
    # (one representative per (start, end, label)), so this stage is a pure
    # broadcast-join filter — zero shuffle over the span table. BOTH helper
    # columns are dropped: the output contract is exactly the input span
    # columns (triples.py consumes it; the pandas oracle drops both too).
    return out.where("label = resolved_label").drop("resolved_label", "term_key")


def alias_key_sql(term: str) -> str:
    """SQL text: the normalization key for surface-form clustering of the
    SQL operand ``term`` — lowercase, drop generic type words, strip
    non-alphanumerics ("HEK 293" ~ "HEK293" ~ "hek293")."""
    from otar3088_spark.functions.text import sql_str

    generic = ", ".join(map(sql_str, GENERIC_WORDS))
    blanks = sql_str(r"\s+")
    return (
        f"regexp_replace(concat_ws('', filter(split(lower(trim({term})), {blanks}),"
        f" t -> NOT t IN ({generic}))), '[^a-z0-9]', '')"
    )


def alias_clusters(ent_akeys: Iterable[tuple]) -> list[tuple]:
    """Driver-side alias clustering: ``(ent_id, alias_key)`` rows in,
    ``(ent_id, cluster_id)`` for every distinct non-NULL ent_id out, where
    entities sharing a non-empty alias key are connected and cluster_id is
    the min ent_id of the connected component (singletons map to
    themselves). Union-find with path halving, root = component min."""
    parent: dict = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    first_of_key: dict = {}
    for ent, akey in ent_akeys:
        if ent is None:
            continue
        ra = find(ent)
        if akey:
            rb = find(first_of_key.setdefault(akey, ent))
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
    return sorted((e, find(e)) for e in parent)


def connected_components(edges: DataFrame, max_iter: int = 20) -> DataFrame:
    """Min-label propagation + pointer jumping over ``edges(src, dst)`` ->
    ``(node, component)``.

    Each round does (a) component(node) = min over neighbors' components and
    own, then (b) one path-halving step component(node) =
    component(component(node)) — the pointer jump makes labels hop 2^k-style
    along chains, so convergence is O(log diameter) rounds instead of
    O(diameter). ``localCheckpoint`` truncates lineage each round; shuffles
    hash on ``node``; AQE splits skewed hubs. Raises ``RuntimeError`` when
    labels still move after ``max_iter`` rounds. Dictionary-scale alias
    graphs never come here: they are clustered on the driver by
    ``alias_clusters``.
    """
    sym = edges.select("src", "dst").union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()
    sym = sym.localCheckpoint(eager=True)

    comps = (
        sym.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
    )
    for _ in range(max_iter):
        nbr_min = (
            sym.join(comps, sym["dst"] == comps["node"])
            .select(F.col("src").alias("node"), F.col("component"))
            .groupBy("node")
            .agg(F.min("component").alias("nbr_comp"))
        )
        stepped = (
            comps.join(nbr_min, "node", "left")
            .select(
                "node",
                F.least(
                    F.col("component"), F.coalesce(F.col("nbr_comp"), F.col("component"))
                ).alias("component"),
            )
        )
        # pointer jump: component := component(component)
        parent = stepped.select(
            F.col("node").alias("p_node"), F.col("component").alias("p_comp")
        )
        jumped = (
            stepped.join(parent, stepped["component"] == parent["p_node"], "left")
            .select(
                "node",
                F.least(
                    F.col("component"), F.coalesce(F.col("p_comp"), F.col("component"))
                ).alias("component"),
            )
        )
        # change detection against the previous assignment (one join, same
        # action that materializes the checkpoint)
        prev = comps.select(F.col("node").alias("c_node"), F.col("component").alias("c_comp"))
        flagged = jumped.join(prev, jumped["node"] == prev["c_node"]).select(
            "node",
            "component",
            (F.col("component") < F.col("c_comp")).alias("_changed"),
        )
        flagged = flagged.localCheckpoint(eager=True)
        changed = flagged.filter(F.col("_changed")).limit(1).count()
        comps = flagged.drop("_changed")
        if changed == 0:
            return comps
    # exhausting max_iter means labels are still moving: returning them
    # would silently split real components into several labels downstream
    # — fail loudly instead
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} rounds; raise max_iter"
    )


def entity_clusters(dictionary) -> DataFrame:
    """``(ent_id, cluster_id)`` for every prepared dictionary entity;
    singletons map to themselves, cluster_id = min ent_id of the alias
    component. ``dictionary`` is a ``PreparedDictionary`` (its clusters are
    returned as built, no Spark job) or a ``prepare_dictionary`` DataFrame
    (built into one first: one Spark collect)."""
    from otar3088_spark.operators.tagging import as_prepared

    return as_prepared(dictionary).clusters
