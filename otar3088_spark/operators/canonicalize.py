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
  converges in O(log diameter) rounds with pointer jumping;
  ``connected_components_star`` below is the adversarial-graph path
  (alternating large-star/small-star, O(log² n) rounds on any shape).
"""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from otar3088_spark.synth import LABEL_PRIORITY

# Generic type-words stripped when building alias keys ("hela cell" ~ "HeLa").
GENERIC_WORDS = ("cell", "cells", "line", "lines", "tissue", "tissues")


def label_priority_expr(label_col) -> Column:
    """Rank of a label in the fixed priority order; unknown labels last.

    Built as a constant-folded ``map_from_arrays`` literal looked up with
    ``try_element_at`` — NOT ``GetMapValue(CreateMap(...))``, which is not
    constant-folded and re-materializes the map per row (the same pitfall
    functions/text.py norm_key_expr documents)."""
    from otar3088_spark.functions.text import sql_str_array

    m = F.expr(
        f"map_from_arrays({sql_str_array(LABEL_PRIORITY)}, "
        f"array({', '.join(str(i) for i in range(len(LABEL_PRIORITY)))}))"
    )
    return F.coalesce(F.try_element_at(m, label_col), F.lit(len(LABEL_PRIORITY)))


def resolve_labels(spans: DataFrame) -> DataFrame:
    """A2 kernel: per term (lowercased), pick mode label w/ priority tie-break,
    overwrite span labels, and keep only the winning (label, ent_id) rows —
    this doubles as homonym disambiguation (P4): mentions of a term that is
    both CellLine and CellType collapse onto the corpus-level winner.
    """
    from pyspark.sql.window import Window

    term_key = F.lower(F.col("term"))
    counts = (
        spans.groupBy(term_key.alias("term_key"), F.col("label"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.partitionBy("term_key").orderBy(
        F.col("cnt").desc(), label_priority_expr(F.col("label")).asc(), F.col("label").asc()
    )
    winners = (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("term_key", F.col("label").alias("resolved_label"))
    )
    out = spans.withColumn("term_key", term_key).join(
        F.broadcast(winners), "term_key", "left"
    )
    # keep only spans whose dictionary row carries the winning label. The
    # min-ent_id tie-break already happened array-side in drop_contained
    # (one representative per (start, end, label)), so this stage is a pure
    # broadcast-join filter — zero shuffle over the span table. BOTH helper
    # columns are dropped: the output contract is exactly the input span
    # columns (triples.py consumes it; the pandas oracle drops both too).
    return out.filter(F.col("label") == F.col("resolved_label")).drop(
        "resolved_label", "term_key"
    )


def alias_key_expr(term_col) -> Column:
    """Normalization key for surface-form clustering: lowercase, drop generic
    type words, strip non-alphanumerics ("HEK 293" ~ "HEK293" ~ "hek293")."""
    toks = F.split(F.lower(F.trim(term_col)), r"\s+")
    kept = F.filter(toks, lambda t: ~t.isin(*GENERIC_WORDS))
    return F.regexp_replace(F.concat_ws("", kept), r"[^a-z0-9]", "")


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
    hash on ``node``; AQE splits skewed hubs. For adversarial giant
    components use ``connected_components_star`` (implemented below).
    Dictionary-scale alias graphs never come here: they are clustered on
    the driver by ``alias_clusters``.
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
    # (same contract as connected_components_star — fail loudly)
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} rounds; "
        "raise max_iter or use connected_components_star"
    )


def connected_components_star(edges: DataFrame, max_iter: int = 50) -> DataFrame:
    """Alternating large-star / small-star connected components (Kiveris et
    al., "Connected Components in MapReduce and Beyond", SoCC'14) — the
    adversarial-graph scale path: converges in O(log² n) rounds on ANY graph
    shape (giant components, long chains, high-degree hubs), where plain
    min-label propagation needs O(diameter).

    Each round is two groupBy+join passes over the edge set, all hash-
    partitioned on node — no driver-side state, no collect:

    * large-star: every node links its strictly-larger neighbors to the
      minimum of its neighborhood (including itself);
    * small-star: in (big → small) orientation, every node links its
      smaller-or-equal neighbors and itself to the neighborhood minimum.

    Converges to star graphs (every node points at its component minimum).
    Returns ``(node, component)`` including singleton self-rows for nodes
    present in ``edges``.
    """
    e = edges.select("src", "dst").filter(F.col("src") != F.col("dst"))

    def large_star(ed: DataFrame) -> DataFrame:
        sym = ed.union(ed.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        mins = sym.groupBy("src").agg(F.min("dst").alias("mn"))
        m = F.least(F.col("mn"), F.col("src"))
        return (
            sym.join(mins, "src")
            .filter(F.col("dst") > F.col("src"))
            .select(F.col("dst").alias("src"), m.alias("dst"))
            .distinct()
        )

    def small_star(ed: DataFrame) -> DataFrame:
        # orient (big -> small); group on the big end
        o = ed.select(
            F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
        )
        mins = o.groupBy("src").agg(F.min("dst").alias("mn"))
        withm = o.join(mins, "src")
        # link each small neighbor != m, and the center itself, to m
        nbrs = withm.filter(F.col("dst") != F.col("mn")).select(
            F.col("dst").alias("src"), F.col("mn").alias("dst")
        )
        center = withm.select(F.col("src"), F.col("mn").alias("dst"))
        return nbrs.union(center).distinct()

    cur = e
    converged = False
    for _ in range(max_iter):
        nxt = small_star(large_star(cur)).localCheckpoint(eager=True)
        # converged when the (big -> small) edge set is unchanged
        o_cur = cur.select(
            F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
        ).distinct()
        changed = (
            nxt.exceptAll(o_cur).limit(1).count() + o_cur.exceptAll(nxt).limit(1).count()
        )
        cur = nxt
        if changed == 0:
            converged = True
            break
    if not converged:
        # a non-star edge set would emit a node in several components —
        # fail loudly instead (O(log² n) rounds suffice for any real graph;
        # hitting this means max_iter was set far too low)
        raise RuntimeError(
            f"connected_components_star did not converge in {max_iter} rounds"
        )
    # nodes come from the RAW edge list so self-loop-only nodes still get a
    # singleton component row (parity with connected_components)
    all_nodes = (
        edges.select("src").union(edges.select(F.col("dst").alias("src"))).distinct()
    )
    comp = cur.select(F.col("src").alias("node"), F.col("dst").alias("component"))
    return (
        all_nodes.withColumnRenamed("src", "node")
        .join(comp, "node", "left")
        .select(
            "node", F.coalesce(F.col("component"), F.col("node")).alias("component")
        )
        .distinct()
    )


def entity_clusters(dictionary) -> DataFrame:
    """``(ent_id, cluster_id)`` for every prepared dictionary entity;
    singletons map to themselves, cluster_id = min ent_id of the alias
    component. ``dictionary`` is a ``PreparedDictionary`` (its clusters are
    returned as built, no Spark job) or a ``prepare_dictionary`` DataFrame
    (built into one first: one Spark collect)."""
    from otar3088_spark.operators.tagging import as_prepared

    return as_prepared(dictionary).clusters
