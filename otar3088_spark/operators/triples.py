"""Triple + graph materialization — stage P6.

Emits the relation families distilled from the reference (FIXTURES.md §4):

* ``(ent_id, 'is_a', label)``           — mention→type (dictionary semantics)
* ``(conv_id:turn_idx, 'mentions', cluster_id)`` — turn→entity
  (sentence-tagging lineage, COVID_ner_clean.ipynb cell 7)
* ``(surface_lower, 'linked_to', ent_id)``    — surface→dictionary link
  (labelstudio_e2e.py:196-240 lemma-dict linking)
* ``(ent_id, 'same_as', cluster_id)``   — canonicalization output
* ``(drug, 'causes', effect)``          — structured adverse-event triples
  (PHEE_datagen.ipynb cell 3, phee_builder.py:55-78)

plus ``nodes(id, kind)`` / ``graph_edges(src, rel, dst)`` graph tables.
All are distinct-projections/groupBys over the span table — pure Catalyst.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from otar3088_spark.functions.text import sql_str

TRIPLE_COLS = ("subj", "pred", "obj", "conv_id", "turn_idx", "span_start", "span_end")

_EVENT_SCHEMA = T.StructType(
    [
        T.StructField("subject", T.StructType([T.StructField("Drug", T.StringType())])),
        T.StructField(
            "Effect",
            T.StructType(
                [T.StructField("text", T.StringType()), T.StructField("start", T.IntegerType())]
            ),
        ),
    ]
)


def mention_triples(spans: DataFrame, clusters: DataFrame) -> DataFrame:
    """is_a / mentions / linked_to / same_as triples from resolved spans.

    ``spans``: output of resolve_labels (conv_id, turn_idx, sent_idx, start,
    end, surface, term, label, ent_id). ``clusters``: (ent_id, cluster_id).

    Emitted as ONE pass: each span row fans out into up to four triple
    structs via a literal array + explode — a union of four projections
    would recompute the (expensive) span DAG four times, this computes it
    once and lets the final dedup be the only shuffle.
    """
    s = spans.join(F.broadcast(clusters), "ent_id", "left").withColumn(
        "cluster_id", F.expr("coalesce(cluster_id, ent_id)")
    )
    # the fan-out is ONE SQL expression (one py4j round trip to build)

    def trip(subj, pred, obj):
        return (
            f"struct(CAST({subj} AS STRING) AS subj, '{pred}' AS pred,"
            f" CAST({obj} AS STRING) AS obj)"
        )

    locator = "concat_ws(':', conv_id, CAST(turn_idx AS STRING))"
    fan = (
        "array("
        f"{trip('ent_id', 'is_a', 'label')}, "
        f"{trip(locator, 'mentions', 'cluster_id')}, "
        f"{trip('lower(surface)', 'linked_to', 'ent_id')}, "
        f"CASE WHEN ent_id != cluster_id THEN {trip('ent_id', 'same_as', 'cluster_id')} END)"
    )
    return (
        s.selectExpr(
            "conv_id",
            "CAST(turn_idx AS INT) AS turn_idx",
            "CAST(start AS INT) AS span_start",
            "CAST(end AS INT) AS span_end",
            f"explode(filter({fan}, t -> t IS NOT NULL)) AS t",
        )
        .selectExpr(
            "t.subj AS subj",
            "t.pred AS pred",
            "t.obj AS obj",
            "conv_id",
            "turn_idx",
            "span_start",
            "span_end",
        )
        .dropDuplicates(list(TRIPLE_COLS))
    )


def causes_triples(events: DataFrame) -> DataFrame:
    """(drug, 'causes', effect) from PHEE-shaped structured events.

    Only ``Adverse_event`` rows yield triples; rows with no parsed Effect
    pass through silently (PHEE_datagen.ipynb cell 3 malformed-case rule).
    ``from_json`` replaces the reference's per-row ``json.loads``.
    """
    # one row per (triple, turn): min span_start makes the survivor
    # DETERMINISTIC — dropDuplicates on a key subset keeps whichever row a
    # task sees first, so the surviving span_start would vary with
    # partitioning/run order (mention_triples dedups on all TRIPLE_COLS for
    # the same reason)
    return (
        events.where("event_type = 'Adverse_event'")
        .withColumn("ev", F.expr(f"from_json(event_data, {sql_str(_EVENT_SCHEMA.simpleString())})"))
        .where("ev.subject.Drug IS NOT NULL AND ev.Effect.text IS NOT NULL")
        .selectExpr(
            "ev.subject.Drug AS subj",
            "'causes' AS pred",
            "ev.Effect.text AS obj",
            "conv_id",
            "CAST(turn_idx AS INT) AS turn_idx",
            "CAST(ev.Effect.start AS INT) AS span_start",
        )
        .groupBy("subj", "pred", "obj", "conv_id", "turn_idx")
        .agg(F.expr("min(span_start)").alias("span_start"))
        .selectExpr("*", "CAST(NULL AS INT) AS span_end")
    )


def graph_tables(triples: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Project (nodes, edges) graph tables from the triple table.

    Node kinds are derived STRUCTURALLY from the predicate that produced
    each id — not from id-shape regexes, which silently misclassified any
    corpus whose conv_ids don't match a hardcoded prefix (a 'fuzz_0000:3'
    turn locator is a turn because it is the subject of a ``mentions``
    triple, whatever it looks like). An id appearing in several roles takes
    the highest-priority kind (entity > turn > label > literal) so e.g. a
    cluster id that is both ``mentions``-object and ``same_as``-object is
    one 'entity' node."""
    subj_kind = (
        "CASE WHEN pred = 'mentions' THEN 'turn'"
        " WHEN pred IN ('is_a', 'same_as') THEN 'entity'"
        " ELSE 'literal' END"  # linked_to surface forms, causes drugs
    )
    obj_kind = (
        "CASE WHEN pred = 'is_a' THEN 'label'"
        " WHEN pred IN ('mentions', 'same_as', 'linked_to') THEN 'entity'"
        " ELSE 'literal' END"  # causes effects
    )
    pairs = triples.selectExpr("subj AS id", f"{subj_kind} AS kind").union(
        triples.selectExpr("obj AS id", f"{obj_kind} AS kind")
    )
    rank = "map_from_arrays(array('entity','turn','label','literal'), array(0,1,2,3))"
    nodes = (
        pairs.groupBy("id")
        .agg(F.expr(f"min(struct(try_element_at({rank}, kind) AS r, kind AS k))").alias("m"))
        .selectExpr("id", "m.k AS kind")
    )
    edges = triples.selectExpr("subj AS src", "pred AS rel", "obj AS dst").distinct()
    return nodes, edges
