"""otar3088_spark — a brand-new PySpark-native knowledge-graph construction engine.

Re-expresses the data semantics of the ML4LitS/OTAR3088 reference pipeline
(literature NER / entity linking / canonicalization / relation emission) as a
structured Spark batch DAG over transcript tables:

    transcripts(conv_id, turn_idx, role, text, tool, ts)
      -> normalize (pure column exprs)
      -> sentencize (JVM-side split + offset arithmetic, no UDF)
      -> mention detection (token-blocked broadcast dictionary join)
      -> entity linking + disambiguation (window pick-best)
      -> canonicalization (mode/priority label resolution + connected components)
      -> (subj, pred, obj) triples + node/edge graph tables

Design rules (see SURVEY.md §7):
  * DataFrame/SQL only; Catalyst optimizes. RDDs never.
  * Zero per-row Python in the hot path. The only Python UDF surface is the
    optional model-inference ``mapInArrow`` (Arrow-batched) and multimodal
    decode stubs.
  * Dictionaries broadcast; big tables partition on ``conv_id`` (salted for
    skew); AQE on.
"""

__version__ = "0.1.0"
