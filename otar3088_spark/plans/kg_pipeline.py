"""End-to-end KG-construction DAG (SURVEY.md §7.1, BASELINE.json north_star).

transcripts(conv_id, turn_idx, role, text, tool, ts)
  -> P0 normalize (dedup/null/header filters + clean_text exprs)
  -> P1 sentencize (lookbehind split + aggregate offset scan, no UDF)
  -> P2 mention detection (token-blocked broadcast dictionary join)
  -> P4/P5 disambiguation + canonicalization (mode/priority + alias clusters)
  -> P6 triples + node/edge graph tables

One linear declarative DAG: Catalyst sees the whole plan, pushes filters into
the scan, prunes columns, broadcasts the dictionary, and AQE right-sizes the
two real shuffles (term-count groupBy; triple dedup). The span table is
materialized once per build (``staging_dir`` or ``persist_spans``) because
it feeds both the label-resolution aggregate and the triple projection
(deliberate reuse point, SURVEY.md §4 caching row); no build reads
another's.

The dictionary side is prepared ONCE per build: ``PreparedDictionary.build``
collects the gazetteer in one Spark action and derives the anchor IN-set, the
anchor mode, the alias clusters and the content digest from those rows on the
driver. That collect (two jobs under AQE: the dedup shuffle and the result) is
all ``build_kg`` runs at plan time without ``staging_dir``; with it, only the
snapshot write follows (the stage fingerprint hashes the collected rows, and
the snapshot is read back with the schema its manifest stores).
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import cached_property
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from otar3088_spark.operators.canonicalize import resolve_labels
from otar3088_spark.operators.sentencize import normalize_turns, sentencize
from otar3088_spark.operators.tagging import (
    PreparedDictionary,
    as_prepared,
    prepare_dictionary,
    tag_mentions,
)
from otar3088_spark.operators.triples import causes_triples, graph_tables, mention_triples

if TYPE_CHECKING:
    from otar3088_spark.operators.inference import ModelSpec


def _span_stage_fingerprint(
    dictionary: DataFrame | PreparedDictionary, use_model: bool, scorer, lemma_overrides=None
) -> str:
    """Hex fingerprint of everything the span stage's output depends on
    besides the transcripts: the model toggle, the scorer's ``ModelSpec``, the
    lemma overrides and the dictionary's ``PreparedDictionary.digest``.

    The prepared grain is enough. The span stage reads the dictionary only
    through the ``PreparedDictionary``: ``tag_mentions`` joins its ``d0``
    and filters on its ``anchors``/``pair_mode``, ``link_model_mentions``
    projects its ``prepared`` plan. Each of those is a function of the
    prepared rows ``(ent_id, label, term, term_tokens)`` (``n`` and
    ``first_tok`` derive from ``term_tokens``), the override map and
    ``build``'s options, which ``build_kg`` leaves at their defaults. So a
    raw row that ``prepare_dictionary`` drops, or a raw column it does not
    keep, cannot change a span, and the digest — hashed from the rows
    ``build`` already collected — costs no Spark job. The rows are sorted
    before hashing, so their order does not matter.

    ``dictionary`` is a ``PreparedDictionary`` or a raw dictionary
    DataFrame; the latter is prepared and built exactly as ``build_kg``
    does (one collect), so both give the stage name ``build_kg`` writes."""
    import hashlib

    if not isinstance(dictionary, PreparedDictionary):
        dictionary = prepare_dictionary(dictionary)
    pdict = as_prepared(dictionary, lemma_overrides)
    # a ModelSpec fingerprints by its canonical key: the same factory and
    # args resume across restarts, other args get another stage name
    scorer_id = "none" if scorer is None else scorer.key
    lemma_fp = hashlib.sha1(repr(sorted(pdict.lemma_overrides.items())).encode()).hexdigest()[:8]
    key = (
        f"model={bool(use_model or scorer is not None)};scorer={scorer_id};"
        f"dict={pdict.digest};lemma={lemma_fp}"
    )
    return hashlib.sha1(key.encode()).hexdigest()[:12]


@dataclass
class KGResult:
    sentences: DataFrame
    spans: DataFrame
    resolved_spans: DataFrame
    clusters: DataFrame
    triples: DataFrame

    # the graph tables are built from ``triples`` on first access only: a
    # caller that never reads them skips about 75 py4j round trips of plan
    # building per build
    @cached_property
    def _graph(self) -> tuple[DataFrame, DataFrame]:
        return graph_tables(self.triples)

    @property
    def nodes(self) -> DataFrame:
        return self._graph[0]

    @property
    def edges(self) -> DataFrame:
        return self._graph[1]


def build_kg(
    transcripts: DataFrame,
    dictionary: DataFrame,
    events: DataFrame | None = None,
    salt_partitions: int | None = None,
    persist_spans: bool = False,
    staging_dir: str | None = None,
    use_model: bool = False,
    model_scorer: ModelSpec | None = None,
    lemma_overrides: dict[str, str] | None = None,
) -> KGResult:
    """Run the full pipeline; returns every intermediate as a DataFrame.

    All outputs are deterministic order-insensitive sets keyed by stable ids —
    parity with the (imap_unordered-nondeterministic, split2sent_par.py:303)
    reference is defined on triple sets, per SURVEY.md §7.3(c).

    ``staging_dir``: when set, the span table is snapshotted to parquet and
    read back before label resolution. resolve_labels consumes spans twice
    (winner counts + join-back) and column pruning gives the two subplans
    different exchanges, so without materialization the whole tagging DAG
    executes twice. A parquet snapshot makes the second pass a pruned
    two-column scan — and doubles as the north-rule per-stage checkpoint
    (on a cluster this is the Iceberg table boundary).

    ``persist_spans`` (without ``staging_dir``): the same single execution
    of the span stage, materialized in memory for this build only. The span
    stage then runs eagerly, inside this call.
    """
    # F8 lemmatization: the public irregular-plural table is the DEFAULT
    # override map (reference lemma-dict linking generalizes beyond the
    # rule-based destem, labelstudio_e2e.py:181-187). Pass {} to disable.
    if lemma_overrides is None:
        from otar3088_spark.functions.text import IRREGULAR_PLURALS

        lemma_overrides = IRREGULAR_PLURALS
    normalized = normalize_turns(transcripts, salt_partitions=salt_partitions)
    sentences = sentencize(normalized)
    # the dictionary side, once: one Spark collect, then tagging, linking and
    # clustering all read this value
    pdict = PreparedDictionary.build(prepare_dictionary(dictionary), lemma_overrides)
    spans = tag_mentions(sentences, pdict)
    if use_model or model_scorer is not None:
        # North-star transformer branch: batched model inference
        # (mapInArrow; model_scorer, a ModelSpec, names the model each
        # Python worker loads once), entity-link candidate generation against the
        # broadcast dictionary, then source-precedence merge with the
        # gazetteer spans (dict wins exact span collisions). One extra
        # shuffle total (the merge groupBy); the model pass itself is a
        # narrow Arrow-batched map over sentences.
        from otar3088_spark.operators.inference import (
            link_model_mentions,
            merge_spans_with_model,
            model_mentions,
        )

        model_sp = model_mentions(sentences, scorer=model_scorer)
        linked = link_model_mentions(model_sp, pdict)
        spans = merge_spans_with_model(spans, linked)
    if staging_dir is not None:
        # Stage boundary through the snapshot store: parquet data + atomic
        # manifest with per-partition lineage rows (north-rule P7). A re-run
        # pointed at the same staging_dir resumes from the committed span
        # snapshot and recomputes only the downstream tail.
        #
        # The stage name carries a CONFIG FINGERPRINT (use_model, scorer
        # spec key, content hash of the prepared dictionary): re-running
        # against the same staging_dir with a different configuration gets a
        # different stage name and recomputes, instead of silently serving a
        # stale span snapshot built under the old config. The dictionary
        # hash comes from the rows ``pdict`` already collected: no job.
        from otar3088_spark.io.checkpoint import SnapshotStore

        store = SnapshotStore(staging_dir)
        _spans_df = spans
        stage = (
            "spans-"
            + _span_stage_fingerprint(pdict, use_model, model_scorer, lemma_overrides)
        )
        # Merged path: the sentence subtree feeds BOTH the gazetteer tagging
        # branch and the model-scoring branch, and Spark only reuses
        # subplans at exchange boundaries — the narrow sentencize work above
        # the normalize exchange would execute once per branch (measured
        # 1.4 s of the 6.6 s 200k-turn kg_full, round 7). Persist it for
        # the span-snapshot write only (cached data is looked up when the
        # write is planned): no span consumer reads sentences after it, so
        # the cache is dropped in ``finally`` — on success, resume or a
        # failed write alike — and each invocation still computes sentences
        # from its inputs exactly once (no cross-run reuse).
        _sent_cache = (
            sentences.persist() if (use_model or model_scorer is not None) else None
        )
        try:
            spans = store.get_or_compute(
                _spans_df.sparkSession, stage, lambda: _spans_df
            )
        finally:
            if _sent_cache is not None:
                _sent_cache.unpersist()
    elif persist_spans:
        # An eager local checkpoint, not persist(): the cache manager serves
        # a persisted plan's data to any later plan with the same result,
        # so a later build over the same inputs (same paths, even freshly
        # read) would scan this build's spans instead of computing its own.
        # The checkpoint is an RDD of this call alone; its blocks go when
        # its plans are dropped.
        spans = spans.localCheckpoint()
    resolved = resolve_labels(spans)
    clusters = pdict.clusters
    triples = mention_triples(resolved, clusters)
    if events is not None:
        triples = triples.unionByName(causes_triples(events))
    return KGResult(
        sentences=sentences,
        spans=spans,
        resolved_spans=resolved,
        clusters=clusters,
        triples=triples,
    )


def validate_alignment(spans: DataFrame, sentences: DataFrame) -> DataFrame:
    """F16 invariant check as a DataFrame: rows violating
    ``substring(sent_text, start+1, end-start) == surface`` (must be empty).
    Mirrors article_normaliser.py:285-324's bounds/text validation. Spans
    deliberately do not carry sentence text (shuffle-payload hygiene), so the
    check re-joins the sentence table on the stable key — which also makes it
    a genuine cross-check of offset construction, not a tautology."""
    j = spans.join(
        sentences.select("conv_id", "turn_idx", "sent_idx", "sent_text"),
        ["conv_id", "turn_idx", "sent_idx"],
        "left",
    )
    # surface IS NULL must count as a violation: the inequality evaluates
    # to NULL for NULL surface and filter() would drop exactly the broken
    # rows this check exists to catch
    return j.filter(
        F.col("sent_text").isNull()
        | F.col("surface").isNull()
        | (F.expr("substring(sent_text, start + 1, end - start)") != F.col("surface"))
    )
