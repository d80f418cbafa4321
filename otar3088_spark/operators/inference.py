"""Model-scored mention detection — the sanctioned ``mapInArrow`` surface (M1).

The reference runs HF token-classification in a torch ``no_grad`` loop at
batch_size=4 (model_tests.ipynb cell 6; trial_to_papers.ipynb cell 12): load
the pipeline once, then score. Here an Arrow-batched ``mapInArrow`` carries
only a ``ModelSpec`` (an importable factory path plus JSON arguments); each
Python worker calls the factory once (``otar3088_spark.arrow.load_model``) and
scores batches of ``spark.sql.execution.arrow.maxRecordsPerBatch`` rows.
The batch functions read and write ``pyarrow.RecordBatch`` directly, so no
pandas is imported into the Python workers. They live in
``otar3088_spark.arrow``, which the seam's closure imports inside the
worker: this module builds the plan node and imports no pyarrow, so
neither does the driver.

The default specs name a DETERMINISTIC STAND-IN (hash-based pseudo-logits
over token spans) behind the exact same batch contract, so the seams run
without torch/transformers; a real HF pipeline plugs in as
``ModelSpec(".../inference:hf_pipeline_scorer", {"model": path})``. The
BIO-decode + ``##``-subword-merge semantics (F19, trial_to_papers.ipynb
cell 11) live in plain Python *inside the batch*, which is the sanctioned
place for them (SURVEY.md §2.9).
"""

from __future__ import annotations

import hashlib
import json
import re
from collections.abc import Iterator, Mapping, Sequence
from dataclasses import dataclass, field
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.udf import UserDefinedFunction
from pyspark.util import PythonEvalType

from otar3088_spark.memo import BoundedMemo

if TYPE_CHECKING:
    import pyarrow as pa

MENTION_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("sent_idx", T.IntegerType()),
        T.StructField("start", T.IntegerType()),
        T.StructField("end", T.IntegerType()),
        T.StructField("surface", T.StringType()),
        T.StructField("label", T.StringType()),
        T.StructField("score", T.DoubleType()),
    ]
)

_LABELS = ("CellLine", "CellType", "Tissue", "Drug", "AdverseEvent")


# per-worker memo: token -> (label, score) or None (md5 is deterministic,
# token vocabularies are Zipf-distributed — the memo removes nearly all
# hashlib calls from the stand-in's hot loop; it changes no emitted value).
# Bounded by bytes (otar3088_spark.memo): a token past the budget is scored
# again on every occurrence.
_TOKEN_MEMO = BoundedMemo()

_FACTORY_PATH = re.compile(r"[A-Za-z_]\w*(\.[A-Za-z_]\w*)*:[A-Za-z_]\w*")


@dataclass(frozen=True)
class ModelSpec:
    """Names a model: an importable ``"pkg.module:callable"`` factory and its
    JSON-able keyword ``args``; nothing is imported on the driver. ``key``,
    their canonical JSON, is a seam task's whole payload, the worker's cache
    key and the span stage's fingerprint input; specs compare by it."""

    factory: str
    args: Mapping = field(default_factory=dict, compare=False)
    key: str = field(init=False, repr=False)

    def __post_init__(self):
        if not isinstance(self.factory, str) or not _FACTORY_PATH.fullmatch(self.factory):
            raise TypeError(f"ModelSpec factory must be 'pkg.module:callable', got {self.factory!r}")
        if not isinstance(self.args, Mapping) or not all(isinstance(k, str) for k in self.args):
            raise TypeError(f"ModelSpec args must be a mapping with str keys, got {self.args!r}")
        try:
            key = json.dumps([self.factory, self.args], sort_keys=True, separators=(",", ":"))
        except (TypeError, ValueError) as e:
            raise TypeError(f"ModelSpec args of {self.factory} are not JSON: {e}") from None
        object.__setattr__(self, "key", key)


# the key columns every model seam passes through, cast to the types the
# output schemas declare (a LongType turn_idx would otherwise reach the JVM
# as int64 under an IntegerType schema); the optimizer drops a cast that is
# already the column's type
_SEAM_INPUT = (
    "CAST(conv_id AS STRING) AS conv_id",
    "CAST(turn_idx AS INT) AS turn_idx",
    "CAST(sent_idx AS INT) AS sent_idx",
    "sent_text",
)


class _ArrowSeamUDF(UserDefinedFunction):
    # PySpark 4.1.2's returnType runs _check_return_type on every read, and
    # for SQL_MAP_ARROW_ITER_UDF that calls to_arrow_type, which imports
    # pyarrow into the driver (pyspark/sql/udf.py, pyspark/sql/pandas/types.py).
    # The seam schemas' Arrow conversion is pinned by a test instead.
    @property
    def returnType(self) -> T.DataType:
        return self._returnType


def _map_sentences(
    sentences: DataFrame, batch: str, spec: ModelSpec, schema: T.StructType
) -> DataFrame:
    """One Arrow-batched pass of ``otar3088_spark.arrow.<batch>(rb, model)``
    over sentence rows, the model named by ``spec``. The batch function and
    the model are looked up inside the worker, so pyarrow is imported only
    there."""
    if not isinstance(spec, ModelSpec):
        raise TypeError(f"a model seam takes ModelSpec('pkg.module:factory', {{json args}}), "
                        f"not {type(spec).__name__}")
    key = spec.key

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        from otar3088_spark import arrow

        batch_fn, model = getattr(arrow, batch), arrow.load_model(batch, key)
        for rb in batches:
            if rb.num_rows:
                yield batch_fn(rb, model)

    # What DataFrame.mapInArrow does in PySpark 4.1.2, minus its pandas_udf
    # wrapper: that runs require_minimum_pandas_version, which imports
    # pandas into the driver (pyspark/sql/pandas/map_ops.py). The plan node
    # is the same MapInArrow.
    seam = sentences.selectExpr(*_SEAM_INPUT)
    udf = _ArrowSeamUDF(run, schema, evalType=PythonEvalType.SQL_MAP_ARROW_ITER_UDF)
    col = udf(*[seam[c] for c in seam.columns])
    return DataFrame(seam._jdf.mapInArrow(col._jc, False, None), seam.sparkSession)


def _stand_in_scorer(sentences: Sequence[str]) -> list[list[tuple[int, int, str, float]]]:
    """Deterministic pseudo-model: 'detects' a span for tokens whose md5 has
    a low nibble, labeling by hash bucket. Stable across runs/partitions."""
    memo = _TOKEN_MEMO
    out: list[list[tuple[int, int, str, float]]] = []
    for sent in sentences:
        spans: list[tuple[int, int, str, float]] = []
        cur = 0
        for tok in sent.split(" "):
            n = len(tok)
            if n >= 4:
                hit = memo.get(tok, -1)
                if hit == -1:
                    h = hashlib.md5(tok.lower().encode()).digest()
                    if h[0] < 16:  # ~6% of tokens
                        label = _LABELS[h[1] % len(_LABELS)]
                        # exact 3-decimal: no banker's-vs-away rounding skew vs SQL
                        hit = (label, round(0.5 + h[2] / 1000.0, 4))
                    else:
                        hit = None
                    # a (label, score) tuple holds 56 + 24 bytes; None is shared
                    memo.put(tok, hit, 80 if hit else 0)
                if hit is not None:
                    spans.append((cur, cur + n, hit[0], hit[1]))
            cur += n + 1
        out.append(spans)
    return out


def load_stand_in_scorer():
    """Factory of the default mention spec: the md5 stand-in itself."""
    return _stand_in_scorer


STAND_IN_SCORER = ModelSpec("otar3088_spark.operators.inference:load_stand_in_scorer")


def model_mentions(sentences: DataFrame, scorer: ModelSpec | None = None) -> DataFrame:
    """Batched model inference over sentence rows -> mention spans.

    ``scorer`` names a factory whose model maps one Arrow batch's sentences
    (a ``list[str]``) to ``[[(start, end, label, score), ...], ...]``; None
    is the md5 stand-in. Each Python worker loads the model once per spec
    (a real HF pipeline: ``hf_pipeline_scorer``), not once per task."""
    return _map_sentences(
        sentences, "score_mention_batch", scorer or STAND_IN_SCORER, MENTION_SCHEMA
    )


CLASSIFY_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("sent_idx", T.IntegerType()),
        T.StructField("cls", T.StringType()),
        T.StructField("score", T.DoubleType()),
    ]
)

_CLASSES = ("background", "method", "result", "adverse_event")


def _stand_in_classifier(sentences: Sequence[str]) -> list[tuple[str, float]]:
    """Deterministic pseudo sequence-classifier: class + score from the md5
    of the normalized sentence. Same md5 family as the NER stand-in so the
    DuckDB oracle can replay it."""
    out = []
    for sent in sentences:
        # explicit strip set = the DuckDB oracle's trim charset (Python's
        # bare .strip() also eats \x0b/\x0c/unicode spaces, which SQL trim
        # does not — that skew would break the oracle on exotic whitespace)
        h = hashlib.md5(sent.strip(" \t\n\r").lower().encode()).digest()
        out.append((_CLASSES[h[0] % len(_CLASSES)], round(0.5 + h[1] / 1000.0, 4)))
    return out


def load_stand_in_classifier():
    """Factory of the default classifier spec: the md5 stand-in itself."""
    return _stand_in_classifier


STAND_IN_CLASSIFIER = ModelSpec("otar3088_spark.operators.inference:load_stand_in_classifier")


def hf_pipeline_scorer(model: str):
    """Factory for ``ModelSpec("otar3088_spark.operators.inference:hf_pipeline_scorer",
    {"model": <local model path>})``: builds a transformers
    ``pipeline("token-classification", aggregation_strategy="simple")``
    inside the worker and adapts it to the ``model_mentions`` contract —
    entity dicts with character offsets / softmax scores become
    ``(start, end, entity_group, score)`` tuples per sentence.

    The production fill for the scorer seam (reference lineage:
    model_tests.ipynb cell 6): the weights are read once per Python worker."""
    from transformers import pipeline

    pipe = pipeline("token-classification", model=model, aggregation_strategy="simple")

    def score(sentences: Sequence[str]) -> list[list[tuple[int, int, str, float]]]:
        texts = list(sentences)
        outs = pipe(texts)
        # a single-sentence call returns the entity list itself, not a
        # list-of-lists — normalize to one list per input sentence
        if len(texts) == 1 and (not outs or isinstance(outs[0], dict)):
            outs = [outs]
        return [
            [
                (int(e["start"]), int(e["end"]), str(e["entity_group"]), float(e["score"]))
                for e in ents
            ]
            for ents in outs
        ]

    return score


def model_classify(sentences: DataFrame, classifier: ModelSpec | None = None) -> DataFrame:
    """M2 sequence classification (reference model_tests.ipynb cell 6 runs a
    sequence head in the same torch loop as token classification): one
    (class, score) per sentence row, Arrow-batched mapInArrow with the same
    spec-named, once-per-worker model loading and the same batch helpers as
    ``model_mentions``. ``classifier`` names a factory whose model maps a
    ``list[str]`` to ``[(class, score), ...]``; None is the md5 stand-in."""
    return _map_sentences(
        sentences, "classify_batch", classifier or STAND_IN_CLASSIFIER, CLASSIFY_SCHEMA
    )


def align_subword_labels_expr(word_ids, word_tags):
    """F13 subword label alignment (reference Ner_Pipeline
    tokenization_utils.py:6-47): expand word-level BIO tags onto a subword
    stream the way HF ``word_ids()`` alignment does —

    * special tokens (NULL word_id)             -> ``-100`` (ignore index)
    * first subword of a word                   -> the word's tag
    * continuation subwords (same word_id)      -> ``B-X`` demoted to ``I-X``

    Inputs are array columns: ``word_ids array<int>`` (NULL = special),
    ``word_tags array<string>`` (word-level). Pure Catalyst — a zip_with
    against a right-shifted copy of word_ids supplies the 'previous word_id'
    the reference reads off the HF fast tokenizer.
    """
    from pyspark.sql import functions as F

    shifted = F.concat(
        F.array(F.lit(None).cast("int")),
        F.slice(word_ids, 1, F.greatest(F.size(word_ids) - 1, F.lit(0))),
    )

    def tag(id_, prev_):
        word_tag = F.element_at(word_tags, id_ + 1)
        return (
            F.when(id_.isNull(), F.lit("-100"))
            .when(prev_.isNull() | (prev_ != id_), word_tag)
            .otherwise(F.regexp_replace(word_tag, "^B-", "I-"))
        )

    return F.when(F.size(word_ids) == 0, F.array().cast("array<string>")).otherwise(
        F.zip_with(word_ids, shifted, tag)
    )


def stand_in_subwords_expr(tokens_col, piece: int = 4):
    """Deterministic stand-in for an HF fast tokenizer (so the F13 path is
    exercised without transformers in the container): every word longer than
    ``piece`` chars splits into ``piece``-char chunks, continuations prefixed
    ``##``; a [CLS]/[SEP] special wraps the sequence with NULL word_ids.

    Returns ``struct(subs array<string>, wids array<int>)`` — the exact
    (tokens, word_ids) contract of ``tokenizer(..., is_split_into_words=True)``
    + ``word_ids()``. Pure Catalyst: nested transform + flatten.
    """
    from pyspark.sql import functions as F

    def n_pieces(tok):
        return F.greatest(F.ceil(F.length(tok) / piece).cast("int"), F.lit(1))

    def chunks(tok):
        return F.transform(
            F.sequence(F.lit(0), n_pieces(tok) - 1),
            lambda j: F.when(j == 0, tok.substr(F.lit(1), F.lit(piece))).otherwise(
                F.concat(F.lit("##"), tok.substr(j * piece + 1, F.lit(piece)))
            ),
        )

    subs_nested = F.transform(tokens_col, chunks)
    wids_nested = F.transform(
        tokens_col,
        lambda tok, i: F.transform(F.sequence(F.lit(0), n_pieces(tok) - 1), lambda _j: i),
    )
    null_id = F.array(F.lit(None).cast("int"))
    return F.struct(
        F.concat(
            F.array(F.lit("[CLS]")), F.flatten(subs_nested), F.array(F.lit("[SEP]"))
        ).alias("subs"),
        F.concat(null_id, F.flatten(wids_nested), null_id).alias("wids"),
    )


def link_model_mentions(
    model_spans: DataFrame,
    dictionary,
    lemma_overrides: dict[str, str] | None = None,
) -> DataFrame:
    """Entity-link candidate generation for model-scored mentions — the
    north-star 'link-score disambiguation' stage (reference lineage:
    trial_to_papers.ipynb cells 11-12 link model spans back to the entity
    dictionary). Disambiguation is by min (rank, ent_id): the model's
    confidence score is a per-SPAN quantity — identical for every
    dictionary candidate of one span — so it cannot order candidates; it
    stays on the model_mentions output for downstream thresholding and is
    not threaded through the link join.

    Two-tier candidate generation, broadcast-joined in ONE pass:

    * rank 0 — the whole-term LEMMA key: every token of BOTH the mention
      surface and the dictionary term normalized with norm_key_sql
      (override map / value fixpoint / destem / identity — the same
      whole-window lemma semantics as the gazetteer tagger, so a model
      mention "mice models" links dictionary "mouse model" exactly like the
      reference's lemma-keyed term map, labelstudio_e2e.py:193-197).
    * rank 1 — the ALIAS key (canonicalize.alias_key_sql: drop generic type
      words, strip non-alphanumerics). This is what makes the model branch
      additive: a transformer-detected surface like "HEK-293" or
      "acetylsalicylic-acid" has no token-level gazetteer match (the
      dictionary term is two tokens) but links through the alias key —
      exactly the reference's lemma-dict linking looseness
      (labelstudio_e2e.py:196-240).

    The span is re-offset to core extents so exact collisions with
    dictionary spans dedup cleanly. Candidates are disambiguated per
    (span, label) by min (rank, ent_id) — lemma-key links beat alias links,
    then the same min-ent pick drop_contained applies on the gazetteer path.

    JOIN SHAPE (the 100-TB-critical part): a naive OR-of-equalities join
    condition cannot be hash-partitioned and degenerates to a
    BroadcastNestedLoopJoin — O(|mentions| × |dict|) predicate evaluations,
    catastrophic at 10⁹ mentions × 10⁶-term gazetteers. Instead both sides
    are EXPLODED to ``(match_key, rank)`` candidate rows (mention: lemma key
    at rank 0, alias key at rank 1; dictionary: lemma term key at rank 0,
    alias key at rank 1) and equi-joined on the two columns — a plain
    BroadcastHashJoin. The rank column both namespaces the keys (lemma keys
    never collide with alias keys) and feeds the same min-(rank, ent_id)
    disambiguation. The plan is hash-joinable and linear in candidates.

    ``dictionary`` is a ``PreparedDictionary`` (its prepared plan and its
    override map are used) or a ``prepare_dictionary`` DataFrame. The link
    dim is a lazy projection of the prepared plan either way, so no Spark
    job runs here.
    """
    from pyspark.sql import functions as F

    from otar3088_spark.functions.text import norm_key_sql, token_core_sql, token_lead_sql
    from otar3088_spark.operators.canonicalize import alias_key_sql

    from otar3088_spark.operators.tagging import PreparedDictionary, as_prepared

    if isinstance(dictionary, PreparedDictionary):
        lemma_overrides = as_prepared(dictionary, lemma_overrides).lemma_overrides
        dictionary = dictionary.prepared
    ov = dict(lemma_overrides or {})
    # every expression below is SQL text: one py4j round trip each, where
    # the Column API costs one per call; the trees are the same
    toks = "split(surface, ' ')"
    cores = f"transform({toks}, x -> {token_core_sql('x')})"
    leads = f"transform({toks}, x -> {token_lead_sql('x')})"
    key_nm = (
        f"concat_ws(' ', transform(transform({cores}, x -> lower(x)),"
        f" k -> {norm_key_sql('k', ov)}))"
    )
    lead1 = f"element_at({leads}, 1)"
    trail = (
        f"length(element_at({toks}, -1)) - element_at({leads}, -1)"
        f" - length(element_at({cores}, -1))"
    )
    # alias key of the surface: non-alphanumerics become token boundaries
    # first ("HEK-293" -> "hek 293" -> alias "hek293"), then the shared
    # alias normalization
    surf_akey = alias_key_sql("regexp_replace(surface, '[^A-Za-z0-9]+', ' ')")
    m = (
        model_spans.selectExpr(
            "conv_id", "turn_idx", "sent_idx",
            f"{key_nm} AS key_nm",
            f"{surf_akey} AS akey",
            f"CAST(start + {lead1} AS INT) AS start",
            f"CAST(end - ({trail}) AS INT) AS end",
            "surface AS _surface_raw",
            f"CAST({lead1} AS INT) AS _lead1",
        )
        .selectExpr("*", "substring(_surface_raw, _lead1 + 1, end - start) AS surface")
        .drop("_surface_raw", "_lead1")
    )

    # mention side: explode to (match_key, rank) candidate rows; empty alias
    # keys are filtered out
    m_keyed = m.selectExpr(
        "conv_id", "turn_idx", "sent_idx", "start", "end", "surface",
        "explode(array_distinct(filter(array(struct(key_nm AS k, 0 AS rank),"
        " struct(CASE WHEN length(akey) > 0 THEN akey END AS k, 1 AS rank)),"
        " s -> s.k IS NOT NULL))) AS mk",
    ).selectExpr(
        "conv_id", "turn_idx", "sent_idx", "start", "end", "surface",
        "mk.k AS match_key",
        "mk.rank AS rank",
    )

    # SYMMETRIC with the mention side: punctuation becomes token boundaries
    # BEFORE alias normalization, so a punctuation-joined generic word is
    # dropped on both sides alike (dict "T-cell" -> "t cell" -> alias "t",
    # matching mention "T cell"/"T-cell"; without the pre-split the dict
    # key stayed "tcell" and the alias tier could never link such terms)
    dict_akey = alias_key_sql("regexp_replace(term, '[^A-Za-z0-9]+', ' ')")
    dk = (
        "explode(array_distinct(filter(array("
        f"struct(concat_ws(' ', transform(term_tokens, t -> {norm_key_sql('t', ov)})) AS k,"
        f" 0 AS rank), struct(CASE WHEN length({dict_akey}) > 0 THEN {dict_akey} END AS k,"
        " 1 AS rank)), s -> s.k IS NOT NULL)))"
    )
    d = F.broadcast(
        dictionary.selectExpr("term", "label", "ent_id", f"{dk} AS dk").selectExpr(
            "dk.k AS dict_key", "dk.rank AS dict_rank", "term", "label", "ent_id"
        )
    )
    linked = m_keyed.join(d, F.expr("match_key = dict_key AND rank = dict_rank"), "inner")
    key5 = ["conv_id", "turn_idx", "sent_idx", "start", "end"]
    return (
        linked.groupBy(*key5, "label")
        .agg(F.expr("min(struct(rank, ent_id, term, surface))").alias("m"))
        .selectExpr(*key5, "m.term AS term", "label", "m.ent_id AS ent_id", "m.surface AS surface")
    )


def merge_spans_with_model(dict_spans: DataFrame, linked_model: DataFrame) -> DataFrame:
    """Union gazetteer spans with dictionary-linked model spans, dictionary
    precedence on exact (sentence, start, end) collision: a colliding
    model row is dropped, a non-colliding one survives (the reference's
    source precedence, entity_processor.py:86-101). Keeps the dictionary
    columns (term, ent_id) the downstream resolution/triple stages need,
    with ONE shuffle: union →
    groupBy span key → array filter (a left-anti join would consume — and at
    plan level recompute — the tagging DAG twice)."""
    from pyspark.sql import functions as F

    cols = ["conv_id", "turn_idx", "sent_idx", "start", "end",
            "term", "label", "ent_id", "surface"]
    key5 = cols[:5]
    u = dict_spans.selectExpr(*cols, "0 AS _src").unionByName(
        linked_model.selectExpr(*cols, "1 AS _src")
    )
    g = u.groupBy(*key5).agg(
        F.expr("collect_list(struct(term, label, ent_id, surface, _src))").alias("arr")
    )
    kept = (
        "CASE WHEN exists(arr, a -> a._src = 0) THEN filter(arr, a -> a._src = 0)"
        " ELSE arr END"
    )
    return g.selectExpr(*key5, f"explode(array_distinct({kept})) AS s").selectExpr(
        *key5, "s.term AS term", "s.label AS label", "s.ent_id AS ent_id", "s.surface AS surface"
    )
