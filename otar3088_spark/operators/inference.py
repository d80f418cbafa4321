"""Model-scored mention detection — the sanctioned ``mapInPandas`` surface (M1).

The reference runs HF token-classification in a torch ``no_grad`` loop at
batch_size=4 (model_tests.ipynb cell 6; trial_to_papers.ipynb cell 12). The
Spark-first shape is an Arrow-batched ``mapInPandas`` with a per-executor
model singleton: one Python worker per task, model loaded once per executor
process, batches sized by ``spark.sql.execution.arrow.maxRecordsPerBatch``.

This container has no torch/transformers, so the default scorer is a
DETERMINISTIC STAND-IN (hash-based pseudo-logits over token spans) behind the
exact same UDF signature — CI-friendly, and a real HF pipeline plugs in by
passing ``scorer=``. The BIO-decode + ``##``-subword-merge semantics (F19,
trial_to_papers.ipynb cell 11) live in plain Python *inside the batch*, which
is the sanctioned place for them (SURVEY.md §2.9).
"""

from __future__ import annotations

import hashlib
from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

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

# per-executor-process singleton slot (the 'model' in a real deployment)
_MODEL_SINGLETON: dict[str, object] = {}


# per-executor memo: token -> (label, score) or None (md5 is deterministic,
# token vocabularies are Zipf-distributed — the memo removes nearly all
# hashlib calls from the stand-in's hot loop). The memo itself is a pure
# cache: for a given score formula it changes no emitted value. (The score
# formula was separately changed from /512 to round(·/1000, 4) for exact
# DuckDB-oracle parity — that was a deliberate value change, not a memo
# side effect.)
_TOKEN_MEMO: dict[str, tuple[str, float] | None] = {}


# driver-side strong-ref registry: pins each keyed scorer object alive so
# CPython can never recycle its id() for a different callable while the key
# is in use (an id collision would silently serve the wrong model)
_KEY_REGISTRY: dict[str, object] = {}


def _scorer_cache_key(prefix: str, fn: object) -> str:
    """Per-executor cache key for a scorer/classifier callable.

    Keyed by module.qualname PLUS the driver-side object identity: repeated
    calls with the SAME scorer object share one loaded model per executor
    (no per-call uuid, no per-call model 'load'/leak), while two distinct
    same-qualname callables — differently-configured closures,
    ``functools.partial`` wrappers (which all share qualname 'partial') —
    can never collide and silently serve each other's model. The registry
    keeps keyed objects alive so an id() is never recycled under a live
    key. Callers that rebuild an equivalent scorer object per call should
    pass an explicit ``batch_key`` to share the loaded model across calls.
    """
    mod = getattr(fn, "__module__", None) or type(fn).__module__
    qn = getattr(fn, "__qualname__", None) or type(fn).__qualname__
    key = f"{prefix}-{mod}.{qn}@{id(fn):x}"
    _KEY_REGISTRY[key] = fn
    if len(_KEY_REGISTRY) > 64:
        import warnings

        warnings.warn(
            f"{len(_KEY_REGISTRY)} distinct scorer/classifier objects are "
            "pinned in the driver registry (and one loaded model per key on "
            "each executor). If you construct a new scorer per call, pass an "
            "explicit batch_key= to share one loaded model across calls.",
            ResourceWarning,
            stacklevel=3,
        )
    return key


def _stand_in_scorer(sentences: pd.Series) -> list[list[tuple[int, int, str, float]]]:
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
                    if len(memo) < 1_000_000:
                        memo[tok] = hit
                if hit is not None:
                    spans.append((cur, cur + n, hit[0], hit[1]))
            cur += n + 1
        out.append(spans)
    return out


def model_mentions(
    sentences: DataFrame,
    scorer: Callable[[pd.Series], list[list[tuple[int, int, str, float]]]] | None = None,
    batch_key: str | None = None,
) -> DataFrame:
    """Batched model inference over sentence rows -> mention spans.

    ``scorer(sent_texts) -> [[(start, end, label, score), ...], ...]`` is
    loaded once per executor process (singleton dict) — swapping in a real
    HF ``pipeline("token-classification")`` changes nothing structurally.
    The singleton key defaults to a per-scorer identity so a session that
    first ran the stand-in can never silently serve a later, different
    scorer from the cache; pass ``batch_key`` explicitly to share one loaded
    model across calls."""
    if batch_key is None:
        batch_key = (
            "standin-ner" if scorer is None else _scorer_cache_key("scorer", scorer)
        )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        model = _MODEL_SINGLETON.get(batch_key)
        if model is None:
            model = scorer or _stand_in_scorer
            _MODEL_SINGLETON[batch_key] = model
        for pdf in batches:
            if pdf.empty:
                continue
            preds = model(pdf["sent_text"])
            # a scorer that filters rows (returns fewer lists than inputs)
            # must fail loudly — a bare zip would truncate and silently drop
            # every trailing sentence's mentions from the batch
            if len(preds) != len(pdf):
                raise ValueError(
                    f"scorer returned {len(preds)} span lists for "
                    f"{len(pdf)} sentences; it must return exactly one list "
                    "per input row (empty list for no mentions)"
                )
            rows = []
            for (conv_id, turn_idx, sent_idx, sent_text), spans in zip(
                pdf[["conv_id", "turn_idx", "sent_idx", "sent_text"]].itertuples(
                    index=False, name=None
                ),
                preds,
            ):
                for s, e, lab, sc in spans:
                    rows.append(
                        (conv_id, int(turn_idx), int(sent_idx), int(s), int(e),
                         sent_text[s:e], lab, float(sc))
                    )
            yield pd.DataFrame(rows, columns=[f.name for f in MENTION_SCHEMA.fields])

    cols = ["conv_id", "turn_idx", "sent_idx", "sent_text"]
    return sentences.select(*cols).mapInPandas(run, schema=MENTION_SCHEMA)


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


def _stand_in_classifier(sentences: pd.Series) -> list[tuple[str, float]]:
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


def hf_pipeline_scorer(pipe):
    """Adapt a transformers ``pipeline("token-classification",
    aggregation_strategy="simple")`` to the ``model_mentions`` scorer
    contract: entity dicts with character offsets / softmax scores become
    ``(start, end, entity_group, score)`` tuples per sentence.

    This is the production fill for the scorer seam (reference lineage:
    model_tests.ipynb cell 6). Pure data-shape adaptation — batching,
    per-executor singleton loading and Arrow transport stay in
    ``model_mentions``. Pass the resulting callable as ``scorer=`` together
    with a stable ``batch_key`` (e.g. the model name) so every executor
    shares one loaded model."""

    def score(sentences: pd.Series) -> list[list[tuple[int, int, str, float]]]:
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


def model_classify(
    sentences: DataFrame,
    classifier: Callable[[pd.Series], list[tuple[str, float]]] | None = None,
    batch_key: str | None = None,
) -> DataFrame:
    """M2 sequence classification (reference model_tests.ipynb cell 6 runs a
    sequence head in the same torch loop as token classification): one
    (class, score) per sentence row, Arrow-batched mapInPandas with the same
    per-executor-singleton loading discipline (and per-scorer cache keying)
    as ``model_mentions``. A real HF ``pipeline("text-classification")``
    plugs in via ``classifier=``."""
    if batch_key is None:
        batch_key = (
            "standin-seqcls"
            if classifier is None
            else _scorer_cache_key("cls", classifier)
        )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        model = _MODEL_SINGLETON.get(batch_key)
        if model is None:
            model = classifier or _stand_in_classifier
            _MODEL_SINGLETON[batch_key] = model
        for pdf in batches:
            if pdf.empty:
                continue
            preds = model(pdf["sent_text"])
            yield pd.DataFrame(
                {
                    "conv_id": pdf["conv_id"].values,
                    "turn_idx": pdf["turn_idx"].astype("int32").values,
                    "sent_idx": pdf["sent_idx"].astype("int32").values,
                    "cls": [c for c, _ in preds],
                    "score": [s for _, s in preds],
                }
            )

    cols = ["conv_id", "turn_idx", "sent_idx", "sent_text"]
    return sentences.select(*cols).mapInPandas(run, schema=CLASSIFY_SCHEMA)


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
      surface and the dictionary term normalized with norm_key_expr
      (override map / value fixpoint / destem / identity — the same
      whole-window lemma semantics as the gazetteer tagger, so a model
      mention "mice models" links dictionary "mouse model" exactly like the
      reference's lemma-keyed term map, labelstudio_e2e.py:193-197).
    * rank 1 — the ALIAS key (canonicalize.alias_key_expr: drop generic type
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

    from otar3088_spark.functions.text import (
        norm_key_expr,
        token_core_expr,
        token_lead_expr,
    )
    from otar3088_spark.operators.canonicalize import alias_key_expr

    from otar3088_spark.operators.tagging import PreparedDictionary, as_prepared

    if isinstance(dictionary, PreparedDictionary):
        lemma_overrides = as_prepared(dictionary, lemma_overrides).lemma_overrides
        dictionary = dictionary.prepared
    ov = dict(lemma_overrides or {})
    toks = F.split(F.col("surface"), " ")
    cores = F.transform(toks, token_core_expr)
    leads = F.transform(toks, token_lead_expr)
    keys = F.transform(cores, F.lower)
    key_nm = F.concat_ws(
        " ", F.transform(keys, lambda k: norm_key_expr(k, ov))
    )
    lead1 = F.element_at(leads, 1)
    trail = (
        F.length(F.element_at(toks, -1))
        - F.element_at(leads, -1)
        - F.length(F.element_at(cores, -1))
    )
    # alias key of the surface: non-alphanumerics become token boundaries
    # first ("HEK-293" -> "hek 293" -> alias "hek293"), then the shared
    # alias normalization
    surf_akey = alias_key_expr(F.regexp_replace(F.col("surface"), "[^A-Za-z0-9]+", " "))
    m = model_spans.select(
        "conv_id", "turn_idx", "sent_idx",
        key_nm.alias("key_nm"),
        surf_akey.alias("akey"),
        (F.col("start") + lead1).cast("int").alias("start"),
        (F.col("end") - trail).cast("int").alias("end"),
        F.col("surface").alias("_surface_raw"),
        lead1.cast("int").alias("_lead1"),
    ).withColumn(
        "surface",
        F.expr("substring(_surface_raw, _lead1 + 1, end - start)"),
    ).drop("_surface_raw", "_lead1")

    # mention side: explode to (match_key, rank) candidate rows; empty alias
    # keys are filtered out
    mk = F.explode(
        F.array_distinct(
            F.filter(
                F.array(
                    F.struct(F.col("key_nm").alias("k"), F.lit(0).alias("rank")),
                    F.struct(
                        F.when(F.length("akey") > 0, F.col("akey")).alias("k"),
                        F.lit(1).alias("rank"),
                    ),
                ),
                lambda s: s["k"].isNotNull(),
            )
        )
    )
    m_keyed = m.select(
        "conv_id", "turn_idx", "sent_idx", "start", "end", "surface",
        mk.alias("mk"),
    ).select(
        "conv_id", "turn_idx", "sent_idx", "start", "end", "surface",
        F.col("mk")["k"].alias("match_key"),
        F.col("mk")["rank"].alias("rank"),
    )

    dk = F.explode(
        F.array_distinct(
            F.filter(
                F.array(
                    F.struct(
                        F.concat_ws(
                            " ",
                            F.transform(
                                F.col("term_tokens"),
                                lambda t: norm_key_expr(t, ov),
                            ),
                        ).alias("k"),
                        F.lit(0).alias("rank"),
                    ),
                    # SYMMETRIC with the mention side: punctuation becomes
                    # token boundaries BEFORE alias normalization, so a
                    # punctuation-joined generic word is dropped on both
                    # sides alike (dict "T-cell" -> "t cell" -> alias "t",
                    # matching mention "T cell"/"T-cell"; without the
                    # pre-split the dict key stayed "tcell" and the alias
                    # tier could never link such terms)
                    F.struct(
                        F.when(
                            F.length(
                                alias_key_expr(
                                    F.regexp_replace(F.col("term"), "[^A-Za-z0-9]+", " ")
                                )
                            )
                            > 0,
                            alias_key_expr(
                                F.regexp_replace(F.col("term"), "[^A-Za-z0-9]+", " ")
                            ),
                        ).alias("k"),
                        F.lit(1).alias("rank"),
                    ),
                ),
                lambda s: s["k"].isNotNull(),
            )
        )
    )
    d = F.broadcast(
        dictionary.select("term", "label", "ent_id", dk.alias("dk")).select(
            F.col("dk")["k"].alias("dict_key"),
            F.col("dk")["rank"].alias("dict_rank"),
            "term", "label", "ent_id",
        )
    )
    linked = m_keyed.join(
        d,
        (F.col("match_key") == F.col("dict_key"))
        & (F.col("rank") == F.col("dict_rank")),
        "inner",
    )
    key5 = ["conv_id", "turn_idx", "sent_idx", "start", "end"]
    return (
        linked.groupBy(*key5, "label")
        .agg(
            F.min(F.struct("rank", "ent_id", "term", "surface")).alias("m"),
        )
        .select(
            *key5,
            F.col("m")["term"].alias("term"),
            "label",
            F.col("m")["ent_id"].alias("ent_id"),
            F.col("m")["surface"].alias("surface"),
        )
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
    u = dict_spans.select(*cols).withColumn("_src", F.lit(0)).unionByName(
        linked_model.select(*cols).withColumn("_src", F.lit(1))
    )
    g = u.groupBy("conv_id", "turn_idx", "sent_idx", "start", "end").agg(
        F.collect_list(F.struct("term", "label", "ent_id", "surface", "_src")).alias("arr")
    )
    has_dict = F.exists("arr", lambda a: a["_src"] == 0)
    kept = F.when(has_dict, F.filter("arr", lambda a: a["_src"] == 0)).otherwise(
        F.col("arr")
    )
    return (
        g.select(
            "conv_id", "turn_idx", "sent_idx", "start", "end",
            F.explode(F.array_distinct(kept)).alias("s"),
        )
        .select(
            "conv_id", "turn_idx", "sent_idx", "start", "end",
            F.col("s")["term"].alias("term"),
            F.col("s")["label"].alias("label"),
            F.col("s")["ent_id"].alias("ent_id"),
            F.col("s")["surface"].alias("surface"),
        )
    )
