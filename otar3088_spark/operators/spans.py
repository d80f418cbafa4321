"""Span algebra — interval joins, IOB conversion, BIO merge, segmentation (M3).

Spark restatements of the reference's span machinery:

* ``assign_spans_to_sentences`` — J8 interval-containment join
  (entity_processor.py:302-308: entity kept iff inside sentence) with the
  (conv_id, turn_idx) equi-prefix so it is a partitioned hash join + local
  range predicate, never a cartesian.
* ``reoffset_to_sentence``      — F15 arithmetic re-offsetting.
* ``spans_to_iob``              — J9/F12: per-token B-/I-/O tags computed
  array-side against the collected per-sentence span set (no window sort).
* ``iob_to_spans``              — W5 BIO merge: the reference's sequential
  look-ahead walk (trial_to_papers.ipynb cell 11) as array filters over the
  tag sequence (B- positions -> continuation run ends), one explode.
* ``segment_turns``             — F14 entity-aware windowed splitting
  (article_normaliser.py:165-258): the one genuinely stateful-cursor op,
  implemented as a vectorized pandas UDF returning segment arrays (SURVEY.md
  §7.3(d): impossible as pure SQL), exploded back to rows.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from otar3088_spark.functions.text import let_expr, offsets_sql


def assign_spans_to_sentences(doc_spans: DataFrame, sentences: DataFrame) -> DataFrame:
    """J8: doc-level spans (conv_id, turn_idx, start, end, label) -> sentence
    rows they are contained in, with F15 re-offsetting to sentence-local
    coordinates. Spans straddling sentence boundaries are dropped (reference
    rule, entity_processor.py:302-308)."""
    s = sentences.select(
        "conv_id", "turn_idx", "sent_idx", "sent_text", "char_start",
        (F.col("char_start") + F.length("sent_text")).alias("char_end"),
    )
    cond = (
        (doc_spans["conv_id"] == s["conv_id"])
        & (doc_spans["turn_idx"] == s["turn_idx"])
        & (doc_spans["start"] >= s["char_start"])
        & (doc_spans["end"] <= s["char_end"])
    )
    j = doc_spans.alias("m").join(s.alias("s"), cond, "inner")
    return j.select(
        F.col("s.conv_id").alias("conv_id"),
        F.col("s.turn_idx").alias("turn_idx"),
        F.col("s.sent_idx").alias("sent_idx"),
        F.col("s.sent_text").alias("sent_text"),
        (F.col("m.start") - F.col("s.char_start")).cast("int").alias("start"),
        (F.col("m.end") - F.col("s.char_start")).cast("int").alias("end"),
        F.col("m.label").alias("label"),
    )


def spans_to_iob(sentences: DataFrame, spans: DataFrame) -> DataFrame:
    """J9/F12: (sentence, spans) -> aligned ``tokens``/``tags`` arrays.

    Token gets ``B-X`` iff it starts the span, ``I-X`` iff strictly inside,
    else ``O`` (iob_converter.py:47-68).
    """
    key3 = ["conv_id", "turn_idx", "sent_idx"]
    sp_g = spans.groupBy(*key3).agg(
        F.collect_list(F.struct("start", "end", "label")).alias("sp")
    )
    toks = "split(sent_text, ' ')"
    tok = sentences.selectExpr(
        *key3, f"{toks} AS toks", f"{offsets_sql(toks)} AS starts"
    )
    j = tok.join(sp_g, key3, "left").withColumn(
        "sp", F.coalesce(F.col("sp"), F.array().cast("array<struct<start:int,end:int,label:string>>"))
    )
    return _iob_from_joined(j)


def grouped_spans_to_iob(tagged: DataFrame) -> DataFrame:
    """``spans_to_iob`` over the GROUPED tagging output
    (``tag_mentions_grouped``: one row per matched sentence carrying
    ``sent_text`` + the per-sentence span-struct array) — identical tag
    semantics, minus the span explode / collect_list re-aggregation /
    sentence re-join that ``spans_to_iob(sentences, tag_mentions(...))``
    pays to rebuild exactly this row shape (round 7: that plumbing was
    3.0 s of the 8.4 s sf1.0 chain; 3 Exchanges -> 0 added).

    Only matched sentences appear, so downstream must not rely on all-O
    rows — both engine consumers (iob_to_spans, filter_all_o) drop them
    anyway, which is what makes the fusion output-equivalent (pinned by
    ``test_grouped_iob_fusion_matches_unfused``).
    """
    key3 = ["conv_id", "turn_idx", "sent_idx"]
    toks = "split(sent_text, ' ')"
    j = tagged.selectExpr(
        *key3,
        f"{toks} AS toks",
        f"{offsets_sql(toks)} AS starts",
        "transform(spans, s -> struct(s.start AS start, s.end AS end, s.label AS label)) AS sp",
    )
    return _iob_from_joined(j)


def _iob_from_joined(j: DataFrame) -> DataFrame:
    """Shared tag computation over rows ``(key3, toks, starts, sp)``."""
    from otar3088_spark.functions.text import token_core_sql, token_lead_sql

    key3 = ["conv_id", "turn_idx", "sent_idx"]
    # per-token tag computed array-side: coverage is checked against the
    # CORE-token extent (start+lead .. start+lead+len(core)) because
    # tag_mentions emits spans at punctuation-stripped extents — a raw-extent
    # check would leave a mention in "HeLa." covering no token (all-O).
    # Punctuation-only tokens (empty core) have no core extent; they are
    # covered iff their RAW extent fits — so an external span over
    # "poly ( ADP-ribose ) polymerase" tags the interior "(" / ")" I-
    # instead of O (one annotation, one round-tripped span). The FIRST
    # covered token of a span gets B- — matching the reference IOBConverter
    # which tags the first fully-contained token B- (iob_converter.py:47-68);
    # spans whose start lands on inter-token punctuation/space (external
    # annotations, e.g. BioC offsets) still open correctly. Min label breaks
    # overlaps deterministically.
    #
    # Formulation (round 7, ~2x over the per-(token x span x {cur,prev})
    # predicate of rounds 1-6):
    # 1. fold each token's CHOSEN extent — core extent for core tokens, raw
    #    extent for punctuation-only tokens — into two int arrays (cs, ce),
    #    so one coverage test is two lookups + two compares instead of the
    #    ~12-op core/raw case analysis;
    # 2. TRANSPOSE: per span, compute the covered-token interval [ts, te]
    #    with ONE filter pass. Chosen extents are strictly increasing in
    #    token position, so the covered set {i: cs_i >= start} n
    #    {i: ce_i <= end} is an up-set intersected with a down-set — always
    #    contiguous — and "token i starts span p" (no earlier covered
    #    token) is exactly ts == i;
    # 3. per token, B-/I- labels are interval-membership mins over the tiny
    #    interval array (two int compares per (token, span)) — the old
    #    shape re-ran the full coverage predicate per (token, span) for the
    #    current AND previous token.
    # All shared arrays are bound as LAMBDA VARIABLES (transform over a
    # 1-element array): HOF lambda bodies never enter whole-stage codegen,
    # and withColumn hoists get re-inlined by CollapseProject into every
    # use site (measured 450s vs 16s at sf0.1, round 6) — the let-binding
    # is the only hoist the optimizer cannot undo (functions/text.py let_expr).
    toks_c, starts_c, sp_c = F.col("toks"), F.col("starts"), F.col("sp")
    seqn = F.sequence(F.lit(1), F.size(toks_c))
    cl_arr = F.expr(f"transform(toks, t -> length({token_core_sql('t')}))")
    ld_arr = F.expr(f"transform(toks, t -> {token_lead_sql('t')})")

    def chosen_extents(cl, ld):
        cs = F.transform(
            seqn,
            lambda i: F.element_at(starts_c, i)
            + F.when(F.element_at(cl, i) > 0, F.element_at(ld, i)).otherwise(0),
        )
        ce = F.transform(
            seqn,
            lambda i: F.when(
                F.element_at(cl, i) > 0,
                F.element_at(starts_c, i) + F.element_at(ld, i) + F.element_at(cl, i),
            ).otherwise(F.element_at(starts_c, i) + F.length(F.element_at(toks_c, i))),
        )
        return cs, ce

    def tags_expr(cl, ld):
        cs, ce = chosen_extents(cl, ld)

        def with_extents(cs_b, ce_b):
            idx0 = F.sequence(F.lit(0), F.size(toks_c) - 1)
            ivals = F.filter(
                F.transform(
                    sp_c,
                    lambda p: let_expr(
                        F.filter(
                            idx0,
                            lambda i: (F.element_at(cs_b, i + 1) >= p["start"])
                            & (F.element_at(ce_b, i + 1) <= p["end"]),
                        ),
                        lambda covs: F.struct(
                            F.try_element_at(covs, F.lit(1)).alias("ts"),
                            F.try_element_at(covs, F.lit(-1)).alias("te"),
                            p["label"].alias("label"),
                        ),
                    ),
                ),
                lambda v: v["ts"].isNotNull(),
            )

            def tag_at(iv):
                def per_token(t, i):
                    b_label = F.array_min(
                        F.transform(
                            F.filter(iv, lambda v: v["ts"] == i),
                            lambda v: v["label"],
                        )
                    )
                    i_label = F.array_min(
                        F.transform(
                            F.filter(iv, lambda v: (v["ts"] <= i) & (i <= v["te"])),
                            lambda v: v["label"],
                        )
                    )
                    return (
                        F.when(b_label.isNotNull(), F.concat(F.lit("B-"), b_label))
                        .when(i_label.isNotNull(), F.concat(F.lit("I-"), i_label))
                        .otherwise(F.lit("O"))
                    )

                return F.transform(toks_c, per_token)

            return let_expr(ivals, tag_at)

        return let_expr(cs, lambda cs_b: let_expr(ce, lambda ce_b: with_extents(cs_b, ce_b)))

    # OPERATOR-LEVEL evaluate-once barrier (round 7): downstream filters on
    # the computed columns — iob_to_spans' size(tags) > 0, filter_all_o's
    # exists(tags, ...) — get predicate-pushed below a plain Project, which
    # INLINES this whole expression tree into the filter (and, in the fused
    # grouped path where toks/starts/sp are themselves projections over the
    # tagging join, into the join condition: measured 12 s -> 76 s at
    # sf1.0). A Generate over a one-element array is the operator-level
    # analogue of the lambda-variable let-binding: predicates referencing
    # generated attributes cannot push through Generate
    # (PushPredicateThroughGenerate only moves predicates over non-generated
    # columns, e.g. the key3 — which still push), so tokens/tags are
    # evaluated exactly ONCE regardless of what the consumer filters on.
    row = F.struct(
        F.col("toks").alias("tokens"),
        let_expr(cl_arr, lambda cl: let_expr(ld_arr, lambda ld: tags_expr(cl, ld))).alias(
            "tags"
        ),
    )
    return (
        j.select(*key3, F.explode(F.array(row)).alias("_iob"))
        .select(*key3, F.col("_iob.tokens").alias("tokens"), F.col("_iob.tags").alias("tags"))
    )


def filter_all_o(iob: DataFrame) -> DataFrame:
    """P9: drop sentences whose tag set == {O} (dataset_loader.py:377-379)."""
    return iob.filter(F.exists("tags", lambda t: t != "O"))


def iob_to_spans(iob: DataFrame, merge_subwords: bool = False) -> DataFrame:
    """W5 BIO merge: token/tag arrays -> (start_pos, end_pos, label) spans.

    Each B- position opens a span that runs through the consecutive
    continuation (I-<label>) tags; subwords carry I- tags so they collapse
    into the same run (trial_to_papers.ipynb cell 11). With
    ``merge_subwords=True`` the F19 ``##`` subword merge is applied to the
    reconstructed span text (``"HeLa cell ##s" -> "HeLa cells"``), for IOB
    streams produced at subword granularity (align_subword_labels_expr)."""
    # rows with empty tag arrays produce no spans — and MUST be filtered
    # before the index algebra: sequence(0, size-1) on size 0 yields a
    # DESCENDING [0, -1] whose try_element_at(tags, 0) raises
    # INVALID_INDEX_OF_ZERO and aborts the job
    iob = iob.filter(F.size("tags") > 0)
    tags, toks = F.col("tags"), F.col("tokens")
    idxs = F.sequence(F.lit(0), F.size(tags) - 1)
    b_pos = F.filter(idxs, lambda i: F.try_element_at(tags, i + 1).startswith("B-"))

    def span_at(b):
        label = F.substring(F.try_element_at(tags, b + 1), 3, 1000)
        i_tag = F.concat(F.lit("I-"), label)
        # first position after b whose tag is not the continuation tag
        stops = F.filter(
            idxs, lambda j: (j > b) & (F.try_element_at(tags, j + 1) != i_tag)
        )
        end_pos = F.coalesce(F.array_min(stops), F.size(tags)) - 1
        text = F.concat_ws(" ", F.slice(toks, b + 1, end_pos - b + 1))
        if merge_subwords:
            text = F.regexp_replace(text, " ##", "")
        return F.struct(
            b.alias("start_pos"),
            end_pos.alias("end_pos"),
            text.alias("text"),
            label.alias("label"),
        )

    # per-sentence span extraction as array expressions (the reference's
    # sequential look-ahead walk collapses to filters over the tag array) —
    # no explode/window/sort; tokens tagged I- before any B- are ignored,
    # matching the previous span_id>0 rule.
    return iob.select(
        "conv_id", "turn_idx", "sent_idx",
        F.explode(F.transform(b_pos, span_at)).alias("s"),
    ).select(
        "conv_id", "turn_idx", "sent_idx",
        F.col("s")["start_pos"].alias("start_pos"),
        F.col("s")["end_pos"].alias("end_pos"),
        F.col("s")["text"].alias("text"),
        F.col("s")["label"].alias("label"),
    )


_SEG_SCHEMA = T.ArrayType(
    T.StructType(
        [
            T.StructField("seg_idx", T.IntegerType()),
            T.StructField("seg_text", T.StringType()),
            T.StructField("seg_start", T.IntegerType()),
        ]
    )
)


def segment_turns(
    normalized: DataFrame, max_len: int = 500, spans: DataFrame | None = None
) -> DataFrame:
    """F14 entity-aware segmentation (article_normaliser.py:165-258).

    Splits ``clean_text`` into ≤ ``max_len``-char segments at space
    boundaries, extending a window rather than cutting through an entity
    span. Stateful per-row cursor loop → vectorized pandas UDF (the one
    sanctioned non-SQL op of this module); output exploded back to rows
    ``(conv_id, turn_idx, seg_idx, seg_text, seg_start)``.
    """
    span_df = None
    if spans is not None:
        span_df = (
            spans.groupBy("conv_id", "turn_idx")
            .agg(F.collect_list(F.struct("start", "end")).alias("ents"))
        )
        src = normalized.join(span_df, ["conv_id", "turn_idx"], "left")
    else:
        src = normalized.withColumn("ents", F.lit(None).cast("array<struct<start:int,end:int>>"))

    @F.pandas_udf(_SEG_SCHEMA)
    def segs(text: pd.Series, ents: pd.Series) -> pd.Series:
        out = []
        for t, es in zip(text, ents):
            if not t:  # NULL/empty text -> no segments (len(None) would raise)
                out.append([])
                continue
            entities = sorted((int(e["start"]), int(e["end"])) for e in (es or []))
            res, cur, idx = [], 0, 0
            while cur < len(t):
                end = min(cur + max_len, len(t))
                if end < len(t):
                    # extend to cover any entity straddling the cut
                    for s_, e_ in entities:
                        if s_ < end < e_:
                            end = e_
                    # then back off to a space boundary if possible
                    sp = t.rfind(" ", cur, end + 1)
                    safe = sp > cur and not any(s_ < sp < e_ for s_, e_ in entities)
                    if safe and sp - cur >= max_len // 2:
                        end = sp
                seg = t[cur:end].strip()
                if seg:
                    res.append((idx, seg, cur + (len(t[cur:end]) - len(t[cur:end].lstrip()))))
                    idx += 1
                cur = end + 1 if end < len(t) and t[end] == " " else end
            out.append(res)
        return pd.Series(out)

    segged = src.withColumn("segs", segs(F.col("clean_text"), F.col("ents")))
    return segged.select(
        "conv_id", "turn_idx", F.explode("segs").alias("g")
    ).select(
        "conv_id", "turn_idx",
        F.col("g")["seg_idx"].alias("seg_idx"),
        F.col("g")["seg_text"].alias("seg_text"),
        F.col("g")["seg_start"].alias("seg_start"),
    )
