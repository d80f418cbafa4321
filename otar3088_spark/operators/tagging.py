"""Gazetteer mention detection — stage P2: the token-blocked broadcast join.

The reference implements dictionary tagging three ways: an in-process lemma
hash-map with a sliding n-gram window (labelstudio_e2e.py:196-240), a spaCy
PhraseMatcher over ``nlp.pipe`` batches (COVID_ner_clean.ipynb cell 7), and a
per-term boundary regex ``(?<!\\w)term(?:s|'s)?(?!\\w)`` (labelstudio_e2e.py:
171-178). All three are per-row Python. Here the same semantics are ONE
declarative join:

  1. tokenize each sentence by space on cleaned text; compute char offsets
     with an ``aggregate`` cumulative scan (per-row JVM, no shuffle);
  2. explode tokens and derive ONE raw anchor key per token (lower(core) —
     no destem, no conditionals, no struct allocation);
  3. broadcast-join against the lemma-normalized dictionary blocked on the
     term's allowed FIRST-position surface forms (the 'token-blocked' key —
     blocks candidate pairs to ~|dict-first-token| matches per token instead
     of |dict| regex scans per sentence); plural/possessive/irregular
     variants are dim-side preimage rows, never per-token conditionals;
  4. validate the full n-token window with whole-window lemma equality via
     preimage membership (``zip_with`` + ``forall`` + ``array_contains``) —
     still pure Catalyst expressions, evaluated per candidate only;
  5. longest-match containment dedup via a per-sentence array filter (one
     groupBy, no recomputation of the upstream DAG).

Stage-2 regime table (the one kept twin pair; identical spans, opposite
scaling — BENCH/TAGGING_STRESS.md):

  ``precompute_offsets`` | regime                                  | shape
  ``False`` (default)    | short sentences, ~1 candidate (KG path) | per-candidate fold + drop_contained
  ``True``               | whole documents, dense candidates       | per-sentence array path, offsets array

Zero Python anywhere; the dictionary side is explicitly ``F.broadcast`` so
skewed head entities ("HeLa"-type, cell_line_papers.py:56) never shuffle.
At 100 TB the cost is one narrow pass over sentences + an explode whose
output is pruned immediately by the broadcast hash join.
"""

from __future__ import annotations

from collections import Counter
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from otar3088_spark.functions.text import (
    sql_str_array,
    destem_expr,
    let_expr,
    norm_key_expr,
    offsets_expr,
    token_core_expr,
    token_lead_expr,
)
from otar3088_spark.operators.canonicalize import alias_clusters, alias_key_expr

# P7 red-list: Anatomy terms with these suffixes are dictionary noise
# (cellfinder_clean.ipynb cell 8).
REDLIST_SUFFIX = r"(?:genesis|cytic|ial|yal)$"


def prepare_dictionary(dict_df: DataFrame) -> DataFrame:
    """Normalize the gazetteer for matching.

    Applies the reference's dictionary hygiene: term length > 2
    (labelstudio_e2e.py:164-166, P6), Anatomy red-list suffix drop
    (cellfinder_clean.ipynb cell 8, P7), lowercase matching keys
    (PhraseMatcher attr="LOWER"). Output columns:
    ``ent_id, label, term, term_tokens(array<string>), n(int), first(string)``.

    A lazy plan: no Spark job runs here. ``PreparedDictionary.build`` turns
    it into the value the tagging, linking and clustering layers share.
    """
    d = dict_df.filter(F.length("term") > 2).filter(
        ~((F.col("label") == "Anatomy") & F.lower(F.col("term")).rlike(REDLIST_SUFFIX))
    )
    d = d.withColumn("term_tokens", F.split(F.lower(F.trim(F.col("term"))), r"\s+"))
    return (
        d.withColumn("n", F.size("term_tokens").cast("int"))
        .withColumn("first_tok", F.element_at("term_tokens", 1))
        .dropDuplicates(["ent_id", "label", "term_tokens"])
        .select("ent_id", "label", "term", "term_tokens", "n", "first_tok")
    )


@dataclass(frozen=True, eq=False)
class PreparedDictionary:
    """The gazetteer as the KG layers consume it: the small side of every
    dictionary join, materialized ONCE and passed around explicitly.

    * ``prepared`` — the ``prepare_dictionary`` plan (lazy); the link dim of
      ``link_model_mentions`` is a projection of it;
    * ``lemma_overrides`` — the override map every dim-side normalization
      below was built with;
    * ``d0`` — the exploded-anchor broadcast dim ``tag_mentions`` joins on
      (lazy);
    * ``anchors`` — the plan-time anchor IN-set, ``None`` above
      ``max_prefilter_terms`` distinct keys;
    * ``pair_mode`` — whether any ``d0`` row keys on a (first, second) pair,
      i.e. whether the corpus side must emit pair keys;
    * ``clusters`` — ``(ent_id, cluster_id)`` alias clusters, a DataFrame
      over a driver-side list (no checkpointed lineage to lose).

    Build it with :meth:`build`: ONE Spark pass collects the dictionary at
    the prepared grain, and everything eager is derived on the driver from
    those rows.
    """

    prepared: DataFrame
    lemma_overrides: dict[str, str]
    d0: DataFrame
    anchors: list[str] | None
    pair_mode: bool
    clusters: DataFrame

    @classmethod
    def build(
        cls,
        prepared: DataFrame,
        lemma_overrides: dict[str, str] | None = None,
        max_prefilter_terms: int = 50_000,
        bigram_anchor: bool | None = None,
        bigram_anchor_threshold: int = 64,
    ) -> PreparedDictionary:
        """Build the value from a ``prepare_dictionary`` DataFrame with ONE
        Spark action (the Arrow collect below). The options are
        ``tag_mentions``'s: none of them changes which spans are found."""
        ov = dict(lemma_overrides or {})
        # --- dictionary-side normalization + preimage enumeration ------------
        # Every dictionary token is normalized with the FULL lemma function;
        # rows whose normalized token sequences collide within (ent_id, label)
        # merge to one row keeping the lexicographically smallest surface
        # term (deterministic output). Then, PER POSITION, the finite
        # norm-PREIMAGE is enumerated as an ``allowed`` surface-form array:
        #
        #   norm(k) == t  ⟺  k ∈ { t                 if norm(t) == t,
        #                          t+"s"  (len>=3),  t+"'s"   — the two destem
        #                                  preimages, minus override keys/values,
        #                          every irregular plural p with override[p]==t }
        #
        # so window matching is plain set membership against <=5 literals —
        # no normalization of corpus tokens ANYWHERE, not even destem. Round 2
        # measured that any conditional around destem in the fused per-token
        # stage costs 15-40% (codegen CSE excludes conditional branches);
        # round 4 initially re-normalized per candidate window token, which
        # interpreted the override CASE chain per (candidate x position) and
        # cost 2x on the tagging stage. Enumerating the preimage on the
        # broadcast dim removes both costs: the hot path is one lower(core)
        # expression per token, and validation is array_contains on tiny
        # arrays.
        normed = prepared.withColumn(
            "nd_tokens", F.transform(F.col("term_tokens"), lambda t: norm_key_expr(t, ov))
        )
        allowed = F.transform(F.col("nd_tokens"), lambda t: _allowed_forms_expr(t, ov))

        # --- the single pass -------------------------------------------------
        # Collected at the PREPARED grain, not the (ent_id, label, nd_tokens)
        # grain of d_norm: two terms of one group can carry different alias
        # keys ("mice model" / "mouse model"), and the clusters need both.
        # Normalization stays in Spark (no Python twin of norm_key_expr or
        # alias_key_expr); Arrow keeps the transfer columnar.
        tbl = normed.select(
            "ent_id",
            "label",
            "nd_tokens",
            allowed.alias("allowed"),
            alias_key_expr(F.col("term")).alias("akey"),
        ).toArrow()
        ent_ids = tbl.column("ent_id").to_pylist()
        groups = {
            (e, lab, tuple(nd)): al
            for e, lab, nd, al in zip(
                ent_ids,
                tbl.column("label").to_pylist(),
                tbl.column("nd_tokens").to_pylist(),
                tbl.column("allowed").to_pylist(),
            )
        }

        # --- anchor-mode resolution (auto skew detection) --------------------
        # AUTO: count n>=2 terms per first-position allowed surface form;
        # forms anchoring more than the threshold are "oversized groups"
        # whose unigram amplification would be |corpus occurrences of the
        # form| x |group size|. Only those forms switch to pair keys. The
        # oversized set is a driver literal: it is bounded by |dictionary| /
        # threshold, and the dictionary is a broadcast dim by contract.
        oversized: list[str] = []
        if bigram_anchor is None:
            per_form = Counter(f1 for al in groups.values() if len(al) >= 2 for f1 in al[0])
            oversized = sorted(f for f, c in per_form.items() if c > bigram_anchor_threshold)
        big = set(oversized)

        # anchor join key: one dim row per allowed FIRST-position surface form
        # (<=5 per term) — the broadcast equi-join key for raw corpus keys.
        # Bigram mode: n>=2 terms key on every (first, second) allowed pair
        # (<=25 per term) joined by one space — corpus tokens are split ON
        # space, so pair keys and unigram keys can never collide. Auto mode
        # is SELECTIVE: only (term, first-form) combinations in an oversized
        # group take pair keys; everything else stays unigram.
        d_norm = (
            normed.groupBy("ent_id", "label", "nd_tokens")
            .agg(F.min("term").alias("term"))
            .withColumn("n", F.size("nd_tokens").cast("int"))
            .withColumn("allowed", allowed)
        )
        pair_with = lambda f1: F.transform(  # noqa: E731
            F.element_at(F.col("allowed"), 2), lambda f2: F.concat(f1, F.lit(" "), f2)
        )
        if bigram_anchor:
            anchor_keys = F.when(
                F.col("n") >= 2,
                F.flatten(F.transform(F.element_at("allowed", 1), pair_with)),
            ).otherwise(F.element_at("allowed", 1))
            d0 = d_norm.withColumn("first_tok", F.explode(anchor_keys))
        elif oversized:
            d0 = (
                d_norm.withColumn("f1", F.explode(F.element_at("allowed", 1)))
                .withColumn(
                    "_keys",
                    F.when(
                        (F.col("n") >= 2) & F.col("f1").isin(oversized), pair_with(F.col("f1"))
                    ).otherwise(F.array(F.col("f1"))),
                )
                .withColumn("first_tok", F.explode("_keys"))
                .drop("f1", "_keys")
            )
        else:
            d0 = d_norm.withColumn("first_tok", F.explode(F.element_at("allowed", 1)))

        # --- plan-time anchor IN-set ------------------------------------------
        # The distinct first_tok values of d0, derived from the collected rows
        # by the same rule as the d0 plan above. Above ``max_prefilter_terms``
        # distinct keys the pre-filter is skipped (the broadcast hash join
        # prunes non-anchors just as correctly, one narrow stage later).
        keys = {
            k
            for al in groups.values()
            for f1 in al[0]
            for k in (
                [f"{f1} {f2}" for f2 in al[1]]
                if len(al) >= 2 and (bigram_anchor or f1 in big)
                else [f1]
            )
        }
        anchors = sorted(keys) if len(keys) <= max_prefilter_terms else None

        key_type = prepared.schema["ent_id"].dataType
        clusters = prepared.sparkSession.createDataFrame(
            alias_clusters(zip(ent_ids, tbl.column("akey").to_pylist())),
            T.StructType(
                [T.StructField("ent_id", key_type), T.StructField("cluster_id", key_type)]
            ),
        )
        return cls(
            prepared=prepared,
            lemma_overrides=ov,
            d0=d0,
            anchors=anchors,
            # the corpus side must emit pair keys iff ANY dim row keys on a pair
            pair_mode=bool(bigram_anchor) or bool(oversized),
            clusters=clusters,
        )


def as_prepared(
    dictionary: DataFrame | PreparedDictionary,
    lemma_overrides: dict[str, str] | None = None,
    **options,
) -> PreparedDictionary:
    """The adapter behind every dictionary-consuming layer: a
    ``PreparedDictionary`` passes through, a ``prepare_dictionary``
    DataFrame is built into one (``options`` go to ``build``). Overrides
    that contradict a passed value's own are an error, not a silent pick."""
    if not isinstance(dictionary, PreparedDictionary):
        return PreparedDictionary.build(dictionary, lemma_overrides, **options)
    if lemma_overrides is not None and dict(lemma_overrides) != dictionary.lemma_overrides:
        raise ValueError("lemma_overrides differ from the PreparedDictionary's own")
    return dictionary


def _allowed_forms_expr(t, ov: dict[str, str]):
    """Finite norm-PREIMAGE of a normalized dictionary token ``t``: the array
    of corpus surface forms k with ``norm(k) == t`` (norm = override map /
    override-value fixpoint / destem / identity — functions/text.py
    norm_key_expr). Exactly:

    * ``t`` itself, iff norm(t) == t (t is an override value, or destems to
      NULL and is not an override key);
    * the two destem preimages ``t+"s"`` (len >= 3 destem guard) and
      ``t+"'s"`` — minus any form that is itself an override key or value
      (those norm elsewhere);
    * every irregular plural p with override[p] == t (inverse map).

    Evaluated on the broadcast dim only: the override CASE chains here never
    touch corpus rows."""
    # t+"s" is a destem preimage ONLY when t does not end in an apostrophe:
    # for t = "farmers'" the form "farmers's" ends in 's and destems to
    # "farmers" != t, so admitting it would tag a surface the norm_key
    # comparison rejects (exact-preimage duality, test_properties.py).
    no_apos = ~t.endswith("'")
    if not ov:
        self_ok = destem_expr(t).isNull()
        s_ok = (F.length(t) >= 3) & no_apos
        p_ok = F.lit(True)
    else:
        # ONE shared status-map literal (key -> 1, value -> 2) instead of
        # four membership lists, and every literal collection is a single
        # JVM-parsed F.expr string (sql_str_array) — the Column-API routes
        # cost one py4j round-trip per element, ~2s of driver time per query
        # at ~150 entries (plan-construction cost, not compute)
        status_d = {v: 2 for v in ov.values()}
        status_d.update({k: 1 for k in ov})  # a key-and-value string is a key
        toks = sorted(status_d)
        status = F.expr(
            f"map_from_arrays({sql_str_array(toks)}, "
            f"array({', '.join(str(status_d[x]) for x in toks)}))"
        )
        self_ok = (F.try_element_at(status, t) == 2) | (
            destem_expr(t).isNull() & F.try_element_at(status, t).isNull()
        )
        s_ok = (
            (F.length(t) >= 3)
            & no_apos
            & F.try_element_at(status, F.concat(t, F.lit("s"))).isNull()
        )
        p_ok = F.try_element_at(status, F.concat(t, F.lit("'s"))).isNull()
    forms = F.array(
        F.when(self_ok, t),
        F.when(s_ok, F.concat(t, F.lit("s"))),
        F.when(p_ok, F.concat(t, F.lit("'s"))),
    )
    inv: dict[str, list[str]] = {}
    for k, v in ov.items():
        inv.setdefault(v, []).append(k)
    if inv:
        invmap = F.expr(
            "map_from_arrays("
            f"{sql_str_array(sorted(inv))}, "
            f"array({', '.join(sql_str_array(sorted(inv[v])) for v in sorted(inv))}))"
        )
        forms = F.concat(
            forms,
            F.coalesce(F.try_element_at(invmap, t), F.array().cast("array<string>")),
        )
    return F.array_distinct(F.filter(forms, lambda x: x.isNotNull()))


def tag_mentions(
    sentences: DataFrame,
    dictionary: DataFrame | PreparedDictionary,
    max_prefilter_terms: int = 50_000,
    lemma_overrides: dict[str, str] | None = None,
    precompute_offsets: bool = False,
    bigram_anchor: bool | None = None,
    bigram_anchor_threshold: int = 64,
    _grouped_output: bool = False,
) -> DataFrame:
    """Detect dictionary mentions in sentences; returns one row per span.

    Output: ``conv_id, turn_idx, sent_idx, start, end, surface, term, label,
    ent_id`` with char offsets into ``sent_text`` satisfying the invariant
    ``substring(sent_text, start+1, end-start) == surface``
    (article_normaliser.py:285-324 alignment check, enforced downstream).

    ``lemma_overrides`` defaults to {} (rule-based destem only); build_kg
    passes the public ``IRREGULAR_PLURALS`` table — direct callers who want
    pipeline-equivalent linking ("mice models" -> "mouse model") should too.

    Matching is WHOLE-WINDOW lemma equality (labelstudio_e2e.py:179-185
    lemmatizes every token of the dictionary term; :218-226 compares
    ``window_lemmas == lemma_tokens`` position-by-position): a window matches
    a term iff ``norm(window_key_i) == norm(dict_token_i)`` at EVERY
    position, with ``norm`` = irregular-override / override-value fixpoint /
    rule destem / identity (functions/text.py norm_key_expr). So "mice
    models" matches dictionary "mouse model" — inflection on non-head tokens
    links exactly as in the reference.

    ``bigram_anchor`` selects the candidate-blocking key for n>=2 terms:
    the term's first allowed surface form (``False``) or its (first, second)
    allowed PAIR (``True``) — the escape hatch for skewed gazetteers where
    thousands of multi-token terms share one corpus-frequent first token
    (BENCH/TAGGING_STRESS.md §2: candidate volume is |anchor occurrences| x
    |terms on the anchor| under unigram blocking, but collapses to true
    bigram matches under pair blocking). Pair keys cost one per-sentence
    keys array + 2x exploded anchor rows on the corpus side, which
    reference-shaped gazetteers (<=5k entities/type, small first-token
    groups) never repay.

    Default ``None`` = AUTO: the skew statistic is computed dim-side by
    ``PreparedDictionary.build`` from its one collect of the broadcast
    dictionary — any first-position surface form anchoring more than
    ``bigram_anchor_threshold`` n>=2 terms is an oversized group, and ONLY
    those groups switch to pair keys (n==1 terms and small groups keep
    unigram anchors, bounding their amplification at the threshold). With
    no oversized group the plan is byte-identical to ``False``; with one,
    the pathological W-term group collapses without anyone passing a flag —
    matching the reference PhraseMatcher whose cost is skew-free
    (COVID_ner_clean.ipynb cell 7). Output identical in all modes (window
    validation unchanged; pinned by ``test_bigram_anchor_path_is_identical``
    and ``test_auto_bigram_anchor``).

    CALLER CONTRACT: ``dictionary`` is a ``PreparedDictionary`` or a
    ``prepare_dictionary`` DataFrame. A value is used as built (its own
    overrides and anchor options) and costs no Spark job here. A DataFrame
    is built into a value first (``as_prepared``), which runs **one eager
    Spark collect at plan time** over the broadcast-scale dictionary — plan
    construction can block on, and fail from, that collect. Callers that tag,
    link or cluster against one dictionary more than once (``build_kg``)
    build the value once and pass it.
    """
    pdict = as_prepared(
        dictionary,
        lemma_overrides,
        max_prefilter_terms=max_prefilter_terms,
        bigram_anchor=bigram_anchor,
        bigram_anchor_threshold=bigram_anchor_threshold,
    )
    return _tag_with_dim(sentences, pdict, precompute_offsets, _grouped_output)


def tag_mentions_grouped(
    sentences: DataFrame,
    dictionary: DataFrame | PreparedDictionary,
    max_prefilter_terms: int = 50_000,
    lemma_overrides: dict[str, str] | None = None,
    bigram_anchor: bool | None = None,
    bigram_anchor_threshold: int = 64,
) -> DataFrame:
    """``tag_mentions`` without the final explode: one row per MATCHED
    sentence, ``(conv_id, turn_idx, sent_idx, sent_text, spans)`` where
    ``spans`` is the per-sentence array of validated/deduped span structs
    (exactly the array ``tag_mentions`` explodes into rows — same candidate
    generation, validation, homonym dedup and longest-match containment).

    Exists for consumers that immediately RE-GROUP the span rows per
    sentence (spans_to_iob and the training-data path): feeding them the
    grouped form removes an explode, a collect_list re-aggregation exchange
    and the sentence re-join from their plans (measured 3.0 s of the 8.4 s
    sf1.0 spans_to_iob chain, round 7). Coverage caveat: sentences with no
    ANCHOR candidate do not appear at all, while anchored sentences whose
    candidates all fail validation appear with ``spans = []`` (the exploded
    form emits no rows for either) — so absence does NOT mean "unmatched",
    and callers that need every sentence must keep ``tag_mentions`` + an
    outer join.

    Always runs the per-sentence array formulation (the grouped shape IS
    that path's intermediate), so it shares ``tag_mentions``'s
    ``precompute_offsets=True`` scaling profile. Same ``dictionary``
    contract as ``tag_mentions``.
    """
    return tag_mentions(
        sentences,
        dictionary,
        max_prefilter_terms=max_prefilter_terms,
        lemma_overrides=lemma_overrides,
        precompute_offsets=True,
        bigram_anchor=bigram_anchor,
        bigram_anchor_threshold=bigram_anchor_threshold,
        _grouped_output=True,
    )


def _tag_with_dim(
    sentences: DataFrame,
    pdict: PreparedDictionary,
    precompute_offsets: bool = False,
    grouped_output: bool = False,
) -> DataFrame:
    """Corpus side of tag_mentions: anchor detection, window validation and
    containment dedup against the value's exploded-anchor dim ``d0`` and
    plan-time anchor IN-set."""
    d0, firsts, bigram_anchor = pdict.d0, pdict.anchors, pdict.pair_mode
    # --- stage 1: anchor detection (allocation-lean) ------------------------
    # The hot path is ALLOCATION-BANDWIDTH bound, not CPU bound: explode bare
    # tokens (ONE array per sentence), derive the single RAW anchor key as a
    # SCALAR expression per exploded row (whole-stage-codegen'd — no destem,
    # no conditionals, no struct-array explode; all variant handling lives in
    # the dim's exploded allowed-form rows), and filter to anchor hits before
    # anything heavier exists.
    key3 = ["conv_id", "turn_idx", "sent_idx"]
    uni_keyed = sentences.select(
        *key3, F.posexplode(F.split(F.col("sent_text"), " ")).alias("pos0", "tok")
    ).select(*key3, "pos0", F.lower(token_core_expr(F.col("tok"))).alias("key"))
    heads = (
        sorted({p.split(" ", 1)[0] for p in firsts if " " in p})
        if (bigram_anchor and firsts is not None)
        else None
    )
    if bigram_anchor and heads:
        # skewed-gazetteer mode: n==1 terms anchor on unigram keys as
        # before, while n>=2 terms block on (key_i, key_{i+1}) pair keys.
        # Pair keys are emitted ONLY at positions whose key is a known pair
        # HEAD (first word of some pair anchor in the plan-time IN-set) —
        # every pair key not starting with a head cannot be in `firsts`, so
        # the candidate set is unchanged while the struct/concat allocation
        # runs on the rare head positions instead of every token (the
        # r5-r6 shape built a 2-struct array + concat per token: 2x
        # exploded rows and the whole-battery gap between the bigram and
        # unigram queries). The keys array is bound as a lambda variable so
        # the next-token lookup does not re-derive it per element.
        pair_structs = let_expr(
            F.transform(
                F.split(F.col("sent_text"), " "),
                lambda t: F.lower(token_core_expr(t)),
            ),
            lambda ks: F.filter(
                F.transform(
                    ks,
                    lambda k, i: F.when(
                        k.isin(heads)
                        & F.try_element_at(ks, i + 2).isNotNull(),
                        F.struct(
                            i.alias("pos0"),
                            F.concat(
                                k, F.lit(" "), F.try_element_at(ks, i + 2)
                            ).alias("key"),
                        ),
                    ),
                ),
                lambda s: s.isNotNull(),
            ),
        )
        pair_keyed = sentences.select(
            *key3, F.explode(pair_structs).alias("_s")
        ).select(*key3, F.col("_s.pos0").alias("pos0"), F.col("_s.key").alias("key"))
        keyed = uni_keyed.unionByName(pair_keyed)
    elif bigram_anchor and heads is None:
        # no plan-time IN-set (dictionary above the prefilter cap): emit the
        # unigram AND pair key for every position — the broadcast hash join
        # prunes non-anchors one stage later
        keys_arr = F.transform(
            F.split(F.col("sent_text"), " "),
            lambda t: F.lower(token_core_expr(t)),
        )
        sent2 = sentences.select(*key3, keys_arr.alias("_keys"))
        nxt = lambda i: F.try_element_at(F.col("_keys"), i + 2)  # noqa: E731
        cand_keys = F.filter(
            F.flatten(
                F.transform(
                    F.col("_keys"),
                    lambda k, i: F.array(
                        F.struct(i.alias("pos0"), k.alias("key")),
                        F.struct(
                            i.alias("pos0"),
                            F.when(
                                nxt(i).isNotNull(),
                                F.concat(k, F.lit(" "), nxt(i)),
                            ).alias("key"),
                        ),
                    ),
                )
            ),
            lambda s: s["key"].isNotNull(),
        )
        keyed = sent2.select(*key3, F.explode(cand_keys).alias("_s")).select(
            *key3, F.col("_s.pos0").alias("pos0"), F.col("_s.key").alias("key")
        )
    else:
        # bigram_anchor with an empty pair-head set degenerates to the plain
        # unigram plan (no dim row keys on a pair, so no pair key can match)
        keyed = uni_keyed
    if firsts is not None:
        keyed = keyed.filter(F.col("key").isin(firsts))
    anchors = keyed.select(*key3, "pos0", F.col("key").alias("anchor_key"))

    # Anchored-prefix elision (dim-side, free): the anchor equi-join already
    # PROVES the window's first position matches — the anchor key IS the
    # token key at pos0 and the dim row's first_tok was exploded from
    # allowed[1] (pair keys, which contain the one space corpus keys never
    # can, prove positions 1-2). So validation only needs the allowed forms
    # AFTER the anchored prefix: n==1 candidates (the bulk of reference
    # gazetteers) validate tautologically with an empty tail, and the
    # grouped-candidate shuffle ships no allowed-forms payload for them.
    v0 = F.when(F.col("first_tok").contains(" "), F.lit(2)).otherwise(F.lit(1))
    d = F.broadcast(
        d0.withColumn("_v0", v0).withColumn(
            "_atail",
            F.slice(
                F.col("allowed"), F.col("_v0") + 1, F.greatest(F.col("n") - F.col("_v0"), F.lit(0))
            ),
        )
    )
    cand = anchors.join(d, anchors["anchor_key"] == d["first_tok"], "inner")

    # TWO stage-2 formulations with opposite scaling (round-5 stress +
    # round-7 re-measurement, BENCH/TAGGING_STRESS.md):
    # * default (short sentences, sparse candidates — the KG path): join
    #   candidates back per candidate row + O(pos) prefix folds, one
    #   containment-dedup shuffle. Cheapest when candidates/sentence ~1 and
    #   sentences are short: the per-sentence array machinery of the other
    #   path costs ~7 us/sentence of interpreted-HOF overhead, which at
    #   600k 10-token sentences more than doubles the tagging stage
    #   (measured round 7: 6.3s vs ~3s at 200k turns).
    # * precompute_offsets=True (whole documents as single sentences, dense
    #   candidates — the battery/document path): group candidates per
    #   sentence FIRST, attach the sentence once, and run validation +
    #   span building + containment dedup array-side (see below). At sf1.0
    #   documents (54-token docs, ~14 candidates each) this removed the
    #   per-candidate copies of the sentence arrays and one shuffle:
    #   9.3s -> ~4s.
    if grouped_output and not precompute_offsets:
        raise ValueError(
            "grouped_output requires the per-sentence array path "
            "(precompute_offsets=True); use tag_mentions_grouped()"
        )
    if not precompute_offsets:
        sent_proj = sentences.select(*key3, "sent_text")
        withs = cand.join(sent_proj, key3, "inner")

        n, pos0 = F.col("n"), F.col("pos0")
        toks2 = F.split(F.col("sent_text"), " ")
        window = F.slice(toks2, pos0 + 1, n)
        in_bounds = n <= (F.size(toks2) - pos0)
        # anchored-prefix elision (see _atail above): validate only the
        # allowed forms AFTER the anchor-proven prefix — n==1 candidates
        # validate on in_bounds alone (forall over an empty tail is TRUE)
        wtail = F.slice(
            toks2, pos0 + F.col("_v0") + 1, F.greatest(n - F.col("_v0"), F.lit(0))
        )
        wkeys = F.transform(wtail, lambda t: F.lower(token_core_expr(t)))
        all_ok = F.forall(
            F.zip_with(wkeys, F.col("_atail"), lambda w, al: F.array_contains(al, w)),
            lambda x: x,
        )
        match = in_bounds & F.coalesce(all_ok, F.lit(False))
        j = withs.withColumn("_w", window).filter(match)

        # offsets: start of token pos0 = sum(len+1) over preceding tokens —
        # an O(pos) fold over a slice, no offsets array materialized.
        prefix_len = F.aggregate(
            F.slice(toks2, 1, pos0), F.lit(0), lambda acc, t: acc + F.length(t) + 1
        )
        # char length of the window = joined length of its tokens
        win_prefix = F.aggregate(
            F.slice(F.col("_w"), 1, n - 1), F.lit(0), lambda acc, t: acc + F.length(t) + 1
        )
        first_tok = F.element_at("_w", 1)
        last_tok = F.try_element_at(F.col("_w"), n)
        lead1 = token_lead_expr(first_tok)
        lead_n = token_lead_expr(last_tok)
        start = (prefix_len + lead1).cast("int")
        end = (prefix_len + win_prefix + lead_n + F.length(token_core_expr(last_tok))).cast("int")
        # surface from the joined window tokens (single spaces by clean_text)
        joined_window = F.concat_ws(" ", F.col("_w"))
        spans = (
            j.withColumn("_start", start)
            .withColumn("_end", end)
            .withColumn("_joined", joined_window)
            .withColumn("_lead1", lead1.cast("int"))
            .select(
                *key3,
                F.col("_start").alias("start"),
                F.col("_end").alias("end"),
                "term",
                "label",
                "ent_id",
                F.expr("substring(_joined, _lead1 + 1, _end - _start)").alias("surface"),
            )
        )
        # Exact-duplicate dedup happens inside drop_contained (array_distinct
        # on the per-sentence array) — one shuffle covers dedup + containment.
        return drop_contained(spans)

    # --- stage 2: group candidates per sentence, attach the sentence ONCE ---
    # The r1-r6 shape joined every CANDIDATE row back to the sentence table,
    # which copied the per-sentence token/offset arrays once per candidate
    # (726k copies of ~54-token arrays at sf1.0 — the join-back alone
    # dominated the query on this allocation-bandwidth-bound box) and then
    # paid a second shuffle for the containment-dedup groupBy. Grouping the
    # candidates FIRST means: one shuffle of small candidate structs, a join
    # whose output is one row per matched sentence, per-sentence arrays
    # computed exactly once, and validation + span building + containment
    # dedup all running array-side — the drop_contained exchange disappears
    # from the plan entirely (2 Exchange -> 1; measured 9.3s -> ~4s at
    # sf1.0). In the KG path both join inputs still descend from the same
    # normalize exchange (hash(conv_id, turn_idx) satisfies the clustered
    # distribution of every key3 operation), so no new shuffle appears
    # there either. The grouped side's size is only known at runtime
    # (post-aggregation), so AQE picks broadcast vs sort-merge from REAL
    # sizes — scale-adaptive by construction.
    cand_g = cand.groupBy(*key3).agg(
        F.collect_list(
            F.struct("pos0", "n", "_v0", "_atail", "term", "label", "ent_id")
        ).alias("_cands")
    )
    sent_proj = sentences.select(*key3, "sent_text")
    withs = sent_proj.join(cand_g, key3, "inner")

    # --- stage 3: per-sentence validation, offsets and containment dedup ----
    # Everything below is ONE expression over (sent_text, _cands), with the
    # shared subresults bound as LAMBDA VARIABLES (transform over a 1-element
    # array) — withColumn hoists would be re-inlined by CollapseProject into
    # every use site (the round-6 spans.py lesson). Binding chain:
    #   toks   = split(sent_text)              (token array, once/sentence)
    #   starts = offsets_expr(toks)            (char offsets, once/sentence)
    #   arr    = validated span structs        (per candidate, when(match))
    #   dd     = per-(start,end,label) min-ent_id dedup over arr
    #            (_dedup_homonyms)
    #   kept   = longest-match containment filter over dd (_keep_longest)
    # Offsets are computed per MATCHED sentence only (sentences without
    # anchors never reach this join).
    def build_span(c, toks, starts):
        n, p0 = c["n"], c["pos0"]

        # n == 1 fast path (round 7): single-token candidates — the bulk of
        # reference gazetteers AND half of this battery's dictionary — are
        # fully proven by the anchor join (empty validation tail, see _atail
        # above), and their window/surface algebra collapses: win_prefix is
        # 0, first and last token coincide, and
        # substring(tok, lead+1, len(core)) IS token_core_expr(tok). The
        # generic branch below evaluated two slice allocations, an empty
        # zip_with/forall chain, concat_ws and duplicate lead/core trims per
        # candidate — all interpreted HOF work — for a tautology. Field
        # values are identical by the identities above (pinned by the
        # tagging oracles + fuzz suite).
        tok1 = F.element_at(toks, p0 + 1)
        core1 = token_core_expr(tok1)
        start1_base = F.coalesce(F.try_element_at(starts, p0 + 1), F.lit(0))
        start1 = (start1_base + token_lead_expr(tok1)).cast("int")
        single = F.when(
            F.lit(1) <= (F.size(toks) - p0),
            F.struct(
                start1.alias("start"),
                (start1 + F.length(core1)).cast("int").alias("end"),
                c["term"].alias("term"),
                c["label"].alias("label"),
                c["ent_id"].alias("ent_id"),
                core1.alias("surface"),
            ),
        )

        window = F.slice(toks, p0 + 1, n)
        in_bounds = n <= (F.size(toks) - p0)
        # whole-window lemma equality via preimage membership: each window
        # key BEYOND the anchored prefix (see _atail above) must be one of
        # the <=5 allowed surface forms of its position. The tail window is
        # sliced relative to the anchored prefix; zip_with pads a short
        # (out-of-bounds) tail with NULL keys -> NULL membership -> forall
        # not TRUE; the explicit in_bounds conjunct keeps the intent
        # readable. forall over an empty tail (n == v0) is TRUE — those
        # candidates are proven by the anchor join alone.
        wtail = F.slice(toks, p0 + c["_v0"] + 1, F.greatest(n - c["_v0"], F.lit(0)))
        wkeys = F.transform(wtail, lambda t: F.lower(token_core_expr(t)))
        all_ok = F.forall(
            F.zip_with(
                wkeys, c["_atail"], lambda w, al: F.array_contains(al, w)
            ),
            lambda x: x,
        )
        match = in_bounds & F.coalesce(all_ok, F.lit(False))
        # char anchors are lookups into the per-sentence offsets array
        # (try_element_at: Catalyst may evaluate projections under
        # reordered/pushed predicates, round-1 lesson)
        prefix_len = F.coalesce(F.try_element_at(starts, p0 + 1), F.lit(0))
        win_prefix = F.coalesce(F.try_element_at(starts, p0 + n), F.lit(0)) - prefix_len
        first_tok = F.element_at(window, 1)
        last_tok = F.try_element_at(window, n)
        lead1 = token_lead_expr(first_tok)
        lead_n = token_lead_expr(last_tok)
        start = (prefix_len + lead1).cast("int")
        end = (
            prefix_len + win_prefix + lead_n + F.length(token_core_expr(last_tok))
        ).cast("int")
        joined_window = F.concat_ws(" ", window)
        # when(...) evaluates only the taken branch per candidate: n == 1
        # takes the fast path above, n >= 2 the generic window validation
        return F.when(n == 1, single).otherwise(
            F.when(
                match,
                F.struct(
                    start.alias("start"),
                    end.alias("end"),
                    c["term"].alias("term"),
                    c["label"].alias("label"),
                    c["ent_id"].alias("ent_id"),
                    joined_window.substr(lead1.cast("int") + 1, end - start).alias(
                        "surface"
                    ),
                ),
            )
        )

    def valid_arr(toks, starts):
        return F.array_distinct(
            F.filter(
                F.transform(F.col("_cands"), lambda c: build_span(c, toks, starts)),
                lambda s: s.isNotNull(),
            )
        )

    final = let_expr(
        F.split(F.col("sent_text"), " "),
        lambda toks: let_expr(
            offsets_expr(toks),
            lambda starts: let_expr(
                valid_arr(toks, starts),
                lambda a: let_expr(_dedup_homonyms(a), _keep_longest),
            ),
        ),
    )
    if grouped_output:
        # one row per matched sentence, span structs still in their array —
        # for consumers that would otherwise explode and immediately
        # re-collect_list per sentence (tag_mentions_grouped docstring)
        return withs.select(*key3, "sent_text", final.alias("spans"))
    return (
        withs.select(*key3, F.explode(final).alias("s"))
        .select(
            *key3,
            F.col("s")["start"].alias("start"),
            F.col("s")["end"].alias("end"),
            F.col("s")["term"].alias("term"),
            F.col("s")["label"].alias("label"),
            F.col("s")["ent_id"].alias("ent_id"),
            F.col("s")["surface"].alias("surface"),
        )
    )


def _dedup_homonyms(arr):
    """Homonym-id dedup of a span-struct array: per (start, end, label) keep
    the min ent_id — array-side, so downstream label resolution needs no
    span-level aggregate (its winner filter is per-label, so pre-picking
    the min ent within each label commutes with it)."""
    return F.filter(
        arr,
        lambda x: ~F.exists(
            arr,
            lambda y: (y["start"] == x["start"])
            & (y["end"] == x["end"])
            & (y["label"] == x["label"])
            & (y["ent_id"] < x["ent_id"]),
        ),
    )


def _keep_longest(arr):
    """Longest-match preference (PhraseMatcher semantics) over a span-struct
    array: drop spans strictly contained in a longer span of the same
    sentence."""
    return F.filter(
        arr,
        lambda x: ~F.exists(
            arr,
            lambda y: (y["start"] <= x["start"])
            & (x["end"] <= y["end"])
            & ((y["end"] - y["start"]) > (x["end"] - x["start"])),
        ),
    )


def drop_contained(spans: DataFrame) -> DataFrame:
    """Longest-match preference: drop spans strictly contained in a longer
    span of the same sentence (PhraseMatcher longest-match semantics).

    Implemented as collect_list per sentence + a pairwise higher-order
    ``filter``/``exists`` over the (tiny) per-sentence span array, then an
    explode back — ONE computation of the input and one small shuffle,
    instead of an anti self-join that would recompute the whole upstream
    tagging DAG a second time. Spans-per-sentence is bounded (~10), so the
    O(k²) per-row check is constant work.
    """
    payload = F.struct("start", "end", "term", "label", "ent_id", "surface")
    g = spans.groupBy("conv_id", "turn_idx", "sent_idx").agg(
        F.array_distinct(F.collect_list(payload)).alias("arr")
    )
    # homonym-id dedup, then the longest-match containment drop. The deduped
    # array is inlined into both sides of the containment filter, not
    # let-bound: this is the KG path's plan shape.
    kept = _keep_longest(_dedup_homonyms(F.col("arr")))
    return (
        g.select("conv_id", "turn_idx", "sent_idx", F.explode(kept).alias("s"))
        .select(
            "conv_id",
            "turn_idx",
            "sent_idx",
            F.col("s")["start"].alias("start"),
            F.col("s")["end"].alias("end"),
            F.col("s")["term"].alias("term"),
            F.col("s")["label"].alias("label"),
            F.col("s")["ent_id"].alias("ent_id"),
            F.col("s")["surface"].alias("surface"),
        )
    )
