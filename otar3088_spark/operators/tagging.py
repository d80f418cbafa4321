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

import hashlib
from collections import Counter
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from otar3088_spark.functions.text import (
    sql_str,
    sql_str_array,
    destem_sql,
    let_sql,
    norm_key_sql,
    offsets_sql,
    token_core_sql,
    token_lead_sql,
)
from otar3088_spark.operators.canonicalize import alias_clusters, alias_key_sql
from otar3088_spark.session import constant_dataframe

# P7 red-list: Anatomy terms with these suffixes are dictionary noise
# (cellfinder_clean.ipynb cell 8).
REDLIST_SUFFIX = r"(?:genesis|cytic|ial|yal)$"

# Plan-time anchor IN-set cap: above this many distinct anchor keys the
# pre-filter is skipped and the broadcast hash join alone prunes
# non-anchors (a literal IN-list that size bloats every plan).
MAX_PREFILTER_TERMS = 50_000
# Auto anchor mode: a first-position surface form anchoring more than this
# many n>=2 terms is an oversized group and switches to pair keys.
BIGRAM_ANCHOR_THRESHOLD = 64
# the span struct's fields, in output column order
_SPAN_FIELDS = ("start", "end", "term", "label", "ent_id", "surface")


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
    blanks = sql_str(r"\s+")
    return (
        dict_df.where("length(term) > 2")
        .where(f"NOT (label = 'Anatomy' AND lower(term) RLIKE {sql_str(REDLIST_SUFFIX)})")
        .selectExpr("*", f"split(lower(trim(term)), {blanks}) AS term_tokens")
        .selectExpr("*", "CAST(size(term_tokens) AS INT) AS n")
        .selectExpr("*", "element_at(term_tokens, 1) AS first_tok")
        .dropDuplicates(["ent_id", "label", "term_tokens"])
        .selectExpr("ent_id", "label", "term", "term_tokens", "n", "first_tok")
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
      (lazy), with the validation tail ``_atail`` after the anchor-proven
      prefix of ``_v0`` tokens;
    * ``anchors`` — the plan-time anchor IN-set, ``None`` above
      ``MAX_PREFILTER_TERMS`` distinct keys;
    * ``pair_mode`` — whether any ``d0`` row keys on a (first, second) pair,
      i.e. whether the corpus side must emit pair keys;
    * ``clusters`` — ``(ent_id, cluster_id)`` alias clusters, a DataFrame
      over one driver-built JSON value (``session.constant_dataframe``: no
      checkpointed lineage to lose, no Python worker to read it);
    * ``digest`` — an order-insensitive hash of the collected rows at the
      prepared grain ``(ent_id, label, term, term_tokens)``, the dictionary
      part of the span-stage fingerprint.

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
    digest: str

    @classmethod
    def build(
        cls,
        prepared: DataFrame,
        lemma_overrides: dict[str, str] | None = None,
        bigram_anchor: bool | None = None,
    ) -> PreparedDictionary:
        """Build the value from a ``prepare_dictionary`` DataFrame with ONE
        Spark action (the collect below). ``bigram_anchor`` is
        ``tag_mentions``'s option: it changes the candidate blocking, never
        which spans are found. Whether the anchor IN-set is kept follows
        from the dictionary's size (``MAX_PREFILTER_TERMS``)."""
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
        normed = prepared.selectExpr(
            "*", f"transform(term_tokens, t -> {norm_key_sql('t', ov)}) AS nd_tokens"
        )
        allowed = f"transform(nd_tokens, t -> {_allowed_forms_sql('t', ov)})"

        # --- the single pass -------------------------------------------------
        # Collected at the PREPARED grain, not the (ent_id, label, nd_tokens)
        # grain of d_norm: two terms of one group can carry different alias
        # keys ("mice model" / "mouse model"), and the clusters need both.
        # Normalization stays in Spark (no Python twin of norm_key_sql or
        # alias_key_sql). Plain rows: array columns arrive as Python lists.
        rows = normed.selectExpr(
            "ent_id",
            "label",
            "term",
            "term_tokens",
            "nd_tokens",
            f"{allowed} AS allowed",
            f"{alias_key_sql('term')} AS akey",
        ).collect()
        # order-insensitive digest of the prepared grain (ent_id, label, term,
        # term_tokens): everything below is a function of these rows, ``ov``
        # and ``bigram_anchor`` (kg_pipeline._span_stage_fingerprint)
        grain = (r[:4] for r in rows)
        digest = hashlib.sha1("\n".join(sorted(map(repr, grain))).encode()).hexdigest()
        groups = {(e, lab, tuple(nd)): al for e, lab, _, _, nd, al, _ in rows}

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
            oversized = sorted(f for f, c in per_form.items() if c > BIGRAM_ANCHOR_THRESHOLD)
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
            .agg(F.expr("min(term)").alias("term"))
            .selectExpr("*", "CAST(size(nd_tokens) AS INT) AS n")
            .selectExpr("*", f"{allowed} AS allowed")
        )
        # the (first, second) pair keys of the first-position form ``f1``
        # (SQL text, like every expression of this plan)
        pair_keys = lambda f1: (  # noqa: E731
            f"transform(element_at(allowed, 2), f2 -> concat({f1}, ' ', f2))"
        )
        if bigram_anchor:
            d0 = d_norm.selectExpr(
                "*",
                "explode(CASE WHEN n >= 2 THEN flatten(transform(element_at(allowed, 1),"
                f" f1 -> {pair_keys('f1')})) ELSE element_at(allowed, 1) END) AS first_tok",
            )
        elif oversized:
            d0 = (
                d_norm.selectExpr("*", "explode(element_at(allowed, 1)) AS f1")
                .selectExpr(
                    "*",
                    f"CASE WHEN n >= 2 AND f1 IN ({', '.join(map(sql_str, oversized))})"
                    f" THEN {pair_keys('f1')} ELSE array(f1) END AS _keys",
                )
                .selectExpr("*", "explode(_keys) AS first_tok")
                .drop("f1", "_keys")
            )
        else:
            d0 = d_norm.selectExpr("*", "explode(element_at(allowed, 1)) AS first_tok")
        # Anchored-prefix elision (dim-side, free): the anchor equi-join
        # already PROVES the window's first position matches — the anchor
        # key IS the token key at pos0 and the dim row's first_tok was
        # exploded from allowed[1] (pair keys, which contain the one space
        # corpus keys never can, prove positions 1-2). So validation only
        # needs the allowed forms AFTER the anchored prefix (``_atail``):
        # n==1 candidates (the bulk of reference gazetteers) validate
        # tautologically with an empty tail, and the grouped-candidate
        # shuffle ships no allowed-forms payload for them.
        d0 = F.broadcast(
            d0.selectExpr("*", "CASE WHEN contains(first_tok, ' ') THEN 2 ELSE 1 END AS _v0")
            .selectExpr("*", "slice(allowed, _v0 + 1, greatest(n - _v0, 0)) AS _atail")
        )

        # --- plan-time anchor IN-set ------------------------------------------
        # The distinct first_tok values of d0, derived from the collected rows
        # by the same rule as the d0 plan above. Above ``MAX_PREFILTER_TERMS``
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
        anchors = sorted(keys) if len(keys) <= MAX_PREFILTER_TERMS else None

        # the clusters go to the JVM as one JSON value (``constant_dataframe``):
        # a Python list would be pickled through a PythonRDD, the only Python
        # worker the gazetteer path would start
        key_type = prepared.schema["ent_id"].dataType
        clusters = constant_dataframe(
            prepared.sparkSession,
            [
                {"ent_id": e, "cluster_id": c}
                for e, c in alias_clusters((ent, akey) for ent, *_, akey in rows)
            ],
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
            digest=digest,
        )


def as_prepared(
    dictionary: DataFrame | PreparedDictionary,
    lemma_overrides: dict[str, str] | None = None,
    bigram_anchor: bool | None = None,
) -> PreparedDictionary:
    """The adapter behind every dictionary-consuming layer: a
    ``PreparedDictionary`` passes through, a ``prepare_dictionary``
    DataFrame is built into one (``bigram_anchor`` goes to ``build``).
    Overrides that contradict a passed value's own are an error, not a
    silent pick."""
    if not isinstance(dictionary, PreparedDictionary):
        return PreparedDictionary.build(dictionary, lemma_overrides, bigram_anchor)
    if lemma_overrides is not None and dict(lemma_overrides) != dictionary.lemma_overrides:
        raise ValueError("lemma_overrides differ from the PreparedDictionary's own")
    return dictionary


def _allowed_forms_sql(t: str, ov: dict[str, str]) -> str:
    """SQL text: the finite norm-PREIMAGE of a normalized dictionary token
    ``t`` (a SQL operand): the array of corpus surface forms k with
    ``norm(k) == t`` (norm = override map / override-value fixpoint /
    destem / identity — functions/text.py norm_key_sql). Exactly:

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
    apos, apos_s = sql_str("'"), sql_str("'s")
    no_apos = f"NOT endswith({t}, {apos})"
    ts, tps = f"concat({t}, 's')", f"concat({t}, {apos_s})"
    if not ov:
        self_ok = f"({destem_sql(t)}) IS NULL"
        s_ok = f"length({t}) >= 3 AND {no_apos}"
        p_ok = "true"
    else:
        # ONE shared status-map literal (key -> 1, value -> 2) instead of
        # four membership lists, and every literal collection is a single
        # JVM-parsed string (sql_str_array) — the Column-API routes cost
        # one py4j round-trip per element, ~2s of driver time per query at
        # ~150 entries (plan-construction cost, not compute)
        status_d = {v: 2 for v in ov.values()}
        status_d.update({k: 1 for k in ov})  # a key-and-value string is a key
        toks = sorted(status_d)
        status = (
            f"map_from_arrays({sql_str_array(toks)}, "
            f"array({', '.join(str(status_d[x]) for x in toks)}))"
        )
        self_ok = (
            f"try_element_at({status}, {t}) = 2 OR "
            f"(({destem_sql(t)}) IS NULL AND try_element_at({status}, {t}) IS NULL)"
        )
        s_ok = (
            f"(length({t}) >= 3 AND {no_apos}) AND "
            f"try_element_at({status}, {ts}) IS NULL"
        )
        p_ok = f"try_element_at({status}, {tps}) IS NULL"
    forms = (
        f"array(CASE WHEN {self_ok} THEN {t} END, CASE WHEN {s_ok} THEN {ts} END,"
        f" CASE WHEN {p_ok} THEN {tps} END)"
    )
    inv: dict[str, list[str]] = {}
    for k, v in ov.items():
        inv.setdefault(v, []).append(k)
    if inv:
        invmap = (
            "map_from_arrays("
            f"{sql_str_array(sorted(inv))}, "
            f"array({', '.join(sql_str_array(sorted(inv[v])) for v in sorted(inv))}))"
        )
        forms = (
            f"concat({forms}, coalesce(try_element_at({invmap}, {t}),"
            " CAST(array() AS ARRAY<STRING>)))"
        )
    return f"array_distinct(filter({forms}, x -> x IS NOT NULL))"


def tag_mentions(
    sentences: DataFrame,
    dictionary: DataFrame | PreparedDictionary,
    lemma_overrides: dict[str, str] | None = None,
    precompute_offsets: bool = False,
    bigram_anchor: bool | None = None,
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
    rule destem / identity (functions/text.py norm_key_sql). So "mice
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
    ``BIGRAM_ANCHOR_THRESHOLD`` n>=2 terms is an oversized group, and ONLY
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
    pdict = as_prepared(dictionary, lemma_overrides, bigram_anchor=bigram_anchor)
    return _tag_with_dim(sentences, pdict, precompute_offsets)


def tag_mentions_grouped(
    sentences: DataFrame, dictionary: DataFrame | PreparedDictionary
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
    contract as ``tag_mentions``; a DataFrame is built with the default
    options (no lemma overrides, auto anchor mode) — pass a
    ``PreparedDictionary`` for anything else.
    """
    return _tag_with_dim(sentences, as_prepared(dictionary), True, True)


def _tag_with_dim(
    sentences: DataFrame,
    pdict: PreparedDictionary,
    precompute_offsets: bool = False,
    grouped_output: bool = False,
) -> DataFrame:
    """Corpus side of tag_mentions: anchor detection, window validation and
    containment dedup against the value's broadcast anchor dim ``d0`` and
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
    uni_keyed = sentences.selectExpr(
        *key3, "posexplode(split(sent_text, ' ')) AS (pos0, tok)"
    ).selectExpr(*key3, "pos0", f"lower({token_core_sql('tok')}) AS key")
    # the same keys as one array per sentence (pair-anchor branches)
    sent_keys = f"transform(split(sent_text, ' '), t -> lower({token_core_sql('t')}))"
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
        # unigram queries). The keys array is bound as a lambda variable
        # (``let_sql``) so the next-token lookup does not re-derive it per
        # element.
        pair_structs = let_sql(
            sent_keys,
            "ks",
            "filter(transform(ks, (k, i) -> CASE WHEN"
            f" k IN ({', '.join(map(sql_str, heads))})"
            " AND try_element_at(ks, i + 2) IS NOT NULL THEN struct(i AS pos0,"
            " concat(k, ' ', try_element_at(ks, i + 2)) AS key) END), s -> s IS NOT NULL)",
        )
        pair_keyed = sentences.selectExpr(*key3, f"explode({pair_structs}) AS _s").selectExpr(
            *key3, "_s.pos0 AS pos0", "_s.key AS key"
        )
        keyed = uni_keyed.unionByName(pair_keyed)
    elif bigram_anchor and heads is None:
        # no plan-time IN-set (dictionary above the prefilter cap): emit the
        # unigram AND pair key for every position — the broadcast hash join
        # prunes non-anchors one stage later
        keyed = (
            sentences.selectExpr(*key3, f"{sent_keys} AS _keys")
            .selectExpr(
                *key3,
                "explode(filter(flatten(transform(_keys, (k, i) -> array("
                "struct(i AS pos0, k AS key), struct(i AS pos0, CASE WHEN"
                " try_element_at(_keys, i + 2) IS NOT NULL THEN"
                " concat(k, ' ', try_element_at(_keys, i + 2)) END AS key)))),"
                " s -> s.key IS NOT NULL)) AS _s",
            )
            .selectExpr(*key3, "_s.pos0 AS pos0", "_s.key AS key")
        )
    else:
        # bigram_anchor with an empty pair-head set degenerates to the plain
        # unigram plan (no dim row keys on a pair, so no pair key can match)
        keyed = uni_keyed
    if firsts is not None:
        # an empty IN-set (no dictionary row survived prepare_dictionary) is
        # no SQL: `key IN ()` does not parse
        keyed = keyed.where(f"key IN ({', '.join(map(sql_str, firsts))})" if firsts else "false")
    anchors = keyed.selectExpr(*key3, "pos0", "key AS anchor_key")
    cand = anchors.join(d0, F.expr("anchor_key = first_tok"), "inner")

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
    if not precompute_offsets:
        # Each expression is one SQL string (one py4j round trip, where the
        # Column API costs one per call); the trees are the same.
        withs = cand.join(sentences.selectExpr(*key3, "sent_text"), key3, "inner")
        toks2 = "split(sent_text, ' ')"
        # anchored-prefix elision (see _atail in PreparedDictionary.build):
        # validate only the allowed forms AFTER the anchor-proven prefix —
        # n==1 candidates validate on the bounds check alone (forall over an
        # empty tail is TRUE)
        match = (
            f"n <= (size({toks2}) - pos0) AND coalesce(forall(zip_with("
            f"transform(slice({toks2}, pos0 + _v0 + 1, greatest(n - _v0, 0)), "
            f"t -> lower({token_core_sql('t')})), "
            "_atail, (w, al) -> array_contains(al, w)), x -> x), false)"
        )
        j = withs.selectExpr("*", f"slice({toks2}, pos0 + 1, n) AS _w").where(match)

        # offsets: start of token pos0 = sum(len+1) over preceding tokens —
        # an O(pos) fold over a slice, no offsets array materialized; the
        # window's char length is the same fold over its tokens.
        prefix_len = f"aggregate(slice({toks2}, 1, pos0), 0, (acc, t) -> acc + length(t) + 1)"
        win_prefix = "aggregate(slice(_w, 1, n - 1), 0, (acc, t) -> acc + length(t) + 1)"
        lead1 = token_lead_sql("element_at(_w, 1)")
        last_tok = "try_element_at(_w, n)"
        end = (
            f"{prefix_len} + {win_prefix} + {token_lead_sql(last_tok)}"
            f" + length({token_core_sql(last_tok)})"
        )
        # surface from the joined window tokens (single spaces by clean_text)
        spans = j.selectExpr(
            "*",
            f"CAST({prefix_len} + {lead1} AS INT) AS _start",
            f"CAST({end} AS INT) AS _end",
            "concat_ws(' ', _w) AS _joined",
            f"CAST({lead1} AS INT) AS _lead1",
        ).selectExpr(
            *key3,
            "_start AS start",
            "_end AS end",
            "term",
            "label",
            "ent_id",
            "substring(_joined, _lead1 + 1, _end - _start) AS surface",
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
    #   starts = offsets_sql(toks)             (char offsets, once/sentence)
    #   a      = validated span structs        (per candidate, CASE match)
    #   dd     = per-(start,end,label) min-ent_id dedup over a
    #            (_dedup_homonyms)
    #   kept   = longest-match containment filter over dd (_keep_longest)
    # Offsets are computed per MATCHED sentence only (sentences without
    # anchors never reach this join). The expression is SQL text, so the
    # span rules (_dedup_homonyms, _keep_longest, token_core_sql,
    # offsets_sql) have one form, shared with the fold path and
    # drop_contained; ``c`` is the candidate struct.
    # n == 1 fast path (round 7): single-token candidates — the bulk of
    # reference gazetteers AND half of this battery's dictionary — are fully
    # proven by the anchor join (empty validation tail, see _atail in
    # PreparedDictionary.build), and their window/surface algebra collapses:
    # win_prefix is 0, first and last token coincide, and
    # substring(tok, lead+1, len(core)) IS token_core_sql(tok). The generic
    # branch below evaluated two slice allocations, an empty zip_with/forall
    # chain, concat_ws and duplicate lead/core trims per candidate — all
    # interpreted HOF work — for a tautology. Field values are identical by
    # the identities above (pinned by the tagging oracles + fuzz suite).
    tok1 = "element_at(toks, c.pos0 + 1)"
    core1 = token_core_sql(tok1)
    start1 = (
        f"CAST(coalesce(try_element_at(starts, c.pos0 + 1), 0) + {token_lead_sql(tok1)} AS INT)"
    )
    single = (
        f"CASE WHEN 1 <= (size(toks) - c.pos0) THEN struct({start1} AS start,"
        f" CAST({start1} + length({core1}) AS INT) AS end, c.term AS term,"
        f" c.label AS label, c.ent_id AS ent_id, {core1} AS surface) END"
    )
    # whole-window lemma equality via preimage membership: each window key
    # BEYOND the anchored prefix (see _atail in PreparedDictionary.build)
    # must be one of the <=5 allowed surface forms of its position. The tail
    # window is sliced relative to the anchored prefix; zip_with pads a
    # short (out-of-bounds) tail with NULL keys -> NULL membership -> forall
    # not TRUE; the explicit bounds conjunct keeps the intent readable.
    # forall over an empty tail (n == v0) is TRUE — those candidates are
    # proven by the anchor join alone.
    window = "slice(toks, c.pos0 + 1, c.n)"
    wkeys = (
        "transform(slice(toks, c.pos0 + c._v0 + 1, greatest(c.n - c._v0, 0)),"
        f" t -> lower({token_core_sql('t')}))"
    )
    match = (
        f"c.n <= (size(toks) - c.pos0) AND coalesce(forall(zip_with({wkeys}, c._atail,"
        " (w, al) -> array_contains(al, w)), x -> x), false)"
    )
    # char anchors are lookups into the per-sentence offsets array
    # (try_element_at: Catalyst may evaluate projections under
    # reordered/pushed predicates, round-1 lesson)
    prefix_len = "coalesce(try_element_at(starts, c.pos0 + 1), 0)"
    win_prefix = f"(coalesce(try_element_at(starts, c.pos0 + c.n), 0) - {prefix_len})"
    last_tok = f"try_element_at({window}, c.n)"
    lead1 = token_lead_sql(f"element_at({window}, 1)")
    start = f"CAST({prefix_len} + {lead1} AS INT)"
    end = (
        f"CAST({prefix_len} + {win_prefix} + {token_lead_sql(last_tok)}"
        f" + length({token_core_sql(last_tok)}) AS INT)"
    )
    # CASE evaluates only the taken branch per candidate: n == 1 takes the
    # fast path above, n >= 2 the generic window validation
    span = (
        f"CASE WHEN c.n = 1 THEN {single} ELSE CASE WHEN {match} THEN struct({start} AS start,"
        f" {end} AS end, c.term AS term, c.label AS label, c.ent_id AS ent_id,"
        f" substr(concat_ws(' ', {window}), CAST({lead1} AS INT) + 1, {end} - {start})"
        " AS surface) END END"
    )
    valid = f"array_distinct(filter(transform(_cands, c -> {span}), s -> s IS NOT NULL))"
    kept = let_sql(valid, "a", let_sql(_dedup_homonyms("a"), "dd", _keep_longest("dd")))
    final = let_sql(
        "split(sent_text, ' ')", "toks", let_sql(offsets_sql("toks"), "starts", kept)
    )
    if grouped_output:
        # one row per matched sentence, span structs still in their array —
        # for consumers that would otherwise explode and immediately
        # re-collect_list per sentence (tag_mentions_grouped docstring)
        return withs.selectExpr(*key3, "sent_text", f"{final} AS spans")
    return withs.selectExpr(*key3, f"explode({final}) AS s").selectExpr(
        *key3, *(f"s.{c} AS {c}" for c in _SPAN_FIELDS)
    )


def _dedup_homonyms(arr: str) -> str:
    """SQL text: homonym-id dedup of the span-struct array ``arr``: per
    (start, end, label) keep the min ent_id — array-side, so downstream
    label resolution needs no span-level aggregate (its winner filter is
    per-label, so pre-picking the min ent within each label commutes with
    it). The parser balances an unparenthesized AND chain; the parentheses
    keep the left-deep tree."""
    return (
        f"filter({arr}, x -> NOT exists({arr}, y -> ((y.start = x.start AND y.end = x.end)"
        " AND y.label = x.label) AND y.ent_id < x.ent_id))"
    )


def _keep_longest(arr: str) -> str:
    """SQL text: longest-match preference (PhraseMatcher semantics) over the
    span-struct array ``arr``: drop spans strictly contained in a longer
    span of the same sentence."""
    return (
        f"filter({arr}, x -> NOT exists({arr}, y -> (y.start <= x.start AND x.end <= y.end)"
        " AND y.end - y.start > x.end - x.start))"
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
    key3 = ("conv_id", "turn_idx", "sent_idx")
    g = spans.groupBy(*key3).agg(
        F.expr(f"array_distinct(collect_list(struct({', '.join(_SPAN_FIELDS)})))").alias("arr")
    )
    # homonym-id dedup, then the longest-match containment drop. The deduped
    # array is inlined into both sides of the containment filter, not
    # let-bound: this is the KG path's plan shape.
    kept = _keep_longest(_dedup_homonyms("arr"))
    return g.selectExpr(*key3, f"explode({kept}) AS s").selectExpr(
        *key3, *(f"s.{c} AS {c}" for c in _SPAN_FIELDS)
    )
