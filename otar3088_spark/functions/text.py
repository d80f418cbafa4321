"""Text-normalization column expressions — the engine's F1/F2/F4 operators.

Everything here is a pure Catalyst expression (chained ``regexp_replace`` /
``split`` / ``aggregate``): whole-stage-codegen'd JVM execution, no Python,
fully pushdown-friendly. Semantics mirror the reference's cleaners:

* ``clean_text_sql``   — reference ``clean_text`` (split2sent_par.py:158-181,
  utils/common.py:67-90): strip latex ``{...}`` groups and ``\\cmd`` commands,
  strip citation tags ``[1, 23]``, collapse whitespace.
* ``is_header_sql``    — section-header row detection
  (article_normaliser.py:55-82): short known-header titles / PMC ids.
* ``sentence_split_sql`` + ``offsets_sql`` — sentencization with character
  offsets, done with a lookbehind split plus an ``aggregate`` cumulative-length
  scan. The reference used a spaCy sentencizer inside a process pool
  (split2sent_par.py:184-208); here sentence boundaries are ``[.!?]`` + space
  on *cleaned* text, which is deterministic, SQL-expressible, and oracle-
  checkable. No shuffle, no UDF: offsets are computed per-row inside the JVM.
* ``let_expr`` / ``let_sql`` — the lambda-variable let-binding every
  array-side kernel uses to evaluate a shared subresult once per row.

The ``*_sql`` helpers return SQL text instead of a Column (see the note
above ``sentence_split_sql``).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Order matters: latex groups first (may contain commands), then commands,
# then citation tags, then whitespace collapse.
_LATEX_GROUP = r"\{[^{}]*\}"
_LATEX_CMD = r"\\[a-zA-Z]+"
_CITATION = r"\[[0-9]+(\s*,\s*[0-9]+)*\]"

# Known header titles (article_normaliser.py:55-82 header list).
_HEADER_TITLES = (
    "abstract|introduction|methods|results|discussion|conclusion|background|"
    "acknowledgements|references|conflict of interest|supplementary material"
)


def clean_text_sql(col: str) -> str:
    """F1+F2: normalize raw turn text to single-spaced clean text (SQL text
    over the operand ``col``).

    Brace groups are stripped in ONE pass (innermost only): nested groups
    leave the outer braces behind. That is deliberate reference parity —
    the reference's own ``re.sub(r"\\{.*?\\}", ...)`` is also single-pass
    and leaks braces on nesting (split2sent_par.py:170); the pandas oracle
    mirrors this expression exactly."""
    c = col
    for pattern in (_LATEX_GROUP, _LATEX_CMD, _CITATION, r"\s+"):
        c = f"regexp_replace({c}, {sql_str(pattern)}, ' ')"
    return f"trim({c})"


# Elements the reference's filter_tags decomposes wholesale before text
# extraction (split2sent_par.py:65-102): formulas, tables, figures,
# acknowledgements, reference lists, cross-refs.
_XML_DROP_TAGS = (
    "inline-formula", "disp-formula", "table-wrap", "fig",
    "ack", "ref-list", "xref",
)


def strip_xml_sql(col: str) -> str:
    """S11/P12: full-text XML -> plain text as pure Catalyst expressions
    (SQL text over the operand ``col``).

    Mirrors the reference's BeautifulSoup ``filter_tags`` walk
    (split2sent_par.py:65-102): unwanted elements are decomposed wholesale
    (non-greedy tag-pair match — sufficient for JATS bodies, where these
    elements do not self-nest), remaining markup is unwrapped, then the
    standard ``clean_text`` normalization applies. No UDF: the whole XML →
    text path stays JVM-side and pushdown-friendly."""
    patterns = []
    for t in _XML_DROP_TAGS:
        # (?=[\s/>]) anchors the tag NAME: plain \b would also match
        # hyphen-extended JATS names ("<fig-count .../>" as a <fig> opener)
        # and non-greedily swallow everything up to the first real closer.
        #
        # Self-closing singletons ("<xref rid='r1'/>", common in real JATS)
        # are deleted FIRST: if they could match as pair openers, the
        # non-greedy .*? would swallow all legitimate prose between the
        # singleton and the next real closer. The pair pattern then requires
        # an opener not ending in "/>" ([^>]*[^/>] — empty for bare "<fig>").
        patterns.append(rf"<{t}(?=[\s/>])[^>]*/>")
        patterns.append(rf"(?s)<{t}(?=[\s>])(?:[^>]*[^/>])?>.*?</{t}>")
    patterns += [r"(?s)<!--.*?-->", r"<[^>]+>"]
    c = col
    for pattern in patterns:
        c = f"regexp_replace({c}, {sql_str(pattern)}, ' ')"
    return clean_text_sql(c)


def is_header_sql(col: str) -> str:
    """P10: true for section-header-like turns (drop them); SQL text over
    the operand ``col``.

    Mirrors detect_section_headers (article_normaliser.py:55-82): a known
    section title, or a short ``PMC\\d+`` id row.
    """
    low = f"lower(trim({col}))"
    return (
        f"{low} RLIKE {sql_str(f'^({_HEADER_TITLES})$')}"
        f" OR {low} RLIKE {sql_str('^pmc[0-9]+$')}"
    )


# Protected abbreviations: a period after one of these never ends a sentence.
# Mirrors the reference's scispacy sentencizer behavior on biomedical prose
# (split2sent_par.py:184-208 — spaCy's sentencizer does not split after
# "e.g.", "Fig. 2", "et al.", initials). Kept as a fixed-width-per-alternative
# negative-lookbehind chain so the same pattern compiles in Java (Catalyst
# split) and Python (oracle re.split).
SENTENCE_ABBREVS = (
    "e.g.", "i.e.", "et al.", "cf.", "vs.", "ca.", "approx.",
    "Fig.", "fig.", "Figs.", "Dr.", "No.", "Eq.", "Ref.",
)


def sentence_boundary_pattern() -> str:
    """The shared sentence-boundary regex: ``[.!?]`` + space, suppressed after
    a protected abbreviation or a single capital initial ("J. Smith").

    Known trade-off: the initials guard also suppresses genuine boundaries
    after single-capital biomedical nouns ("hepatitis B. Treatment began.")
    — a deterministic under-split both the engine and every oracle apply
    identically. Distinguishing initials from such nouns needs lookahead
    context a fixed-width lookbehind cannot express; spaCy's sentencizer
    makes the same class of trade-offs, just with different instances."""
    guards = "".join(
        r"(?<!\b" + a.replace(".", r"\.") + ")" for a in SENTENCE_ABBREVS
    )
    return r"(?<=[.!?])" + guards + r"(?<!\b[A-Z]\.) "


def sql_str(s: str) -> str:
    """One backslash-escaped SQL string literal."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def sql_str_array(strs) -> str:
    """SQL snippet ``array('a','b',...)`` with backslash-escaped string
    literals. Literal collections are built as ONE ``F.expr`` string parsed
    JVM-side: the Column-API routes (per-element ``F.lit``, ``isin``, even
    ``F.lit(list)``) each cost one py4j round-trip PER ELEMENT — measured
    ~2s of driver time per tagging query for the ~150-entry override map."""
    return f"array({', '.join(map(sql_str, strs))})"


# The helpers below return SQL TEXT over a SQL operand (a column name, a
# lambda variable or a whole expression), not Columns: array-side kernels
# embed them inside SQL lambdas, and a plan builder writes a whole
# expression as one string, which costs one py4j round trip where the
# Column API costs one per call. Each rule has this one form.


def sentence_split_sql(clean: str) -> str:
    """Split cleaned text ``clean`` into sentences on ``[.!?]`` + single
    space, with abbreviation protection (F9).

    Uses zero-width lookbehinds so the terminal punctuation stays attached —
    which keeps character offsets exactly reconstructible (parts re-join with
    single spaces to the original cleaned text).
    """
    return f"split({clean}, {sql_str(sentence_boundary_pattern())})"


def offsets_sql(parts: str) -> str:
    """Character start offsets for the array ``parts`` of parts joined by
    one space.

    ``aggregate`` cumulative scan: start_0 = 0, start_{i+1} = start_i +
    len(part_i) + 1. Pure per-row JVM computation — the Spark-first
    replacement for per-row Python offset loops (iob_converter.py:130-134).
    Returns ``array<int>`` aligned with ``parts``.
    """
    return (
        f"aggregate({parts}, struct(CAST(array() AS ARRAY<INT>) AS starts, 0 AS cur),"
        " (acc, x) -> struct(concat(acc.starts, array(acc.cur)) AS starts,"
        " acc.cur + length(x) + 1 AS cur), acc -> acc.starts)"
    )


def let_expr(val: Column, body) -> Column:
    """Let-binding: ``body(v)`` with ``v`` bound to ``val`` evaluated ONCE
    per row, as ``element_at(transform(array(val), body), 1)``.

    A lambda variable is the only hoist the optimizer cannot undo:
    ``withColumn`` aliases are re-inlined by CollapseProject into every use
    site, so a shared subresult would be recomputed per use (measured 450 s
    vs 16 s for spans_to_iob at sf0.1)."""
    return F.element_at(F.transform(F.array(val), body), 1)


def let_sql(val: str, var: str, body: str) -> str:
    """``let_expr`` as SQL text: ``body`` with the lambda variable ``var``
    bound to ``val``, evaluated once per row."""
    return f"element_at(transform(array({val}), {var} -> {body}), 1)"


# leading / trailing punctuation sets of the token-core strip; ltrim/rtrim
# with a trim-character SET are exact equivalents of the anchored char-class
# regexes ^[(\["']+ / [)\].,;:!?"']+$ (verified token-by-token over the
# corpus + edge tokens, round 7) at about half the per-token cost — the
# regex engine is the single hottest scalar on the 2.6M-token hot path.
_LEAD_PUNCT = """(["'"""
_TRAIL_PUNCT = """)].,;:!?"'"""


def token_core_sql(tok: str) -> str:
    """Strip leading ``(["'`` and trailing ``).,;:!?"'`` punctuation from the
    token ``tok`` — the 'core' used as the dictionary-match key.
    F4-adjacent. (SQL ``ltrim(a, b)`` trims the characters of ``a`` from
    ``b``; ``TRIM(LEADING ...)`` is unambiguous.)"""
    return (
        f"TRIM(TRAILING {sql_str(_TRAIL_PUNCT)} FROM "
        f"TRIM(LEADING {sql_str(_LEAD_PUNCT)} FROM {tok}))"
    )


def token_lead_sql(tok: str) -> str:
    """Number of leading punctuation chars ``token_core_sql`` strips from
    the token ``tok`` (needed to shift the char start offset onto the
    core)."""
    return f"(length({tok}) - length(TRIM(LEADING {sql_str(_LEAD_PUNCT)} FROM {tok})))"


def destem_sql(key: str) -> str:
    """Plural/possessive normalization of the lowercase key ``key``:
    ``term's``/``terms`` -> ``term``. Mirrors the reference boundary regex
    ``term(?:s|'s)?`` (labelstudio_e2e.py:171-178). NULL when no suffix
    applies."""
    return (
        f"CASE WHEN endswith({key}, '\\'s') AND length({key}) > 2"
        f" THEN substr({key}, 1, length({key}) - 2)"
        f" WHEN endswith({key}, 's') AND length({key}) > 3"
        f" THEN substr({key}, 1, length({key}) - 1)"
        " ELSE CAST(NULL AS STRING) END"
    )


# F8 default irregular-plural table lives in the pure-data module
# lemma_data.py (importable from the no-Spark oracle side); re-exported
# here for the expression-layer API.
from otar3088_spark.functions.lemma_data import IRREGULAR_PLURALS  # noqa: F401


def norm_key_sql(key: str, overrides: dict[str, str] | None = None) -> str:
    """SQL text: F8 TOTAL lemma normalization of the lowercase match key
    ``key`` (a SQL operand; never NULL):

    1. irregular override (``mice -> mouse``),
    2. override VALUES are fixed points — a known lemma is never re-stemmed
       (``metastasis`` must stay ``metastasis``, not destem to ``metastasi``),
    3. rule-based plural/possessive destem,
    4. identity.

    Applied to BOTH sides of gazetteer matching — every dictionary token and
    every corpus window token — so a window matches a term iff their
    normalized token sequences are equal position-by-position. That is the
    reference's whole-window lemma comparison (labelstudio_e2e.py:179-185
    ``lemmatize_term`` lemmatizes each dictionary-term token; :218-226
    compares ``window_lemmas == lemma_tokens``) restated over the engine's
    rule-based lemmatizer.

    SQL text, so a plan builder writes the whole tree as one string (one
    py4j round trip). The override map is embedded as a FLAT
    ``map_from_arrays`` literal looked up with ``try_element_at`` — two
    foldable array literals that constant-fold to one map literal — NOT as
    a nested ``CASE WHEN`` chain:
    a 153-entry chain is a depth-153 expression tree that costs seconds of
    driver-side Catalyst optimization per query (the same plan-size-not-
    compute failure mode as the round-2 ANN index). Even so, this expression
    is unsuitable for fused per-token hot paths (the conditional shape is
    excluded from codegen subexpression elimination — measured 15-40% on the
    tagging stage); tag_mentions evaluates it only on the broadcast
    dictionary dim, never per corpus token."""
    ds = f"coalesce({destem_sql(key)}, {key})"
    if not overrides:
        return ds
    items = sorted(overrides.items())
    ovmap = (
        f"map_from_arrays({sql_str_array(k for k, _ in items)}, "
        f"{sql_str_array(v for _, v in items)})"
    )
    vals_arr = sql_str_array(sorted(set(overrides.values())))
    return (
        f"coalesce(try_element_at({ovmap}, {key}), "
        f"CASE WHEN array_contains({vals_arr}, {key}) THEN {key} END, {ds})"
    )
