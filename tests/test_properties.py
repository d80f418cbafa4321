"""Property-based tests (hypothesis) on the pure-Python trusted side.

These pin the INVARIANTS the Spark engine relies on — offset
reconstructibility, normalization idempotence, key stability — over
arbitrary generated text, complementing the example-based differential
suite. No Spark session: runs in milliseconds per example.
"""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from otar3088_spark import oracle

# text with plenty of the characters the cleaners care about
_texty = st.text(
    alphabet=st.sampled_from(
        list("abcdefgHIJ XYZ.!?,;:()[]{}\\'\"-0123456789\t\n") + ["e", "g", "."]
    ),
    max_size=200,
)


@given(_texty)
@settings(max_examples=300, deadline=None)
def test_clean_text_is_single_spaced_and_stable(s):
    import re

    c = oracle.clean_text(s)
    assert "  " not in c and c == c.strip()  # single-spaced, trimmed
    # idempotent unless the first pass EXPOSED a new latex group (nested
    # braces) — the reference's clean_text is the same single-pass re.sub
    # (split2sent_par.py:158-181), so engine/oracle agree on this behavior.
    if re.search(r"\{[^{}]*\}", c) is None:
        assert oracle.clean_text(c) == c


@given(_texty)
@settings(max_examples=300, deadline=None)
def test_sentence_offsets_reconstruct_clean_text(s):
    """The load-bearing invariant behind every char offset in the engine:
    sentences start at their recorded offsets in the cleaned text, and
    re-joining them with single spaces reproduces it exactly."""
    clean = oracle.clean_text(s)
    parts = oracle.sentences_of(clean)
    for start, sent in parts:
        assert clean[start : start + len(sent)] == sent
    assert " ".join(p for _, p in parts) == clean


@given(st.text(alphabet=st.sampled_from(list("abz'sx")), min_size=1, max_size=12))
@settings(max_examples=300, deadline=None)
def test_destem_only_strips_declared_suffixes(key):
    ds = oracle.destem(key)
    if ds is not None:
        assert key.startswith(ds)
        assert key[len(ds):] in ("s", "'s")
        assert len(ds) >= 1


@given(_texty)
@settings(max_examples=300, deadline=None)
def test_alias_key_is_stable_under_its_own_normalizations(term):
    """alias_key must be insensitive to exactly the variation it exists to
    erase: case, surrounding space, and (for already-keyed strings) a second
    application changes nothing."""
    k = oracle.alias_key(term)
    assert k == oracle.alias_key(term.upper()) == oracle.alias_key(f"  {term} ")
    assert oracle.alias_key(k) in (k, "")  # generic-word-only terms key to ""


# token domain: tokens are produced by single-space-splitting CLEANED text,
# so they never contain whitespace ($-before-\n regex semantics would differ
# between Python/Java and DuckDB's RE2 outside this domain)
_token = st.text(
    alphabet=st.sampled_from(list("abcZ9.,;:!?()[]{}'\"-")), max_size=16
)


@given(_token)
@settings(max_examples=200, deadline=None)
def test_token_core_bounds(tok):
    lead, core = oracle.token_core(tok)
    assert 0 <= lead <= len(tok)
    assert len(core) <= len(tok) - lead
    assert tok[lead : lead + len(core)] == core


def test_allowed_forms_is_exact_norm_preimage(spark):
    """Duality pinning the round-4 tagging design: the dim-side preimage
    enumeration (tagging._allowed_forms_sql) must be EXACTLY the preimage of
    the total lemma normalization (oracle.norm_key == text.norm_key_sql):

        k in allowed(t)  <=>  norm(k) == t

    for every candidate surface form k of every dictionary-ish token t.
    Checked exhaustively over a token universe covering the edge classes:
    override keys/values, s-ending values ('metastasis'), destem fixpoints,
    double-destemmables ('glass' -> 'glas' -> 'gla'), short tokens, override
    keys that are destems of dictionary tokens ('axes'/'axe'), and possessive
    forms. Also asserts the Spark norm_key_sql equals the pandas norm_key on
    the same universe (expression/oracle parity)."""
    from pyspark.sql import functions as F

    from otar3088_spark.functions.text import IRREGULAR_PLURALS, norm_key_sql
    from otar3088_spark.operators.tagging import _allowed_forms_sql

    ov = IRREGULAR_PLURALS
    base = [
        "mouse", "mice", "mices", "mouse's", "mouses",
        "metastasis", "metastases", "metastasiss", "metastasi",
        "axe", "axes", "axe's", "axis",
        "glass", "glas", "gla", "glass's",
        "cell", "cells", "cell's", "t", "ts", "t's", "ab", "abs",
        "nucleus", "nuclei", "nucleu", "basis", "basi", "bases",
        "foot", "feet", "foots", "model", "models", "model's",
        # apostrophe-final tokens: t+"s" ends in 's and destems to a
        # DIFFERENT token, so it must NOT be enumerated as a preimage of t
        "farmers'", "farmers's", "o'", "cells'",
    ]
    universe = sorted(set(base) | set(list(ov)[:20]) | set(list(ov.values())[:20]))
    targets = universe  # every token can appear as a normalized dict token

    df = spark.createDataFrame([(t,) for t in targets], ["t"])
    rows = df.select(
        "t",
        F.expr(_allowed_forms_sql("t", ov)).alias("allowed"),
        F.expr(norm_key_sql("t", ov)).alias("nm"),
    ).collect()
    allowed = {r["t"]: set(r["allowed"]) for r in rows}
    spark_norm = {r["t"]: r["nm"] for r in rows}

    # expression == oracle normalization
    for k in universe:
        assert spark_norm[k] == oracle.norm_key(k, ov), k

    # exact preimage duality over the full universe x targets cross product,
    # extended with every enumerated form (so generated forms like t+"'s"
    # are themselves round-tripped)
    ks = sorted(set(universe) | {f for s in allowed.values() for f in s})
    for t in targets:
        for k in ks:
            want = oracle.norm_key(k, ov) == t
            got = k in allowed[t]
            assert got == want, (k, t, sorted(allowed[t]))


def test_norm_key_expr_escapes_quoted_overrides(spark):
    """The JVM-parsed literal-array route (sql_str_array) must survive
    override entries containing single quotes and backslashes — the exact
    failure mode the round-3 ADVICE flagged for the DuckDB oracle's
    unescaped literals."""
    from pyspark.sql import functions as F

    from otar3088_spark.functions.text import norm_key_sql

    ov = {"o'briens": "o'brien", "x\\ys": "x\\y"}
    df = spark.createDataFrame(
        [("o'briens",), ("o'brien",), ("x\\ys",), ("plains",)], ["k"]
    )
    nm = F.expr(norm_key_sql("k", ov)).alias("nm")
    got = {r["k"]: r["nm"] for r in df.select("k", nm).collect()}
    assert got == {
        "o'briens": "o'brien",   # override key with quote
        "o'brien": "o'brien",    # override value fixpoint (quote)
        "x\\ys": "x\\y",         # backslash key
        "plains": "plain",       # plain destem unaffected
    }


def test_fuzz_spans_to_iob_matches_pure_python(spark):
    """Seeded fuzz differential for the round-6 let-binding rewrite of
    spans_to_iob: random sentences (with punctuation-wrapped and
    punctuation-only tokens) and random spans, checked against a simple
    pure-Python restatement of the semantics — core-extent coverage for
    core tokens, raw-extent for punctuation-only tokens, B- on the first
    covered token, min-label overlap break."""
    import random
    import re

    import pandas as pd
    from pyspark.sql import functions as F

    from otar3088_spark.operators.spans import spans_to_iob

    LEAD = re.compile(r"""^[(\["']+""")
    TRAIL = re.compile(r"""[)\].,;:!?"']+$""")

    def core(tok):
        return TRAIL.sub("", LEAD.sub("", tok))

    def lead(tok):
        return len(tok) - len(LEAD.sub("", tok))

    def ref_tags(text, spans):
        toks = text.split(" ")
        starts, pos = [], 0
        for t in toks:
            starts.append(pos)
            pos += len(t) + 1

        def covered(i, sp):
            s, e, _ = sp
            cl = len(core(toks[i]))
            if cl > 0:
                cs = starts[i] + lead(toks[i])
                return cs >= s and cs + cl <= e
            return starts[i] >= s and starts[i] + len(toks[i]) <= e

        tags = []
        for i in range(len(toks)):
            covering = [sp for sp in spans if covered(i, sp)]
            starting = [
                sp for sp in covering if i == 0 or not covered(i - 1, sp)
            ]
            if starting:
                tags.append("B-" + min(sp[2] for sp in starting))
            elif covering:
                tags.append("I-" + min(sp[2] for sp in covering))
            else:
                tags.append("O")
        return tags

    rng = random.Random(20260818)
    words = ["hela", "cell", "lines", "grew", "fast", "x", "(", ")", "''", "a,b"]
    wraps = ["{}", "({}", "{}.", '"{})', "{},"]
    rows, span_rows, expect = [], [], {}
    for si in range(120):
        toks = [
            rng.choice(wraps).format(rng.choice(words))
            for _ in range(rng.randint(1, 12))
        ]
        text = " ".join(toks)
        n_sp = rng.randint(0, 4)
        spans = []
        for _ in range(n_sp):
            a = rng.randint(0, max(len(text) - 1, 0))
            b = rng.randint(a + 1, len(text))
            spans.append((a, b, rng.choice(["Obj", "Sys", "Expr"])))
        rows.append((f"c{si}", 0, 0, text))
        for (a, b, lab) in spans:
            span_rows.append((f"c{si}", 0, 0, a, b, lab))
        expect[f"c{si}"] = (toks, ref_tags(text, spans))

    sents = spark.createDataFrame(
        pd.DataFrame(rows, columns=["conv_id", "turn_idx", "sent_idx", "sent_text"])
    )
    spans_df = spark.createDataFrame(
        pd.DataFrame(
            span_rows, columns=["conv_id", "turn_idx", "sent_idx", "start", "end", "label"]
        ).astype({"start": "int32", "end": "int32"})
    )
    got = {
        r["conv_id"]: (list(r["tokens"]), list(r["tags"]))
        for r in spans_to_iob(sents, spans_df).collect()
    }
    assert set(got) == set(expect)
    mismatches = {k: (got[k], expect[k]) for k in expect if got[k] != expect[k]}
    assert not mismatches, list(mismatches.items())[:3]
