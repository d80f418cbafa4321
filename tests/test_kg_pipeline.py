"""Differential tests: Spark engine vs the pure-pandas oracle (SURVEY.md §5)."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from otar3088_spark import oracle
from otar3088_spark.operators.sentencize import normalize_turns, sentencize
from otar3088_spark.operators.tagging import prepare_dictionary, tag_mentions
from otar3088_spark.plans.kg_pipeline import build_kg, validate_alignment


def test_clean_text_expr_matches_oracle(spark):
    from otar3088_spark.functions.text import clean_text_sql

    samples = [
        "plain text here.",
        "{\\it latex} group removed.",
        "a \\textbf command [1, 23] citation  double  space.",
        "  lead/trail   ",
        "keep [brackets] without digits [a1].",
    ]
    df = spark.createDataFrame([(s,) for s in samples], ["text"])
    got = [r[0] for r in df.selectExpr(clean_text_sql("text")).collect()]
    want = [oracle.clean_text(s) for s in samples]
    assert got == want


def test_p0_sql_text_matches_column_forms(spark):
    """``is_header_sql``/``clean_text_sql`` give, row for row, what their
    earlier Column-API forms (restated here) gave on rows planted at the
    edges of each rule."""
    from otar3088_spark.functions.text import (
        _CITATION,
        _HEADER_TITLES,
        _LATEX_CMD,
        _LATEX_GROUP,
        clean_text_sql,
        is_header_sql,
    )

    def clean_text_column(col):
        for pattern in (_LATEX_GROUP, _LATEX_CMD, _CITATION, r"\s+"):
            col = F.regexp_replace(col, pattern, " ")
        return F.trim(col)

    def is_header_column(col):
        low = F.lower(F.trim(col))
        return low.rlike(rf"^({_HEADER_TITLES})$") | low.rlike(r"^pmc[0-9]+$")

    titles = _HEADER_TITLES.split("|")
    rows = [f"  {t.title()}  " for t in titles] + [t.upper() for t in titles] + [
        "PMC123", " pmc ", "pmc", "PMC12a", "abstracts", "the abstract", "Abstract\t", "",
        "{\\it a {nested} group} stays \\textbf{bold}",
        "\\alpha\\beta cmds [1, 2] and [3] and [4 ,5] but [a1] [1,] []",
        "runs \t of\n\n whitespace   here ",
        "Results. {\\em x} HeLa [12,  13] cells",
    ]
    df = spark.createDataFrame([(i, r) for i, r in enumerate(rows)], "i INT, text STRING")
    got = df.selectExpr(
        "i", f"{is_header_sql('text')} AS h", f"{clean_text_sql('text')} AS c"
    ).orderBy("i").collect()
    want = df.select(
        "i", is_header_column(F.col("text")).alias("h"), clean_text_column(F.col("text")).alias("c")
    ).orderBy("i").collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
    # the planted rows reach both outcomes of the header rule
    assert {r.h for r in got} == {True, False}
    assert sum(r.h for r in got) == 2 * len(titles) + 1


def test_sentencize_offsets_are_exact(spark, transcripts_df):
    sents = sentencize(normalize_turns(transcripts_df))
    # invariant: sentence text re-extractable from the cleaned turn via offset
    norm = normalize_turns(transcripts_df).select("conv_id", "turn_idx", "clean_text")
    j = sents.join(norm, ["conv_id", "turn_idx"])
    bad = j.filter(
        F.expr("substring(clean_text, char_start + 1, length(sent_text))") != F.col("sent_text")
    )
    assert bad.count() == 0


def test_per_turn_text_equality(spark, transcripts_df, transcripts_pd):
    """BASELINE.json per-row invariant: per-turn cleaned text equality under
    stable (conv_id, turn_idx) ordering vs the oracle."""
    norm = (
        normalize_turns(transcripts_df)
        .select("conv_id", "turn_idx", "clean_text")
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    t = transcripts_pd.dropna(subset=["text", "conv_id"]).drop_duplicates(
        subset=["conv_id", "turn_idx"]
    )
    t = t[~t["text"].str.strip().str.lower().str.match(oracle.HEADER_RE)]
    want = (
        t.assign(clean_text=t["text"].map(oracle.clean_text))[
            ["conv_id", "turn_idx", "clean_text"]
        ]
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    want["turn_idx"] = want["turn_idx"].astype("int32")
    pd.testing.assert_frame_equal(norm, want)


def _span_set(df: pd.DataFrame) -> set:
    return set(
        df[["conv_id", "turn_idx", "sent_idx", "start", "end", "label", "ent_id"]]
        .astype({"turn_idx": int, "sent_idx": int, "start": int, "end": int})
        .itertuples(index=False, name=None)
    )


def test_tagging_matches_oracle(spark, transcripts_df, dictionary_df, transcripts_pd, dictionary_pd):
    # compare IDENTICAL configurations: oracle.extract_spans defaults to
    # build_kg's IRREGULAR_PLURALS override map, tag_mentions to {} — the
    # synth fixture happens not to distinguish them, but the fuzz corpus
    # does (test_fuzz_tagging_all_paths_match_oracle), so align explicitly
    from otar3088_spark.functions.lemma_data import IRREGULAR_PLURALS

    sents = sentencize(normalize_turns(transcripts_df))
    spans = tag_mentions(
        sents, prepare_dictionary(dictionary_df), lemma_overrides=IRREGULAR_PLURALS
    ).toPandas()
    want = oracle.extract_spans(transcripts_pd, dictionary_pd)
    assert len(want) > 100, "fixture must produce a meaningful number of mentions"
    assert _span_set(spans) == _span_set(want)


def test_alignment_invariant_empty(spark, transcripts_df, dictionary_df):
    sents = sentencize(normalize_turns(transcripts_df))
    spans = tag_mentions(sents, prepare_dictionary(dictionary_df))
    assert validate_alignment(spans, sents).count() == 0


def test_triples_pr_against_golden(
    spark, transcripts_df, dictionary_df, events_df, transcripts_pd, dictionary_pd, events_pd
):
    res = build_kg(transcripts_df, dictionary_df, events=events_df)
    pred = set(
        map(tuple, res.triples.select("subj", "pred", "obj").distinct().collect())
    )
    gold_df = oracle.golden_triples(transcripts_pd, dictionary_pd, events_pd)
    gold = set(map(tuple, gold_df.itertuples(index=False, name=None)))
    p, r = oracle.precision_recall(pred, gold)
    assert p >= 0.95 and r >= 0.95, (
        f"P={p:.4f} R={r:.4f}; pred-only={sorted(pred - gold)[:5]}, "
        f"gold-only={sorted(gold - pred)[:5]}"
    )
    # deterministic engine vs deterministic oracle should in fact be exact
    assert p == 1.0 and r == 1.0


def test_triples_pr_with_model_branch(
    spark, transcripts_df, dictionary_df, transcripts_pd, dictionary_pd
):
    """North-star merged path: gazetteer + transformer-scored spans. The
    stand-in scorer + alias-key linking must (a) stay at exact golden parity
    and (b) strictly ADD mentions the gazetteer cannot match (hyphenated
    multi-word variants in the fixture)."""
    res = build_kg(transcripts_df, dictionary_df, use_model=True)
    pred = set(
        map(tuple, res.triples.select("subj", "pred", "obj").distinct().collect())
    )
    gold_df = oracle.golden_triples(transcripts_pd, dictionary_pd, with_model=True)
    gold = set(map(tuple, gold_df.itertuples(index=False, name=None)))
    p, r = oracle.precision_recall(pred, gold)
    assert p == 1.0 and r == 1.0, (
        f"P={p:.4f} R={r:.4f}; pred-only={sorted(pred - gold)[:5]}, "
        f"gold-only={sorted(gold - pred)[:5]}"
    )


def test_model_branch_adds_linked_mentions(
    spark, transcripts_df, dictionary_df, transcripts_pd, dictionary_pd
):
    """With a permissive scorer (every token >= 4 chars is a candidate
    mention), the model branch must link hyphenated dictionary variants the
    gazetteer misses — strictly more triples than the dictionary-only path,
    still at exact parity with the equally-permissive oracle."""
    import pandas as _pd

    from tests.scorer_factories import permissive, spec

    perm_scorer = permissive()

    base = build_kg(transcripts_df, dictionary_df)
    merged = build_kg(transcripts_df, dictionary_df, model_scorer=spec("permissive"))
    base_t = set(map(tuple, base.triples.select("subj", "pred", "obj").distinct().collect()))
    merged_t = set(map(tuple, merged.triples.select("subj", "pred", "obj").distinct().collect()))
    assert base_t < merged_t, "model branch should strictly add linked mentions"

    # oracle with the same permissive extents
    import otar3088_spark.oracle as o

    orig = o.model_spans_of
    try:
        o.model_spans_of = lambda sent: [
            (s, e) for (s, e, _l, _sc) in perm_scorer(_pd.Series([sent]))[0]
        ]
        gold_df = o.golden_triples(transcripts_pd, dictionary_pd, with_model=True)
    finally:
        o.model_spans_of = orig
    gold = set(map(tuple, gold_df.itertuples(index=False, name=None)))
    p, r = oracle.precision_recall(merged_t, gold)
    assert p == 1.0 and r == 1.0, (
        f"P={p:.4f} R={r:.4f}; pred-only={sorted(merged_t - gold)[:5]}, "
        f"gold-only={sorted(gold - merged_t)[:5]}"
    )


def test_graph_tables_consistent(spark, transcripts_df, dictionary_df):
    res = build_kg(transcripts_df, dictionary_df)
    n_nodes = res.nodes.count()
    n_edges = res.edges.count()
    assert n_nodes > 0 and n_edges > 0
    # every edge endpoint is a node
    missing = (
        res.edges.select(F.col("src").alias("id"))
        .union(res.edges.select(F.col("dst").alias("id")))
        .distinct()
        .join(res.nodes, "id", "left_anti")
    )
    assert missing.count() == 0


def test_clusters_match_union_find(spark, dictionary_df, dictionary_pd):
    from otar3088_spark.operators.canonicalize import entity_clusters
    from otar3088_spark.operators.tagging import prepare_dictionary as prep

    got = {
        (r.ent_id, r.cluster_id)
        for r in entity_clusters(prep(dictionary_df)).collect()
    }
    want_map = oracle.entity_clusters(dictionary_pd)
    # engine clusters only over the prepared (filtered) dictionary
    kept = {r.ent_id for r in prep(dictionary_df).select("ent_id").distinct().collect()}
    want = {(e, c) for e, c in want_map.items() if e in kept}
    assert got == want


def test_build_kg_staging_resumes_with_lineage(spark, transcripts_df, dictionary_df, tmp_path):
    """The staging boundary is a SnapshotStore stage: manifest with
    per-partition lineage commits, and a re-run over the same staging_dir
    resumes from the committed span snapshot (identical triples)."""
    import json

    import os

    staging = str(tmp_path / "stage")
    r1 = build_kg(transcripts_df, dictionary_df, staging_dir=staging)
    t1 = {tuple(r) for r in r1.triples.select("subj", "pred", "obj").distinct().collect()}
    stages = [d for d in os.listdir(staging) if d.startswith("spans-")]
    assert len(stages) == 1, "one config-fingerprinted span stage expected"
    man = json.load(open(f"{staging}/{stages[0]}/_MANIFEST.json"))
    assert man["stage"] == stages[0] and man["total_rows"] > 100
    assert sum(p["rows"] for p in man["partition_lineage"]) == man["total_rows"]

    r2 = build_kg(transcripts_df, dictionary_df, staging_dir=staging)  # resume
    t2 = {tuple(r) for r in r2.triples.select("subj", "pred", "obj").distinct().collect()}
    assert t1 == t2

    # a DIFFERENT config (model branch on) must not serve the stale snapshot:
    # it gets its own fingerprinted stage instead of resuming from the old one
    build_kg(transcripts_df, dictionary_df, staging_dir=staging, use_model=True).triples.count()
    stages2 = {d for d in os.listdir(staging) if d.startswith("spans-")}
    assert len(stages2) == 2 and stages[0] in stages2


def test_irregular_plural_corpus_parity(spark, dictionary_df, dictionary_pd):
    """F8 depth: the default IRREGULAR_PLURALS table must link irregular
    plural mentions ('bacteria' -> dictionary 'bacterium', last-token
    'ganglia' -> 'ganglion') — at exact triple parity with the pandas oracle
    running the same override map. Rule-based destem alone cannot match any
    of these ('bacteria' destems to 'bacteri')."""
    from otar3088_spark.functions.text import IRREGULAR_PLURALS

    extra = pd.DataFrame(
        [
            ("ENT_0101", "bacterium", "CellType", "C101"),
            ("ENT_0102", "dorsal ganglion", "Anatomy", "C102"),
            ("ENT_0103", "metastasis", "AdverseEvent", "C103"),
        ],
        columns=["ent_id", "term", "label", "canonical_id"],
    )
    dict_pd = pd.concat([dictionary_pd, extra], ignore_index=True)
    dict_df = spark.createDataFrame(dict_pd)
    corpus_pd = pd.DataFrame(
        [
            ("irr_0001", 0, "user",
             "the bacteria were cultured and dorsal ganglia were imaged.",
             None, pd.Timestamp("2024-03-01")),
            ("irr_0001", 1, "assistant",
             "we observed metastases in the liver and feet were swollen.",
             None, pd.Timestamp("2024-03-01 00:01:00")),
            ("irr_0002", 0, "user",
             "Bacteria's growth slowed. paracetamol was given for headaches.",
             None, pd.Timestamp("2024-03-02")),
        ],
        columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"],
    )
    corpus_pd["turn_idx"] = corpus_pd["turn_idx"].astype("int32")
    corpus_df = spark.createDataFrame(corpus_pd)

    res = build_kg(corpus_df, dict_df)  # default lemma_overrides = table
    pred = set(map(tuple, res.triples.select("subj", "pred", "obj").distinct().collect()))
    gold_df = oracle.golden_triples(
        corpus_pd, dict_pd, lemma_overrides=IRREGULAR_PLURALS
    )
    gold = set(map(tuple, gold_df.itertuples(index=False, name=None)))
    p, r = oracle.precision_recall(pred, gold)
    assert p == 1.0 and r == 1.0, (
        f"P={p:.4f} R={r:.4f}; pred-only={sorted(pred - gold)[:5]}, "
        f"gold-only={sorted(gold - pred)[:5]}"
    )
    # the irregular links actually fired (destem alone finds none of these)
    assert ("ENT_0101", "is_a", "CellType") in pred
    assert ("ENT_0102", "is_a", "Anatomy") in pred
    assert ("ENT_0103", "is_a", "AdverseEvent") in pred
    # and with overrides disabled ({}) they disappear
    base = build_kg(corpus_df, dict_df, lemma_overrides={})
    base_t = set(map(tuple, base.triples.select("subj", "pred", "obj").distinct().collect()))
    assert ("ENT_0101", "is_a", "CellType") not in base_t
    assert ("ENT_0102", "is_a", "Anatomy") not in base_t


def test_whole_window_lemma_matching(spark):
    """Round-4 F8/J4 depth: the reference lemmatizes EVERY token of both the
    dictionary term and the sliding window and compares position-by-position
    (labelstudio_e2e.py:179-185 lemmatize_term, :218-226 window_lemmas ==
    lemma_tokens) — so inflection on NON-head tokens must link:
    "mice models" -> "mouse model", "dorsal roots ganglia" ->
    "dorsal root ganglion". Also pins the value-fixpoint tier ("nucleus"
    never destems to "nucleu") and override short-circuit ("axes" must NOT
    match dictionary "axe" via destem, while possessive "axe's" must)."""
    from otar3088_spark.functions.text import IRREGULAR_PLURALS

    dict_pd = pd.DataFrame(
        [
            ("E1", "mouse model", "CellType", "C1"),
            ("E2", "nucleus accumbens", "Anatomy", "C2"),
            ("E3", "foot ulcer", "AdverseEvent", "C3"),
            ("E4", "metastasis", "AdverseEvent", "C4"),
            ("E5", "axe", "Drug", "C5"),
            ("E6", "dorsal root ganglion", "Anatomy", "C6"),
        ],
        columns=["ent_id", "term", "label", "canonical_id"],
    )
    sents_pd = pd.DataFrame(
        [
            ("c1", 0, 0, "the mice models were treated with axes today."),
            ("c1", 0, 1, "nuclei accumbens and nucleus accumbens were imaged."),
            ("c1", 0, 2, "feet ulcers and foot ulcers and metastases appeared."),
            ("c1", 0, 3, "dorsal roots ganglia were dissected."),
            ("c1", 0, 4, "an axe and two axes and the axe's handle."),
        ],
        columns=["conv_id", "turn_idx", "sent_idx", "sent_text"],
    )
    spans = tag_mentions(
        spark.createDataFrame(sents_pd),
        prepare_dictionary(spark.createDataFrame(dict_pd)),
        lemma_overrides=IRREGULAR_PLURALS,
    )
    got = sorted(
        tuple(r)
        for r in spans.select("sent_idx", "surface", "term", "ent_id").collect()
    )
    # pandas-oracle mirror of the same configuration
    dn = oracle.prepare_dictionary(dict_pd)
    dn["nd_tokens"] = dn["term_tokens"].map(
        lambda ts: tuple(oracle.norm_key(t, IRREGULAR_PLURALS) for t in ts)
    )
    dr = list(dn[["ent_id", "label", "term", "nd_tokens"]].itertuples(index=False, name=None))
    want = sorted(
        (si, s["surface"], s["term"], s["ent_id"])
        for (_, _, si, txt) in sents_pd.itertuples(index=False)
        for s in oracle._match_sentence(txt, dr, IRREGULAR_PLURALS)
    )
    assert got == want
    surfaces = {(si, surf) for (si, surf, _, _) in got}
    # inflected-non-head links fired
    assert (0, "mice models") in surfaces
    assert (2, "feet ulcers") in surfaces
    assert (3, "dorsal roots ganglia") in surfaces
    # value fixpoint: both the irregular plural and the lemma form link
    assert (1, "nuclei accumbens") in surfaces and (1, "nucleus accumbens") in surfaces
    # override short-circuit: "axes" never reaches dictionary "axe" via destem
    assert not any(surf in ("axes", "axes today") for (_, surf) in surfaces)
    assert (4, "axe's") in surfaces and (4, "axe") in surfaces


def test_recorded_hf_ner_output_links(spark):
    """Round-4 M1 depth: drive the production model seam with RECORDED
    HF-pipeline-shaped output (tests/fixtures/hf_ner_output.json — entity
    dicts with aggregation_strategy="simple" character offsets and softmax
    confidences; reference lineage model_tests.ipynb cell 6 /
    trial_to_papers.ipynb cells 11-12) instead of the md5 stand-in. The
    replay scorer plugs into model_mentions via ``scorer=``; the linked and
    merged outputs are asserted against hand-computed expectations:
    rank-0 exact/destem links, rank-1 alias links (hyphenated "HEK-293" ->
    dictionary "HEK 293", "HeLa" -> "hela cell"), homonym fan-out (one row
    per dictionary label), unlinkable model entities dropped, and dictionary
    precedence on exact span collisions."""
    import json
    from pathlib import Path

    from otar3088_spark.operators.inference import (
        link_model_mentions,
        merge_spans_with_model,
        model_mentions,
    )
    from tests.scorer_factories import spec

    fx = json.loads(
        (Path(__file__).parent / "fixtures" / "hf_ner_output.json").read_text()
    )
    by_text = {
        s["text"]: [
            (e["start"], e["end"], e["entity_group"], e["score"])
            for e in s["entities"]
        ]
        for s in fx["sentences"]
    }

    sents_pd = pd.DataFrame(
        [("c0", 0, s["sent_idx"], s["text"]) for s in fx["sentences"]],
        columns=["conv_id", "turn_idx", "sent_idx", "sent_text"],
    )
    sents = spark.createDataFrame(sents_pd)
    dict_pd = pd.DataFrame(
        [
            ("L1", "aspirin", "Drug", "C1"),
            ("L2", "HEK 293", "CellLine", "C2"),
            ("L3", "paracetamol", "Drug", "C3"),
            ("L4", "hela cell", "CellLine", "C4"),
            ("L5", "headache", "AdverseEvent", "C5"),
            ("L6", "nausea", "AdverseEvent", "C6"),
            ("L7", "acetylsalicylic acid", "Drug", "C7"),
            ("L8", "jurkat", "CellLine", "C8"),
            ("L9", "jurkat", "CellType", "C8"),
            ("L10", "bone marrow stromal cell", "CellType", "C9"),
            ("L11", "mouse model", "CellType", "C10"),
        ],
        columns=["ent_id", "term", "label", "canonical_id"],
    )
    d = prepare_dictionary(spark.createDataFrame(dict_pd))

    ms = model_mentions(sents, scorer=spec("replay", spans=by_text))
    got_raw = {
        (r["sent_idx"], r["start"], r["end"], r["surface"], r["label"], r["score"])
        for r in ms.collect()
    }
    want_raw = {
        (s["sent_idx"], e["start"], e["end"], e["word"], e["entity_group"], e["score"])
        for s in fx["sentences"]
        for e in s["entities"]
    }
    assert got_raw == want_raw  # seam reproduces the recorded output exactly

    def span(si, word):
        (e,) = [
            e for e in fx["sentences"][si]["entities"] if e["word"] == word
        ]
        return (si, e["start"], e["end"])

    from otar3088_spark.functions.text import IRREGULAR_PLURALS

    linked = link_model_mentions(ms, d, lemma_overrides=IRREGULAR_PLURALS)
    got = {
        (r["sent_idx"], r["start"], r["end"], r["term"], r["label"], r["ent_id"], r["surface"])
        for r in linked.collect()
    }
    want = {
        (*span(0, "aspirin"), "aspirin", "Drug", "L1", "aspirin"),
        (*span(0, "headaches"), "headache", "AdverseEvent", "L5", "headaches"),
        (*span(1, "HEK-293"), "HEK 293", "CellLine", "L2", "HEK-293"),
        (*span(2, "HeLa"), "hela cell", "CellLine", "L4", "HeLa"),
        (*span(2, "paracetamol"), "paracetamol", "Drug", "L3", "paracetamol"),
        (*span(3, "acetylsalicylic-acid"), "acetylsalicylic acid", "Drug", "L7",
         "acetylsalicylic-acid"),
        (*span(5, "nausea"), "nausea", "AdverseEvent", "L6", "nausea"),
        (*span(6, "aspirin"), "aspirin", "Drug", "L1", "aspirin"),
        (*span(6, "jurkat"), "jurkat", "CellLine", "L8", "jurkat"),
        (*span(6, "jurkat"), "jurkat", "CellType", "L9", "jurkat"),
        # whole-term lemma key: BOTH tokens inflected ("mice models" ->
        # "mouse model"), reachable only through the round-4 linker semantics
        (*span(7, "mice models"), "mouse model", "CellType", "L11", "mice models"),
        (*span(7, "headaches"), "headache", "AdverseEvent", "L5", "headaches"),
    }
    assert got == want  # ibuprofen / vomiting / "bone marrow" correctly unlinked

    gaz = tag_mentions(sents, d, lemma_overrides=IRREGULAR_PLURALS)
    merged = merge_spans_with_model(gaz, linked)
    mset = {
        (r["sent_idx"], r["start"], r["end"], r["term"], r["label"], r["ent_id"])
        for r in merged.collect()
    }
    gset = {
        (r["sent_idx"], r["start"], r["end"], r["term"], r["label"], r["ent_id"])
        for r in gaz.collect()
    }
    # model-only additions: spans the gazetteer cannot reach (hyphenated /
    # partial-term surfaces); everything colliding keeps the dictionary row
    model_only = {
        (*span(1, "HEK-293"), "HEK 293", "CellLine", "L2"),
        (*span(2, "HeLa"), "hela cell", "CellLine", "L4"),
        (*span(3, "acetylsalicylic-acid"), "acetylsalicylic acid", "Drug", "L7"),
    }
    assert mset == gset | model_only
    # dict precedence produced no duplicate rows on colliding spans
    assert merged.count() == len(mset)


def test_fuzz_corpus_full_parity(spark, dictionary_df, dictionary_pd):
    """Seeded adversarial fuzz corpus (punctuation-wrapped terms, hyphen/
    plural/case variants, abbreviation traps, noise tokens): per-turn text
    equality, sentence offsets, tagging span set, and triple P/R must all
    stay exact vs the pandas oracle."""
    from otar3088_spark.synth import adversarial_transcripts_pandas

    fuzz_pd = adversarial_transcripts_pandas(n_turns=300)
    fuzz_df = spark.createDataFrame(fuzz_pd)

    sents = sentencize(normalize_turns(fuzz_df))
    spans = tag_mentions(sents, prepare_dictionary(dictionary_df))
    # alignment invariant holds on the fuzz corpus
    assert validate_alignment(spans, sents).count() == 0
    # exact span-set parity
    want = oracle.extract_spans(fuzz_pd, dictionary_pd)
    assert len(want) > 50
    assert _span_set(spans.toPandas()) == _span_set(want)
    # end-to-end triples, merged model path included
    res = build_kg(fuzz_df, dictionary_df, use_model=True)
    pred = set(map(tuple, res.triples.select("subj", "pred", "obj").distinct().collect()))
    gold_df = oracle.golden_triples(fuzz_pd, dictionary_pd, with_model=True)
    gold = set(map(tuple, gold_df.itertuples(index=False, name=None)))
    p, r = oracle.precision_recall(pred, gold)
    assert p == 1.0 and r == 1.0, (
        f"P={p:.4f} R={r:.4f}; pred-only={sorted(pred - gold)[:5]}, "
        f"gold-only={sorted(gold - pred)[:5]}"
    )


def test_write_iceberg_seam(spark):
    """The production-sink seam (BENCH/ICEBERG_READINESS.md): without a
    configured Iceberg catalog the adapter must refuse loudly and point at
    SnapshotStore — never fall through to a silent no-op — and must reject
    unknown modes before touching the writer."""
    import pytest

    from otar3088_spark.io.checkpoint import (
        iceberg_catalog_configured,
        write_iceberg,
    )

    df = spark.range(3).selectExpr("cast(id as string) as conv_id", "id as turn_idx")
    assert not iceberg_catalog_configured(spark)
    with pytest.raises(NotImplementedError, match="SnapshotStore"):
        write_iceberg(df, "lake.kg.spans")
    with pytest.raises(ValueError, match="unknown mode"):
        write_iceberg(df, "lake.kg.spans", mode="definitely_not_a_mode")

    # a catalog SUB-key whose value mentions iceberg is NOT a catalog impl
    spark.conf.set("spark.sql.catalog.lake.warehouse", "s3://bkt/iceberg-wh")
    try:
        assert not iceberg_catalog_configured(spark)
        # spark.sql.catalog.* is runtime-settable: a catalog registered on
        # the live session (RuntimeConfig, invisible to the launch SparkConf)
        # must be detected
        spark.conf.set(
            "spark.sql.catalog.lake", "org.apache.iceberg.spark.SparkCatalog"
        )
        assert iceberg_catalog_configured(spark)
    finally:
        spark.conf.unset("spark.sql.catalog.lake")
        spark.conf.unset("spark.sql.catalog.lake.warehouse")
    assert not iceberg_catalog_configured(spark)


def _persistent_rdd_ids(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def test_prepared_dictionary_value_semantics(spark, tmp_path, job_count):
    """The dictionary side is one explicit value: built once, reused by
    every tagging call at no Spark job, bound to the override map it was
    built with, and never stale — a re-read dictionary is a new value that
    sees the new rows."""
    from otar3088_spark.operators.tagging import PreparedDictionary

    dict_rows = [("T1", "mouse model", "Obj"), ("T2", "spark", "Sys")]
    cols = ["ent_id", "term", "label"]
    sents = spark.createDataFrame(
        [("c0", 0, 0, "the mice models run on spark today")],
        ["conv_id", "turn_idx", "sent_idx", "sent_text"],
    )
    path = str(tmp_path / "dict")
    spark.createDataFrame(dict_rows, cols).write.parquet(path)

    ov = {"mice": "mouse"}
    v1 = PreparedDictionary.build(prepare_dictionary(spark.read.parquet(path)), ov)
    tagged, jobs = job_count(lambda: tag_mentions(sents, v1))
    assert jobs == 0  # a built value costs no plan-time job
    r1 = {tuple(r) for r in tagged.collect()}
    r2 = {tuple(r) for r in tag_mentions(sents, v1).collect()}
    assert r1 == r2 and "mouse model" in {t[5] for t in r1}

    # the value is bound to its overrides: a different map is a different
    # value (no false sharing), and contradicting the value is an error
    v0 = PreparedDictionary.build(prepare_dictionary(spark.read.parquet(path)), {})
    assert "mouse model" not in {r["term"] for r in tag_mentions(sents, v0).collect()}
    try:
        tag_mentions(sents, v1, lemma_overrides={})
        raise AssertionError("contradicting overrides were accepted")
    except ValueError:
        pass

    # a re-read of changed source data is a new value that sees the new row
    spark.createDataFrame(dict_rows + [("T3", "today", "Time")], cols).write.mode(
        "overwrite"
    ).parquet(path)
    v2 = PreparedDictionary.build(prepare_dictionary(spark.read.parquet(path)), ov)
    r3 = {tuple(r) for r in tag_mentions(sents, v2).collect()}
    assert r3 - r1 and "today" in {t[5] for t in r3}
    assert {r["ent_id"] for r in v2.clusters.collect()} == {"T1", "T2", "T3"}


def test_dictionary_preparing_to_zero_rows_tags_nothing(spark, transcripts_df):
    """A dictionary that ``prepare_dictionary`` filters to zero rows (terms
    of two chars or fewer, red-listed Anatomy terms) has an empty anchor
    IN-set; tagging and the whole build return empty outputs."""
    dictionary = spark.createDataFrame(
        [("E1", "ab", "CellType"), ("E2", "osteogenesis", "Anatomy")],
        ["ent_id", "term", "label"],
    )
    sents = sentencize(normalize_turns(transcripts_df))
    assert tag_mentions(sents, prepare_dictionary(dictionary)).count() == 0
    for use_model in (False, True):
        res = build_kg(transcripts_df, dictionary, use_model=use_model)
        for out in (res.spans, res.triples, res.nodes, res.edges):
            assert out.count() == 0


def test_build_kg_plan_time_job_budget(spark, transcripts_df, dictionary_pd, job_count):
    """Without staging, every Spark job build_kg runs is plan-time
    dictionary work — one collect of the prepared dictionary. The
    dictionary is a fresh DataFrame, as in a one-shot kg_submit."""
    dictionary = spark.createDataFrame(dictionary_pd)
    _, jobs = job_count(lambda: build_kg(transcripts_df, dictionary))
    assert jobs <= 3, jobs


def test_build_kg_py4j_round_trip_budget(spark, transcripts_df, dictionary_pd, py4j_calls):
    """Building a KG's plans is driver work over py4j: every Column and
    DataFrame call is a round trip to the JVM. The engine session turns off
    PySpark's per-call call-site capture, which adds several round trips to
    each call and imports IPython into the driver, and the plan builders
    write their expressions as SQL text. Bounds have margin for py4j's
    garbage-collection messages, which arrive when Python frees objects."""
    import sys

    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    had_ipython = "IPython" in sys.modules
    calls = {}
    for use_model in (False, True):
        dictionary = spark.createDataFrame(dictionary_pd)
        _, calls[use_model] = py4j_calls(
            lambda: build_kg(transcripts_df, dictionary, use_model=use_model)
        )
    # measured 0.8-1.0k and 1.3-1.5k here; 6.5k and 10.1k with call-site capture on,
    # 3.0-3.3k and 5.3-5.4k with it off but the builders on the Column API
    assert calls[False] <= 1400 and calls[True] <= 2000, calls
    # sys.modules is shared by the whole test process: check that these
    # builds did not add IPython, not that nothing ever imported it
    assert ("IPython" in sys.modules) == had_ipython


def test_persist_spans_is_per_build(spark, transcripts_pd, dictionary_pd, tmp_path, job_count):
    """``persist_spans`` materializes the spans for its own build only. A
    second build over the same parquet inputs, read afresh in the same
    session, computes its spans again: it runs as many Spark jobs as the
    first. A cache found by plan match would serve it the first build's
    spans, so a best-of-N over repeated builds would time a cache read."""
    spark.createDataFrame(transcripts_pd).write.parquet(str(tmp_path / "t"))
    spark.createDataFrame(dictionary_pd).write.parquet(str(tmp_path / "d"))

    def build():
        res = build_kg(
            spark.read.parquet(str(tmp_path / "t")),
            spark.read.parquet(str(tmp_path / "d")),
            persist_spans=True,
        )
        return {tuple(r) for r in res.triples.collect()}

    first, jobs_first = job_count(build)
    second, jobs_second = job_count(build)
    assert second == first and len(first) > 100
    assert jobs_second == jobs_first, (jobs_first, jobs_second)


def _clusters_vs_oracle(spark, rows):
    """Engine clusters, built with build_kg's override map, vs the oracle."""
    from otar3088_spark.functions.text import IRREGULAR_PLURALS
    from otar3088_spark.operators.canonicalize import entity_clusters
    from otar3088_spark.operators.tagging import PreparedDictionary

    dict_pd = pd.DataFrame(rows, columns=["ent_id", "term", "label"])
    pdict = PreparedDictionary.build(
        prepare_dictionary(spark.createDataFrame(dict_pd)), IRREGULAR_PLURALS
    )
    got = {(r.ent_id, r.cluster_id) for r in entity_clusters(pdict).collect()}
    assert got == set(oracle.entity_clusters(dict_pd).items())
    return got


def test_clusters_keep_prepared_grain(spark):
    """Alias keys come from every prepared term, not one term per
    normalized-token group: under the irregular-plural overrides "mice
    model" and "mouse model" of one entity share the normalized tokens
    ["mouse", "model"] but carry different alias keys, and each key links
    a different entity."""
    got = _clusters_vs_oracle(
        spark,
        [
            ("E1", "mice model", "Obj"),
            ("E1", "mouse model", "Obj"),
            ("E2", "Mice-Model", "Obj"),   # alias key "micemodel"
            ("E3", "Mouse-Model", "Obj"),  # alias key "mousemodel"
            ("E4", "rat model", "Obj"),
        ],
    )
    assert got == {("E1", "E1"), ("E2", "E1"), ("E3", "E1"), ("E4", "E4")}


def test_clusters_without_alias_collisions_are_singletons(spark):
    rows = [(f"Z{i}", t, "Obj") for i, t in enumerate(["alpha", "beta gamma", "delta cells"])]
    got = _clusters_vs_oracle(spark, rows)
    assert got == {(e, e) for e, _, _ in rows}


def test_span_stage_fingerprint_tracks_prepared_grain(
    spark, transcripts_df, dictionary_pd, tmp_path
):
    """The span-stage name hashes the dictionary at the PREPARED grain
    ``(ent_id, label, term, term_tokens)``. That grain is enough because the
    span stage reads the dictionary only through the ``PreparedDictionary``
    (``d0``, ``anchors``, ``pair_mode`` and the ``prepared`` link dim), and
    each of those is a function of the prepared rows and the override map.
    So every change that survives ``prepare_dictionary`` renames the stage
    and forces a recompute, and a row it drops keeps the name. A raw
    dictionary argument (the call ``kgbench/trace.py`` makes) names the
    stage ``build_kg`` writes."""
    import os

    from otar3088_spark.functions.text import IRREGULAR_PLURALS
    from otar3088_spark.plans.kg_pipeline import _span_stage_fingerprint

    cols = ["ent_id", "term", "label"]
    base = [("E1", "mouse model", "Obj"), ("E2", "spark", "Sys")]

    def fp(rows):
        d = spark.createDataFrame(pd.DataFrame(rows, columns=cols))
        return _span_stage_fingerprint(d, False, None, IRREGULAR_PLURALS)

    name = fp(base)
    assert fp(list(reversed(base))) == name  # row order does not matter
    renamed = {
        "term": [("E1", "mouse model", "Obj"), ("E2", "sparks", "Sys")],
        # same term_tokens, but spans carry the dictionary term
        "term case": [("E1", "mouse model", "Obj"), ("E2", "Spark", "Sys")],
        "label": [("E1", "mouse model", "Obj"), ("E2", "spark", "Tool")],
        "kept row": base + [("E3", "rat model", "Obj")],
    }
    for what, rows in renamed.items():
        assert fp(rows) != name, what
    dropped = {
        "short term": base + [("E4", "ab", "Obj")],
        "red-list suffix": base + [("E5", "angiogenesis", "Anatomy")],
    }
    for what, rows in dropped.items():
        assert fp(rows) == name, what

    dictionary = spark.createDataFrame(dictionary_pd)
    staging = str(tmp_path / "staging")
    build_kg(transcripts_df, dictionary, staging_dir=staging)
    want = "spans-" + _span_stage_fingerprint(dictionary, False, None, IRREGULAR_PLURALS)
    assert os.listdir(staging) == [want]


def test_clusters_have_no_python_worker(spark):
    """The alias clusters reach the JVM as one JSON value in a local
    relation: reading them runs no PythonRDD (a pickled driver list would
    start a Python worker pool for a handful of rows). Integer entity ids
    stay integers; string ids with a quote, a backslash and non-ASCII text
    come back unchanged."""
    from pyspark.sql import types as T

    from otar3088_spark.functions.text import IRREGULAR_PLURALS
    from otar3088_spark.operators.tagging import PreparedDictionary

    def clusters(dict_pd):
        pdict = PreparedDictionary.build(
            prepare_dictionary(spark.createDataFrame(dict_pd)), IRREGULAR_PLURALS
        )
        lineage = pdict.clusters._jdf.queryExecution().toRdd().toDebugString()
        assert "PythonRDD" not in lineage, lineage
        got = {(r.ent_id, r.cluster_id) for r in pdict.clusters.collect()}
        assert got == set(oracle.entity_clusters(dict_pd).items())
        return pdict.clusters.schema, got

    dict_pd = pd.DataFrame(
        [
            (1, "mouse model", "Obj"),
            (2, "Mouse-Model", "Obj"),
            (3, "rat model", "Obj"),
            (4, "cortex", "Anatomy"),
        ],
        columns=["ent_id", "term", "label"],
    )
    schema, got = clusters(dict_pd)
    assert schema["cluster_id"].dataType == T.LongType()
    assert all(isinstance(c, int) for _, c in got)
    assert got == {(1, 1), (2, 1), (3, 3), (4, 4)}

    quote, backslash, cjk = 'E"1', "E\\2", "É3-北京-\U0001f600"
    dict_pd = pd.DataFrame(
        [
            (quote, "mouse model", "Obj"),
            (backslash, "Mouse-Model", "Obj"),
            (cjk, "rat model", "Obj"),
        ],
        columns=["ent_id", "term", "label"],
    )
    schema, got = clusters(dict_pd)
    assert schema["ent_id"].dataType == T.StringType()
    assert got == {(quote, quote), (backslash, quote), (cjk, cjk)}


def test_constant_dataframe_types_and_failfast(spark):
    """``constant_dataframe`` gives the declared schema and values (nested
    and NULL ones too), zero rows for an empty list, and a query error,
    not a NULL, for a value that does not parse as its field's type."""
    import pytest
    from pyspark.sql import types as T

    from otar3088_spark.session import constant_dataframe

    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("s", T.StringType()),
            T.StructField("xs", T.ArrayType(T.StringType())),
        ]
    )
    rows = [{"k": 2**40, "s": "a'b", "xs": ["x", None]}, {"k": None, "s": None, "xs": []}]
    df = constant_dataframe(spark, rows, schema)
    assert df.schema == schema
    assert [r.asDict() for r in df.collect()] == rows
    assert constant_dataframe(spark, [], schema).collect() == []
    bad = constant_dataframe(spark, [{"k": "not a number", "s": "x", "xs": []}], schema)
    with pytest.raises(Exception, match="(?i)malformed"):
        bad.collect()


def test_fixture_span_stage_names_are_pinned(spark):
    """The span-stage names of ``fixtures/kg`` (model off and on) are the
    values the dictionary collect gave when it went through Arrow: a
    committed staging directory keeps resuming across the change of the
    collect route."""
    from otar3088_spark.functions.text import IRREGULAR_PLURALS
    from otar3088_spark.operators.tagging import PreparedDictionary
    from otar3088_spark.plans.kg_pipeline import _span_stage_fingerprint
    from otar3088_spark.queries import KG_FIXTURE_DIR

    dictionary = spark.read.parquet(str(KG_FIXTURE_DIR / "dictionary.parquet"))
    pdict = PreparedDictionary.build(prepare_dictionary(dictionary), IRREGULAR_PLURALS)
    assert _span_stage_fingerprint(pdict, False, None, IRREGULAR_PLURALS) == "86ddafb967ba"
    assert _span_stage_fingerprint(pdict, True, None, IRREGULAR_PLURALS) == "463cd93a44c2"


def test_build_kg_failed_snapshot_leaves_no_cache(spark, transcripts_df, dictionary_df, tmp_path):
    """The merged path persists the sentence subtree for the snapshot
    write; a failing write must not leave that cache behind."""
    import pytest

    from otar3088_spark.functions.text import IRREGULAR_PLURALS
    from otar3088_spark.plans.kg_pipeline import _span_stage_fingerprint

    staging = tmp_path / "staging"
    staging.mkdir()
    fp = _span_stage_fingerprint(dictionary_df, True, None, IRREGULAR_PLURALS)
    (staging / f"spans-{fp}").write_text("a file where the stage directory goes")
    transcripts_df.count()  # the fixture's own cache is registered before the baseline
    before = _persistent_rdd_ids(spark)
    with pytest.raises(Exception):
        build_kg(transcripts_df, dictionary_df, staging_dir=str(staging), use_model=True)
    assert _persistent_rdd_ids(spark) == before


def test_precompute_offsets_path_is_identical(spark, transcripts_df, dictionary_df):
    """The two stage-2 offset formulations (per-candidate O(pos) fold vs
    per-sentence offsets array + O(1) element_at — BENCH/TAGGING_STRESS.md)
    must be bit-identical on the differential fixture corpus; they differ
    only in scaling shape vs document length."""
    sents = sentencize(normalize_turns(transcripts_df))
    d = prepare_dictionary(dictionary_df)
    fold = {tuple(r) for r in tag_mentions(sents, d).collect()}
    pre = {tuple(r) for r in tag_mentions(sents, d, precompute_offsets=True).collect()}
    assert len(fold) > 100
    assert fold == pre


def test_fuzz_tagging_all_paths_match_oracle(spark):
    """Seeded fuzz differential over a deliberately tricky token alphabet
    (irregular plurals, possessives, apostrophe-final tokens, punctuation
    wrappers, sentence-final periods): every engine path — default fold,
    offsets-array, bigram anchor — must produce the pandas oracle's exact
    span set on a corpus none of them was tuned on. Deterministic seed, one
    Spark round trip per path."""
    import numpy as np

    rng = np.random.RandomState(20260817)
    # surface tokens the normalizer/preimage machinery must agree on:
    # irregulars (mice/mouse), rule plurals/possessives (cells/cell's),
    # apostrophe-final ("farmers'"), destem-collisions (moles vs mole),
    # punctuation wrappers, and sentence enders
    alphabet = [
        "mice", "mouse", "mole", "moles", "mole's", "farmers'", "cells",
        "cell", "cell's", "(cell)", "gene", "genes", "gene's", "table",
        "tables", "name", "names", "data", "model", "models", "lines",
        "line", "assay.", "assays,", "the", "a", "of", "in", '"mice"',
        "ganglia", "ganglion", "roots", "root",
    ]
    turns = []
    for i in range(150):
        n = rng.randint(6, 22)
        text = " ".join(alphabet[j] for j in rng.randint(0, len(alphabet), n))
        turns.append(
            {
                "conv_id": f"c{i % 40:03d}",
                "turn_idx": int(i // 40),
                "role": "user",
                "text": text,
                "tool": "",
                "ts": pd.Timestamp("2026-01-01"),
            }
        )
    tr_pd = pd.DataFrame(turns)
    # dictionary: 1-3 token lemma-form terms over the same alphabet's cores,
    # so plural/possessive/irregular corpus surfaces must link back to them
    dict_terms = [
        ("E01", "mouse model", "Method"),
        ("E02", "cell", "Anatomy"),
        ("E03", "cell line", "Anatomy"),
        ("E04", "gene", "Gene"),
        ("E05", "table name", "Obj"),
        ("E06", "mole", "Obj"),
        ("E07", "data table", "Obj"),
        ("E08", "dorsal root ganglion", "Anatomy"),
        ("E09", "root ganglion", "Anatomy"),
        ("E10", "model line", "Method"),
        ("E11", "name", "Obj"),
        ("E12", "farmers'", "Obj"),
    ]
    dict_pd = pd.DataFrame(dict_terms, columns=["ent_id", "term", "label"])
    dict_pd["canonical_id"] = dict_pd["ent_id"]

    from otar3088_spark.functions.lemma_data import IRREGULAR_PLURALS

    tr_df = spark.createDataFrame(tr_pd)
    d = prepare_dictionary(spark.createDataFrame(dict_pd))
    sents = sentencize(normalize_turns(tr_df))
    ov = IRREGULAR_PLURALS  # build_kg's default — what the oracle mirrors

    base = _span_set(tag_mentions(sents, d, lemma_overrides=ov).toPandas())
    pre = _span_set(
        tag_mentions(sents, d, lemma_overrides=ov, precompute_offsets=True).toPandas()
    )
    bi = _span_set(
        tag_mentions(sents, d, lemma_overrides=ov, bigram_anchor=True).toPandas()
    )
    both = _span_set(
        tag_mentions(
            sents, d, lemma_overrides=ov, bigram_anchor=True, precompute_offsets=True
        ).toPandas()
    )
    want = _span_set(oracle.extract_spans(tr_pd, dict_pd))

    assert len(want) > 200, "fuzz corpus must actually produce mentions"
    # multi-token AND single-token dictionary hits must both occur, plus an
    # inflected (non-lemma) surface, or the fuzz proves less than it claims
    got = tag_mentions(sents, d, lemma_overrides=ov).toPandas()
    assert (got["term"].str.contains(" ")).any()
    assert (~got["term"].str.contains(" ")).any()
    assert (got["surface"].str.lower() != got["term"].str.lower()).any()
    assert base == want
    assert pre == want
    assert bi == want
    assert both == want  # the two opt-in flags compose


def test_fuzz_kg_end_to_end_matches_golden(spark):
    """END-TO-END fuzz: the full pipeline (normalize → sentencize → tag →
    [model merge] → disambiguate → canonicalize → triples) must reproduce
    the golden oracle's triple set EXACTLY (P=R=1.0) on a random corpus it
    was never tuned on — gazetteer path AND merged model path, including
    alias-cluster same_as triples (two ids sharing the surface 'gene')."""
    import numpy as np

    rng = np.random.RandomState(424242)
    alphabet = [
        "mice", "mouse", "mole", "moles", "mole's", "farmers'", "cells",
        "cell", "cell's", "(cell)", "gene", "genes", "gene's", "table",
        "tables", "name", "names", "data", "model", "models", "lines",
        "line", "assay.", "assays,", "the", "a", "of", "in", '"mice"',
        "ganglia", "ganglion", "roots", "root", "feet", "foot",
    ]
    dict_terms = [
        ("E01", "mouse model", "Method"), ("E02", "cell", "Anatomy"),
        ("E03", "cell line", "Anatomy"), ("E04", "gene", "Gene"),
        ("E05", "table name", "Obj"), ("E06", "mole", "Obj"),
        ("E07", "data table", "Obj"), ("E08", "dorsal root ganglion", "Anatomy"),
        ("E09", "root ganglion", "Anatomy"), ("E10", "model line", "Method"),
        ("E11", "name", "Obj"), ("E12", "farmers'", "Obj"),
        ("E13", "foot", "Anatomy"),
        # homonym surface under two ids/labels (exercises homonym dedup +
        # label resolution)
        ("E14", "gene", "GeneAlt"),
        # alias-colliding pair that SURVIVES resolution: alias_key drops
        # GENERIC_WORDS ("line"), so "gene line" clusters with "gene" while
        # staying a distinct, longer, containment-winning span -> its
        # resolved ent E15 != cluster rep E04 -> same_as triple
        ("E15", "gene line", "Gene"),
    ]
    dict_pd = pd.DataFrame(dict_terms, columns=["ent_id", "term", "label"])
    dict_pd["canonical_id"] = dict_pd["ent_id"]
    turns = []
    for i in range(120):
        n = rng.randint(5, 25)
        text = " ".join(alphabet[j] for j in rng.randint(0, len(alphabet), n))
        turns.append(
            {"conv_id": f"c{i % 30:03d}", "turn_idx": int(i // 30), "role": "u",
             "text": text, "tool": "", "ts": pd.Timestamp("2026-01-01")}
        )
    # one pinned turn guaranteeing the alias-cluster span occurs (random
    # adjacency of "gene line" is not certain at this corpus size)
    turns.append(
        {"conv_id": "c_pin", "turn_idx": 0, "role": "u",
         "text": "the gene line of mice models. feet data tables here.",
         "tool": "", "ts": pd.Timestamp("2026-01-01")}
    )
    tr_pd = pd.DataFrame(turns)
    tr_df = spark.createDataFrame(tr_pd)
    dict_df = spark.createDataFrame(dict_pd)
    for use_model in (False, True):
        res = build_kg(tr_df, dict_df, use_model=use_model)
        pred = set(
            map(tuple, res.triples.select("subj", "pred", "obj").distinct().collect())
        )
        gold_df = oracle.golden_triples(tr_pd, dict_pd, with_model=use_model)
        gold = set(map(tuple, gold_df.itertuples(index=False, name=None)))
        assert len(gold) > 300
        assert any(p == "same_as" for _, p, _ in gold), "alias cluster must fire"
        assert pred == gold, (
            f"use_model={use_model}: pred-only={sorted(pred - gold)[:5]} "
            f"gold-only={sorted(gold - pred)[:5]}"
        )


def test_bigram_anchor_path_is_identical(spark, transcripts_df, dictionary_df):
    """The skewed-gazetteer escape hatch (bigram_anchor=True — n>=2 terms
    block on (first, second) allowed-pair keys, n==1 terms on the unigram
    key; BENCH/TAGGING_STRESS.md §2) must be bit-identical to the default
    unigram anchor: blocking only prefilters candidates, window validation
    decides membership in both modes."""
    from otar3088_spark.functions.lemma_data import IRREGULAR_PLURALS

    sents = sentencize(normalize_turns(transcripts_df))
    d = prepare_dictionary(dictionary_df)
    ov = IRREGULAR_PLURALS
    uni = {tuple(r) for r in tag_mentions(sents, d, lemma_overrides=ov).collect()}
    bi = {
        tuple(r)
        for r in tag_mentions(sents, d, lemma_overrides=ov, bigram_anchor=True).collect()
    }
    assert len(uni) > 100
    # the fixture must exercise BOTH dim key spaces, or equality proves less
    # than it claims: single-token terms (unigram anchors survive in bigram
    # mode) and multi-token terms (pair anchors)
    cols = tag_mentions(sents, d, lemma_overrides=ov).columns
    t_i = cols.index("term")
    assert any(" " in r[t_i] for r in uni) and any(" " not in r[t_i] for r in uni)
    assert uni == bi


def test_auto_bigram_anchor(spark, transcripts_df, dictionary_df, monkeypatch):
    """Default (bigram_anchor=None) auto-selects the blocking key from the
    dictionary's own skew statistic: first-position forms anchoring more
    multi-token terms than the threshold switch to pair keys — WITHOUT any
    flag — while unskewed dictionaries resolve to the exact unigram plan."""
    from otar3088_spark.operators import tagging
    from otar3088_spark.operators.tagging import PreparedDictionary

    sents = sentencize(normalize_turns(transcripts_df))

    # unskewed: auto must resolve to unigram (pair_mode False on the value)
    d_small = prepare_dictionary(dictionary_df)
    auto_small = {tuple(r) for r in tag_mentions(sents, d_small).collect()}
    uni_small = {
        tuple(r) for r in tag_mentions(sents, d_small, bigram_anchor=False).collect()
    }
    assert auto_small == uni_small and len(auto_small) > 100
    assert PreparedDictionary.build(d_small).pair_mode is False

    # skewed: one first token shared by > threshold multi-token terms
    skew_rows = [(f"S{i:04d}", f"alpha variant{i}", "Sys") for i in range(80)]
    skew_rows += [("S9000", "alpha", "Sys"), ("S9001", "beta stream", "Obj")]
    d_skew = prepare_dictionary(
        spark.createDataFrame(skew_rows, ["ent_id", "term", "label"])
    )
    corpus = spark.createDataFrame(
        [
            ("c1", 0, 0, "the alpha variant7 beat the alpha variant63 today"),
            ("c2", 0, 0, "alpha alone and a beta stream here"),
            ("c3", 0, 0, "no anchors at all in this sentence"),
        ],
        ["conv_id", "turn_idx", "sent_idx", "sent_text"],
    )
    auto = {tuple(r) for r in tag_mentions(corpus, d_skew).collect()}
    uni = {tuple(r) for r in tag_mentions(corpus, d_skew, bigram_anchor=False).collect()}
    bi = {tuple(r) for r in tag_mentions(corpus, d_skew, bigram_anchor=True).collect()}
    assert auto == uni == bi
    surfaces = {r[-1] for r in auto}
    assert {"alpha variant7", "alpha variant63", "alpha", "beta stream"} <= surfaces
    # auto resolved to pair mode for the oversized group
    skew_auto = PreparedDictionary.build(d_skew)
    assert skew_auto.pair_mode is True
    assert {tuple(r) for r in tag_mentions(corpus, skew_auto).collect()} == auto
    # threshold above the group size -> unigram again
    monkeypatch.setattr(tagging, "BIGRAM_ANCHOR_THRESHOLD", 500)
    assert PreparedDictionary.build(d_skew).pair_mode is False
    hi = {tuple(r) for r in tag_mentions(corpus, d_skew).collect()}
    assert hi == auto


def test_recorded_hf_ner_output_first_strategy_links(spark):
    """The aggregation_strategy="first" pipeline shape (second-most-common
    HF config): word-level aggregation snaps every entity's start/end to
    whole whitespace-delimited words — offsets can never cut inside a word
    the way "simple" offsets can at subword boundaries. Drives the same
    production seam with tests/fixtures/hf_ner_output_first.json and pins
    the two divergent behaviors: whole-word "cisplatin-based" (simple
    would emit the linkable subword span "cisplatin") has no dictionary
    alias and MUST drop; whole-word "paracetamols" keeps its inflection
    inside the span and links through the rank-0 destem."""
    import json
    from pathlib import Path

    from otar3088_spark.functions.text import IRREGULAR_PLURALS
    from otar3088_spark.operators.inference import (
        link_model_mentions,
        model_mentions,
    )
    from tests.scorer_factories import spec

    fx = json.loads(
        (Path(__file__).parent / "fixtures" / "hf_ner_output_first.json").read_text()
    )
    assert fx["format"].endswith("aggregation_strategy=first")
    # the "first" contract itself: offsets snap to whole words
    for s in fx["sentences"]:
        for e in s["entities"]:
            t = s["text"]
            assert (e["start"] == 0 or t[e["start"] - 1] == " ") and (
                e["end"] == len(t) or t[e["end"]] in " .,"
            )

    by_text = {
        s["text"]: [
            (e["start"], e["end"], e["entity_group"], e["score"])
            for e in s["entities"]
        ]
        for s in fx["sentences"]
    }

    sents = spark.createDataFrame(
        pd.DataFrame(
            [("c0", 0, s["sent_idx"], s["text"]) for s in fx["sentences"]],
            columns=["conv_id", "turn_idx", "sent_idx", "sent_text"],
        )
    )
    d = prepare_dictionary(
        spark.createDataFrame(
            pd.DataFrame(
                [
                    ("L1", "aspirin", "Drug", "C1"),
                    ("L3", "paracetamol", "Drug", "C3"),
                    ("L12", "cisplatin", "Drug", "C12"),
                ],
                columns=["ent_id", "term", "label", "canonical_id"],
            )
        )
    )

    ms = model_mentions(sents, scorer=spec("replay", spans=by_text))
    got_raw = {
        (r["sent_idx"], r["start"], r["end"], r["surface"], r["label"])
        for r in ms.collect()
    }
    want_raw = {
        (s["sent_idx"], e["start"], e["end"], e["word"], e["entity_group"])
        for s in fx["sentences"]
        for e in s["entities"]
    }
    assert got_raw == want_raw  # seam reproduces the recorded output exactly

    linked = link_model_mentions(ms, d, lemma_overrides=IRREGULAR_PLURALS)
    rows = {
        (r["surface"], r["term"], r["ent_id"]) for r in linked.collect()
    }
    # divergence 1: the word-snapped hyphenated span is unlinkable -> dropped
    assert not any(s == "cisplatin-based" for (s, _, _) in rows)
    # (the dictionary DOES hold cisplatin — under simple's subword span
    # ("cisplatin") this would have linked; the drop is the strategy's doing)
    # divergence 2: inflection stays inside the word-snapped span and the
    # rank-0 destem still links it
    assert ("paracetamols", "paracetamol", "L3") in rows
    # sanity on a shared sentence: plain whole-word entity links as before
    assert any(s == "aspirin" and e == "L1" for (s, _, e) in rows)
