"""Unit tests for dedup / spans / inference / multimodal / sources / metrics /
checkpoint operators."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F


# ---------------------------------------------------------------- dedup


@pytest.fixture(scope="module")
def docs_df(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy dog"),  # exact dup of 0
        (2, "the quick brown fox leaps over the lazy dog"),  # near dup
        (3, "completely different content about spark engines"),
        (4, "spark engines process completely different content"),
        (5, "short text"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_exact_dedup(spark, docs_df):
    from otar3088_spark.operators.dedup import exact_dedup

    out = {r["keep_id"]: r["group_size"] for r in exact_dedup(docs_df).collect()}
    assert out[0] == 2  # docs 0,1 collapse
    assert sum(out.values()) == 6


def test_minhash_identical_docs_have_identical_sigs(spark, docs_df):
    from otar3088_spark.operators.dedup import minhash_signatures

    sigs = {r["id"]: tuple(r["sig"]) for r in minhash_signatures(docs_df, num_hashes=16).collect()}
    assert sigs[0] == sigs[1]
    assert sigs[0] != sigs[3]


def test_minhash_near_dups_finds_near_pair(spark, docs_df):
    from otar3088_spark.operators.dedup import minhash_near_dups

    pairs = {
        (r["id1"], r["id2"]): r["jaccard"]
        for r in minhash_near_dups(
            docs_df, num_hashes=16, bands=8, shingle_k=2, threshold=0.5
        ).collect()
    }
    assert (0, 1) in pairs and pairs[(0, 1)] == 1.0
    assert (0, 2) in pairs or (1, 2) in pairs  # near-dup recovered
    assert all(not (a == 3 and b == 5) for a, b in pairs)


def test_simhash_properties(spark, docs_df):
    from otar3088_spark.operators.dedup import hamming_distance_expr, simhash

    sh = simhash(docs_df)
    vals = {r["id"]: r["simhash"] for r in sh.collect()}
    assert vals[0] == vals[1]
    a = sh.alias("a")
    b = sh.alias("b")
    d = (
        a.join(b, F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id1"),
            F.col("b.id").alias("id2"),
            hamming_distance_expr(F.col("a.simhash"), F.col("b.simhash")).alias("ham"),
        )
        .collect()
    )
    ham = {(r["id1"], r["id2"]): r["ham"] for r in d}
    assert ham[(0, 1)] == 0
    assert ham[(0, 2)] < ham[(0, 3)]  # near-dup closer than unrelated


# ---------------------------------------------------------------- spans / IOB


@pytest.fixture(scope="module")
def sent_df(spark):
    # sentence: tokens with known offsets
    rows = [
        ("c1", 0, 0, "HeLa cells grow fast here.", 0),
        ("c1", 0, 1, "nothing to see.", 27),
    ]
    return spark.createDataFrame(
        rows, ["conv_id", "turn_idx", "sent_idx", "sent_text", "char_start"]
    )


def test_spans_to_iob_and_back(spark, sent_df):
    from otar3088_spark.operators.spans import filter_all_o, iob_to_spans, spans_to_iob

    spans = spark.createDataFrame(
        [("c1", 0, 0, 0, 10, "CellLine")],
        ["conv_id", "turn_idx", "sent_idx", "start", "end", "label"],
    )
    iob = spans_to_iob(sent_df, spans)
    rows = {(r["conv_id"], r["turn_idx"], r["sent_idx"]): (r["tokens"], r["tags"]) for r in iob.collect()}
    toks, tags = rows[("c1", 0, 0)]
    assert toks == ["HeLa", "cells", "grow", "fast", "here."]
    assert tags == ["B-CellLine", "I-CellLine", "O", "O", "O"]
    assert rows[("c1", 0, 1)][1] == ["O", "O", "O"]

    kept = filter_all_o(iob)
    assert kept.count() == 1

    back = iob_to_spans(iob).collect()
    assert len(back) == 1
    assert back[0]["text"] == "HeLa cells" and back[0]["label"] == "CellLine"


def test_assign_spans_to_sentences(spark, sent_df):
    from otar3088_spark.operators.spans import assign_spans_to_sentences

    doc_spans = spark.createDataFrame(
        [
            ("c1", 0, 0, 4, "X"),      # inside sentence 0
            ("c1", 0, 27, 34, "Y"),    # inside sentence 1 -> reoffset 0..7
            ("c1", 0, 20, 30, "Z"),    # straddles boundary -> dropped
        ],
        ["conv_id", "turn_idx", "start", "end", "label"],
    )
    out = assign_spans_to_sentences(doc_spans, sent_df).collect()
    got = {(r["sent_idx"], r["start"], r["end"], r["label"]) for r in out}
    assert got == {(0, 0, 4, "X"), (1, 0, 7, "Y")}


def test_segment_turns_respects_entities(spark):
    from otar3088_spark.operators.spans import segment_turns

    text = ("word " * 120).strip()  # 599 chars
    df = spark.createDataFrame([("c1", 0, text)], ["conv_id", "turn_idx", "clean_text"])
    spans = spark.createDataFrame(
        [("c1", 0, 495, 504, "X")], ["conv_id", "turn_idx", "start", "end", "label"]
    )
    segs = segment_turns(df, max_len=500, spans=spans).collect()
    assert len(segs) >= 2
    # entity 495..504 must be fully inside one segment
    covered = [
        s for s in segs if s["seg_start"] <= 495 and 504 <= s["seg_start"] + len(s["seg_text"])
    ]
    assert covered, f"entity cut across segments: {[(s['seg_start'], len(s['seg_text'])) for s in segs]}"
    # and segments reassemble to the original text's tokens
    joined = " ".join(s["seg_text"] for s in sorted(segs, key=lambda r: r["seg_idx"]))
    assert joined.split() == text.split()


# ---------------------------------------------------------------- inference


def test_model_mentions_deterministic_and_merged(spark, sent_df):
    from otar3088_spark.operators.inference import merge_spans_with_model, model_mentions

    m1 = model_mentions(sent_df).collect()
    m2 = model_mentions(sent_df).collect()
    assert sorted(map(tuple, m1)) == sorted(map(tuple, m2))
    for r in m1:
        assert r["surface"] == r["sent_text"][r["start"] : r["end"]] if "sent_text" in r else True

    # planted exact (sentence, start, end) collision: the dictionary row wins
    # with its own term/ent_id, the colliding model row is dropped, and a
    # linked model row elsewhere in the sentence survives
    cols = ["conv_id", "turn_idx", "sent_idx", "start", "end",
            "term", "label", "ent_id", "surface"]
    dict_row = ("c1", 0, 0, 0, 10, "HeLa", "CellLine", "E1", "HeLa cells")
    collide = ("c1", 0, 0, 0, 10, "hela cells", "CellType", "E9", "HeLa cells")
    free = ("c1", 0, 0, 20, 24, "A549", "CellLine", "E2", "A549")
    dict_spans = spark.createDataFrame([dict_row], cols)
    linked_model = spark.createDataFrame([collide, free], cols)
    merged = merge_spans_with_model(dict_spans, linked_model)
    assert merged.columns == cols
    assert sorted(tuple(r) for r in merged.collect()) == [dict_row, free]


# ---------------------------------------------------------------- multimodal


def test_multimodal_plumbing(spark):
    from otar3088_spark.operators.multimodal import decode_and_featurize, frame_sample, synth_media

    media = synth_media(spark, n=12)
    feats = decode_and_featurize(media, fake=True)
    rows = feats.collect()
    assert len(rows) == 12
    assert all(len(r["feature"]) == 8 for r in rows)
    again = {r["media_id"]: r["feature"] for r in decode_and_featurize(media, fake=True).collect()}
    assert all(again[r["media_id"]] == r["feature"] for r in rows)  # deterministic
    fs = frame_sample(feats, every_n=5)
    vids = {r["media_id"]: r["n_frames"] for r in rows if r["kind"] == "video"}
    got = fs.groupBy("media_id").count().collect()
    for r in got:
        expected = (vids[r["media_id"]] + 4) // 5
        assert r["count"] == expected


# ---------------------------------------------------------------- sources


def test_conll_roundtrip(spark, tmp_path):
    from otar3088_spark.operators.spans import iob_to_spans
    from otar3088_spark.sources.conll import conll_lines, read_conll

    p = tmp_path / "sample.conll"
    p.write_text("HeLa\tB-CellLine\ncells\tI-CellLine\ngrow\tO\n\nfine\tO\n")
    df = read_conll(spark, str(p))
    rows = sorted(df.collect(), key=lambda r: r["sent_id"])
    assert rows[0]["tokens"] == ["HeLa", "cells", "grow"]
    assert rows[0]["tags"] == ["B-CellLine", "I-CellLine", "O"]
    assert rows[1]["tokens"] == ["fine"]

    lines = conll_lines(df.withColumnRenamed("sent_id", "sent_idx")).collect()
    assert any("HeLa\tB-CellLine" in r["value"] for r in lines)


def test_brat_reader(spark, tmp_path):
    from otar3088_spark.sources.brat import read_brat

    (tmp_path / "doc1.txt").write_text("HeLa cells grow")
    (tmp_path / "doc1.ann").write_text(
        "T1\tCellLine 0 10\tHeLa cells\nT2\tTissue 0 4;11 15\tHeLa grow\n"
    )
    docs, anns = read_brat(spark, str(tmp_path))
    assert docs.collect()[0]["doc_id"] == "doc1"
    a = {r["ann_id"]: (r["label"], r["start"], r["end"], r["term"]) for r in anns.collect()}
    assert a["T1"] == ("CellLine", 0, 10, "HeLa cells")
    assert a["T2"] == ("Tissue", 0, 15, "HeLa grow")  # discontinuous collapsed


# ---------------------------------------------------------------- metrics


def test_span_and_triple_prf(spark):
    from otar3088_spark.operators.metrics import span_prf_exact, triple_prf

    cols = ["conv_id", "turn_idx", "sent_idx", "start", "end", "label"]
    gold = spark.createDataFrame(
        [("c", 0, 0, 0, 4, "X"), ("c", 0, 0, 6, 9, "Y")], cols
    )
    pred = spark.createDataFrame(
        [("c", 0, 0, 0, 4, "X"), ("c", 0, 0, 10, 12, "Z")], cols
    )
    m = span_prf_exact(pred, gold).collect()[0]
    assert m["precision"] == 0.5 and m["recall"] == 0.5

    t_gold = spark.createDataFrame([("a", "p", "b"), ("c", "p", "d")], ["subj", "pred", "obj"])
    t_pred = spark.createDataFrame([("a", "p", "b")], ["subj", "pred", "obj"])
    tm = triple_prf(t_pred, t_gold).collect()[0]
    assert tm["precision"] == 1.0 and tm["recall"] == 0.5


# ---------------------------------------------------------------- checkpoint


def test_snapshot_resume(spark, tmp_path):
    from otar3088_spark.io.checkpoint import SnapshotStore

    store = SnapshotStore(str(tmp_path / "ckpt"))
    calls = {"n": 0}

    def compute():
        calls["n"] += 1
        return spark.range(10).withColumn("v", F.col("id") * 2)

    df1 = store.get_or_compute(spark, "stage1", compute)
    assert df1.count() == 10 and calls["n"] == 1
    df2 = store.get_or_compute(spark, "stage1", compute)
    assert df2.count() == 10 and calls["n"] == 1  # resumed, not recomputed
    man = store.manifest("stage1")
    assert man["total_rows"] == 10
    assert sum(p["rows"] for p in man["partition_lineage"]) == 10


# ---------------------------------------------------------------- similarity


def test_ann_lsh_recall_vs_bruteforce(spark):
    from otar3088_spark.operators.similarity import ann_lsh_topk, cosine_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    probes = emb.filter(F.col("vec_id") < 5)
    exact = cosine_topk(emb, probes, k=5)
    approx = ann_lsh_topk(emb, probes, k=5, bits=6, num_tables=16, multiprobe=True)
    ex = {(r["q_id"], r["vec_id"]) for r in exact.collect()}
    ap = {(r["q_id"], r["vec_id"]) for r in approx.collect()}
    recall = len(ex & ap) / len(ex)
    assert recall >= 0.7, f"LSH recall too low: {recall}"
    # determinism
    ap2 = {(r["q_id"], r["vec_id"]) for r in ann_lsh_topk(emb, probes, k=5, bits=6, num_tables=16).collect()}
    assert ap == ap2


# ------------------------------------------------------------- F13 subwords


def test_subword_alignment_and_merge(spark):
    """F13 (word_ids -> -100 specials, B->I continuation) + F19 (## merge in
    BIO decode) against a hand-computed fixture."""
    from otar3088_spark.operators.inference import (
        align_subword_labels_expr,
        stand_in_subwords_expr,
    )
    from otar3088_spark.operators.spans import iob_to_spans

    df = spark.createDataFrame(
        [("c1", 0, 0, ["HeLa", "cells", "proliferate", "quickly"],
          ["B-CellLine", "I-CellLine", "O", "O"])],
        "conv_id string, turn_idx int, sent_idx int, "
        "tokens array<string>, tags array<string>",
    )
    sw = df.withColumn("sw", stand_in_subwords_expr(F.col("tokens")))
    out = sw.select(
        "conv_id", "turn_idx", "sent_idx",
        F.col("sw")["subs"].alias("subs"),
        F.col("sw")["wids"].alias("wids"),
        align_subword_labels_expr(F.col("sw")["wids"], F.col("tags")).alias("subtags"),
    )
    r = out.collect()[0]
    assert r["subs"] == ["[CLS]", "HeLa", "cell", "##s", "prol", "##ifer",
                         "##ate", "quic", "##kly", "[SEP]"]
    assert r["wids"] == [None, 0, 1, 1, 2, 2, 2, 3, 3, None]
    assert r["subtags"] == ["-100", "B-CellLine", "I-CellLine", "I-CellLine",
                            "O", "O", "O", "O", "O", "-100"]

    # decode at subword granularity: strip specials, BIO-merge, ## merge
    z = F.filter(
        F.arrays_zip(F.col("subs"), F.col("subtags")),
        lambda p: p["subtags"] != "-100",
    )
    iob = out.select(
        "conv_id", "turn_idx", "sent_idx",
        F.transform(z, lambda p: p["subs"]).alias("tokens"),
        F.transform(z, lambda p: p["subtags"]).alias("tags"),
    )
    spans = iob_to_spans(iob, merge_subwords=True).collect()
    assert len(spans) == 1
    s = spans[0]
    assert (s["start_pos"], s["end_pos"], s["text"], s["label"]) == (
        0, 2, "HeLa cells", "CellLine",
    )


def _wordpiece(word: str, vocab: set[str]) -> list[str]:
    """The public WordPiece algorithm: greedy longest-match-first over the
    vocab, '##' prefix on continuations, whole-word [UNK] when uncovered."""
    pieces, i = [], 0
    while i < len(word):
        j, piece = len(word), None
        while j > i:
            cand = ("##" if i > 0 else "") + word[i:j]
            if cand in vocab:
                piece = cand
                break
            j -= 1
        if piece is None:
            return ["[UNK]"]
        pieces.append(piece)
        i = j
    return pieces


def test_hf_tokenizer_contract_fixture(spark):
    """Pins F11/F13/F19 against a recorded HF fast-tokenizer contract
    (tests/fixtures/hf_tokenizer_contract.json): tokens are re-derived from
    the fixture's vocab with the WordPiece algorithm (so the recording is
    provably the tokenizer-contract output, not hand-waving), word_ids/
    offsets follow `tokenizer(words, is_split_into_words=True)` +
    `word_ids()` exactly (None specials, repeated ids on continuations,
    per-word char offsets), and align_subword_labels_expr +
    iob_to_spans(merge_subwords=True) over those recordings reproduce the
    hand-computed tags and spans. Zero new runtime deps — this is the
    swap-in de-risk for a real HF tokenizer (reference Ner_Pipeline
    tokenization_utils.py:6-47)."""
    import json
    from pathlib import Path

    from otar3088_spark.operators.inference import align_subword_labels_expr
    from otar3088_spark.operators.spans import iob_to_spans

    fx = json.loads(
        (Path(__file__).parent / "fixtures" / "hf_tokenizer_contract.json").read_text()
    )
    vocab = set(fx["vocab"])
    for s in fx["sentences"]:
        # (1) the recorded tokens ARE the WordPiece output for the vocab
        derived = ["[CLS]"]
        for w in s["words"]:
            derived += _wordpiece(w, vocab)
        derived.append("[SEP]")
        assert derived == s["tokens"], s["words"]
        # (2) word_ids contract: None on specials; each word's pieces carry
        # its index; monotone non-decreasing
        wids = s["word_ids"]
        assert wids[0] is None and wids[-1] is None
        body = [w for w in wids if w is not None]
        assert body == sorted(body) and set(body) == set(range(len(s["words"])))
        # (3) offsets contract: (0,0) specials; first piece starts at 0;
        # continuations resume where the previous piece ended; width == piece
        # length (sans ##) except [UNK], which covers the whole word
        for k, (tok, wid, (o0, o1)) in enumerate(
            zip(s["tokens"], wids, s["offsets"])
        ):
            if wid is None:
                assert (o0, o1) == (0, 0)
            elif tok == "[UNK]":
                assert (o0, o1) == (0, len(s["words"][wid]))
            else:
                assert o1 - o0 == len(tok.removeprefix("##"))
                prev_wid = wids[k - 1]
                assert o0 == (s["offsets"][k - 1][1] if prev_wid == wid else 0)

    # (4) Spark side: alignment + BIO decode over the recorded contract
    rows = [
        ("c1", 0, i, s["tokens"], s["word_ids"], s["word_tags"])
        for i, s in enumerate(fx["sentences"])
    ]
    df = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, sent_idx int, subs array<string>, "
        "wids array<int>, tags array<string>",
    )
    out = df.select(
        "conv_id", "turn_idx", "sent_idx", "subs", "wids",
        align_subword_labels_expr(F.col("wids"), F.col("tags")).alias("subtags"),
    )
    got = {r["sent_idx"]: r["subtags"] for r in out.collect()}
    for i, s in enumerate(fx["sentences"]):
        assert got[i] == s["expected_subtags"], s["words"]

    z = F.filter(
        F.arrays_zip(F.col("subs"), F.col("subtags")),
        lambda p: p["subtags"] != "-100",
    )
    iob = out.select(
        "conv_id", "turn_idx", "sent_idx",
        F.transform(z, lambda p: p["subs"]).alias("tokens"),
        F.transform(z, lambda p: p["subtags"]).alias("tags"),
    )
    spans = iob_to_spans(iob, merge_subwords=True).collect()
    got_spans: dict[int, set] = {}
    for r in spans:
        got_spans.setdefault(r["sent_idx"], set()).add(
            (r["start_pos"], r["end_pos"], r["text"], r["label"])
        )
    for i, s in enumerate(fx["sentences"]):
        assert got_spans.get(i, set()) == {tuple(x) for x in s["expected_spans"]}, s["words"]


# ------------------------------------------------------- nervaluate 4-way


def test_nervaluate_4way_hand_computed(spark):
    """4-schema counts on a fixture with an exact match, a partial-overlap
    mislabel, a spurious pred, and a missed gold (reference metrics.py
    nervaluate semantics)."""
    from otar3088_spark.operators.metrics import nervaluate_4way

    cols = "conv_id string, turn_idx int, sent_idx int, start int, end int, label string"
    gold = spark.createDataFrame(
        [("c1", 0, 0, 0, 4, "CellLine"),
         ("c1", 0, 0, 10, 20, "Drug"),
         ("c1", 0, 0, 30, 35, "Tissue")], cols)
    pred = spark.createDataFrame(
        [("c1", 0, 0, 0, 4, "CellLine"),   # exact + label
         ("c1", 0, 0, 12, 18, "Tissue"),   # overlaps Drug gold, wrong label
         ("c1", 0, 0, 50, 55, "Drug")], cols)  # spurious

    rows = {r["schema"]: r for r in nervaluate_4way(pred, gold).collect()}
    exp = {
        "strict":   dict(cor=1, inc=1, par=0, mis=1, spu=1, precision=0.333333, recall=0.333333),
        "exact":    dict(cor=1, inc=1, par=0, mis=1, spu=1, precision=0.333333, recall=0.333333),
        "partial":  dict(cor=1, inc=0, par=1, mis=1, spu=1, precision=0.5, recall=0.5),
        "ent_type": dict(cor=1, inc=1, par=0, mis=1, spu=1, precision=0.333333, recall=0.333333),
    }
    for schema, want in exp.items():
        got = rows[schema]
        for k, v in want.items():
            assert got[k] == v, f"{schema}.{k}: got {got[k]}, want {v}"
        assert got["actual"] == 3 and got["possible"] == 3

    # per-entity breakdown: CellLine perfect, Drug/Tissue zero
    per = {(r["label"], r["schema"]): r for r in
           nervaluate_4way(pred, gold, per_label=True).collect()}
    assert per[("CellLine", "strict")]["f1"] == 1.0
    assert per[("Drug", "strict")]["precision"] == 0.0
    assert per[("Tissue", "partial")]["recall"] == 0.0


# ------------------------------------------------ gazetteer prefilter fallback


def test_tagging_prefilter_fallback_equivalence(spark):
    """tag_mentions must produce identical spans with the anchor IN-set
    prefilter ON (small dictionaries) and OFF (auto-fallback for gazetteers
    too large to inline into the plan)."""
    from otar3088_spark.operators.tagging import prepare_dictionary, tag_mentions
    from otar3088_spark.synth import entity_dictionary_pandas, transcripts_pandas
    from otar3088_spark.operators.sentencize import normalize_turns, sentencize

    sents = sentencize(normalize_turns(spark.createDataFrame(transcripts_pandas(n_convs=6))))
    d = prepare_dictionary(spark.createDataFrame(entity_dictionary_pandas()))
    with_pf = tag_mentions(sents, d)  # default threshold: prefilter on
    without_pf = tag_mentions(sents, d, max_prefilter_terms=0)  # forced fallback
    key = ["conv_id", "turn_idx", "sent_idx", "start", "end", "label", "ent_id"]
    a = {tuple(r) for r in with_pf.select(*key).collect()}
    b = {tuple(r) for r in without_pf.select(*key).collect()}
    assert a == b and len(a) > 0


# ------------------------------------------------------- connected components


def test_cc_matches_union_find(spark):
    """Min-label propagation + pointer jumping vs a trusted union-find on
    seeded random graphs + a 60-node chain (the worst case for plain label
    propagation)."""
    import random

    from otar3088_spark.operators.canonicalize import connected_components

    def union_find(pairs):
        parent = {}

        def find(x):
            while parent.setdefault(x, x) != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in pairs:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        return {n: find(n) for n in parent}

    cases = []
    rng = random.Random(13)
    for trial in range(3):
        n, m = 120, 150
        pairs = [(f"n{rng.randrange(n):03d}", f"n{rng.randrange(n):03d}") for _ in range(m)]
        pairs = [(a, b) for a, b in pairs if a != b]
        cases.append(pairs)
    cases.append([(f"c{i:03d}", f"c{i+1:03d}") for i in range(60)])  # chain

    for pairs in cases:
        edges = spark.createDataFrame(pairs, "src string, dst string")
        got = {(r["node"], r["component"]) for r in connected_components(edges).collect()}
        want = set(union_find(pairs).items())
        assert got == want, f"mismatch: extra={sorted(got-want)[:5]} missing={sorted(want-got)[:5]}"


def test_embedding_near_dups_lsh_vs_exact(spark):
    """The LSH-bucketed near-dup operator in its design regime (true
    near-duplicates, cos >= 0.9): (a) emits only pairs the exact computation
    confirms, (b) finds essentially all of them. Near-dups are injected as
    lightly-perturbed copies of real vectors (collision probability per
    table at s=0.9 is ~0.39; 16 tables -> expected recall ~0.9996)."""
    import numpy as np
    import pandas as _pd

    from otar3088_spark.operators.similarity import cosine_expr, embedding_near_dups

    base = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet").toPandas()
    rng = np.random.RandomState(99)
    X = np.vstack(base["embedding"].to_numpy()).astype(np.float64)
    dup_src = rng.choice(len(X), size=60, replace=False)
    dups = X[dup_src] + rng.randn(60, X.shape[1]) * 0.05 * np.abs(X[dup_src]).mean()
    allX = np.vstack([X, dups]).astype(np.float32)
    pdf = _pd.DataFrame({"vec_id": np.arange(len(allX), dtype=np.int64),
                         "embedding": list(allX)})
    emb = spark.createDataFrame(pdf)

    a = emb.select(F.col("vec_id").alias("id1"), F.col("embedding").alias("e1"))
    b = emb.select(F.col("vec_id").alias("id2"), F.col("embedding").alias("e2"))
    exact = {
        (r["id1"], r["id2"])
        for r in a.join(b, F.col("id1") < F.col("id2"))
        .filter(cosine_expr(F.col("e1"), F.col("e2")) >= 0.9)
        .collect()
    }
    approx = {
        (r["id1"], r["id2"])
        for r in embedding_near_dups(emb, threshold=0.9, num_tables=16).collect()
    }
    assert approx <= exact  # verification removes every false candidate
    assert len(exact) >= 50  # the injected duplicates are found by brute force
    recall = len(approx & exact) / len(exact)
    assert recall >= 0.95, f"LSH near-dup recall too low: {recall}"


def test_cc_keeps_self_loop_nodes(spark):
    from otar3088_spark.operators.canonicalize import connected_components

    edges = spark.createDataFrame(
        [("a", "a"), ("b", "c")], "src string, dst string"
    )
    got = {(r["node"], r["component"]) for r in connected_components(edges).collect()}
    assert got == {("a", "a"), ("b", "b"), ("c", "b")}


def test_cc_non_convergence_raises(spark):
    """A 60-node chain needs several rounds even with pointer jumping: one
    round leaves labels moving, and returning them would split the chain
    into several components — the operator must raise instead."""
    from otar3088_spark.operators.canonicalize import connected_components

    edges = spark.createDataFrame(
        [(f"c{i:03d}", f"c{i+1:03d}") for i in range(59)], "src string, dst string"
    )
    with pytest.raises(RuntimeError, match="did not converge in 1 rounds"):
        connected_components(edges, max_iter=1)


def test_spans_to_iob_midtoken_span_start(spark):
    """A span whose start offset lands on inter-token punctuation (external
    annotation offsets) must still open B- at its first covered token."""
    from otar3088_spark.operators.spans import iob_to_spans, spans_to_iob

    #        0123456789
    # text = "foo, bar x."
    sents = spark.createDataFrame(
        [("c1", 0, 0, "foo, bar x.")],
        "conv_id string, turn_idx int, sent_idx int, sent_text string",
    )
    spans = spark.createDataFrame(
        [("c1", 0, 0, 3, 8, "X")],  # starts on the comma, covers 'bar'
        "conv_id string, turn_idx int, sent_idx int, start int, end int, label string",
    )
    iob = spans_to_iob(sents, spans).collect()[0]
    assert iob["tags"] == ["O", "B-X", "O"]
    back = iob_to_spans(spans_to_iob(sents, spans)).collect()
    assert len(back) == 1 and back[0]["text"] == "bar"


def test_hash_family_equivalence_of_dedup_twins(spark):
    """Round-4 closure of the two rows-only CORRECTNESS entries: the
    xxhash64 production twins and their md5 oracle twins run the IDENTICAL
    pipeline over the sf0.001 documents corpus, so their outputs must agree
    up to hash-family-internal labels.

    * minhash_near_dups vs minhash_near_dups_md5: the VERIFIED near-dup pair
      set (exact Jaccard >= threshold) is hash-independent — assert full
      output equality including the jaccard values.
    * simhash_buckets vs simhash_buckets_md5: simhash values are family-
      internal, but equal normalized TEXT must yield equal simhash (and thus
      one bucket) in BOTH families, and the deterministic same-simhash group
      structure (group-size histogram) must match across families."""
    from collections import Counter

    from otar3088_spark.queries import QUERIES

    sf = "/root/testdata/sf0.001"
    xx = {
        (r["id1"], r["id2"], round(r["jaccard"], 4))
        for r in QUERIES["minhash_near_dups"](spark, sf).collect()
    }
    md = {
        (r["id1"], r["id2"], round(r["jaccard"], 4))
        for r in QUERIES["minhash_near_dups_md5"](spark, sf).collect()
    }
    assert xx and xx == md

    from otar3088_spark.operators.dedup import normalized_text_expr

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    ntext = {
        r["doc_id"]: r["nt"]
        for r in docs.select("doc_id", normalized_text_expr(F.col("text")).alias("nt")).collect()
    }
    for name in ("simhash_buckets", "simhash_buckets_md5"):
        rows = QUERIES[name](spark, sf).collect()
        sim = {r["doc_id"]: (r["simhash"], r["bucket"]) for r in rows}
        by_text: dict[str, set] = {}
        for d, t in ntext.items():
            by_text.setdefault(t, set()).add(sim[d])
        # identical normalized text -> identical (simhash, bucket)
        assert all(len(v) == 1 for v in by_text.values())
        groups = Counter(Counter(s for s, _ in sim.values()).values())
        if name == "simhash_buckets":
            first = groups
    assert first == groups  # same group-size histogram across families


def test_stdlib_media_codecs_decode_real_bytes(spark):
    """Round-4 multimodal depth: the committed REAL binaries
    (tests/fixtures/media/) decode through the full Arrow mapInPandas path
    with the stdlib codec pair — 16-bit PCM WAV via ``wave`` and binary PPM
    — no fake, no third-party libs. Asserts exact container metadata and
    hand-computable signal features (constant RMS envelope of a pure sine;
    raster mean of a known gradient)."""
    from pathlib import Path

    from otar3088_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        decode_and_featurize,
        stdlib_decode,
    )

    mdir = Path(__file__).parent / "fixtures" / "media"
    wav = mdir.joinpath("tone.wav").read_bytes()
    ppm = mdir.joinpath("gradient.ppm").read_bytes()
    media = spark.createDataFrame(
        [
            ("w1", "audio", bytearray(wav), ("audio/wav", len(wav), "fixture")),
            ("p1", "image", bytearray(ppm), ("image/x-portable-pixmap", len(ppm), "fixture")),
        ],
        MEDIA_SCHEMA,
    )
    out = {r["media_id"]: r for r in decode_and_featurize(media, fake=False).collect()}

    a = out["w1"]  # mono, 8 kHz, 400 frames (tools/make_media_fixtures.py)
    assert (a["width"], a["height"], a["n_frames"]) == (1, 8000, 400)
    # RMS envelope of a constant-amplitude 440 Hz sine at amp 30000:
    # every bucket ~ 30000/sqrt(2)/32768 ~ 0.647
    assert len(a["feature"]) == 8
    assert all(abs(f - 30000 / 2**0.5 / 32768) < 0.01 for f in a["feature"])

    p = out["p1"]  # 8x6 P6 with a comment line in the header
    assert (p["width"], p["height"], p["n_frames"]) == (8, 6, 1)
    # mean of the full raster: R ramps 0..224 (mean 112), G ramps 0..200
    # (mean 100), B constant 8 -> overall mean (112+100+8)/3 / 255
    exp = (112 + 100 + 8) / 3 / 255
    got_mean = sum(p["feature"]) / len(p["feature"])
    assert abs(got_mean - exp) < 0.005

    # the seam still refuses formats the stdlib cannot parse
    import pytest as _pytest

    with _pytest.raises(NotImplementedError):
        stdlib_decode(b"\x89PNG\r\n", "image")
    # 16-bit PPM (maxval > 255, 2 bytes/sample) must hit the seam, not be
    # silently misread as 1-byte samples (round-5 ADVICE fix)
    ppm16 = b"P6\n2 2\n65535\n" + bytes(24)
    with _pytest.raises(NotImplementedError):
        stdlib_decode(ppm16, "image")


def test_alias_link_symmetric_punctuation_split(spark):
    """The rank-1 alias tier must normalize BOTH sides identically:
    punctuation becomes a token boundary before generic-word stripping, so
    dictionary 'T-cell' (alias key 't') links mention surfaces 'T cell',
    'T-cell' and 'T cells' — previously the dict side kept 'tcell' and the
    alias tier could never link punctuation-joined generic words."""
    from otar3088_spark.operators.inference import link_model_mentions
    from otar3088_spark.operators.tagging import prepare_dictionary

    d = prepare_dictionary(
        spark.createDataFrame(
            [("T1", "T-cell", "CellType", "T1")],
            ["ent_id", "term", "label", "canonical_id"],
        )
    )
    rows = []
    for i, surf in enumerate(["T cell", "T-cell", "T cells"]):
        rows.append(("c0", 0, i, 0, len(surf), surf, 0.9))
    ms = spark.createDataFrame(
        rows,
        ["conv_id", "turn_idx", "sent_idx", "start", "end", "surface", "score"],
    )
    linked = link_model_mentions(ms, d)
    got = {(r["sent_idx"], r["ent_id"]) for r in linked.collect()}
    assert got == {(0, "T1"), (1, "T1"), (2, "T1")}


def test_model_mentions_scorer_length_mismatch_raises(spark):
    """A scorer returning fewer span lists than input rows must fail loudly
    (a bare zip silently truncated — trailing sentences lost all mentions)."""
    from otar3088_spark.operators.inference import model_mentions

    sents = spark.createDataFrame(
        [("c0", 0, i, f"text {i}") for i in range(4)],
        ["conv_id", "turn_idx", "sent_idx", "sent_text"],
    )

    def bad_scorer(texts):
        return [[] for _ in range(len(texts) - 1)]  # one short

    with pytest.raises(Exception, match="span lists"):
        model_mentions(sents, scorer=bad_scorer, batch_key="bad-scorer").collect()


def test_lsh_index_dirty_vectors_degrade_to_null(spark):
    """One NULL or wrong-dimension embedding must not abort the index build
    (np.vstack raised inside the Arrow batch) — dirty rows degrade to NULL
    signatures and simply produce no index rows."""
    from otar3088_spark.operators.similarity import build_lsh_index

    rows = [
        (1, [float(i) for i in range(64)]),
        (2, None),
        (3, [1.0, 2.0]),  # wrong dimension
        (4, [float(64 - i) for i in range(64)]),
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    idx = build_lsh_index(df, bits=4, num_tables=2)
    got = {r["vec_id"] for r in idx.select("vec_id").distinct().collect()}
    assert got == {1, 4}  # clean vectors indexed, dirty ones dropped


def test_lsh_prebuilt_index_param_mismatch_raises(spark):
    """A prebuilt index consumed with different hash parameters buckets
    probes into a different family and silently returns near-zero recall —
    the stamped sig metadata must make that a loud error."""
    from otar3088_spark.operators.similarity import (
        ann_lsh_topk,
        build_lsh_index,
        embedding_near_dups,
    )

    df = spark.createDataFrame(
        [(i, [float((i * 7 + j) % 13) for j in range(64)]) for i in range(8)],
        ["vec_id", "embedding"],
    )
    idx = build_lsh_index(df, bits=8, num_tables=4)
    with pytest.raises(ValueError, match="different hash parameters"):
        ann_lsh_topk(df, df.limit(2), index=idx, bits=6, num_tables=16)
    with pytest.raises(ValueError, match="different hash parameters"):
        embedding_near_dups(df, index=idx, bits=6)
    # matching parameters pass
    ann_lsh_topk(df, df.limit(2), index=idx, bits=8, num_tables=4).collect()


def test_spans_to_iob_interior_punctuation_token(spark):
    """An external (BioC-style) span covering 'poly ( ADP-ribose ) polymerase'
    must round-trip as ONE entity: interior punctuation-only tokens get I-
    via their raw extent (previously O, fragmenting the span into three)."""
    from otar3088_spark.operators.spans import iob_to_spans, spans_to_iob

    sent = "poly ( ADP-ribose ) polymerase binds"
    sents = spark.createDataFrame(
        [("c0", 0, 0, sent)], ["conv_id", "turn_idx", "sent_idx", "sent_text"]
    )
    spans = spark.createDataFrame(
        [("c0", 0, 0, 0, len("poly ( ADP-ribose ) polymerase"), "Protein")],
        ["conv_id", "turn_idx", "sent_idx", "start", "end", "label"],
    )
    iob = spans_to_iob(sents, spans)
    (row,) = iob.collect()
    assert row["tags"] == ["B-Protein", "I-Protein", "I-Protein", "I-Protein", "I-Protein", "O"]
    back = iob_to_spans(iob).collect()
    assert [(r["start_pos"], r["end_pos"], r["text"], r["label"]) for r in back] == [
        (0, 4, "poly ( ADP-ribose ) polymerase", "Protein")
    ]


def test_iob_to_spans_empty_tag_row(spark):
    """Rows with empty token/tag arrays must produce no spans — not abort
    the job with INVALID_INDEX_OF_ZERO from the descending sequence(0,-1)."""
    from otar3088_spark.operators.spans import iob_to_spans

    iob = spark.createDataFrame(
        [
            ("c0", 0, 0, [], []),
            ("c0", 0, 1, ["HeLa", "grew"], ["B-CellLine", "O"]),
        ],
        ["conv_id", "turn_idx", "sent_idx", "tokens", "tags"],
    )
    got = iob_to_spans(iob).collect()
    assert len(got) == 1 and got[0]["text"] == "HeLa"


def test_validate_alignment_null_surface_is_violation(spark):
    """A NULL surface must be REPORTED: the inequality evaluates to NULL and
    a bare filter would silently pass exactly the broken rows."""
    from otar3088_spark.plans.kg_pipeline import validate_alignment

    sents = spark.createDataFrame(
        [("c0", 0, 0, "HeLa grew")], ["conv_id", "turn_idx", "sent_idx", "sent_text"]
    )
    spans = spark.createDataFrame(
        [("c0", 0, 0, 0, 4, None), ("c0", 0, 0, 0, 4, "HeLa")],
        "conv_id string, turn_idx int, sent_idx int, start int, end int, surface string",
    )
    bad = validate_alignment(spans, sents).collect()
    assert len(bad) == 1 and bad[0]["surface"] is None


def test_grouped_iob_fusion_matches_unfused(spark):
    """The fused grouped-tagging -> IOB path (tag_mentions_grouped +
    grouped_spans_to_iob) must be output-equivalent to the exploded path
    (tag_mentions + spans_to_iob) for BOTH engine consumers: identical
    (tokens, tags) on every matched sentence, unfused-only rows exactly the
    all-O ones, and identical results through iob_to_spans / filter_all_o."""
    from pyspark.sql import functions as F

    from otar3088_spark.operators.spans import (
        filter_all_o,
        grouped_spans_to_iob,
        iob_to_spans,
        spans_to_iob,
    )
    from otar3088_spark.operators.tagging import (
        prepare_dictionary,
        tag_mentions,
        tag_mentions_grouped,
    )

    sents = spark.createDataFrame(
        [
            ("a", 0, 0, "HeLa cells grow in hela cell lines today"),
            ("a", 0, 1, "no dictionary words at all"),      # unmatched
            ("a", 1, 0, "(HeLa) spheroids and HeLa. edge"),  # punctuation
            ("b", 0, 0, "cell lines versus cell line data"),
            ("b", 0, 1, ""),                                 # empty text
            ("b", 1, 0, "heLa"),                             # case + short
        ],
        ["conv_id", "turn_idx", "sent_idx", "sent_text"],
    )
    dictionary = prepare_dictionary(
        spark.createDataFrame(
            [("E1", "HeLa", "CellLine"), ("E2", "cell line", "Obj"),
             ("E3", "hela cell", "Expr")],
            ["ent_id", "term", "label"],
        )
    )
    spans = tag_mentions(sents, dictionary, precompute_offsets=True).select(
        "conv_id", "turn_idx", "sent_idx", "start", "end", "label"
    )
    unfused = spans_to_iob(sents, spans)
    fused = grouped_spans_to_iob(tag_mentions_grouped(sents, dictionary))

    key = lambda r: (r["conv_id"], r["turn_idx"], r["sent_idx"])  # noqa: E731
    u = {key(r): (r["tokens"], r["tags"]) for r in unfused.collect()}
    f = {key(r): (r["tokens"], r["tags"]) for r in fused.collect()}
    assert set(f) <= set(u)
    for k, v in f.items():
        assert u[k] == v, k
    for k in set(u) - set(f):  # unfused-only rows are exactly the all-O ones
        assert all(t == "O" for t in u[k][1]), (k, u[k])

    back_u = sorted(map(tuple, iob_to_spans(unfused).collect()))
    back_f = sorted(map(tuple, iob_to_spans(fused).collect()))
    assert back_u == back_f and len(back_u) > 0
    kept_u = sorted((key(r), r["tokens"], r["tags"]) for r in filter_all_o(unfused).collect())
    kept_f = sorted((key(r), r["tokens"], r["tags"]) for r in filter_all_o(fused).collect())
    assert kept_u == kept_f


def test_iob_generate_barrier_survives_downstream_filter(spark):
    """The evaluate-once Generate in spans.py must stop a downstream filter
    on the tags from being pushed below it: if the optimizer inlines the
    whole tagging expression into that filter, the fused IOB path computes
    it twice per sentence (12 s -> 76 s at sf1.0)."""
    from otar3088_spark.operators.spans import filter_all_o, grouped_spans_to_iob
    from otar3088_spark.operators.tagging import prepare_dictionary, tag_mentions_grouped

    sents = spark.createDataFrame(
        [("a", 0, 0, "HeLa cells grow in hela cell lines today")],
        ["conv_id", "turn_idx", "sent_idx", "sent_text"],
    )
    dictionary = prepare_dictionary(
        spark.createDataFrame(
            [("E1", "HeLa", "CellLine"), ("E2", "cell line", "Obj")],
            ["ent_id", "term", "label"],
        )
    )
    kept = filter_all_o(grouped_spans_to_iob(tag_mentions_grouped(sents, dictionary)))
    lines = kept._jdf.queryExecution().optimizedPlan().toString().splitlines()
    barrier = [i for i, ln in enumerate(lines) if "Generate explode(array(struct(tokens" in ln]
    tag_filters = [i for i, ln in enumerate(lines) if "Filter exists(" in ln]
    assert len(barrier) == 1 and len(tag_filters) == 1, lines
    # the filter sits ABOVE the barrier and reads the generated column only
    assert tag_filters[0] < barrier[0]
    assert "_iob" in lines[tag_filters[0]] and "split(" not in lines[tag_filters[0]]
    assert [r["tags"] for r in kept.collect()] != []


def test_shingles_expr_matches_legacy_zipwith_form(spark):
    """Pin the round-7 shingle rewrite (let-bound transform over shingle
    starts) element-for-element against the legacy slice/zip_with(concat_ws)
    formulation, including the NULL-text, short-text and duplicate edges."""
    from pyspark.sql import functions as F

    from otar3088_spark.operators.dedup import normalized_text_expr, shingles_expr

    def legacy(text_col, k):
        toks = F.split(normalized_text_expr(text_col), " ")
        if k == 1:
            return F.array_distinct(toks)
        cols = [
            F.slice(toks, i + 1, F.greatest(F.size(toks) - k + 1, F.lit(0)))
            for i in range(k)
        ]
        sh = cols[0]
        for c in cols[1:]:
            sh = F.zip_with(sh, c, lambda a, b: F.concat_ws(" ", a, b))
        return F.array_distinct(sh)

    df = spark.createDataFrame(
        [(0, None), (1, ""), (2, " "), (3, "one"), (4, "one two"),
         (5, "a  b   c"), (6, "x x x x"), (7, "  lead trail  "),
         (8, "ONE Two THREE four five")],
        ["doc_id", "text"],
    )
    for k in (1, 2, 3, 4):
        bad = df.select(
            legacy(F.col("text"), k).alias("o"),
            shingles_expr(F.col("text"), k).alias("n"),
        ).filter(
            ~((F.col("o").isNull() & F.col("n").isNull()) | (F.col("o") == F.col("n")))
        ).count()
        assert bad == 0, f"k={k}"


def test_scan_width_guard_gates_on_table_and_size(spark, tmp_path):
    """The battery loader widens only the corpus tables (or explicit
    widen_key opt-ins) and only between the size bounds; the repartition is
    keyed (REPARTITION_BY_NUM hash), never round-robin."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from otar3088_spark.queries import _t

    sf = tmp_path / "sf"
    sf.mkdir()
    big = pa.table({"doc_id": pa.array(range(60_000), pa.int64()),
                    "text": ["word " * 20] * 60_000})
    pq.write_table(big, sf / "documents.parquet", row_group_size=60_000)
    tiny = pa.table({"r_regionkey": pa.array(range(5), pa.int64()),
                     "r_name": ["a", "b", "c", "d", "e"]})
    pq.write_table(tiny, sf / "region.parquet")
    pq.write_table(big.rename_columns(["event_id", "props"]), sf / "events.parquet",
                   row_group_size=60_000)

    def plan(df):
        return df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted")

    p_doc = plan(_t(spark, str(sf), "documents"))
    assert "REPARTITION_BY_NUM" in p_doc and "hashpartitioning(doc_id" in p_doc
    assert "ROUND_ROBIN" not in p_doc.upper().replace("ROUNDROBIN", "ROUND_ROBIN")
    # tiny dim: below the floor -> untouched
    assert "REPARTITION_BY_NUM" not in plan(_t(spark, str(sf), "region"))
    # non-corpus table: untouched by default, widened on explicit opt-in
    assert "REPARTITION_BY_NUM" not in plan(_t(spark, str(sf), "events"))
    p_ev = plan(_t(spark, str(sf), "events", widen_key="event_id"))
    assert "REPARTITION_BY_NUM" in p_ev and "hashpartitioning(event_id" in p_ev
