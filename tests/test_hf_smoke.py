"""Optional real-model smoke test (round-5 verdict task 5).

This sandbox ships no torch/transformers, so the test below is
collected-but-skipped here. The day the environment gains them, it runs a
REAL (tiny, randomly initialized, network-free) BERT token-classification
model, saved to a local directory, through ``model_mentions``' scorer seam:
a ``ModelSpec`` names the ``hf_pipeline_scorer`` factory and that path, so
each Python worker builds the pipeline itself. It asserts the structural
invariants every scorer must satisfy — schema, offset sanity, surface/text
agreement — not golden values (random weights make predictions arbitrary;
the contract is what matters).

Reference lineage: /root/reference/Data_mining/variant/model_tests.ipynb
cell 6 (HF token-classification pipeline with aggregation_strategy="simple").
"""

from __future__ import annotations

import importlib.util

import pytest

_HAS_TORCH = (
    importlib.util.find_spec("torch") is not None
    and importlib.util.find_spec("transformers") is not None
)


@pytest.mark.skipif(not _HAS_TORCH, reason="torch/transformers not installed")
def test_real_hf_token_classification_through_scorer_seam(spark, tmp_path):
    import torch
    from transformers import BertConfig, BertForTokenClassification, BertTokenizerFast

    from otar3088_spark.operators.inference import MENTION_SCHEMA, ModelSpec, model_mentions

    # tiny vocab + random-weight model: no network, no model hub
    vocab = [
        "[PAD]", "[UNK]", "[CLS]", "[SEP]", "[MASK]",
        "aspirin", "causes", "headache", "in", "hela", "cells",
        "the", "##s", "patient", "took", "drug",
    ]
    vfile = tmp_path / "vocab.txt"
    vfile.write_text("\n".join(vocab))
    tok = BertTokenizerFast(str(vfile), do_lower_case=True)
    labels = ["O", "B-Drug", "I-Drug", "B-AdverseEvent", "I-AdverseEvent"]
    cfg = BertConfig(
        vocab_size=len(vocab), hidden_size=32, num_hidden_layers=1,
        num_attention_heads=2, intermediate_size=64,
        num_labels=len(labels),
        id2label=dict(enumerate(labels)),
        label2id={l: i for i, l in enumerate(labels)},
    )
    torch.manual_seed(0)
    model_dir = tmp_path / "tiny-bert"
    BertForTokenClassification(cfg).save_pretrained(model_dir)
    tok.save_pretrained(model_dir)

    sents = spark.createDataFrame(
        [
            ("c0", 0, 0, "aspirin causes headache in hela cells"),
            ("c0", 1, 0, "the patient took drugs"),
            ("c1", 0, 0, ""),
        ],
        ["conv_id", "turn_idx", "sent_idx", "sent_text"],
    )
    out = model_mentions(
        sents,
        ModelSpec("otar3088_spark.operators.inference:hf_pipeline_scorer", {"model": str(model_dir)}),
    )
    assert out.schema == MENTION_SCHEMA
    rows = out.collect()
    texts = {
        (r["conv_id"], r["turn_idx"], r["sent_idx"]): r["sent_text"]
        for r in sents.collect()
    }
    entity_groups = {"Drug", "AdverseEvent"}
    for r in rows:
        sent = texts[(r["conv_id"], r["turn_idx"], r["sent_idx"])]
        assert 0 <= r["start"] < r["end"] <= len(sent)
        assert r["surface"] == sent[r["start"] : r["end"]]
        assert r["label"] in entity_groups
        assert 0.0 < r["score"] <= 1.0
