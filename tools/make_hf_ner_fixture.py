#!/usr/bin/env python
"""Materialize the recorded-HF-NER output fixture:
tests/fixtures/hf_ner_output.json.

Pins the production model seam (inference.model_mentions with a replay ``ModelSpec`` ->
link_model_mentions -> merge_spans_with_model) against output shaped exactly
like a real HF token-classification pipeline with
``aggregation_strategy="simple"`` (reference lineage: model_tests.ipynb
cell 6; trial_to_papers.ipynb cells 11-12 run
``pipeline("token-classification")`` and link the aggregated entities back to
the entity dictionary): per-sentence entity dicts with ``entity_group``,
softmax-like ``score``, ``word``, and CHARACTER ``start``/``end`` offsets
into the raw sentence. Offsets are derived here from the committed sentence
strings (same re-derivation discipline as the WordPiece contract fixture,
tests/fixtures/hf_tokenizer_contract.json), so the artifact is internally
consistent and fully reproducible; scores are fixed realistic confidence
values. No runtime model dependency anywhere.
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

OUT = Path(__file__).resolve().parents[1] / "tests" / "fixtures" / "hf_ner_output.json"

# (sentence, [(word, entity_group, score), ...]) — word offsets resolved
# below against the sentence string (first unclaimed occurrence).
RECORDED: list[tuple[str, list[tuple[str, str, float]]]] = [
    ("patients received aspirin after surgery and reported mild headaches.",
     [("aspirin", "Drug", 0.9991), ("headaches", "AdverseEvent", 0.9873)]),
    ("the HEK-293 cultures were transfected with the reporter construct.",
     [("HEK-293", "CellLine", 0.9712)]),
    ("HeLa proliferation slowed after paracetamol exposure.",
     [("HeLa", "CellLine", 0.9954), ("paracetamol", "Drug", 0.9987)]),
    ("acetylsalicylic-acid inhibits platelet aggregation in vivo.",
     [("acetylsalicylic-acid", "Drug", 0.9348)]),
    ("ibuprofen was the comparator arm in the bone marrow study.",
     [("ibuprofen", "Drug", 0.9995), ("bone marrow", "Tissue", 0.8473)]),
    ("severe nausea and vomiting occurred in two subjects.",
     [("nausea", "AdverseEvent", 0.9642), ("vomiting", "AdverseEvent", 0.5117)]),
    ("aspirin co-administration did not change jurkat viability.",
     [("aspirin", "Drug", 0.9969), ("jurkat", "CellLine", 0.9136)]),
    # both tokens inflected (irregular + regular plural): links "mouse model"
    # only through the whole-term lemma key (round-4 linker semantics)
    ("transgenic mice models developed severe headaches.",
     [("mice models", "CellType", 0.8912), ("headaches", "AdverseEvent", 0.9447)]),
]


# aggregation_strategy="first" variant (the second-most-common HF config):
# every WORD takes the label of its FIRST subword token, so entity
# start/end offsets snap to whole whitespace-delimited words — they can
# never cut inside a word the way "simple" offsets can at subword
# boundaries. The divergent cases recorded here:
# * "cisplatin-based": under simple the model's subword tagging yields the
#   span ("cisplatin", 4, 13) — linkable. Under first the whole word
#   "cisplatin-based" (4, 19) is the entity; its alias key
#   ("cisplatinbased") matches nothing, so the linker must DROP it.
# * "paracetamols": whole-word span whose rank-0 destem ("paracetamol")
#   links — word-snapping keeps trailing inflection inside the span.
OUT_FIRST = (
    Path(__file__).resolve().parents[1] / "tests" / "fixtures" / "hf_ner_output_first.json"
)
RECORDED_FIRST: list[tuple[str, list[tuple[str, str, float]]]] = RECORDED + [
    ("the cisplatin-based regimen was tolerated.",
     [("cisplatin-based", "Drug", 0.8821)]),
    ("dosing of paracetamols continued for a week.",
     [("paracetamols", "Drug", 0.9104)]),
]


def _resolve(recorded):
    sentences = []
    for i, (text, ents) in enumerate(recorded):
        claimed = 0
        entities = []
        for word, group, score in ents:
            start = text.index(word, claimed)
            entities.append(
                {
                    "entity_group": group,
                    "score": score,
                    "word": word,
                    "start": start,
                    "end": start + len(word),
                }
            )
            claimed = start + len(word)
        sentences.append({"sent_idx": i, "text": text, "entities": entities})
    return sentences


def main() -> None:
    sentences = _resolve(RECORDED)
    payload = {
        "format": "hf token-classification pipeline, aggregation_strategy=simple",
        "sentences": sentences,
    }
    OUT.write_text(json.dumps(payload, indent=1) + "\n")
    n = sum(len(s["entities"]) for s in sentences)
    print(f"wrote {OUT} ({len(sentences)} sentences, {n} entities)")

    first = _resolve(RECORDED_FIRST)
    # the "first" contract: offsets ALWAYS snap to whole words
    for s in first:
        for e in s["entities"]:
            before = s["text"][e["start"] - 1] if e["start"] > 0 else " "
            after = s["text"][e["end"]] if e["end"] < len(s["text"]) else " "
            assert before in " " and after in " .,", (s["text"], e)
    payload = {
        "format": "hf token-classification pipeline, aggregation_strategy=first",
        "sentences": first,
    }
    OUT_FIRST.write_text(json.dumps(payload, indent=1) + "\n")
    n = sum(len(s["entities"]) for s in first)
    print(f"wrote {OUT_FIRST} ({len(first)} sentences, {n} entities)")


if __name__ == "__main__":
    sys.exit(main())
