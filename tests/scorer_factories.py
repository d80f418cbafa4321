"""Model factories for the model-seam tests.

A seam takes a ``ModelSpec`` naming one of these as
``"tests.scorer_factories:<name>"``, with its captured data as JSON
keyword arguments. The Python workers import this module from their
working directory (the repository root), the same way they import
``otar3088_spark``, and call the factory once per worker.
"""

from __future__ import annotations

import os

from otar3088_spark.operators.inference import ModelSpec

_LOADS = 0


def spec(name: str, **args) -> ModelSpec:
    return ModelSpec(f"tests.scorer_factories:{name}", args)


def replay(spans: dict[str, list]):
    """Recorded output: ``spans[text]`` is the sentence's span list."""

    def score(texts):
        return [spans[t] for t in texts]

    return score


def find_words(words: dict[str, str]):
    """A span for the first occurrence of each word, labelled ``words[w]``;
    a batch that is not a ``list`` fails."""

    def score(batch):
        if type(batch) is not list:
            raise TypeError(f"scorer got {type(batch).__name__}, not list")
        out = []
        for t in batch:
            spans = []
            for w, lab in words.items():
                i = t.find(w)
                if i >= 0:
                    spans.append((i, i + len(w), lab, 0.5 + len(w) / 100))
            out.append(spans)
        return out

    return score


def typed_scorer():
    """Labels a span with the type name of the batch it was given."""
    return lambda texts: [[(0, 8, type(texts).__name__, 1.0)] for _ in texts]


def typed_classifier():
    return lambda texts: [(type(texts).__name__, 1.0) for _ in texts]


def short_scorer():
    """One span list short of the batch."""
    return lambda texts: [[] for _ in range(len(texts) - 1)]


def short_classifier():
    """One prediction short of the batch."""
    return lambda texts: [("background", 0.5) for _ in range(len(texts) - 1)]


def permissive():
    """Every token of 4 or more characters is a candidate mention."""

    def score(sentences):
        out = []
        for sent in sentences:
            spans, cur = [], 0
            for tok in sent.split(" "):
                if len(tok) >= 4:
                    spans.append((cur, cur + len(tok), "Candidate", 0.9))
                cur += len(tok) + 1
            out.append(spans)
        return out

    return score


def stamped(tag: str = "", log: str | None = None):
    """Counts its loads per process. Every sentence gets one span whose
    label is ``"<pid>:<load number>"``. ``tag`` only tells specs apart.
    With ``log``, each load and each call also leaves an empty file in
    that directory."""
    global _LOADS
    _LOADS += 1
    load_id = f"{os.getpid()}:{_LOADS}"

    def touch(kind):
        if log is not None:
            open(os.path.join(log, f"{kind}-{load_id}-{os.urandom(4).hex()}"), "w").close()

    touch("load")

    def score(texts):
        touch("call")
        return [[(0, 1, load_id, 1.0)] for _ in texts]

    return score
