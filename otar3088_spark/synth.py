"""Deterministic synthetic fixtures: transcripts + entity dictionary + events.

Two generator families:

* ``*_pandas`` — seed-fixed pure-pandas generators for unit tests and the
  golden-triple oracle (FIXTURES.md §§1-6). Small scale (≤ ~100k turns).
* ``transcripts_spark`` — pure-column-expression generator for bench scale
  (10^6..10^9 turns): ``spark.range`` + hash-indexed vocabulary ``concat``.
  Zero Python per row, generated distributed — this is how a 10^9-turn bench
  sample is materialized without a driver loop.

Shapes follow FIXTURES.md; the text deliberately exercises the reference's
cleaning regexes (latex ``{..}`` / ``\\cmd`` / citation ``[1,2]`` noise —
reference ``split2sent_par.py:158-181``), plural/possessive boundary matches
(``labelstudio_e2e.py:171-178``), case-insensitive dictionary hits
(``COVID_ner_clean.ipynb`` cell 7), and cross-label homonyms for the
mode/priority canonicalization kernel (``cellfinder_clean.ipynb`` cell 16).
"""

from __future__ import annotations

import json

import numpy as np
import pandas as pd

from otar3088_spark.operators.canonicalize import LABEL_PRIORITY  # noqa: F401

SEED = 42

FILLER = (
    "the study shows that results were observed in patients and controls "
    "we report a significant increase of expression under treatment with "
    "samples from cohort during phase trial data indicate robust response "
    "analysis confirms prior findings across replicates at baseline"
).split()

# (ent_id, term, label, canonical_id) — alias groups share canonical_id;
# homonym: "jurkat" appears as CellLine and CellType; short terms (len<=2)
# must be dropped by the P6 length filter; "angiogenesis" has a red-listed
# Anatomy suffix (P7, cellfinder_clean.ipynb cell 8).
DICTIONARY_ROWS: list[tuple[str, str, str, str]] = [
    ("ENT_0001", "HeLa", "CellLine", "C01"),
    ("ENT_0002", "hela cell", "CellLine", "C01"),
    ("ENT_0003", "HEK293", "CellLine", "C02"),
    ("ENT_0004", "HEK 293", "CellLine", "C02"),
    ("ENT_0005", "Jurkat", "CellLine", "C03"),
    ("ENT_0006", "jurkat", "CellType", "C03"),
    ("ENT_0007", "T cell", "CellType", "C04"),
    ("ENT_0008", "regulatory T cell", "CellType", "C04"),
    ("ENT_0009", "fibroblast", "CellType", "C05"),
    ("ENT_0010", "liver", "Tissue", "C06"),
    ("ENT_0011", "hepatic tissue", "Tissue", "C06"),
    ("ENT_0012", "lung", "Tissue", "C07"),
    ("ENT_0013", "cortex", "Anatomy", "C08"),
    ("ENT_0014", "angiogenesis", "Anatomy", "C09"),  # red-list suffix: drop
    ("ENT_0015", "monocytic", "Anatomy", "C10"),  # red-list suffix: drop
    ("ENT_0016", "aspirin", "Drug", "C11"),
    ("ENT_0017", "acetylsalicylic acid", "Drug", "C11"),
    ("ENT_0018", "paracetamol", "Drug", "C12"),
    ("ENT_0019", "headache", "AdverseEvent", "C13"),
    ("ENT_0020", "nausea", "AdverseEvent", "C14"),
    ("ENT_0021", "ab", "CellLine", "C15"),  # len<=2: dropped by P6
    ("ENT_0022", "x", "Drug", "C16"),  # len<=2: dropped by P6
    ("ENT_0023", "bone marrow stromal cell", "CellType", "C17"),
    ("ENT_0024", "MCF7", "CellLine", "C18"),
    ("ENT_0025", "mcf-7", "CellLine", "C18"),
]

# Header-like turns that must be dropped (article_normaliser.py:55-82).
HEADER_TEXTS = ["abstract", "introduction", "PMC123456", "methods", "Conflict of interest"]

ROLES = ["user", "assistant", "tool"]
TOOLS = [None, "search", "sql", None, "browser"]


def entity_dictionary_pandas() -> pd.DataFrame:
    """FIXTURES.md §2 dictionary table."""
    return pd.DataFrame(
        DICTIONARY_ROWS, columns=["ent_id", "term", "label", "canonical_id"]
    )


def _mention_surface(rng: np.random.RandomState, term: str) -> str:
    """Surface-form variants matched by the reference boundary regex
    ``(?<!\\w)term(?:s|'s)?(?!\\w)`` case-insensitively (labelstudio_e2e.py:171-178)."""
    v = rng.randint(6)
    if v == 0:
        return term.upper()
    if v == 1:
        return term.capitalize()
    if v == 2 and not term.endswith("s"):
        return term + "s"  # plural
    if v == 3 and not term.endswith("s"):
        return term + "'s"  # possessive
    if v == 4 and " " in term:
        # hyphenated multi-word variant ("HEK 293" -> "HEK-293"): invisible
        # to token-level gazetteer matching, linkable only through the model
        # branch's alias-key tier (link_model_mentions rank 1)
        return term.replace(" ", "-")
    return term


def transcripts_pandas(n_convs: int = 40, seed: int = SEED) -> pd.DataFrame:
    """FIXTURES.md §1 transcripts table with every edge case baked in.

    Skewed conversation lengths (first conv is ~10x the median) to exercise
    salting; noise tokens exercise clean_text; ~1% null texts and a few
    duplicated (conv_id, turn_idx) rows exercise P2/P3.
    """
    rng = np.random.RandomState(seed)
    terms = [t for (_, t, _, _) in DICTIONARY_ROWS if len(t) > 2]
    rows: list[tuple] = []
    base_ts = pd.Timestamp("2024-01-01", tz=None)
    for c in range(n_convs):
        conv_id = f"conv_{c:06d}"
        n_turns = 80 if c == 0 else int(rng.randint(3, 15))  # skew head
        for t in range(n_turns):
            n_sents = int(rng.randint(1, 4))
            sents = []
            for _ in range(n_sents):
                words = list(rng.choice(FILLER, size=rng.randint(4, 9)))
                # inject 0-2 dictionary mentions
                for _ in range(int(rng.randint(0, 3))):
                    pos = int(rng.randint(0, len(words) + 1))
                    words.insert(pos, _mention_surface(rng, terms[rng.randint(len(terms))]))
                # noise: latex group / command / citation / double space /
                # abbreviation traps for the sentencizer guard (F9)
                noise = rng.randint(10)
                if noise == 0:
                    words.insert(0, "{\\it latexnoise}")
                elif noise == 1:
                    words.append("[1, 23]")
                elif noise == 2:
                    words.insert(len(words) // 2, "\\textbf")
                elif noise == 4:
                    words.insert(len(words) // 3, "e.g.")
                elif noise == 5:
                    k = len(words) // 2
                    words[k:k] = ["Smith", "et", "al.", "reported"]
                elif noise == 6:
                    k = len(words) // 2
                    words[k:k] = ["(see", "Fig.", "2)"]
                elif noise == 7:
                    words.insert(len(words) // 2, "J.")  # single initial
                sent = " ".join(words) + "."
                if noise == 3:
                    sent = sent.replace(" ", "  ", 1)  # double space
                sents.append(sent)
            text = " ".join(sents)
            if c % 17 == 3 and t == 0:
                text = HEADER_TEXTS[c % len(HEADER_TEXTS)]  # header-like turn
            if rng.rand() < 0.01:
                text = None  # null text
            rows.append(
                (
                    conv_id,
                    t,
                    ROLES[t % 3],
                    text,
                    TOOLS[int(rng.randint(len(TOOLS)))],
                    base_ts + pd.Timedelta(minutes=int(c) * 60 + int(t)),
                )
            )
        if c % 13 == 5:  # duplicate row (dedup P3)
            rows.append(rows[-1])
    df = pd.DataFrame(
        rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    )
    df["turn_idx"] = df["turn_idx"].astype("int32")
    return df


def adversarial_transcripts_pandas(n_turns: int = 300, seed: int = 777) -> pd.DataFrame:
    """Fuzz corpus for the differential suite: dictionary terms wrapped in
    punctuation, hyphenated/plural/possessive/case variants, abbreviation
    traps, latex/citation noise, pure-punctuation tokens, double spaces,
    header rows, nulls and duplicate keys — everything the cleaning/
    sentencizing/tagging stack claims to handle, composed randomly."""
    rng = np.random.RandomState(seed)
    terms = [t for (_, t, _, _) in DICTIONARY_ROWS if len(t) > 2]
    punct_wrap = ["({t})", "({t}", "{t})", '"{t}"', "'{t}'", "[{t}]", "{t},", "{t}.", "{t};", "{t}!", "{t}?"]
    oddballs = ["...", "!!", "?", "(", ")", "--", "a.b", "x1)", '"', "''", "e.g.", "i.e.",
                "Fig.", "2)", "et", "al.", "J.", "vs.", "No.", "{\\it noise}", "\\textbf",
                "[1, 23]", "[4]", "(cf."]
    rows = []
    base_ts = pd.Timestamp("2024-06-01")
    for i in range(n_turns):
        conv_id = f"fuzz_{i % 40:04d}"
        n_sents = int(rng.randint(1, 4))
        sents = []
        for _ in range(n_sents):
            k = int(rng.randint(3, 11))
            words = []
            for _ in range(k):
                r = rng.rand()
                if r < 0.30:
                    t = _mention_surface(rng, terms[rng.randint(len(terms))])
                    if rng.rand() < 0.4:
                        t = punct_wrap[rng.randint(len(punct_wrap))].format(t=t)
                    words.append(t)
                elif r < 0.55:
                    words.append(oddballs[rng.randint(len(oddballs))])
                else:
                    words.append(FILLER[rng.randint(len(FILLER))])
            sent = " ".join(words) + [".", "!", "?", "."][rng.randint(4)]
            if rng.rand() < 0.15:
                sent = sent.replace(" ", "  ", 1)
            sents.append(sent)
        text = " ".join(sents)
        if rng.rand() < 0.05:
            text = HEADER_TEXTS[rng.randint(len(HEADER_TEXTS))]
        if rng.rand() < 0.03:
            text = None
        rows.append((conv_id, i // 40, ROLES[i % 3], text, None,
                     base_ts + pd.Timedelta(minutes=i)))
        if rng.rand() < 0.05:
            rows.append(rows[-1])
    df = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"])
    df["turn_idx"] = df["turn_idx"].astype("int32")
    return df


def events_pandas(n: int = 200, seed: int = SEED) -> pd.DataFrame:
    """FIXTURES.md §6 structured-event fixture (PHEE shape, phee_builder.py:55-78).

    ``event_data`` is a JSON string: {"subject": {"Drug": ...}, "Effect":
    {"text": ..., "start": ...}}; includes malformed no-Effect rows that must
    pass through without emitting a triple (PHEE_datagen.ipynb cell 3).
    """
    rng = np.random.RandomState(seed + 1)
    drugs = ["aspirin", "paracetamol", "ibuprofen"]
    effects = ["headache", "nausea", "dizziness", "rash"]
    rows = []
    for i in range(n):
        etype = "Adverse_event" if rng.rand() < 0.7 else "Potential_therapeutic_event"
        drug = drugs[rng.randint(len(drugs))]
        if rng.rand() < 0.1:
            data = json.dumps({"subject": {"Drug": drug}})  # malformed: no Effect
        else:
            data = json.dumps(
                {
                    "subject": {"Drug": drug},
                    "Effect": {"text": effects[rng.randint(len(effects))], "start": int(rng.randint(0, 50))},
                }
            )
        rows.append(
            (f"EV_{i:05d}", f"conv_{rng.randint(40):06d}", int(rng.randint(0, 5)), etype, data)
        )
    df = pd.DataFrame(
        rows, columns=["event_id", "conv_id", "turn_idx", "event_type", "event_data"]
    )
    df["turn_idx"] = df["turn_idx"].astype("int32")
    return df


def transcripts_spark(spark, n_turns: int):
    """Bench-scale transcript generator: pure column expressions over
    ``spark.range`` — distributed, deterministic, zero per-row Python.

    Text is assembled by indexing small literal vocab arrays with hash-derived
    ints; ~3 sentences/turn, ~1 dictionary mention per sentence, 20 turns per
    conversation. At 10^9 rows this parallelizes across all executors (range
    is an evenly-split source).
    """
    from pyspark.sql import functions as F

    terms = [t for (_, t, _, _) in DICTIONARY_ROWS if len(t) > 2]
    filler_arr = F.array(*[F.lit(w) for w in FILLER])
    term_arr = F.array(*[F.lit(t) for t in terms])
    n_f, n_t = len(FILLER), len(terms)

    conv = F.concat(
        F.lit("conv_"), F.lpad((F.col("id") / 20).cast("long").cast("string"), 9, "0")
    )
    df = spark.range(n_turns).select(
        conv.alias("conv_id"),
        (F.col("id") % 20).cast("int").alias("turn_idx"),
        F.element_at(F.array(F.lit("user"), F.lit("assistant"), F.lit("tool")), (F.col("id") % 3 + 1).cast("int")).alias("role"),
        F.col("id").alias("_id"),
    )

    def pick(arr, n, salt):
        h = F.xxhash64(F.col("_id"), F.lit(salt))
        return F.element_at(arr, ((h % n + n) % n + 1).cast("int"))

    # three sentences, each: 5 filler words + 1 term + '.'
    sent = lambda s: F.concat_ws(
        " ",
        pick(filler_arr, n_f, s * 10 + 1),
        pick(filler_arr, n_f, s * 10 + 2),
        pick(term_arr, n_t, s * 10 + 3),
        pick(filler_arr, n_f, s * 10 + 4),
        pick(filler_arr, n_f, s * 10 + 5),
    )
    text = F.concat(sent(1), F.lit(". "), sent(2), F.lit(". "), sent(3), F.lit("."))
    return df.select(
        "conv_id",
        "turn_idx",
        "role",
        text.alias("text"),
        F.lit(None).cast("string").alias("tool"),
        (F.lit("2024-01-01 00:00:00").cast("timestamp") + F.make_interval(secs=F.col("_id") % 86400)).alias("ts"),
    )

