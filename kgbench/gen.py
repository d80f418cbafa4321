"""Seeded input generators for the KG benchmark.

The engine's own bench-scale generator (``synth.transcripts_spark``) takes no
seed, so the benchmark carries its own: the same ``seed`` always gives the
same rows. Everything is written with pyarrow, so input generation never
touches the Spark session being measured.

Transcripts follow the ``transcripts_spark`` shape: 20 turns per
conversation, 3 sentences per turn, each sentence two filler words, one
mention of a FIXTURES dictionary term and two filler words, ending in ``.``.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from otar3088_spark.synth import DICTIONARY_ROWS, FILLER

TURNS_PER_CONV = 20
SENTS_PER_TURN = 3

TRANSCRIPT_SCHEMA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("role", pa.string()),
        ("text", pa.string()),
        ("tool", pa.string()),
        ("ts", pa.timestamp("us")),
    ]
)
DICT_SCHEMA = pa.schema(
    [
        ("ent_id", pa.string()),
        ("term", pa.string()),
        ("label", pa.string()),
        ("canonical_id", pa.string()),
    ]
)


def surface_variant(term: str, kind: int) -> str:
    """One of the surface forms the engine must still link: upper case,
    capitalised, plural, possessive, or (multi-word terms) hyphenated —
    the hyphenated form has no token-level gazetteer match and links only
    through the model branch's alias key."""
    if kind == 0:
        return term.upper()
    if kind == 1:
        return term.capitalize()
    if kind == 2 and not term.endswith("s"):
        return term + "s"
    if kind == 3 and not term.endswith("s"):
        return term + "'s"
    if kind == 4 and " " in term:
        return term.replace(" ", "-")
    return term


def transcripts(n_turns: int, seed: int, variant_share: float = 0.0) -> pd.DataFrame:
    """``n_turns`` turns; every sentence mentions one FIXTURES term, drawn
    uniformly. A ``variant_share`` of the mentions is written as a
    ``surface_variant`` instead of the dictionary spelling."""
    rng = np.random.default_rng(seed)
    filler = np.array(FILLER, dtype=object)
    terms = [t for (_, t, _, _) in DICTIONARY_ROWS if len(t) > 2]
    n_sent = n_turns * SENTS_PER_TURN

    words = filler[rng.integers(0, len(filler), (n_sent, 4))]
    picks = rng.integers(0, len(terms), n_sent)
    varied = rng.random(n_sent) < variant_share
    kinds = rng.integers(0, 5, n_sent)
    mentions = [
        surface_variant(terms[p], k) if v else terms[p]
        for p, v, k in zip(picks, varied, kinds)
    ]
    sents = [f"{w[0]} {w[1]} {m} {w[2]} {w[3]}" for w, m in zip(words, mentions)]
    texts = [
        ". ".join(sents[i : i + SENTS_PER_TURN]) + "."
        for i in range(0, n_sent, SENTS_PER_TURN)
    ]
    ids = np.arange(n_turns)
    return pd.DataFrame(
        {
            "conv_id": [f"conv_{c:09d}" for c in ids // TURNS_PER_CONV],
            "turn_idx": (ids % TURNS_PER_CONV).astype("int32"),
            "role": np.array(["user", "assistant", "tool"], dtype=object)[ids % 3],
            "text": texts,
            "tool": None,
            "ts": pd.Timestamp("2024-01-01") + pd.to_timedelta(ids % 86400, unit="s"),
        }
    )


def write_inputs(out_dir: str, n_turns: int, seed: int, variant_share: float) -> dict[str, str]:
    """Write ``transcripts.parquet`` and the 25-row FIXTURES
    ``dictionary.parquet`` under ``out_dir``; returns their paths by name."""
    paths = {
        "transcripts": f"{out_dir}/transcripts.parquet",
        "dictionary": f"{out_dir}/dictionary.parquet",
    }
    tables = {
        "transcripts": (transcripts(n_turns, seed, variant_share), TRANSCRIPT_SCHEMA),
        "dictionary": (
            pd.DataFrame(DICTIONARY_ROWS, columns=list(DICT_SCHEMA.names)),
            DICT_SCHEMA,
        ),
    }
    for name, (df, schema) in tables.items():
        pq.write_table(pa.Table.from_pandas(df, schema=schema, preserve_index=False), paths[name])
    return paths
