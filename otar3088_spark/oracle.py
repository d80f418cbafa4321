"""Pure-pandas golden oracle — independent re-implementation of the pipeline
semantics for P/R scoring (SURVEY.md §5: the reference has no golden corpus,
so we build one; the reference's own correctness check is span-level P/R/F1,
metrics.py:20-40, and BASELINE.json demands P/R >= 0.95 on triples).

No Spark imports here: this is the trusted side of the differential test.
Every rule mirrors a cited reference behavior (see functions/text.py and
operators/tagging.py docstrings for the file:line map).
"""

from __future__ import annotations

import json
import re

import pandas as pd

# pure DATA constants shared with the engine (no Spark logic is used): the
# label priority order (defined by the rule's owner, canonicalize) and the
# F8 irregular-plural table. The oracle's
# implementation remains fully independent of the Spark side.
from otar3088_spark.functions.lemma_data import IRREGULAR_PLURALS
from otar3088_spark.operators.canonicalize import LABEL_PRIORITY

GENERIC_WORDS = {"cell", "cells", "line", "lines", "tissue", "tissues"}
REDLIST = re.compile(r"(?:genesis|cytic|ial|yal)$")
HEADER_RE = re.compile(
    r"^(abstract|introduction|methods|results|discussion|conclusion|background|"
    r"acknowledgements|references|conflict of interest|supplementary material)$|^pmc[0-9]+$"
)
_PRIORITY = {lab: i for i, lab in enumerate(LABEL_PRIORITY)}


def clean_text(s: str) -> str:
    s = re.sub(r"\{[^{}]*\}", " ", s)
    s = re.sub(r"\\[a-zA-Z]+", " ", s)
    s = re.sub(r"\[[0-9]+(\s*,\s*[0-9]+)*\]", " ", s)
    s = re.sub(r"\s+", " ", s)
    return s.strip()


_ABBREVS = (
    "e.g.", "i.e.", "et al.", "cf.", "vs.", "ca.", "approx.",
    "Fig.", "fig.", "Figs.", "Dr.", "No.", "Eq.", "Ref.",
)
_SENT_BOUNDARY = re.compile(
    r"(?<=[.!?])"
    + "".join(r"(?<!\b" + a.replace(".", r"\.") + ")" for a in _ABBREVS)
    + r"(?<!\b[A-Z]\.) "
)


def sentences_of(clean: str) -> list[tuple[int, str]]:
    """[(char_start, sent_text)] — same abbreviation-guarded lookbehind split
    as the engine (functions/text.py sentence_boundary_pattern)."""
    parts = _SENT_BOUNDARY.split(clean)
    out, cur = [], 0
    for p in parts:
        if len(p) > 0:
            out.append((cur, p))
        cur += len(p) + 1
    return out


def token_core(tok: str) -> tuple[int, str]:
    """(lead_strip_width, core)"""
    lead = re.match(r"""^[(\["']+""", tok)
    ln = lead.end() if lead else 0
    core = re.sub(r"""[)\].,;:!?"']+$""", "", tok[ln:])
    return ln, core


def destem(key: str) -> str | None:
    if key.endswith("'s") and len(key) > 2:
        return key[:-2]
    if key.endswith("s") and len(key) > 3:
        return key[:-1]
    return None


def norm_key(key: str, overrides: dict[str, str] | None = None) -> str:
    """TOTAL lemma normalization — mirror of functions/text.py norm_key_sql:
    override map, then override-VALUE fixpoint (a known lemma is never
    re-stemmed: 'metastasis' stays 'metastasis'), then rule destem, else
    identity. Applied to both dictionary and window tokens (whole-window
    lemma matching, labelstudio_e2e.py:179-185 + 218-226)."""
    if overrides:
        if key in overrides:
            return overrides[key]
        if key in overrides.values():
            return key
    d = destem(key)
    return d if d is not None else key


def prepare_dictionary(dict_df: pd.DataFrame) -> pd.DataFrame:
    d = dict_df[dict_df["term"].str.len() > 2].copy()
    d = d[~((d["label"] == "Anatomy") & d["term"].str.lower().str.contains(REDLIST))]
    d["term_tokens"] = d["term"].str.lower().str.strip().str.split()
    d["n"] = d["term_tokens"].map(len)
    d["first_tok"] = d["term_tokens"].map(lambda t: t[0])
    d = d.drop_duplicates(subset=["ent_id", "label", "term"])
    return d.reset_index(drop=True)


def _match_sentence(
    sent: str,
    dict_rows: list[tuple],
    lemma_overrides: dict[str, str] | None = None,
) -> list[dict]:
    """dict_rows: (ent_id, label, term, nd_tokens) with nd_tokens already
    lemma-normalized. Whole-window lemma matching: the window matches iff the
    normalized window keys equal the normalized dictionary tokens at every
    position (mirror of tag_mentions stage 2)."""
    toks = sent.split(" ")
    starts, cur = [], 0
    for t in toks:
        starts.append(cur)
        cur += len(t) + 1
    leads, cores = zip(*(token_core(t) for t in toks)) if toks else ((), ())
    keys = [c.lower() for c in cores]
    keys_nm = [norm_key(k, lemma_overrides) for k in keys]

    spans = []
    for pos in range(len(toks)):
        for ent_id, label, term, nd_tokens in dict_rows:
            n = len(nd_tokens)
            if pos + n > len(toks):
                continue
            if keys_nm[pos : pos + n] != list(nd_tokens):
                continue
            start = starts[pos] + leads[pos]
            end = starts[pos + n - 1] + leads[pos + n - 1] + len(cores[pos + n - 1])
            spans.append(
                {
                    "start": start,
                    "end": end,
                    "surface": sent[start:end],
                    "term": term,
                    "label": label,
                    "ent_id": ent_id,
                }
            )
    # dedup: one span per (start, end, label), min ent_id wins (homonym-id
    # pick is label-scoped, so it commutes with the later winner filter) +
    # longest-match containment drop
    best: dict[tuple, dict] = {}
    for s in spans:
        k = (s["start"], s["end"], s["label"])
        if k not in best or s["ent_id"] < best[k]["ent_id"]:
            best[k] = s
    uniq = list(best.values())
    kept = []
    for a in uniq:
        contained = any(
            b["start"] <= a["start"]
            and a["end"] <= b["end"]
            and (b["end"] - b["start"]) > (a["end"] - a["start"])
            for b in uniq
        )
        if not contained:
            kept.append(a)
    return kept


def model_spans_of(sent: str) -> list[tuple[int, int]]:
    """Trusted-side mirror of the deterministic stand-in scorer
    (operators/inference.py _stand_in_scorer): a mention for every token of
    length >= 4 whose md5 first byte < 16. Only extents matter here — the
    linker takes the label from the dictionary row."""
    import hashlib

    spans, cur = [], 0
    for tok in sent.split(" "):
        if len(tok) >= 4:
            h = hashlib.md5(tok.lower().encode()).digest()
            if h[0] < 16:
                spans.append((cur, cur + len(tok)))
        cur += len(tok) + 1
    return spans


def _link_model_spans(
    sent: str,
    mspans: list[tuple[int, int]],
    dict_by_key: dict[str, list[tuple]],
    dict_by_akey: dict[str, list[tuple]],
    lemma_overrides: dict[str, str] | None = None,
) -> list[dict]:
    """Mirror of link_model_mentions: whole-term lemma key (rank 0 — every
    token of both surface and dictionary term normalized with norm_key) plus
    alias-key fallback (rank 1), core re-offset, min-(rank, ent_id) per
    (span, label)."""
    out = []
    for s, e in mspans:
        surface = sent[s:e]
        toks = surface.split(" ")
        lcs = [token_core(t) for t in toks]
        keys = [c.lower() for (_, c) in lcs]
        key_nm = " ".join(norm_key(k, lemma_overrides) for k in keys)
        cands = [(0, *c) for c in dict_by_key.get(key_nm, [])]
        akey = alias_key(re.sub(r"[^A-Za-z0-9]+", " ", surface))
        if akey:
            seen0 = {(ent, term, lab) for (_r, ent, term, lab) in cands}
            cands += [
                (1, *c) for c in dict_by_akey.get(akey, []) if c not in seen0
            ]
        if not cands:
            continue
        lead1 = lcs[0][0]
        trail = len(toks[-1]) - lcs[-1][0] - len(lcs[-1][1])
        ns, ne = s + lead1, e - trail
        best: dict[str, tuple] = {}
        for rank, ent_id, term, label in cands:
            if label not in best or (rank, ent_id) < best[label][:2]:
                best[label] = (rank, ent_id, term)
        for label, (_rank, ent_id, term) in best.items():
            out.append(
                {"start": ns, "end": ne, "surface": sent[ns:ne],
                 "term": term, "label": label, "ent_id": ent_id}
            )
    return out


def extract_spans(
    transcripts: pd.DataFrame,
    dict_df: pd.DataFrame,
    with_model: bool = False,
    lemma_overrides: dict[str, str] | None = None,
) -> pd.DataFrame:
    # default mirrors build_kg: None -> the IRREGULAR_PLURALS table; pass {}
    # to disable (keeping the defaults aligned means the exact-parity tests
    # always compare identical configurations)
    if lemma_overrides is None:
        lemma_overrides = IRREGULAR_PLURALS
    d = prepare_dictionary(dict_df)
    # lemma-normalize dictionary tokens; rows whose normalized sequences
    # collide within (ent_id, label) keep the smallest surface term —
    # mirror of tag_mentions' dim-side groupBy/min
    dn = d.copy()
    dn["nd_tokens"] = dn["term_tokens"].map(
        lambda ts: tuple(norm_key(t, lemma_overrides) for t in ts)
    )
    dn = dn.sort_values("term", kind="mergesort").drop_duplicates(
        subset=["ent_id", "label", "nd_tokens"], keep="first"
    )
    dict_rows = list(
        dn[["ent_id", "label", "term", "nd_tokens"]].itertuples(index=False, name=None)
    )
    # linker rank-0 keys are whole-term LEMMA keys (every dictionary token
    # normalized — mirror of link_model_mentions' normed dict explode)
    dict_by_key: dict[str, list[tuple]] = {}
    dict_by_akey: dict[str, list[tuple]] = {}
    for ent_id, label, term, term_tokens in d[
        ["ent_id", "label", "term", "term_tokens"]
    ].itertuples(index=False, name=None):
        nk = " ".join(norm_key(t, lemma_overrides) for t in term_tokens)
        dict_by_key.setdefault(nk, []).append((ent_id, term, label))
        # symmetric with the mention side: punctuation -> token boundaries
        # BEFORE alias normalization (mirror of link_model_mentions)
        ak = alias_key(re.sub(r"[^A-Za-z0-9]+", " ", term))
        if ak:
            dict_by_akey.setdefault(ak, []).append((ent_id, term, label))
    t = transcripts.dropna(subset=["text", "conv_id", "turn_idx"]).drop_duplicates(
        subset=["conv_id", "turn_idx"]
    )
    t = t[~t["text"].str.strip().str.lower().str.match(HEADER_RE)]
    rows = []
    for conv_id, turn_idx, text in t[["conv_id", "turn_idx", "text"]].itertuples(
        index=False, name=None
    ):
        clean = clean_text(text)
        for sent_idx, (cstart, sent) in enumerate(sentences_of(clean)):
            kept = _match_sentence(sent, dict_rows, lemma_overrides)
            if with_model:
                # dictionary precedence on exact (start, end) collision —
                # merge_spans_with_model semantics
                taken = {(a["start"], a["end"]) for a in kept}
                linked = _link_model_spans(
                    sent, model_spans_of(sent), dict_by_key, dict_by_akey,
                    lemma_overrides,
                )
                seen = set()
                for m in linked:
                    k = (m["start"], m["end"], m["label"], m["ent_id"])
                    if (m["start"], m["end"]) not in taken and k not in seen:
                        seen.add(k)
                        kept.append(m)
            for s in kept:
                rows.append(
                    {"conv_id": conv_id, "turn_idx": int(turn_idx), "sent_idx": sent_idx, **s}
                )
    return pd.DataFrame(
        rows,
        columns=["conv_id", "turn_idx", "sent_idx", "start", "end", "surface", "term", "label", "ent_id"],
    )


def resolve_labels(spans: pd.DataFrame) -> pd.DataFrame:
    if spans.empty:
        return spans
    s = spans.copy()
    s["term_key"] = s["term"].str.lower()
    counts = s.groupby(["term_key", "label"]).size().reset_index(name="cnt")
    counts["prio"] = counts["label"].map(lambda l: _PRIORITY.get(l, len(_PRIORITY)))
    counts = counts.sort_values(["term_key", "cnt", "prio", "label"], ascending=[True, False, True, True])
    winners = counts.drop_duplicates("term_key")[["term_key", "label"]].rename(
        columns={"label": "resolved_label"}
    )
    s = s.merge(winners, on="term_key")
    s = s[s["label"] == s["resolved_label"]]
    s = s.sort_values("ent_id").drop_duplicates(
        subset=["conv_id", "turn_idx", "sent_idx", "start", "end", "label"], keep="first"
    )
    return s.drop(columns=["term_key", "resolved_label"]).reset_index(drop=True)


def alias_key(term: str) -> str:
    toks = [t for t in term.lower().strip().split() if t not in GENERIC_WORDS]
    return re.sub(r"[^a-z0-9]", "", "".join(toks))


def entity_clusters(dict_df: pd.DataFrame) -> dict[str, str]:
    d = prepare_dictionary(dict_df)
    parent: dict[str, str] = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    by_key: dict[str, list[str]] = {}
    for ent_id, term in d[["ent_id", "term"]].itertuples(index=False, name=None):
        k = alias_key(term)
        if k:
            by_key.setdefault(k, []).append(ent_id)
    for ents in by_key.values():
        for e in ents[1:]:
            union(ents[0], e)
    all_ents = set(dict_df["ent_id"])
    return {e: find(e) if e in parent else e for e in all_ents}


def golden_triples(
    transcripts: pd.DataFrame,
    dict_df: pd.DataFrame,
    events: pd.DataFrame | None = None,
    with_model: bool = False,
    lemma_overrides: dict[str, str] | None = None,
) -> pd.DataFrame:
    """Distinct (subj, pred, obj) golden set."""
    spans = resolve_labels(
        extract_spans(
            transcripts, dict_df, with_model=with_model, lemma_overrides=lemma_overrides
        )
    )
    clusters = entity_clusters(dict_df)
    rows = set()
    for r in spans.itertuples(index=False):
        cluster = clusters.get(r.ent_id, r.ent_id)
        rows.add((r.ent_id, "is_a", r.label))
        rows.add((f"{r.conv_id}:{r.turn_idx}", "mentions", cluster))
        rows.add((r.surface.lower(), "linked_to", r.ent_id))
        if r.ent_id != cluster:
            rows.add((r.ent_id, "same_as", cluster))
    if events is not None:
        for r in events.itertuples(index=False):
            if r.event_type != "Adverse_event":
                continue
            ev = json.loads(r.event_data)
            drug = (ev.get("subject") or {}).get("Drug")
            effect = (ev.get("Effect") or {}).get("text")
            if drug and effect:
                rows.add((drug, "causes", effect))
    return pd.DataFrame(sorted(rows), columns=["subj", "pred", "obj"])


def precision_recall(pred: set[tuple], gold: set[tuple]) -> tuple[float, float]:
    if not pred or not gold:
        return (0.0, 0.0)
    tp = len(pred & gold)
    return tp / len(pred), tp / len(gold)
