"""DuckDB oracle SQL for every entry in ``queries.QUERIES``.

Same column names + aliases as the Spark side (driver hashes values after
sorting columns by name). Float aggregates rounded to 4 decimals on both
sides; timestamps surfaced as formatted strings. Tables are pre-registered
DuckDB views: region nation customer supplier part orders lineitem events
documents embeddings.
"""

from __future__ import annotations

from otar3088_spark.queries import DOC_DICT, KG_FIXTURE_DIR


def _sq0(s: str) -> str:
    """Escape a value for embedding as a single-quoted SQL literal."""
    return s.replace("'", "''")


_DOC_DICT_VALUES = ", ".join(
    f"('{_sq0(i)}', '{_sq0(t)}', '{_sq0(l)}')" for (i, t, l) in DOC_DICT
)

# Dictionary CTE reused by the tagging oracles. Only multi-token n in {1,2}
# occurs in DOC_DICT; the SQL handles both via a unigram and a bigram pass.
# Mirrors the ENGINE normalization exactly (tagging.py / functions/text.py):
# token core = strip leading ([\"' and trailing )].,;:!?\"' punctuation;
# match key = lower(core); WHOLE-WINDOW lemma equality — both dictionary
# tokens and window tokens are normalized with coalesce(destem, identity)
# (no override map in this query) and compared position-by-position; span
# offsets are core extents (raw start + lead-strip width .. + core length).
# Then the engine's min-ent-id-per-(start,end,label) pick and longest-match
# containment rule.
_DESTEM_NM = (
    "COALESCE(CASE WHEN {c} LIKE '%''s' AND length({c}) > 2 THEN substr({c}, 1, length({c}) - 2) "
    "WHEN {c} LIKE '%s' AND length({c}) > 3 THEN substr({c}, 1, length({c}) - 1) END, {c})"
)

_TAGGING_CTE = f"""
WITH dict0(ent_id, term, label) AS (VALUES {_DOC_DICT_VALUES}),
dictn AS (
    SELECT ent_id, label, min(term) AS term, ntt, len(ntt)::INT AS n
    FROM (
        SELECT ent_id, label, term,
               list_transform(string_split_regex(lower(trim(term)), '\\s+'),
                              t -> {_DESTEM_NM.format(c="t")}) AS ntt
        FROM dict0 WHERE length(term) > 2
    )
    GROUP BY ent_id, label, ntt
),
toks_raw AS (
    SELECT doc_id,
           unnest(string_split(text, ' ')) AS tok_raw,
           generate_subscripts(string_split(text, ' '), 1) AS pos
    FROM documents
),
toks AS (
    SELECT doc_id, pos::INT AS pos, tok_raw, length(tok_raw) AS rawlen,
           length(tok_raw) - length(regexp_replace(tok_raw, '^[(\\["'']+', '')) AS lead,
           lower(regexp_replace(regexp_replace(tok_raw, '^[(\\["'']+', ''),
                                '[)\\].,;:!?"'']+$', '')) AS key
    FROM toks_raw
),
keyed AS (
    SELECT doc_id, pos, tok_raw, rawlen, lead, key, length(key) AS corelen,
           {_DESTEM_NM.format(c="key")} AS key_nm,
           COALESCE(SUM(rawlen + 1) OVER (
               PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::INT AS rawstart
    FROM toks
),
uni AS (
    SELECT p.doc_id, (p.rawstart + p.lead)::INT AS start,
           (p.rawstart + p.lead + p.corelen)::INT AS "end",
           d.term, d.label, d.ent_id
    FROM keyed p JOIN dictn d
      ON d.n = 1 AND p.key_nm = d.ntt[1]
),
bi AS (
    SELECT a.doc_id, (a.rawstart + a.lead)::INT AS start,
           (b.rawstart + b.lead + b.corelen)::INT AS "end",
           d.term, d.label, d.ent_id
    FROM keyed a
    JOIN keyed b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
    JOIN dictn d ON d.n = 2
      AND a.key_nm = d.ntt[1]
      AND b.key_nm = d.ntt[2]
),
allm AS (SELECT * FROM uni UNION ALL SELECT * FROM bi),
dedup AS (SELECT DISTINCT doc_id, start, "end", term, label, ent_id FROM allm),
picked AS (
    SELECT a.* FROM dedup a
    WHERE NOT EXISTS (
        SELECT 1 FROM dedup b
        WHERE b.doc_id = a.doc_id AND b.start = a.start AND b."end" = a."end"
          AND b.label = a.label AND b.ent_id < a.ent_id
    )
),
spans AS (
    SELECT a.* FROM picked a
    WHERE NOT EXISTS (
        SELECT 1 FROM picked b
        WHERE b.doc_id = a.doc_id AND b.start <= a.start AND a."end" <= b."end"
          AND (b."end" - b.start) > (a."end" - a.start)
    )
)
"""

# ---- generated oracles for the md5-hash-family dedup twins ----------------
# normalized text + distinct adjacent-bigram shingles shared by both.
_SHINGLE_CTE = """
WITH norm AS (
    SELECT doc_id, lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS ntext
    FROM documents
),
toks AS (
    SELECT doc_id,
           unnest(string_split(ntext, ' ')) AS tok,
           generate_subscripts(string_split(ntext, ' '), 1) AS pos
    FROM norm
),
sh AS (
    SELECT DISTINCT a.doc_id, a.tok || ' ' || b.tok AS sh
    FROM toks a JOIN toks b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
)
"""


def _minhash_md5_sql(num_hashes: int = 32, bands: int = 8, threshold: float = 0.5) -> str:
    rpb = num_hashes // bands
    mins = ",\n           ".join(
        f"min(md5('{i}|' || sh)) AS h{i}" for i in range(num_hashes)
    )
    band_sel = "\n    UNION ALL ".join(
        "SELECT doc_id, {b} AS band_idx, {hash} AS band_hash FROM sigs".format(
            b=b,
            hash=" || '_' || ".join(f"h{b * rpb + r}" for r in range(rpb)),
        )
        for b in range(bands)
    )
    return (
        _SHINGLE_CTE
        + f""",
sigs AS (
    SELECT doc_id,
           {mins}
    FROM sh GROUP BY doc_id
),
banded AS (
    {band_sel}
),
cands AS (
    SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
    FROM banded a JOIN banded b
      ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
     AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
inter AS (
    SELECT c.id1, c.id2, count(*) AS inter
    FROM cands c
    JOIN sh a ON a.doc_id = c.id1
    JOIN sh b ON b.doc_id = c.id2 AND b.sh = a.sh
    GROUP BY c.id1, c.id2
)
SELECT id1, id2,
       round(inter / (s1.sz + s2.sz - inter)::DOUBLE, 4) AS jaccard
FROM inter
JOIN sizes s1 ON s1.doc_id = id1
JOIN sizes s2 ON s2.doc_id = id2
WHERE inter / (s1.sz + s2.sz - inter)::DOUBLE >= {threshold}
"""
    )


def _simhash_md5_sql(n_bits: int = 60, bucket_shift: int = 52) -> str:
    sums = ",\n           ".join(
        f"SUM(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS b{b}"
        for b in range(n_bits)
    )
    pack = " + ".join(f"CASE WHEN b{b} > 0 THEN {1 << b} ELSE 0 END" for b in range(n_bits))
    return f"""
WITH norm AS (
    SELECT doc_id, lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS ntext
    FROM documents
),
toks AS (
    SELECT doc_id, unnest(string_split(ntext, ' ')) AS tok FROM norm
),
h AS (
    SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM toks
),
bits AS (
    SELECT doc_id,
           {sums}
    FROM h GROUP BY doc_id
),
packed AS (
    SELECT doc_id, ({pack})::BIGINT AS simhash FROM bits
)
SELECT doc_id, simhash, (simhash >> {bucket_shift})::BIGINT AS bucket FROM packed
"""


def _ann_lsh_sql(
    bits: int = 6, num_tables: int = 16, seed: int = 42, dim: int = 64,
    n_probes: int = 10, k: int = 5,
) -> str:
    """Full LSH ANN replay in SQL: the engine's hyperplanes are a
    deterministic seeded matrix (similarity._hyperplanes), embedded here as
    literal arrays; signatures via list_inner_product sign bits, Hamming-1
    multiprobe via xor, exact-cosine verify, window top-k — the identical
    pipeline DuckDB can evaluate end to end."""
    from otar3088_spark.operators.similarity import _hyperplanes

    planes = _hyperplanes(num_tables * bits, dim, seed)

    def lit(row):
        return "[" + ", ".join(f"{x:.1f}" for x in row) + "]"

    sig_cols = []
    for t in range(num_tables):
        terms = " + ".join(
            f"CASE WHEN list_inner_product(e, {lit(planes[t * bits + b])}) >= 0 "
            f"THEN {1 << b} ELSE 0 END"
            for b in range(bits)
        )
        sig_cols.append(f"({terms}) AS s{t}")
    banded = "\n    UNION ALL ".join(
        f"SELECT vec_id, e, {t} AS tbl, s{t} AS sig FROM sigt" for t in range(num_tables)
    )
    flips = ", ".join(str(m) for m in [0] + [1 << b for b in range(bits)])
    return f"""
WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
sigt AS (
    SELECT vec_id, e,
           {", ".join(sig_cols)}
    FROM c
),
cidx AS (
    {banded}
),
pidx AS (
    SELECT vec_id AS q_id, e AS qe, tbl, xor(sig::BIGINT, f.m::BIGINT)::INT AS sig
    FROM cidx, (SELECT unnest([{flips}]) AS m) f
    WHERE vec_id < {n_probes}
),
cand AS (
    SELECT DISTINCT p.q_id, c.vec_id, p.qe, c.e
    FROM cidx c JOIN pidx p ON c.tbl = p.tbl AND c.sig = p.sig
    WHERE c.vec_id <> p.q_id
),
scored AS (
    SELECT q_id, vec_id,
           list_inner_product(e, qe) /
           (sqrt(list_inner_product(e, e)) * sqrt(list_inner_product(qe, qe))) AS cos
    FROM cand
)
SELECT q_id, vec_id, round(cos, 6) AS cos, rnk
FROM (
    SELECT q_id, vec_id, cos,
           row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id ASC) AS rnk
    FROM scored
) WHERE rnk <= {k}
"""


# ---- full gazetteer KG-pipeline oracle -------------------------------------
# Replays build_kg's deterministic path (normalize -> clean -> sentencize ->
# token-blocked tagging with the IRREGULAR_PLURALS lemma table -> min-ent /
# longest-match dedup -> mode-label resolution -> alias-key connected
# components -> triple fan-out) as ONE DuckDB CTE chain over the SAME
# committed parquet corpus the Spark twin reads (fixtures/kg/*). RE2 has no
# lookbehind, so the engine's guarded sentence-boundary regex is restated at
# token level: a boundary follows token t iff t ends in [.!?], is not a
# protected abbreviation suffix (word-boundary anchored), not a single
# capital initial, and not the 'al.' of a preceding 'et'.


_sq = _sq0


def _norm_case_sql(col: str) -> str:
    """functions/text.py norm_key_sql restated in SQL (TOTAL normalization):
    irregular-override CASE, then override-VALUE fixpoint, then rule destem,
    then identity. The override map is embedded as escaped literals."""
    from otar3088_spark.functions.text import IRREGULAR_PLURALS

    whens = " ".join(
        f"WHEN '{_sq(k)}' THEN '{_sq(v)}'"
        for k, v in sorted(IRREGULAR_PLURALS.items())
    )
    vals = ", ".join(f"'{_sq(v)}'" for v in sorted(set(IRREGULAR_PLURALS.values())))
    destem = (
        f"CASE WHEN {col} LIKE '%''s' AND length({col}) > 2 THEN substr({col}, 1, length({col}) - 2) "
        f"WHEN {col} LIKE '%s' AND length({col}) > 3 THEN substr({col}, 1, length({col}) - 1) END"
    )
    return (
        f"COALESCE(CASE {col} {whens} END, "
        f"CASE WHEN {col} IN ({vals}) THEN {col} END, {destem}, {col})"
    )


def _akey_sql(expr: str) -> str:
    """canonicalize.alias_key_sql in DuckDB SQL: lowercase, split on whitespace,
    drop generic type words, concatenate, strip non-alphanumerics."""
    return (
        "regexp_replace(array_to_string(list_filter("
        f"string_split_regex(lower(trim({expr})), '\\s+'), "
        "t -> t NOT IN ('cell','cells','line','lines','tissue','tissues')), "
        "''), '[^a-z0-9]', '', 'g')"
    )


def _kg_gazetteer_sql(max_n: int = 4, merged: bool = False) -> str:
    """Oracle for q_kg_triples_gazetteer (``merged=False``) and for the
    flagship q_kg_triples merged gazetteer+model path (``merged=True`` adds
    the stand-in model scoring + exploded-key entity linking + dictionary-
    precedence merge CTEs). ``max_n`` must cover the longest dictionary term
    in the fixture (4: 'bone marrow stromal cell')."""
    tdir = str(KG_FIXTURE_DIR)
    abbrevs = (
        r"e\.g\.|i\.e\.|cf\.|vs\.|ca\.|approx\.|Fig\.|fig\.|Figs\.|Dr\.|No\.|Eq\.|Ref\."
    )
    headers = (
        "abstract|introduction|methods|results|discussion|conclusion|background|"
        "acknowledgements|references|conflict of interest|supplementary material"
    )
    norm_k = _norm_case_sql("key")

    # n-gram candidate passes: WHOLE-WINDOW lemma equality — every position
    # compares the full-norm window key against the normalized dictionary
    # token (tag_mentions stage 2; labelstudio_e2e.py:218-226)
    cands = [f"""
    SELECT k1.conv_id, k1.turn_idx, k1.sent_idx,
           (k1.rawstart + k1.lead)::INT AS start,
           (k1.rawstart + k1.lead + k1.corelen)::INT AS "end",
           d.term, d.label, d.ent_id
    FROM ktok k1 JOIN dictm d
      ON d.n = 1 AND k1.key_nm = d.ntt[1]"""]
    for n in range(2, max_n + 1):
        joins = []
        for i in range(2, n + 1):
            joins.append(
                f"    JOIN ktok t{i} ON t{i}.conv_id = k1.conv_id AND t{i}.turn_idx = k1.turn_idx\n"
                f"      AND t{i}.sent_idx = k1.sent_idx AND t{i}.spos = k1.spos + {i - 1}"
                f" AND t{i}.key_nm = d.ntt[{i}]"
            )
        cands.append(f"""
    SELECT k1.conv_id, k1.turn_idx, k1.sent_idx,
           (k1.rawstart + k1.lead)::INT AS start,
           (t{n}.rawstart + t{n}.lead + t{n}.corelen)::INT AS "end",
           d.term, d.label, d.ent_id
    FROM dictm d JOIN ktok k1 ON d.n = {n} AND k1.key_nm = d.ntt[1]
{chr(10).join(joins)}""")
    all_cands = "\n    UNION ALL".join(cands)

    # merged path: replay the deterministic stand-in scorer (token length
    # >= 4, md5 first hex digit '0' — same md5 family as the model_mentions
    # oracle), the exploded-(match_key, rank) entity linking of
    # link_model_mentions (rank 0 = whole-term LEMMA key, both sides
    # normalized token-by-token; rank 1 alias key; min-(rank, ent_id, term)
    # per (span, label)), and the dictionary-precedence span merge of
    # merge_spans_with_model.
    src = "merged" if merged else "spans"
    model_ctes = f""",
mhits AS MATERIALIZED (
    SELECT conv_id, turn_idx, sent_idx,
           (rawstart + lead)::INT AS start,
           (rawstart + lead + corelen)::INT AS "end",
           substr(tok, lead + 1, corelen) AS surface, key_nm,
           {_akey_sql("regexp_replace(tok, '[^A-Za-z0-9]+', ' ', 'g')")} AS akey
    FROM ktok
    WHERE rawlen >= 4 AND substr(md5(lower(tok)), 1, 1) = '0'
),
mkeys AS MATERIALIZED (
    SELECT DISTINCT conv_id, turn_idx, sent_idx, start, "end", surface, key_nm AS mkey, 0 AS rnk FROM mhits
    UNION
    SELECT DISTINCT conv_id, turn_idx, sent_idx, start, "end", surface, akey, 1 FROM mhits WHERE length(akey) > 0
),
dkeys AS MATERIALIZED (
    SELECT array_to_string(list_transform(tt, t -> {_norm_case_sql("t")}), ' ') AS dkey,
           0 AS rnk, term, label, ent_id FROM dictn
    UNION
    -- symmetric with the mention side: punctuation -> token boundaries
    -- before alias normalization (mirror of link_model_mentions)
    SELECT {_akey_sql("regexp_replace(term, '[^A-Za-z0-9]+', ' ', 'g')")}, 1, term, label, ent_id FROM dictn
    WHERE length({_akey_sql("regexp_replace(term, '[^A-Za-z0-9]+', ' ', 'g')")}) > 0
),
linkedm AS MATERIALIZED (
    SELECT conv_id, turn_idx, sent_idx, start, "end", term, label, ent_id, surface
    FROM (
        SELECT m.conv_id, m.turn_idx, m.sent_idx, m.start, m."end", m.surface,
               d.term, d.label, d.ent_id,
               row_number() OVER (
                   PARTITION BY m.conv_id, m.turn_idx, m.sent_idx, m.start, m."end", d.label
                   ORDER BY m.rnk ASC, d.ent_id ASC, d.term ASC) AS rn
        FROM mkeys m JOIN dkeys d ON m.mkey = d.dkey AND m.rnk = d.rnk
    ) WHERE rn = 1
),
mergedsrc AS (
    SELECT conv_id, turn_idx, sent_idx, start, "end", term, label, ent_id, surface, 0 AS msrc FROM spans
    UNION ALL
    SELECT conv_id, turn_idx, sent_idx, start, "end", term, label, ent_id, surface, 1 FROM linkedm
),
merged AS MATERIALIZED (
    SELECT DISTINCT conv_id, turn_idx, sent_idx, start, "end", term, label, ent_id, surface
    FROM (
        SELECT *, MIN(msrc) OVER (PARTITION BY conv_id, turn_idx, sent_idx, start, "end") AS ms
        FROM mergedsrc
    ) WHERE msrc = ms
)""" if merged else ""

    return f"""
WITH RECURSIVE raw AS (
    SELECT DISTINCT conv_id, turn_idx::INT AS turn_idx, text
    FROM read_parquet('{tdir}/transcripts.parquet')
    WHERE text IS NOT NULL AND conv_id IS NOT NULL AND turn_idx IS NOT NULL
      AND NOT regexp_matches(lower(trim(text)), '^({headers})$')
      AND NOT regexp_matches(lower(trim(text)), '^pmc[0-9]+$')
),
turns AS (
    SELECT conv_id, turn_idx,
           trim(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
               text,
               '\\{{[^{{}}]*\\}}', ' ', 'g'),
               '\\\\[a-zA-Z]+', ' ', 'g'),
               '\\[[0-9]+(\\s*,\\s*[0-9]+)*\\]', ' ', 'g'),
               '\\s+', ' ', 'g')) AS ct
    FROM raw
),
ttok AS (
    SELECT conv_id, turn_idx,
           unnest(string_split(ct, ' ')) AS tok,
           generate_subscripts(string_split(ct, ' '), 1) AS pos
    FROM turns WHERE length(ct) > 0
),
tmark AS (
    SELECT conv_id, turn_idx, tok, pos,
           CASE
             WHEN pos = count(*) OVER (PARTITION BY conv_id, turn_idx) THEN 0
             WHEN NOT regexp_matches(tok, '[.!?]$') THEN 0
             WHEN regexp_matches(tok, '(^|[^A-Za-z0-9_])({abbrevs})$') THEN 0
             WHEN regexp_matches(tok, '(^|[^A-Za-z0-9_])[A-Z]\\.$') THEN 0
             WHEN tok = 'al.' AND regexp_matches(
                 lag(tok) OVER (PARTITION BY conv_id, turn_idx ORDER BY pos),
                 '(^|[^A-Za-z0-9_])et$') THEN 0
             ELSE 1
           END AS bnd
    FROM ttok
),
tsent AS MATERIALIZED (
    SELECT *, COALESCE(SUM(bnd) OVER (PARTITION BY conv_id, turn_idx ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::INT AS sent_idx
    FROM tmark
),
sents AS MATERIALIZED (
    SELECT conv_id, turn_idx, sent_idx,
           string_agg(tok, ' ' ORDER BY pos) AS sent_text
    FROM tsent GROUP BY conv_id, turn_idx, sent_idx
),
stok AS (
    SELECT conv_id, turn_idx, sent_idx, tok,
           row_number() OVER (PARTITION BY conv_id, turn_idx, sent_idx ORDER BY pos)::INT AS spos,
           COALESCE(SUM(length(tok) + 1) OVER (PARTITION BY conv_id, turn_idx, sent_idx ORDER BY pos
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::INT AS rawstart
    FROM tsent
),
ktok AS MATERIALIZED (
    SELECT conv_id, turn_idx, sent_idx, spos, rawstart, tok, length(tok) AS rawlen,
           length(tok) - length(regexp_replace(tok, '^[(\\["'']+', '')) AS lead,
           length(key) AS corelen, key, {norm_k} AS key_nm
    FROM (
        SELECT *, lower(regexp_replace(regexp_replace(tok, '^[(\\["'']+', ''),
                                       '[)\\].,;:!?"'']+$', '')) AS key
        FROM stok
    )
),
dictn AS MATERIALIZED (
    SELECT DISTINCT ent_id, label, term, tt, len(tt)::INT AS n
    FROM (
        SELECT ent_id, label, term,
               string_split_regex(lower(trim(term)), '\\s+') AS tt
        FROM read_parquet('{tdir}/dictionary.parquet')
        WHERE length(term) > 2
          AND NOT (label = 'Anatomy' AND regexp_matches(lower(term), '(genesis|cytic|ial|yal)$'))
    )
),
dictm AS MATERIALIZED (
    SELECT ent_id, label, min(term) AS term, ntt, len(ntt)::INT AS n
    FROM (
        SELECT ent_id, label, term,
               list_transform(tt, t -> {_norm_case_sql("t")}) AS ntt
        FROM dictn
    )
    GROUP BY ent_id, label, ntt
),
allm AS ({all_cands}
),
dedup AS MATERIALIZED (SELECT DISTINCT conv_id, turn_idx, sent_idx, start, "end", term, label, ent_id FROM allm),
picked AS MATERIALIZED (
    SELECT a.* FROM dedup a
    WHERE NOT EXISTS (
        SELECT 1 FROM dedup b
        WHERE b.conv_id = a.conv_id AND b.turn_idx = a.turn_idx AND b.sent_idx = a.sent_idx
          AND b.start = a.start AND b."end" = a."end" AND b.label = a.label
          AND b.ent_id < a.ent_id
    )
),
spans AS MATERIALIZED (
    SELECT p.*, substr(s.sent_text, p.start + 1, p."end" - p.start) AS surface
    FROM picked p
    JOIN sents s ON s.conv_id = p.conv_id AND s.turn_idx = p.turn_idx AND s.sent_idx = p.sent_idx
    WHERE NOT EXISTS (
        SELECT 1 FROM picked b
        WHERE b.conv_id = p.conv_id AND b.turn_idx = p.turn_idx AND b.sent_idx = p.sent_idx
          AND b.start <= p.start AND p."end" <= b."end"
          AND (b."end" - b.start) > (p."end" - p.start)
    )
){model_ctes},
counts AS (
    SELECT lower(term) AS term_key, label, count(*) AS cnt FROM {src} GROUP BY 1, 2
),
winners AS (
    SELECT term_key, label AS rlabel FROM (
        SELECT *, row_number() OVER (
            PARTITION BY term_key
            ORDER BY cnt DESC,
                     CASE label WHEN 'CellLine' THEN 0 WHEN 'Anatomy' THEN 1
                                WHEN 'CellType' THEN 2 WHEN 'Tissue' THEN 3
                                WHEN 'Drug' THEN 4 WHEN 'AdverseEvent' THEN 5
                                ELSE 6 END ASC,
                     label ASC) AS rn
        FROM counts
    ) WHERE rn = 1
),
resolved AS (
    SELECT s.* FROM {src} s
    JOIN winners w ON lower(s.term) = w.term_key AND s.label = w.rlabel
),
akf AS (
    SELECT ent_id,
           regexp_replace(array_to_string(
               list_filter(string_split_regex(lower(trim(term)), '\\s+'),
                           t -> t NOT IN ('cell','cells','line','lines','tissue','tissues')),
               ''), '[^a-z0-9]', '', 'g') AS akey
    FROM dictn
),
reps AS (SELECT akey, min(ent_id) AS rep FROM akf WHERE length(akey) > 0 GROUP BY akey),
aedges AS (
    SELECT DISTINCT a.ent_id AS src, r.rep AS dst
    FROM akf a JOIN reps r USING (akey)
    WHERE length(a.akey) > 0 AND a.ent_id <> r.rep
),
asym AS (SELECT src, dst FROM aedges UNION SELECT dst, src FROM aedges),
walk(node, comp) AS (
    SELECT src, src FROM asym
    UNION
    SELECT s.dst, w.comp FROM walk w JOIN asym s ON s.src = w.node
),
comps AS (SELECT node, min(comp) AS component FROM walk GROUP BY node),
clusters AS (
    SELECT d.ent_id, COALESCE(c.component, d.ent_id) AS cluster_id
    FROM (SELECT DISTINCT ent_id FROM dictn) d
    LEFT JOIN comps c ON c.node = d.ent_id
),
jj AS MATERIALIZED (SELECT r.*, c.cluster_id FROM resolved r JOIN clusters c USING (ent_id)),
tri AS (
    SELECT ent_id AS subj, 'is_a' AS pred, label AS obj,
           conv_id, turn_idx, start, "end" FROM jj
    UNION ALL
    SELECT conv_id || ':' || turn_idx::VARCHAR, 'mentions', cluster_id,
           conv_id, turn_idx, start, "end" FROM jj
    UNION ALL
    SELECT lower(surface), 'linked_to', ent_id,
           conv_id, turn_idx, start, "end" FROM jj
    UNION ALL
    SELECT ent_id, 'same_as', cluster_id,
           conv_id, turn_idx, start, "end" FROM jj WHERE ent_id <> cluster_id
)
SELECT DISTINCT subj, pred, obj, conv_id, turn_idx::INT AS turn_idx,
       start::INT AS span_start, "end"::INT AS span_end
FROM tri
"""



def _label_case() -> str:
    """label_map's id convention as a SQL CASE over the DOC_DICT vocabulary
    (O=0, then B-X/I-X pairs in sorted label order) — kept programmatic so
    the oracle can never drift from plans/training_data.label_map."""
    from otar3088_spark.plans.training_data import label_map

    from otar3088_spark.queries import DOC_DICT

    l2i = label_map(sorted({l for (_, _, l) in DOC_DICT}))
    whens = " ".join(f"WHEN '{t}' THEN {i}" for t, i in l2i.items())
    return f"CASE tag {whens} ELSE -100 END"


_NER_TAG_ID_CASE = _label_case()


ORACLE_SQL: dict[str, str] = {
    "kg_triples_gazetteer": _kg_gazetteer_sql(),
    "kg_triples": _kg_gazetteer_sql(merged=True),
    "minhash_near_dups_md5": _minhash_md5_sql(),
    "simhash_buckets_md5": _simhash_md5_sql(),
    "ann_lsh_topk": _ann_lsh_sql(),
    "pricing_summary": """
        SELECT l_returnflag, l_linestatus,
               round(sum(l_quantity), 4) AS sum_qty,
               round(sum(l_extendedprice), 4) AS sum_base_price,
               round(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
               round(avg(l_quantity), 4) AS avg_qty,
               round(avg(l_discount), 4) AS avg_disc,
               count(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-01'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus
    """,
    "top_revenue_orders": """
        SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
               round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        WHERE c_mktsegment = 'BUILDING'
        GROUP BY o_orderkey, o_orderdate
        ORDER BY revenue DESC, o_orderkey ASC
        LIMIT 10
    """,
    "right_join_dedup": """
        SELECT c_custkey, c_name,
               count(o_orderkey) AS n_orders,
               round(coalesce(sum(o_totalprice), 0.0), 4) AS total_spent
        FROM orders RIGHT JOIN (SELECT * FROM customer WHERE c_acctbal > 0) c
          ON o_custkey = c_custkey
        GROUP BY c_custkey, c_name
    """,
    "multiway_join": """
        SELECT r_name, count(*) AS n_suppliers, round(avg(s_acctbal), 4) AS avg_acctbal
        FROM supplier
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY r_name ORDER BY r_name
    """,
    "broadcast_lookup": """
        SELECT p_brand, round(sum(l_quantity), 4) AS sum_qty, count(*) AS n_lines
        FROM lineitem JOIN part ON l_partkey = p_partkey
        GROUP BY p_brand ORDER BY p_brand
    """,
    "semi_anti": """
        SELECT p_type, count(*) AS n_parts, 'with_sales' AS bucket
        FROM part WHERE p_partkey IN (SELECT l_partkey FROM lineitem)
        GROUP BY p_type
        UNION ALL
        SELECT p_type, count(*) AS n_parts, 'without_sales' AS bucket
        FROM part WHERE p_partkey NOT IN (SELECT l_partkey FROM lineitem)
        GROUP BY p_type
    """,
    "filter_battery": """
        SELECT o_orderstatus, o_orderpriority, count(*) AS n
        FROM orders
        WHERE o_custkey IS NOT NULL
          AND o_orderstatus <> 'F'
          AND (o_orderpriority LIKE '%URGENT%' OR o_orderpriority IN ('2-HIGH'))
          AND length(o_orderpriority) > 2
        GROUP BY o_orderstatus, o_orderpriority
        ORDER BY o_orderstatus, o_orderpriority
    """,
    "dedup_first_wins": """
        SELECT user_id, event_id,
               strftime(ts, '%Y-%m-%d %H:%M:%S') AS first_ts, event_type
        FROM (
            SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS rn
            FROM events
        ) WHERE rn = 1
    """,
    "mode_priority": """
        SELECT p_brand, p_type AS mode_type, cnt
        FROM (
            SELECT p_brand, p_type, count(*) AS cnt,
                   row_number() OVER (PARTITION BY p_brand ORDER BY count(*) DESC, p_type ASC) AS rn
            FROM part GROUP BY p_brand, p_type
        ) WHERE rn = 1 ORDER BY p_brand
    """,
    "distinct_set_audit": """
        SELECT p_brand, count(DISTINCT p_type) AS n_types
        FROM part GROUP BY p_brand HAVING count(DISTINCT p_type) > 1
        ORDER BY p_brand
    """,
    "topk_per_group": """
        SELECT o_custkey, o_orderkey, round(o_totalprice, 4) AS o_totalprice, rnk
        FROM (
            SELECT o_custkey, o_orderkey, o_totalprice,
                   row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rnk
            FROM orders
        ) WHERE rnk <= 3
    """,
    "sessionize": """
        WITH g AS (
            SELECT user_id, event_id, ts, value,
                   CASE WHEN epoch(ts) - lag(epoch(ts)) OVER w IS NULL
                          OR epoch(ts) - lag(epoch(ts)) OVER w > 1800
                        THEN 1 ELSE 0 END AS new_sess
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
        ), s AS (
            SELECT user_id, value,
                   CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS BIGINT) AS session_id
            FROM g
        )
        SELECT user_id, session_id, count(*) AS n_events,
               round(sum(value), 4) AS session_value
        FROM s GROUP BY user_id, session_id
    """,
    "set_ops": """
        WITH clickers AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'click'),
             buyers AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'),
             erroring AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'error'),
             cb AS (SELECT user_id, 'click_and_buy' AS cohort FROM (SELECT * FROM clickers INTERSECT SELECT * FROM buyers)),
             noerr AS (SELECT user_id, 'click_no_error' AS cohort FROM (SELECT * FROM clickers EXCEPT SELECT * FROM erroring))
        SELECT cohort, count(*) AS n_users
        FROM (SELECT * FROM cb UNION ALL SELECT * FROM noerr)
        GROUP BY cohort ORDER BY cohort
    """,
    "json_props": """
        SELECT event_type,
               round(avg(CAST(props->>'$.k' AS INT)), 4) AS avg_k,
               max(CAST(props->>'$.k' AS INT)) AS max_k,
               count(*) AS n
        FROM events GROUP BY event_type ORDER BY event_type
    """,
    "token_stats": """
        SELECT doc_id,
               len(string_split(text, ' ')) AS n_tokens,
               len(list_distinct(string_split(text, ' '))) AS n_distinct_tokens,
               round(len(list_distinct(string_split(text, ' '))) /
                     len(string_split(text, ' '))::DOUBLE, 4) AS ttr
        FROM documents
    """,
    "term_tagging": _TAGGING_CTE
    + """
        SELECT doc_id, start, "end", term, label, ent_id FROM spans
    """,
    # bigram-anchor blocking is a candidate PREFILTER only — identical span
    # set, identical oracle (the SQL oracle has no blocking stage at all)
    "term_tagging_bigram": _TAGGING_CTE
    + """
        SELECT doc_id, start, "end", term, label, ent_id FROM spans
    """,
    "mentions_rollup": _TAGGING_CTE
    + """
        SELECT term, label, count(*) AS n_mentions,
               count(DISTINCT doc_id) AS n_docs
        FROM spans GROUP BY term, label ORDER BY term, label
    """,
    # span -> IOB -> span roundtrip: with core-extent tagging every span maps
    # 1:1 onto its first/last covered token (no partial overlaps exist in the
    # DOC_DICT vocabulary), so the roundtrip output is the tagging span set
    # re-keyed to 0-based token positions with raw-token text.
    "iob_roundtrip": _TAGGING_CTE
    + """
        SELECT s.doc_id,
               (kb.pos - 1)::INT AS start_pos,
               (ke.pos - 1)::INT AS end_pos,
               (SELECT string_agg(t.tok_raw, ' ' ORDER BY t.pos)
                  FROM keyed t
                 WHERE t.doc_id = s.doc_id AND t.pos BETWEEN kb.pos AND ke.pos
               ) AS text,
               s.label
        FROM spans s
        JOIN keyed kb ON kb.doc_id = s.doc_id
                     AND kb.rawstart + kb.lead = s.start
        JOIN keyed ke ON ke.doc_id = s.doc_id
                     AND ke.rawstart + ke.lead + ke.corelen = s."end"
    """,
    # training-data assembly: tagging spans -> per-token IOB tags -> encoded
    # ids (label_map convention: O=0, then B-X/I-X in sorted label order) ->
    # md5-family key-hash split. Split membership replays EXACTLY: DuckDB
    # computes the same md5('42|<doc_id>|0|0') first-16-bit coordinate the
    # Spark twin uses (split_fraction_expr hash_family='md5'); production
    # xxhash64 equivalence is pytest-pinned. Tag assignment rides the same
    # 1:1 span->token mapping the roundtrip oracle established.
    "ner_dataset": _TAGGING_CTE
    + f"""
        , span_tok AS (
            SELECT s.doc_id, kb.pos AS bpos, ke.pos AS epos, s.label
            FROM spans s
            JOIN keyed kb ON kb.doc_id = s.doc_id
                         AND kb.rawstart + kb.lead = s.start
            JOIN keyed ke ON ke.doc_id = s.doc_id
                         AND ke.rawstart + ke.lead + ke.corelen = s."end"
        ),
        tok_tags AS (
            SELECT k.doc_id, k.pos, k.tok_raw,
                   COALESCE(MIN(CASE WHEN k.pos = st.bpos THEN 'B-' || st.label
                                     ELSE 'I-' || st.label END), 'O') AS tag
            FROM keyed k
            LEFT JOIN span_tok st
              ON st.doc_id = k.doc_id AND k.pos BETWEEN st.bpos AND st.epos
            GROUP BY k.doc_id, k.pos, k.tok_raw
        ),
        docs2 AS (
            SELECT doc_id,
                   string_agg(tok_raw, ' ' ORDER BY pos) AS toks_str,
                   string_agg(({_NER_TAG_ID_CASE})::VARCHAR, ',' ORDER BY pos) AS tags_str,
                   max(CASE WHEN tag <> 'O' THEN 1 ELSE 0 END) AS has_ent
            FROM tok_tags GROUP BY doc_id
        ),
        coord AS (
            SELECT *, md5('42|' || doc_id::VARCHAR || '|0|0') AS h FROM docs2
        )
        SELECT CASE WHEN ('0x' || substr(h, 1, 4))::BIGINT < 16384
                    THEN 'validation' ELSE 'train' END AS split,
               doc_id,
               md5(toks_str) AS toks_md5,
               md5(tags_str) AS tags_md5
        FROM coord WHERE has_ent = 1
    """,
    # M2 stand-in classifier: class from md5 byte0 % 4, score from byte1
    "seq_classify": """
        WITH h AS (SELECT doc_id,
                          md5(lower(trim(text, ' ' || chr(9) || chr(10) || chr(13)))) AS hx
                   FROM documents),
        b AS (
            SELECT doc_id,
                   16 * (strpos('0123456789abcdef', substr(hx, 1, 1)) - 1)
                     + (strpos('0123456789abcdef', substr(hx, 2, 1)) - 1) AS byte0,
                   16 * (strpos('0123456789abcdef', substr(hx, 3, 1)) - 1)
                     + (strpos('0123456789abcdef', substr(hx, 4, 1)) - 1) AS byte1
            FROM h
        )
        SELECT doc_id,
               (['background','method','result','adverse_event'])[(byte0 % 4) + 1] AS cls,
               round(0.5 + byte1 / 1000.0, 4) AS score
        FROM b
    """,
    # deterministic stand-in scorer is md5-based, which DuckDB can evaluate:
    # token length >= 4, md5 first byte < 16 (first hex digit '0'), label by
    # second byte % 5, score 0.5 + third byte / 1000 (exact 3-decimal).
    "model_mentions": """
        WITH toks_raw AS (
            SELECT doc_id,
                   unnest(string_split(text, ' ')) AS tok_raw,
                   generate_subscripts(string_split(text, ' '), 1) AS pos
            FROM documents
        ),
        toks AS (
            SELECT doc_id, pos::INT AS pos, tok_raw, length(tok_raw) AS rawlen,
                   COALESCE(SUM(length(tok_raw) + 1) OVER (
                       PARTITION BY doc_id ORDER BY pos
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::INT AS rawstart
            FROM toks_raw
        ),
        hx AS (
            SELECT *, md5(lower(tok_raw)) AS h FROM toks WHERE rawlen >= 4
        ),
        bytes AS (
            SELECT doc_id, rawstart, rawlen, tok_raw,
                   strpos('0123456789abcdef', substr(h, 1, 1)) - 1 AS d0,
                   16 * (strpos('0123456789abcdef', substr(h, 3, 1)) - 1)
                     + (strpos('0123456789abcdef', substr(h, 4, 1)) - 1) AS byte1,
                   16 * (strpos('0123456789abcdef', substr(h, 5, 1)) - 1)
                     + (strpos('0123456789abcdef', substr(h, 6, 1)) - 1) AS byte2
            FROM hx
        )
        SELECT doc_id,
               rawstart AS start,
               (rawstart + rawlen)::INT AS "end",
               tok_raw AS surface,
               (['CellLine','CellType','Tissue','Drug','AdverseEvent'])[(byte1 % 5) + 1] AS label,
               round(0.5 + byte2 / 1000.0, 4) AS score
        FROM bytes WHERE d0 = 0
    """,
    "fingerprint": """
        SELECT doc_id,
               md5(lower(regexp_replace(text, '\\s+', ' ', 'g'))) AS fingerprint,
               md5(substr(lower(regexp_replace(text, '\\s+', ' ', 'g')), 1, 30)) AS prefix_fp
        FROM documents
    """,
    "dedup_exact": """
        SELECT md5(substr(lower(regexp_replace(text, '\\s+', ' ', 'g')), 1, 30)) AS prefix_fp,
               min(doc_id) AS keep_doc_id, count(*) AS group_size
        FROM documents
        GROUP BY prefix_fp HAVING count(*) > 0
    """,
    "quality_score": """
        SELECT doc_id, lang,
               len(string_split(text, ' ')) AS n_tokens,
               round(len(list_filter(string_split(text, ' '), t -> t IN ('the','a'))) /
                     len(string_split(text, ' '))::DOUBLE, 4) AS stopword_ratio,
               round(list_sum(list_transform(string_split(text, ' '), t -> length(t))) /
                     len(string_split(text, ' '))::DOUBLE, 4) AS mean_tok_len,
               CASE WHEN len(list_filter(string_split(text, ' '), t -> t IN ('the','a'))) > 0
                    THEN 'en_like' ELSE 'unknown' END AS lang_guess
        FROM documents
    """,
    "ngram_jaccard_pairs": """
        WITH toks AS (
            SELECT doc_id,
                   unnest(string_split(text, ' ')) AS tok,
                   generate_subscripts(string_split(text, ' '), 1) AS pos
            FROM documents WHERE doc_id < 500
        ),
        sh AS (
            SELECT DISTINCT a.doc_id, a.tok || ' ' || b.tok AS sh
            FROM toks a JOIN toks b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
        ),
        sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
        inter AS (
            SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
            FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
        )
        SELECT d1, d2,
               round(inter / (s1.sz + s2.sz - inter)::DOUBLE, 4) AS jaccard
        FROM inter
        JOIN sizes s1 ON s1.doc_id = d1
        JOIN sizes s2 ON s2.doc_id = d2
        WHERE inter / (s1.sz + s2.sz - inter)::DOUBLE >= 0.5
    """,
    "ann_cosine_topk": """
        SELECT q_id, vec_id, round(cos, 4) AS cos, rnk
        FROM (
            SELECT q.vec_id AS q_id, x.vec_id AS vec_id,
                   list_cosine_similarity(x.embedding::DOUBLE[], q.embedding::DOUBLE[]) AS cos,
                   row_number() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY list_cosine_similarity(x.embedding::DOUBLE[], q.embedding::DOUBLE[]) DESC,
                                x.vec_id ASC) AS rnk
            FROM embeddings x
            JOIN (SELECT * FROM embeddings WHERE vec_id < 10) q
              ON x.vec_id <> q.vec_id
        ) WHERE rnk <= 5
    """,
    "embedding_near_dups": """
        SELECT a.vec_id AS id1, b.vec_id AS id2,
               round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) AS cos
        FROM (SELECT * FROM embeddings WHERE vec_id < 500) a
        JOIN (SELECT * FROM embeddings WHERE vec_id < 500) b ON a.vec_id < b.vec_id
        WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.45
    """,
    "connected_components": """
        WITH RECURSIVE sym AS (
            SELECT a.doc_id AS src, b.doc_id AS dst
            FROM documents a JOIN documents b
              ON b.doc_id = a.doc_id + 1 AND a.lang = b.lang
            UNION
            SELECT b.doc_id, a.doc_id
            FROM documents a JOIN documents b
              ON b.doc_id = a.doc_id + 1 AND a.lang = b.lang
        ),
        nodes AS (SELECT DISTINCT src AS node FROM sym),
        walk(node, comp) AS (
            SELECT node, node FROM nodes
            UNION
            SELECT s.dst, w.comp FROM walk w JOIN sym s ON s.src = w.node
        )
        SELECT node AS doc_id, min(comp) AS component
        FROM walk GROUP BY node
    """,
}
