"""Large-scale deduplication operators (training-data pipeline battery).

Production signatures are JVM-side: shingling via ``split``/``transform``,
hashing via ``xxhash64(seed, shingle)``, min-hash via ``min`` aggregates,
banding via ``concat_ws`` + groupBy — at 100 TB the cost is one scan + one
groupBy per stage, and candidate verification only touches bucket-collision
pairs (LSH), never the quadratic cross product.

Hash-family regime table (the one kept twin pair; same schemas, different
values):

  ``hash_fn``            | use                          | execution
  ``xxhash64`` (default) | production dedup             | JVM explode + min/sum aggregates
  ``md5str`` / ``md5``   | DuckDB-oracle-checkable runs | Arrow UDF over normalized text

Operators:
* exact_dedup        — hash-groupBy on normalized text (first/min wins)
* shingles           — word n-gram shingling (expression helper)
* minhash_signatures — k independent min-hashes per doc, computed per row
                       over the distinct-shingle array (zero shuffle)
* lsh_candidate_pairs— band/bucket groupBy → per-bucket (id1<id2) pairs
* minhash_near_dups  — LSH candidates verified by exact Jaccard
                       (array_intersect over per-doc shingle arrays)
* simhash            — 64-bit SimHash per doc via per-bit sign sums
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from otar3088_spark.functions.text import let_expr


def normalized_text_expr(col: Column) -> Column:
    return F.lower(F.trim(F.regexp_replace(col, r"\s+", " ")))


def exact_dedup(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact dedup: one representative (min id) per normalized-text hash.
    Returns (fingerprint, keep_id, group_size)."""
    fp = F.md5(normalized_text_expr(F.col(text_col)))
    return (
        docs.select(F.col(id_col).alias("id"), fp.alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.min("id").alias("keep_id"), F.count(F.lit(1)).alias("group_size"))
    )


def shingles_expr(text_col: Column, k: int = 3) -> Column:
    """Distinct word k-gram shingles of a text column (JVM array ops).

    Formulation (round 7): one let-bound token array + ``transform`` over
    the shingle-start index range, each shingle a single k-ary ``concat``
    of ``element_at`` lookups. The previous shape (k full-length ``slice``
    copies folded with ``zip_with(concat_ws)``) evaluated interpreted
    ``concat_ws`` machinery per element and allocated k array copies per
    doc — measured 3.38 s vs 1.87 s for the array stage alone at sf1.0
    (50k docs x ~53 shingles). Output is element-for-element identical
    (same positional order into array_distinct, same NULL-for-NULL-text
    and empty-for-short-text contract); the let-binding keeps ``split``
    evaluated once (an un-bound reference inside a HOF lambda body is
    re-evaluated per element — the round-6 lesson)."""
    toks = F.split(normalized_text_expr(text_col), " ")
    if k == 1:
        return F.array_distinct(toks)

    def sh_of(tk):
        def shingle_at(i):
            parts = [F.element_at(tk, i)]
            for j in range(1, k):
                parts += [F.lit(" "), F.element_at(tk, i + j)]
            return F.concat(*parts)

        return (
            F.when(tk.isNull(), F.lit(None).cast("array<string>"))
            .when(
                F.size(tk) >= k,
                F.array_distinct(
                    F.transform(F.sequence(F.lit(1), F.size(tk) - k + 1), shingle_at)
                ),
            )
            .otherwise(F.array().cast("array<string>"))
        )

    return let_expr(toks, sh_of)


def _md5_sig_udf(num_hashes: int, shingle_k: int):
    """Arrow-vectorized md5-family min-hash: NORMALIZED text in, signature
    array (num_hashes md5 hex-string mins) out; NULL when the text yields
    no k-shingle (the caller filters those rows, matching the explode
    formulation where shingle-less docs produced no rows).

    The JVM ``Md5`` expression costs ~11 us per call (DigestUtils allocates
    a fresh MessageDigest per invocation — measured round 7: 32 md5
    projections over the sf1.0 exploded shingle table = 28 s of an
    originally 38 s signature job, vs 1.9 s for the same shape under
    xxhash64). CPython's ``hashlib.md5`` is the same digest at a fraction
    of the per-call cost, and a per-task memo collapses repeated shingles
    (word-shingle corpora are Zipfian — the synthetic bench corpus has 931
    distinct shingles across 2.6M instances; real prose still repeats its
    head bigrams heavily).

    Shingling happens HERE, from text the JVM already normalized with
    ``normalized_text_expr`` (so the locale/regex-sensitive steps stay in
    one engine): the text is single-spaced and trimmed, tokens can be
    neither empty nor contain spaces, hence adjacent k-gram joins replicate
    ``shingles_expr`` exactly, and only |docs| short strings cross the Arrow boundary instead of the
    |docs| x shingles/doc exploded table. C-level ``min`` over ASCII hex
    strings is the same binary ordering as UTF8String / DuckDB ``min``, so
    signature values are bit-identical to the expression form. This is the
    sanctioned Arrow-batch surface (same as model inference), not a
    row-at-a-time scalar UDF."""
    import hashlib

    memo: dict[str, tuple] = {}
    prefixes = [f"{i}|".encode() for i in range(num_hashes)]

    @F.pandas_udf("array<string>")
    def sigs(nt: pd.Series) -> pd.Series:
        out = []
        for text in nt:
            if not text:
                out.append(None)
                continue
            toks = text.split(" ")
            n = len(toks) - shingle_k + 1
            if n <= 0:
                out.append(None)
                continue
            rows = []
            seen = set()
            for j in range(n):
                s = " ".join(toks[j : j + shingle_k])
                if s in seen:
                    continue
                seen.add(s)
                v = memo.get(s)
                if v is None:
                    b = s.encode()
                    v = tuple(hashlib.md5(p + b).hexdigest() for p in prefixes)
                    if len(memo) < 1_000_000:  # bound per-task memory
                        memo[s] = v
                rows.append(v)
            out.append([min(col) for col in zip(*rows)])
        return pd.Series(out)

    # the caller filters on the UDF's output column; a deterministic UDF
    # gets DUPLICATED by filter pushdown (one eval below the filter, one in
    # the projection — two ArrowEvalPython nodes, measured in the round-7
    # plan). asNondeterministic pins a single evaluation; the function is
    # in fact deterministic, only the optimizer's reorder freedom changes.
    return sigs.asNondeterministic()


def minhash_signatures(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    shingle_k: int = 3,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """(id, sig array) — k independent min-hashes per document.

    ``hash_fn``: ``xxhash64`` (the production path) or ``md5str`` (min over
    ``md5(i || '|' || shingle)`` hex strings — lexicographic min of
    fixed-width hex equals numeric min, and DuckDB evaluates the identical
    expression, making the whole LSH pipeline oracle-checkable).

    Two execution strategies, chosen by hash family (both return identical
    schemas and, per family, identical values to every earlier round):

    * ``xxhash64`` — explode distinct shingles + ONE groupBy with k
      ``min(xxhash64(seed_i, sh))`` aggregates. Long buffers take the
      unsafe-row hash-aggregate fast path and xxhash64 is codegen-cheap
      (~2 s for 32 x 2.6M hashes at sf1.0); map-side partials keep shuffle
      volume at k longs per doc. A per-row HOF formulation was measured 3x
      WORSE here (interpreted lambda eval per element).
    * ``md5str`` — Arrow-vectorized per-row signature over the per-doc
      shingle array (see _md5_sig_udf): no explode, no aggregate, and the
      md5 work runs through hashlib at native speed with per-task shingle
      memoization. The expression form pays ~11 us per JVM md5 call (28 s
      at sf1.0) AND falls back to SortAggregate (min over STRING buffers is
      not hash-aggregatable), sorting the exploded table per consumer.

    Docs with no shingles produce no signature row in either strategy."""
    if hash_fn == "md5str":
        base = docs.select(
            F.col(id_col).alias("id"),
            normalized_text_expr(F.col(text_col)).alias("_nt"),
        )
        return base.select(
            "id", _md5_sig_udf(num_hashes, shingle_k)(F.col("_nt")).alias("sig")
        ).filter(F.col("sig").isNotNull())
    sh = docs.select(
        F.col(id_col).alias("id"),
        F.explode(shingles_expr(F.col(text_col), shingle_k)).alias("sh"),
    )
    aggs = [F.min(F.xxhash64(F.lit(i), F.col("sh"))).alias(f"h{i}") for i in range(num_hashes)]
    sig = sh.groupBy("id").agg(*aggs)
    return sig.select(
        "id", F.array(*[F.col(f"h{i}") for i in range(num_hashes)]).alias("sig")
    )


def banded_signatures(
    signatures: DataFrame, bands: int = 8, rows_per_band: int = 4
) -> DataFrame:
    """(id, band_idx, band_hash) — one row per (doc, band): the signature
    sliced into ``bands`` runs of ``rows_per_band`` values, each run packed
    into a single bucket-key string. Shared by the candidate join and the
    bucket-histogram diagnostics (tools/dedup_scale.py) so measurement can
    never drift from the production banding."""
    assert bands * rows_per_band <= 1 << 10
    return signatures.select(
        "id",
        F.posexplode(
            F.array(
                *[
                    F.concat_ws(
                        "_",
                        *[
                            F.col("sig")[b * rows_per_band + r].cast("string")
                            for r in range(rows_per_band)
                        ],
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band_idx", "band_hash"),
    )


def lsh_candidate_pairs(
    signatures: DataFrame, bands: int = 8, rows_per_band: int = 4
) -> DataFrame:
    """Band the signature, bucket the banded table on (band_idx, band_hash),
    emit all (id1 < id2) pairs per bucket. Shuffle keys are band buckets —
    collisions only, never the cross product.

    ONE aggregation instead of the former SELF-join: the join consumed the
    whole signature subplan twice (the two sides shuffle-partition
    identically but alias differently, so ReuseExchange never fired —
    measured round 7: 2x scans + 2x signature hashing), and pinning it
    sort-merge (the r6 broadcast-OOM lesson) paid two full sorts of the
    |docs| x bands table. groupBy + collect_list ships the same bytes
    through one exchange with map-side partials, computes signatures ONCE,
    and the per-bucket pair expansion is array work over measured-small
    buckets (10M-doc histogram: max bucket 643 — BENCH/SCALE_POINTS.md).
    Memory per task is O(max bucket), the same bound the sort-merge join's
    matching-run buffer had; a degenerate corpus (10^5 identical docs in
    one bucket) blows up either formulation at the b^2 output, not here."""
    banded = banded_signatures(signatures, bands, rows_per_band).filter(
        F.col("id").isNotNull()
    )
    buckets = (
        banded.groupBy("band_idx", "band_hash")
        .agg(F.array_sort(F.collect_list("id")).alias("ids"))
        .filter(F.size("ids") >= 2)
    )
    n = F.size(F.col("ids"))
    pairs_arr = F.flatten(
        F.transform(
            F.col("ids"),
            lambda a, i: F.transform(
                F.slice(F.col("ids"), i + 2, F.greatest(n - i - 1, F.lit(0))),
                lambda b: F.struct(a.alias("id1"), b.alias("id2")),
            ),
        )
    )
    return (
        buckets.select(F.explode(pairs_arr).alias("p"))
        .select(F.col("p.id1").alias("id1"), F.col("p.id2").alias("id2"))
        .distinct()
    )


def jaccard_pairs(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 3,
) -> DataFrame:
    """Exact Jaccard for given candidate pairs.

    Shingle SETS stay as per-doc arrays: two joins attach each side's
    distinct-shingle array to the pair row, then the intersection is
    ``size(array_intersect(sh1, sh2))`` computed array-side. The former
    inverted-index formulation exploded the corpus to (id, shingle) rows and
    shuffled that |docs| x shingles/doc table TWICE (once by id1, once by
    (id2, shingle)) plus a separate corpus-sized ``sizes`` table twice more
    — four full shuffles + sorts to verify a candidate set that is orders of
    magnitude smaller than the corpus. Here the corpus-sized side is ONE row
    per doc (the array), both join sides shuffle by the same key (id) so the
    second scan's exchange is reusable, and sizes are ``size(arr)`` for free.

    Join strategy: every doc-side input scales with the corpus — same
    sort-merge reasoning as lsh_candidate_pairs. The hint is load-bearing:
    Catalyst's STATIC size estimate descends from the source's sizeInBytes
    (a spark.range generator reports 8 bytes/row; heavily-filtered parquet
    lies the same way), so at 1M docs the planner happily broadcast a
    corpus-sized side and died building a 23M-row driver HashedRelation
    (measured, round 6)."""
    doc_sh = docs.select(
        F.col(id_col).alias("id"),
        shingles_expr(F.col(text_col), shingle_k).alias("sh_arr"),
    )
    d1, d2 = doc_sh.alias("d1"), doc_sh.alias("d2")
    j = (
        pairs.join(d1.hint("merge"), F.col("id1") == F.col("d1.id"))
        .join(d2.hint("merge"), F.col("id2") == F.col("d2.id"))
    )
    # let-bind the intersection size via a lambda variable so it is computed
    # once per pair (CollapseProject inlines withColumn aliases into every
    # use site — the round-6 spans.py lesson)
    jac = let_expr(
        F.size(F.array_intersect(F.col("d1.sh_arr"), F.col("d2.sh_arr"))),
        lambda i: i / (F.size(F.col("d1.sh_arr")) + F.size(F.col("d2.sh_arr")) - i),
    )
    return j.select("id1", "id2", jac.alias("jaccard"))


def minhash_near_dups(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_k: int = 3,
    threshold: float = 0.7,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Full MinHash+LSH near-dup pipeline: signatures → banded candidates →
    exact-Jaccard verification ≥ threshold. Returns (id1, id2, jaccard)."""
    sig = minhash_signatures(docs, id_col, text_col, num_hashes, shingle_k, hash_fn)
    cands = lsh_candidate_pairs(sig, bands, num_hashes // bands)
    return jaccard_pairs(docs, cands, id_col, text_col, shingle_k).filter(
        F.col("jaccard") >= threshold
    )


def _md5_simhash_udf():
    """Arrow-vectorized md5-family SimHash: NORMALIZED text in, 60-bit
    simhash long out (NULL for NULL text — the explode formulation produced
    no row there; callers filter).

    Same rationale as _md5_sig_udf: the JVM ``Md5`` + ``conv`` pair costs
    ~2 us per token while hashlib + a per-task token memo is near-free, and
    only |docs| short strings cross Arrow instead of the exploded token
    table. Per-token ±1 bit vectors are memoized as numpy arrays; a doc's
    per-bit sign sums are one weighted vector sum over its DISTINCT tokens
    (sum over occurrences == count-weighted sum over distincts). The bit
    values replicate the expression form exactly: hash = first 15 md5 hex
    digits as an integer (what DuckDB reproduces via
    ``('0x' || substr(md5(tok),1,15))::BIGINT``), bit b of the simhash set
    iff the sign sum at b is strictly positive."""
    from collections import Counter

    import numpy as np

    memo: dict[str, "np.ndarray"] = {}
    bit_idx = np.arange(60, dtype=np.int64)
    weights = np.left_shift(np.int64(1), bit_idx)

    @F.pandas_udf("long")
    def sim(nt: pd.Series) -> pd.Series:
        import hashlib

        out = []
        for text in nt:
            if text is None:
                out.append(None)
                continue
            sums = np.zeros(60, dtype=np.int64)
            for tok, c in Counter(text.split(" ")).items():
                v = memo.get(tok)
                if v is None:
                    h = int(hashlib.md5(tok.encode()).hexdigest()[:15], 16)
                    v = 2 * ((h >> bit_idx) & 1) - 1
                    if len(memo) < 1_000_000:
                        memo[tok] = v
                sums += c * v
            out.append(int(weights[sums > 0].sum()))
        return pd.Series(out, dtype="object")

    # same single-evaluation pin as _md5_sig_udf: the caller filters on the
    # output column and pushdown would duplicate the ArrowEvalPython node
    return sim.asNondeterministic()


def simhash(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """SimHash per doc: per-bit sign sum of token hashes, folded back into
    one long. Returns (id, simhash long).

    ``hash_fn``: ``xxhash64`` (64-bit, production — explode tokens → 64
    codegen'd conditional-sum aggregates → bit fold, measured within ~2x of
    the bare token scan) or ``md5`` (60-bit — the first 15 md5 hex digits
    parsed as an integer, which DuckDB reproduces via
    ``('0x' || substr(md5(tok),1,15))::BIGINT`` — oracle-checkable; runs
    Arrow-vectorized because the JVM md5+conv pair alone costs more than
    the rest of the pipeline, see _md5_simhash_udf)."""
    if hash_fn == "md5":
        base = docs.select(
            F.col(id_col).alias("id"),
            normalized_text_expr(F.col(text_col)).alias("_nt"),
        )
        return base.select(
            "id", _md5_simhash_udf()(F.col("_nt")).alias("simhash")
        ).filter(F.col("simhash").isNotNull())
    h = F.xxhash64(F.col("tok"))
    n_bits = 64
    toks = docs.select(
        F.col(id_col).alias("id"),
        F.explode(F.split(normalized_text_expr(F.col(text_col)), " ")).alias("tok"),
    ).withColumn("h", h)
    aggs = [
        F.sum(
            F.when(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"b{b}")
        for b in range(n_bits)
    ]
    bits = toks.groupBy("id").agg(*aggs)
    acc = F.lit(0).cast("long")
    for b in range(n_bits):
        acc = acc + F.when(F.col(f"b{b}") > 0, F.lit(1).cast("long") * (1 << b) if b < 63 else F.lit(-(1 << 63)).cast("long")).otherwise(0)
    return bits.select("id", acc.alias("simhash"))


def hamming_distance_expr(a: Column, b: Column) -> Column:
    """Hamming distance between two 64-bit simhashes via bit_count(xor)."""
    return F.bit_count(a.bitwiseXOR(b))
