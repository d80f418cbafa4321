"""Similarity search over embedding columns — brute-force + LSH scale path.

* ``cosine_topk``      — exact brute-force top-k for a (small, broadcast)
  probe set: `zip_with` dot products, all JVM, norms hoisted to one column
  per side (never recomputed per pair). The baseline; O(|probes|·|corpus|).
* ``rp_lsh_signatures_udf`` — ALL ``num_tables`` random-hyperplane
  signatures of a vector from one Arrow UDF: one numpy matmul per batch, the
  hyperplane matrix in the UDF closure rather than in the plan. The only
  signature path (index build and probes alike).
* ``build_lsh_index`` — the materialized ANN index: one pass over the corpus
  producing the exploded ``(vec_id, tbl, sig, c_emb, c_norm)`` table. At
  100 TB this is written once (parquet/Iceberg, partitioned by (tbl, sig))
  and reused by every query batch — signatures are NOT rebuilt per query.
* ``ann_lsh_topk``     — the scale path: bucket-join probes to index rows
  sharing an LSH signature (optionally multi-probe over Hamming-1
  neighbors), exact-cosine verify within candidates, window top-k. The
  shuffle keys are the 2^bits × tables buckets — candidates only, never the
  cross product. ``bits`` must grow with the corpus (bucket occupancy
  |corpus| / 2^bits is the candidate-volume knob); see BENCH/ANN_CROSSOVER.md
  for the measured brute-vs-LSH crossover.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda v: v.cast("double") * v.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine_expr(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def cosine_topk(
    corpus: DataFrame,
    probes: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k: broadcast probes against the corpus. Returns
    (q_id, vec_id, cos, rnk). Norms are hoisted into one column per side
    before the join — computed |corpus| + |probes| times, not per pair."""
    p = F.broadcast(
        probes.select(
            F.col(id_col).alias("q_id"),
            F.col(vec_col).alias("q_emb"),
            _norm(F.col(vec_col)).alias("q_norm"),
        )
    )
    c = corpus.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("c_emb"),
        _norm(F.col(vec_col)).alias("c_norm"),
    )
    pairs = c.join(p, F.col("vec_id") != F.col("q_id"))
    scored = pairs.select(
        "q_id",
        "vec_id",
        (_dot(F.col("c_emb"), F.col("q_emb")) / (F.col("c_norm") * F.col("q_norm"))).alias("cos"),
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("vec_id").asc())
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("q_id", "vec_id", F.round("cos", 6).alias("cos"), F.col("rnk").cast("bigint").alias("rnk"))
    )


def _hyperplanes(n_planes: int, dim: int, seed: int):
    """Deterministic ±1 hyperplanes as plain Python lists (driver-side; the
    hyperplane matrix is index metadata, like a broadcast dim)."""
    import numpy as np

    rng = np.random.RandomState(seed)
    return (rng.randint(0, 2, size=(n_planes, dim)) * 2 - 1).astype(float).tolist()


def rp_lsh_signatures_udf(
    bits: int, num_tables: int, seed: int = 42, dim: int = 64
):
    """Arrow-vectorized signature computation: ``array<int>`` of
    ``num_tables`` signatures per vector.

    One numpy matmul per Arrow batch: X(batch×dim) @ H(dim×planes), sign,
    bit-pack per table. The hyperplane matrix lives in the UDF closure, NOT
    in the plan (a pure-expression variant would embed a tables·bits·dim
    literal whose driver-side analysis + interpreted HOF eval dominated
    round-1 cost). This is batch-vectorized Arrow — not per-row Python — and
    is the same sanctioned surface as model inference (SURVEY.md §2.9).
    """
    import numpy as np

    H = np.array(_hyperplanes(num_tables * bits, dim, seed)).T  # dim × planes
    weights = (1 << np.arange(bits)).astype(np.int64)

    @F.pandas_udf("array<int>")
    def sigs(emb: pd.Series) -> pd.Series:
        if emb.empty:
            return pd.Series([], dtype=object)
        vals = emb.to_numpy()
        # degrade dirty vectors (NULL / wrong dimension) to NULL signatures:
        # one ragged row must not abort an index build over the whole corpus
        # (np.vstack would raise inside the Arrow batch and fail the task)
        ok = np.fromiter(
            (v is not None and len(v) == dim for v in vals), bool, len(vals)
        )
        out = np.empty(len(vals), dtype=object)
        out[~ok] = None
        if ok.any():
            X = np.vstack(vals[ok])  # valid × dim
            B = (X.astype(np.float64) @ H >= 0).astype(np.int64)  # valid × planes
            S = B.reshape(int(ok.sum()), num_tables, bits) @ weights  # valid × tables
            # element-wise assignment: `out[ok] = list(S)` re-stacks to 2-D
            for j, row in zip(np.nonzero(ok)[0], S.astype(np.int32)):
                out[j] = row
        return pd.Series(list(out))

    return sigs


def _check_index_params(index: DataFrame, **params: int) -> None:
    """Validate a caller-supplied prebuilt index against this call's hash
    parameters via the metadata build_lsh_index stamps on ``sig``. Probes
    hashed with different parameters land in unrelated buckets and return
    near-zero recall with no other symptom — fail loudly instead. Indexes
    without the stamp (built before it existed) are accepted as-is."""
    try:
        meta = index.schema["sig"].metadata or {}
    except (KeyError, TypeError):
        raise ValueError(
            "prebuilt index has no 'sig' column — not a build_lsh_index table"
        ) from None
    mismatched = {
        k: (meta[k], v) for k, v in params.items() if k in meta and meta[k] != v
    }
    if mismatched:
        raise ValueError(
            "prebuilt LSH index was built with different hash parameters "
            f"than this call: {mismatched} (index value, call value); "
            "probes would hash into a different family and return "
            "near-zero recall"
        )


def build_lsh_index(
    corpus: DataFrame,
    bits: int = 6,
    num_tables: int = 16,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """The ANN index: ``(vec_id, tbl, sig, c_emb, c_norm)`` — one narrow pass
    over the corpus (signatures + norm computed once per vector), exploded to
    one row per (vector, table). Persist or write this ONCE per corpus
    snapshot; every query batch joins against it. On a cluster, write
    partitioned/bucketed by (tbl, sig) so probe joins prune partitions."""
    sigs = rp_lsh_signatures_udf(bits, num_tables, seed, dim)(F.col(vec_col))
    out = corpus.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("c_emb"),
        _norm(F.col(vec_col)).alias("c_norm"),
        F.posexplode(sigs).alias("tbl", "sig"),
    )
    # stamp the hash-family parameters into the sig column's metadata
    # (survives parquet round trips): consumers that receive a prebuilt
    # index validate their own parameters against it — a silent mismatch
    # would bucket probes into a different hash family and return
    # plausible-looking near-zero-recall results
    return out.withMetadata(
        "sig", {"bits": bits, "num_tables": num_tables, "seed": seed, "dim": dim}
    )


def embedding_near_dups(
    corpus: DataFrame,
    threshold: float = 0.9,
    bits: int = 6,
    num_tables: int = 16,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    index: DataFrame | None = None,
    persist_index: bool = True,
    index_out: list | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs — the dedup-family scale path.

    Candidate pairs come from shared LSH buckets of the materialized index
    (self-join on (tbl, sig), id1 < id2 — collisions only, never the
    quadratic cross product), then exact-cosine verification >= threshold
    with hoisted norms. Recall follows the standard (1-(1-s^bits)^tables)
    curve; raise num_tables for higher-recall dedup sweeps. Returns
    (id1, id2, cos).

    The self-join consumes the index plan TWICE (sides a and b): without a
    materialized ``index``, the corpus scan + Arrow signature pass would
    execute twice per run, so ``persist_index`` defaults to True here
    (unlike ``ann_lsh_topk``, whose inline index is consumed once). The
    cache is never unpersisted from inside the lazy plan — callers running
    many dedup sweeps should pass a written ``build_lsh_index`` table and
    set ``persist_index=False``, or pass ``index_out=[]`` to receive the
    persisted index DataFrame (appended to the list) and ``unpersist()`` it
    once the result has been consumed — otherwise repeated ad-hoc calls in
    one long-lived session accumulate cached partitions until the context
    cleaner reclaims them.
    """
    if index is not None:
        _check_index_params(index, bits=bits, num_tables=num_tables, seed=seed, dim=dim)
        c = index
    else:
        c = build_lsh_index(corpus, bits, num_tables, seed, id_col, vec_col, dim)
    if index is None and persist_index:
        c = c.persist()
        if index_out is not None:
            index_out.append(c)
    a = c.select("tbl", "sig", F.col("vec_id").alias("id1"),
                 F.col("c_emb").alias("e1"), F.col("c_norm").alias("n1"))
    b = c.select("tbl", "sig", F.col("vec_id").alias("id2"),
                 F.col("c_emb").alias("e2"), F.col("c_norm").alias("n2"))
    cand = a.join(b, ["tbl", "sig"]).filter(F.col("id1") < F.col("id2")).dropDuplicates(
        ["id1", "id2"]
    )
    cos = _dot(F.col("e1"), F.col("e2")) / (F.col("n1") * F.col("n2"))
    return cand.select("id1", "id2", cos.alias("cos")).filter(
        F.col("cos") >= threshold
    )


def ann_lsh_topk(
    corpus: DataFrame,
    probes: DataFrame,
    k: int = 5,
    bits: int = 6,
    num_tables: int = 16,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    index: DataFrame | None = None,
    persist_index: bool = False,
) -> DataFrame:
    """Approximate top-k: multi-table LSH bucket join -> exact verify ->
    window top-k.

    ``index``: a prebuilt ``build_lsh_index`` table (the production path —
    built once per corpus snapshot). When absent it is built inline; the
    single query consumes it once, so ``persist_index`` defaults to False —
    persisting an ad-hoc index would leak cached partitions across calls
    (never unpersisted from inside a lazy plan). Persist/write the index
    yourself when serving multiple query batches.
    ``num_tables`` independent hyperplane sets union their candidate sets,
    and each probe also visits every Hamming-1 neighbor bucket of its own
    (multiprobe). Candidate volume ~ num_tables × (|corpus| / 2^bits) ×
    (1 + bits) per probe — size ``bits`` to the corpus so this stays a
    small fraction of |corpus|. Returns (q_id, vec_id, cos, rnk);
    approximate — rnk within candidates.
    """
    if index is not None:
        _check_index_params(index, bits=bits, num_tables=num_tables, seed=seed, dim=dim)
        c = index
    else:
        c = build_lsh_index(corpus, bits, num_tables, seed, id_col, vec_col, dim)
    if index is None and persist_index:
        c = c.persist()

    q_sigs = rp_lsh_signatures_udf(bits, num_tables, seed, dim)(F.col(vec_col))
    p = probes.select(
        F.col(id_col).alias("q_id"),
        F.col(vec_col).alias("q_emb"),
        _norm(F.col(vec_col)).alias("q_norm"),
        F.posexplode(q_sigs).alias("tbl", "sig"),
    )
    flips = F.array(*[F.lit(0)] + [F.lit(1 << b) for b in range(bits)])
    p = p.select(
        "q_id", "q_emb", "q_norm", "tbl",
        F.explode(
            F.transform(flips, lambda m: F.col("sig").bitwiseXOR(m.cast("int")))
        ).alias("sig"),
    )
    cand = c.join(F.broadcast(p), ["tbl", "sig"]).filter(F.col("vec_id") != F.col("q_id"))
    # dedup BEFORE scoring: multi-table + Hamming-1 multiprobe surfaces the
    # same (q, vec) pair through many buckets (~2-3x duplication), and every
    # duplicate row would pay the 64-element dot fold; all duplicate rows
    # carry identical embedding/norm columns, so first-wins dedup followed
    # by one scoring pass is value-identical to score-then-dedup.
    cand = cand.dropDuplicates(["q_id", "vec_id"])
    scored = cand.select(
        "q_id",
        "vec_id",
        (_dot(F.col("c_emb"), F.col("q_emb")) / (F.col("c_norm") * F.col("q_norm"))).alias("cos"),
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("vec_id").asc())
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("q_id", "vec_id", F.round("cos", 6).alias("cos"), F.col("rnk").cast("bigint").alias("rnk"))
    )
