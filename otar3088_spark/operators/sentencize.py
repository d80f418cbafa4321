"""Normalize + sentencize transcript turns — stages P0/P1 of the KG pipeline.

Spark-first restatement of the reference's fetch→clean→sentencize flow
(split2sent_par.py:184-208 inside a multiprocessing.Pool): here it is one
narrow stage of column expressions (clean), an ``aggregate`` offset scan, and
a ``posexplode`` — no UDF, no shuffle beyond the initial (optional, salted)
repartition on ``conv_id``.

Output grain: one row per sentence, keyed ``(conv_id, turn_idx, sent_idx)``
with ``sent_text`` and ``char_start`` (offset of the sentence within the
cleaned turn text). The stable ordering invariant (BASELINE.json input_hint:
per-turn text equality under (conv_id, turn_idx) order) is carried by keys,
never by physical row order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from otar3088_spark.functions.text import (
    clean_text_sql,
    is_header_sql,
    offsets_sql,
    sentence_split_sql,
)


def normalize_turns(
    transcripts: DataFrame,
    salt_partitions: int | None = None,
) -> DataFrame:
    """P0: dedup, null-filter, header-filter, clean text.

    Mirrors extract_articles.py:168-188 (dropna → drop_duplicates → drop
    retraction-like rows) + article_normaliser.py:55-82 (header drop).
    ``dropDuplicates`` on the key is first-wins in the reference; since our
    rows are identical duplicates, key-dedup is equivalent and avoids a
    window sort.

    ``salt_partitions``: at cluster scale, pre-spread long conversations by
    repartitioning on (conv_id, turn_idx) — the composite key already breaks
    conv-level skew because downstream stages never need conv-locality until
    the final groupBys (which re-shuffle on their own keys anyway).
    """
    # Every expression below is SQL text: PySpark 4.1's F.lit, and with it
    # Column & / | and element_at, imports pyspark.testing (and so pandas)
    # into the driver on first call.
    #
    # turn_idx too: it is half the dedup/join key — NULL-keyed rows would
    # collapse into ONE group here (groupBy treats NULL keys as equal,
    # silently dropping distinct turns) and the survivor could never match
    # an equi-join on turn_idx downstream anyway
    filtered = transcripts.where(
        "(text IS NOT NULL AND conv_id IS NOT NULL) AND turn_idx IS NOT NULL"
    )
    # header filter before the dedup aggregate so header rows never enter
    # the shuffle
    filtered = filtered.where(f"NOT ({is_header_sql('text')})")
    # key-dedup via collect_list+element_at rather than dropDuplicates:
    # dropDuplicates keeps whole rows with First() aggregates, and string
    # buffers force SortAggregate (full sort of every partition). collect_list
    # is TypedImperative -> ObjectHashAggregate: hash-based, no sort, same
    # any-row-wins semantics (duplicates are identical rows in this corpus).
    payload = ", ".join(
        f"`{c}`" for c in filtered.columns if c not in ("conv_id", "turn_idx")
    )
    df = (
        filtered.groupBy("conv_id", "turn_idx")
        .agg(F.expr(f"element_at(collect_list(struct({payload})), 1)").alias("_r"))
        .select("conv_id", "turn_idx", "_r.*")
    )
    if salt_partitions:
        df = df.repartition(salt_partitions, "conv_id", "turn_idx")
    return df.withColumn("clean_text", F.expr(clean_text_sql("text")))


def sentencize(normalized: DataFrame) -> DataFrame:
    """P1: one row per sentence with char offsets — posexplode of the
    lookbehind split, offsets from the per-row aggregate scan (F9 analogue,
    zero Python; reference ran spaCy per doc in a Pool, split2sent_par.py:303).
    """
    parts = sentence_split_sql("clean_text")
    df = normalized.selectExpr(
        "conv_id",
        "turn_idx",
        "role",
        "clean_text",
        f"posexplode(arrays_zip({parts}, {offsets_sql(parts)})) AS (sent_idx, z)",
    )
    return df.select(
        "conv_id",
        "turn_idx",
        "role",
        "sent_idx",
        F.col("z")["0"].alias("sent_text"),
        F.col("z")["1"].alias("char_start"),
    ).filter(F.length("sent_text") > 0)
