"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship KG-construction pipeline over a
deterministic synthetic transcript corpus + the sf0.001 relational smoke.
``queries()``/``oracle_sql()`` expose the SURVEY.md §2 operator battery with
DuckDB oracles (see otar3088_spark/queries.py + oracles_sql.py).
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from pyspark.sql import DataFrame, SparkSession


def _tuned(spark: SparkSession) -> SparkSession:
    """Apply the engine's runtime confs to a driver-provided session."""
    import os

    cores = os.environ.get("SPARK_GRAFT_CPUS", "32")
    for k, v in [
        ("spark.sql.session.timeZone", "UTC"),
        ("spark.sql.adaptive.enabled", "true"),
        ("spark.sql.adaptive.skewJoin.enabled", "true"),
        ("spark.sql.shuffle.partitions", cores),
        ("spark.sql.execution.arrow.pyspark.enabled", "true"),
    ]:
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # immutable in some deployments; engine works regardless
    return spark


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full KG pipeline (normalize → sentencize → tag → link →
    canonicalize → triples) on a deterministic synthetic transcript corpus.
    Returns the triple table (driver checks rows ≥ 0, stable schema)."""
    from otar3088_spark.plans.kg_pipeline import build_kg
    from otar3088_spark.synth import (
        entity_dictionary_pandas,
        events_pandas,
        transcripts_pandas,
    )

    spark = _tuned(spark)
    transcripts = spark.createDataFrame(transcripts_pandas(n_convs=40))
    dictionary = spark.createDataFrame(entity_dictionary_pandas())
    events = spark.createDataFrame(events_pandas(n=200))
    # persist_spans: resolve_labels consumes the span table twice; without
    # materializing it the whole tagging+model subtree executes twice. With
    # it, both consumers scan this build's materialized spans.
    res = build_kg(
        transcripts, dictionary, events=events, use_model=True, persist_spans=True
    )
    return res.triples


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from otar3088_spark.queries import QUERIES

    return {
        name: (lambda spark, sf_dir, _fn=fn: _fn(_tuned(spark), sf_dir))
        for name, fn in QUERIES.items()
    }


def oracle_sql() -> dict[str, str]:
    from otar3088_spark.oracles_sql import ORACLE_SQL

    return dict(ORACLE_SQL)
