"""SparkSession factory tuned for the KG-construction workload.

Scale posture (BASELINE.json north_rule): the same builder config is what we
would pass to ``spark-submit`` on a 1000-executor cluster — AQE for runtime
re-planning and skew-join splitting, Arrow for the (rare) pandas-UDF surface,
shuffle partitions sized to cores locally / to ``max(2*cores_total, input_TB*64)``
on a cluster. Locally everything runs in one JVM (``local[N]``).
"""

from __future__ import annotations

import json
import os
import sys

from py4j import protocol as _py4j_protocol
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import ArrayType, NumpyArrayConverter, NumpyScalarConverter, StructType


# py4j runs every input converter's ``can_convert`` on every argument of
# every py4j call. PySpark 4.1's two numpy converters answer it by running
# ``from pyspark.testing.utils import have_numpy``, whose module imports
# unittest and pandas (about 32 MB of the driver, which no KG build uses);
# the first call is inside SparkContext init. An object can only be a numpy
# instance if numpy is already imported, so these subclasses ask
# ``sys.modules`` instead and give the same answer; conversion is PySpark's.
class _LeanNumpyScalarConverter(NumpyScalarConverter):
    def can_convert(self, obj) -> bool:
        np = sys.modules.get("numpy")
        return np is not None and isinstance(obj, np.generic)


class _LeanNumpyArrayConverter(NumpyArrayConverter):
    def can_convert(self, obj) -> bool:
        np = sys.modules.get("numpy")
        return np is not None and isinstance(obj, np.ndarray) and obj.ndim == 1


# in place: py4j's gateway clients hold this very list. Matching by base
# class replaces a lean converter from an earlier import of this module too,
# so each kind stays in the list exactly once.
for _i, _conv in enumerate(_py4j_protocol.INPUT_CONVERTER):
    if isinstance(_conv, NumpyScalarConverter):
        _py4j_protocol.INPUT_CONVERTER[_i] = _LeanNumpyScalarConverter()
    elif isinstance(_conv, NumpyArrayConverter):
        _py4j_protocol.INPUT_CONVERTER[_i] = _LeanNumpyArrayConverter()

# Columns of the canonical input table (BASELINE.json input_hint).
TRANSCRIPT_COLUMNS = ("conv_id", "turn_idx", "role", "text", "tool", "ts")

# Engine SQL configuration shared by local sessions (get_spark) and
# spark-submit jobs (submit_spark / jobs/kg_submit.py). Everything here is
# cluster-size independent; master / memory / local dirs are deliberately
# NOT in this dict — locally get_spark pins them, under spark-submit the
# cluster manager owns them.
ENGINE_SQL_CONF = {
    # --- determinism / oracle comparability ---
    "spark.sql.session.timeZone": "UTC",
    # --- adaptive execution: runtime re-plan, skew-join split, coalesce ---
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # AQE's coalescing floor (default 1 MB) is byte-based and blind to
    # expression weight: a shuffle carrying a few MB of compact candidate
    # structs that feeds an interpreted higher-order-function stage gets
    # coalesced to cores x (bytes/1MB) partitions — measured round 7:
    # the tagging validation stage ran 4-5 of 32 tasks wide at bench sf,
    # term_tagging 2.2 -> 1.2 s and iob_roundtrip 5.4 -> 2.3 s once the
    # floor stopped binding. SCALE-ADAPTIVE by construction: with
    # parallelismFirst (default true) the coalescing target is
    # max(totalBytes / defaultParallelism, minPartitionSize), so lowering
    # the floor only affects shuffles smaller than ~parallelism x 1 MB —
    # cluster-scale shuffles keep their bytes-proportional sizing
    # unchanged.
    "spark.sql.adaptive.coalescePartitions.minPartitionSize": "64k",
    # --- Arrow transport for the sanctioned pandas-UDF surface ---
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "4096",
    # --- scans: keep file-split sizing explicit so partition counts are
    #     stable across sf tiers (parquet row-group aligned) ---
    "spark.sql.files.maxPartitionBytes": "134217728",
    # --- broadcast: dictionaries are always small dims; give headroom ---
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # --- codegen class cache: the default (100 entries, static conf) is
    #     smaller than one bench battery's worth of distinct generated
    #     classes, so a long-lived session evicts and recompiles its
    #     LARGEST classes (the fused tagging stage) on every re-entry.
    #     Compiled classes are tiny next to the heap; 10x the cache. ---
    "spark.sql.codegen.cache.maxEntries": "1000",
    # --- driver-side plan building: no per-call call-site capture. With
    #     this on (PySpark's default), every F.* and Column call first asks
    #     the JVM for the active session's conf, walks the Python stack,
    #     tries to import ipykernel (pulling IPython and its ~500 modules
    #     into the driver) and sets/clears PySparkCurrentOrigin over py4j:
    #     about half of a KG build's py4j round trips. What is lost: the
    #     Python file:line call sites in a DataFrame error's query context;
    #     the JVM error class and message stay. PySpark reads the value
    #     once per process, at the first Column call, and caches it. ---
    "spark.python.sql.dataFrameDebugging.enabled": "false",
}


def get_spark(
    app_name: str = "otar3088-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's standard config.

    ``cores`` defaults to ``$SPARK_GRAFT_CPUS`` (driver contract) or 32.
    ``shuffle_partitions`` defaults to ``cores`` — right-sized for local mode;
    on a real cluster pass an explicit value (~2-3x total executor cores).
    """
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = cores

    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cores}]")
        # --- shuffle sizing ---
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # local mode: driver heap IS the executor heap. Runtime contract
        # (probed, BENCH/GC_PROBE.md): job wall scales MONOTONICALLY with
        # committed heap on this box (10M-turn KG job: 8g=238s, 16g=438s,
        # 48g=634s) with a small GC budget throughout — a mutator-locality
        # footprint tax (Spark sets -Xms=-Xmx; G1 spreads the allocation
        # arena over the whole range), not a GC policy artifact: region
        # size, pause goal, young-gen caps, ParallelGC and THP all measure
        # WORSE at 48g (THP 2.6x worse; never enable it here). Size the
        # heap to the working set (8g); fix memory pressure with more
        # partitions, not more heap.
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in ENGINE_SQL_CONF.items():
        builder = builder.config(k, v)
    # Shuffle/spill scratch on tmpfs when available: the sandbox's /tmp sits
    # on a shared virtio disk with erratic write latency (measured 3-4x
    # whole-job swings); RAM-backed local dirs remove disk from the shuffle
    # path. On a real cluster leave spark.local.dir to the NVMe defaults.
    if os.path.isdir("/dev/shm") and "spark.local.dir" not in (extra_conf or {}):
        scratch = "/dev/shm/spark-local"
        os.makedirs(scratch, exist_ok=True)
        builder = builder.config("spark.local.dir", scratch)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def constant_dataframe(spark: SparkSession, rows: list[dict], schema: StructType) -> DataFrame:
    """``rows`` (dicts keyed by ``schema``'s field names) as a DataFrame
    with ``schema``, built in the JVM alone: the rows travel as ONE JSON
    string in a one-row ``LocalRelation`` (the JVM's public
    ``createDataset(java.util.List, Encoders.STRING())``) and are expanded
    by ``inline(from_json(...))``. No Python worker reads it, no py4j call
    is made per row, and the payload is not part of the plan text. A value
    that does not parse as its field's type fails the query (``FAILFAST``)
    instead of reading as NULL."""
    jvm = spark.sparkContext._jvm
    jds = spark._jsparkSession.createDataset(
        jvm.java.util.Collections.singletonList(json.dumps(rows)),
        jvm.org.apache.spark.sql.Encoders.STRING(),
    )
    ddl = ArrayType(schema).simpleString()
    return DataFrame(jds.toDF(), spark).selectExpr(
        f"inline(from_json(value, '{ddl}', map('mode', 'FAILFAST')))"
    )


def submit_spark(app_name: str = "otar3088-kg") -> SparkSession:
    """SparkSession for a ``spark-submit`` job (jobs/kg_submit.py).

    Applies only :data:`ENGINE_SQL_CONF` — master, executor/driver memory,
    parallelism, shuffle-partition count and local dirs belong to the
    cluster manager and the submit command line (``--master``, ``--conf``),
    never to job code. The codegen-cache entry is a static conf, which is
    fine here: under spark-submit the session does not exist yet when the
    builder runs."""
    builder = SparkSession.builder.appName(app_name)
    for k, v in ENGINE_SQL_CONF.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
