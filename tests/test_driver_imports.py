"""The driver of a KG build loads none of pandas, pyspark.testing,
unittest, pyarrow.

pandas, ``pyspark.testing`` and ``unittest`` are about a quarter of the
gazetteer driver's memory, and no KG build uses them. PySpark 4.1 imports
them from ``F.lit`` (so also from Column ``&``/``|`` and ``element_at``),
from its numpy py4j input converters, from ``createDataFrame`` and from
``DataFrame.mapInArrow``. ``session.py`` replaces the converters, the
build path writes its expressions as SQL text, hands its constant tables
to the JVM as JSON (``session.constant_dataframe``) and builds the model
seam's ``MapInArrow`` node without ``pandas_udf``. pyarrow (about a third
of what is left) is needed only inside the scoring workers: the gazetteer
path collects the dictionary as rows and reads parquet footers in Python,
and the model seam's UDF skips PySpark's driver-side Arrow type check and
reaches ``otar3088_spark.arrow`` only in the worker. Each import check
runs in a fresh interpreter, so nothing the test process imported can
hide an import.
"""

from __future__ import annotations

import ast
import json
import os
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
DRIVER_EXTRAS = ("pandas", "pyspark.testing", "unittest", "pyarrow")

_REPORT = f"""
import json, sys
print(json.dumps({{m: m in sys.modules for m in {DRIVER_EXTRAS!r}}}))
"""


def _run(code: str, timeout: int, args=(), env: dict | None = None) -> dict:
    """Run ``code`` with ``args`` in a fresh interpreter at the repo root;
    returns the JSON object on its last stdout line."""
    p = subprocess.run(
        [sys.executable, "-c", code, *args],
        cwd=ROOT, capture_output=True, text=True, timeout=timeout,
        env={**os.environ, **(env or {})},
    )
    assert p.returncode == 0, p.stderr[-4000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


def _kg_submit_imports() -> list[str]:
    """Every import statement of ``jobs/kg_submit.py``, function-local
    ones included, as source lines (``__future__`` imports left out: they
    only parse at the top of a file)."""
    tree = ast.parse((ROOT / "jobs" / "kg_submit.py").read_text())
    return [
        ast.unparse(n) for n in ast.walk(tree)
        if isinstance(n, ast.Import)
        or (isinstance(n, ast.ImportFrom) and n.level == 0 and n.module != "__future__")
    ]


def test_engine_imports_load_no_pandas():
    """Importing the session, the KG plan, the snapshot store and what
    ``kg_submit`` imports loads none of pandas, pyspark.testing, unittest,
    pyarrow. No Spark session is started."""
    imports = _kg_submit_imports()
    assert any("otar3088_spark.plans.kg_pipeline" in line for line in imports)
    code = "\n".join(
        [
            "import otar3088_spark.session",
            "import otar3088_spark.plans.kg_pipeline",
            "import otar3088_spark.io.checkpoint",
            *imports,
        ]
    ) + _REPORT
    assert _run(code, timeout=120) == dict.fromkeys(DRIVER_EXTRAS, False)


def test_lean_numpy_converters(spark):
    """The numpy input converters ``session.py`` installs convert numpy
    scalars and 1-D arrays over py4j as PySpark's own do, and each sits in
    py4j's converter list exactly once, also after a re-import."""
    import importlib

    import numpy as np
    from py4j import protocol

    from otar3088_spark import session

    def installed():
        kinds = [type(c).__name__ for c in protocol.INPUT_CONVERTER]
        return [k for k in kinds if "Numpy" in k]

    assert sorted(installed()) == ["_LeanNumpyArrayConverter", "_LeanNumpyScalarConverter"]
    session = importlib.reload(session)
    assert sorted(installed()) == ["_LeanNumpyArrayConverter", "_LeanNumpyScalarConverter"]
    for lean in (session._LeanNumpyScalarConverter, session._LeanNumpyArrayConverter):
        assert sum(isinstance(c, lean) for c in protocol.INPUT_CONVERTER) == 1

    jvm = spark.sparkContext._jvm
    arrays = jvm.java.util.Arrays
    assert arrays.toString(np.array([1, 2, 3])) == "[1, 2, 3]"
    assert arrays.toString(np.array([1, 2, 3], np.int64)) == "[1, 2, 3]"
    strs = np.array(["a", "bc"])
    assert jvm.java.lang.reflect.Array.getLength(strs) == 2
    assert jvm.java.lang.reflect.Array.get(strs, 1) == "bc"
    assert arrays.toString(np.array([0.5, 2.0])) == "[0.5, 2.0]"
    assert jvm.java.lang.String.valueOf(np.int64(7)) == "7"
    assert jvm.java.lang.String.valueOf(np.float64(2.5)) == "2.5"
    # a plain list still goes through py4j's own list converter
    assert jvm.java.lang.String.valueOf([1, 2]) == "[1, 2]"


_BUILDS = """
import json, sys
from otar3088_spark.session import get_spark
from otar3088_spark.operators import tagging
from otar3088_spark.plans.kg_pipeline import build_kg
from otar3088_spark.queries import KG_FIXTURE_DIR

events_path, staging = sys.argv[1], sys.argv[2]
spark = get_spark(app_name="driver-imports", cores=2)
read = lambda name: spark.read.parquet(str(KG_FIXTURE_DIR / f"{name}.parquet"))


def build(**kw):
    res = build_kg(read("transcripts"), read("dictionary"), **kw)
    out = {}
    for part in ("triples", "nodes", "edges"):
        rows = {tuple(r) for r in getattr(res, part).collect()}
        out[part] = sorted(map(repr, rows))
    return out


got = {"plain": build(staging_dir=staging)}
tagging.BIGRAM_ANCHOR_THRESHOLD = 0
got["pair_anchors"] = build()
tagging.BIGRAM_ANCHOR_THRESHOLD = 64
got["events"] = build(events=spark.read.parquet(events_path))
spark.stop()
got["modules"] = {m: m in sys.modules for m in sys.argv[3:]}
print(json.dumps(got))
"""


def test_build_kg_driver_loads_no_pandas(tmp_path, events_pd):
    """``build_kg`` with the model off over ``fixtures/kg`` — plain with a
    span snapshot, with every first-position form an oversized group (pair
    anchors), and with an events source — materializes triples, nodes and
    edges, and afterwards the driver has loaded none of pandas,
    pyspark.testing, unittest, pyarrow."""
    events = tmp_path / "events.parquet"
    events_pd.to_parquet(events, index=False)
    got = _run(
        _BUILDS, timeout=600, args=(str(events), str(tmp_path / "staging"), *DRIVER_EXTRAS),
        env={"SPARK_DRIVER_MEMORY": "1g"},
    )
    assert got.pop("modules") == dict.fromkeys(DRIVER_EXTRAS, False)
    plain, pairs, with_events = got["plain"], got["pair_anchors"], got["events"]
    assert all(plain[part] for part in ("triples", "nodes", "edges"))
    # pair anchoring changes the candidate blocking, never the spans
    assert pairs == plain
    causes = [t for t in with_events["triples"] if "'causes'" in t]
    assert causes
    assert sorted(plain["triples"] + causes) == with_events["triples"]


_MODEL_BUILD = """
import json, sys
from otar3088_spark.session import get_spark
from otar3088_spark.plans.kg_pipeline import build_kg
from otar3088_spark.queries import KG_FIXTURE_DIR

spark = get_spark(app_name="driver-imports-model", cores=2)
read = lambda name: spark.read.parquet(str(KG_FIXTURE_DIR / f"{name}.parquet"))
res = build_kg(read("transcripts"), read("dictionary"), use_model=True)
got = {"plan": res.spans._jdf.queryExecution().optimizedPlan().toString()}
for part in ("triples", "nodes", "edges"):
    got[part] = sorted(repr(tuple(r)) for r in getattr(res, part).collect())
spark.stop()
got["modules"] = {m: m in sys.modules for m in sys.argv[1:]}
print(json.dumps(got))
"""


def test_build_kg_model_driver_loads_no_pandas(spark):
    """``build_kg(use_model=True)`` over ``fixtures/kg`` scores through a
    ``MapInArrow`` node and gives the triples, nodes and edges of the same
    build in this process, and afterwards its driver has loaded none of
    pandas, pyspark.testing, unittest, pyarrow."""
    from otar3088_spark.plans.kg_pipeline import build_kg
    from otar3088_spark.queries import KG_FIXTURE_DIR

    got = _run(_MODEL_BUILD, timeout=600, args=DRIVER_EXTRAS, env={"SPARK_DRIVER_MEMORY": "1g"})
    assert got.pop("modules") == dict.fromkeys(DRIVER_EXTRAS, False)
    assert "MapInArrow run(" in got.pop("plan")
    read = lambda name: spark.read.parquet(str(KG_FIXTURE_DIR / f"{name}.parquet"))  # noqa: E731
    res = build_kg(read("transcripts"), read("dictionary"), use_model=True)
    for part in ("triples", "nodes", "edges"):
        want = sorted(repr(tuple(r)) for r in getattr(res, part).collect())
        assert want and got[part] == want, part


_SEAM_PLANS = """
import json, sys
import otar3088_spark.operators.inference as inference

got = {"import": {m: m in sys.modules for m in sys.argv[1:]}}
from otar3088_spark.session import get_spark

spark = get_spark(app_name="driver-imports-seam", cores=2)
sents = spark.sql(
    "SELECT 'c0' AS conv_id, 0 AS turn_idx, 0 AS sent_idx, 'aspirin eased headache' AS sent_text"
)
got["plans"] = [
    seam(sents)._jdf.queryExecution().optimizedPlan().toString()
    for seam in (inference.model_mentions, inference.model_classify)
]
spark.stop()
got["modules"] = {m: m in sys.modules for m in sys.argv[1:]}
print(json.dumps(got))
"""


def test_model_seam_plans_load_no_pyarrow():
    """Importing ``inference`` and building the ``model_mentions`` and
    ``model_classify`` plans (no action) loads none of pandas,
    pyspark.testing, unittest, pyarrow: the seam's Arrow code is reached
    only inside the scoring worker."""
    got = _run(_SEAM_PLANS, timeout=300, args=DRIVER_EXTRAS, env={"SPARK_DRIVER_MEMORY": "1g"})
    assert got["import"] == got["modules"] == dict.fromkeys(DRIVER_EXTRAS, False)
    assert all("MapInArrow run(" in plan for plan in got["plans"])
