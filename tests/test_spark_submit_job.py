"""Deployment-surface test: the north rule's "run via spark-submit
--py-files" contract, exercised END TO END with a REAL spark-submit
subprocess — not a unit test of the argument parser.

Isolation is the point: the subprocess runs with the repo stripped from
PYTHONPATH and a cwd outside the repo, so ``import otar3088_spark`` inside
jobs/kg_submit.py can only resolve through the ``--py-files`` zip built by
tools/make_pyfiles.py. If the packaging misses a module, this fails."""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent


def _load_kg_submit():
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "kg_submit", REPO / "jobs" / "kg_submit.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_is_table_routing():
    """Dotted identifiers route to the catalog; slashes, .parquet suffixes,
    and bare undotted names (natural relative dirs like `kg_out`) route to
    the filesystem."""
    mod = _load_kg_submit()
    assert mod._is_table("lake.kg")
    assert mod._is_table("lake.raw.transcripts")
    assert not mod._is_table("kg_out")
    assert not mod._is_table("data/transcripts.parquet")
    assert not mod._is_table("transcripts.parquet")
    assert not mod._is_table("/abs/dir")


def test_kg_submit_outputs_from_persisted_triples(spark, transcripts_df, dictionary_df, tmp_path):
    """``main`` in-process: the written node and edge tables are exactly
    ``graph_tables`` over the written triples (they are derived from the
    one persisted triple frame), and no persisted RDD outlives ``main``."""
    import contextlib
    import io

    from otar3088_spark.operators.triples import graph_tables

    tin, din, out = tmp_path / "t.parquet", tmp_path / "d.parquet", tmp_path / "kg"
    transcripts_df.write.parquet(str(tin))
    dictionary_df.write.parquet(str(din))  # (the write registers the fixture's cache)
    persisted = lambda: set(spark.sparkContext._jsc.getPersistentRDDs().keySet())  # noqa: E731
    before = persisted()
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        rc = _load_kg_submit().main([
            "--transcripts", str(tin), "--dictionary", str(din),
            "--output", str(out), "--output-format", "path",
            "--staging", str(tmp_path / "staging"),
        ])
    assert rc == 0
    assert persisted() == before
    counts = json.loads(buf.getvalue().strip().splitlines()[-1])["counts"]

    triples = spark.read.parquet(str(out / "triples"))
    nodes, edges = graph_tables(triples)
    for part, want in (("triples", triples), ("nodes", nodes), ("edges", edges)):
        got = sorted(map(tuple, spark.read.parquet(str(out / part)).collect()))
        assert got == sorted(map(tuple, want.collect())), part
        assert len(got) == counts[part] > 0, part


def test_kg_submit_job_budget(spark, transcripts_df, dictionary_df, tmp_path, job_count):
    """``main`` in-process with ``--staging``, with and without
    ``--use-model``, runs a fixed number of Spark jobs, counted by job
    group. Per build: the two input schema reads, the dictionary collect,
    the span-snapshot write and the three output writes. The output counts
    come from parquet footers, the stage fingerprint from the collected
    dictionary rows, and the snapshot is read back with its manifest
    schema: none of them runs a job. A new per-build job fails here."""
    import contextlib
    import io

    tin, din = tmp_path / "t.parquet", tmp_path / "d.parquet"
    transcripts_df.write.parquet(str(tin))
    dictionary_df.write.parquet(str(din))
    main = _load_kg_submit().main
    for extra, budget in (([], 22), (["--use-model"], 29)):
        tag = "model" if extra else "gazetteer"
        argv = [
            "--transcripts", str(tin), "--dictionary", str(din),
            "--output", str(tmp_path / f"kg-{tag}"), "--output-format", "path",
            "--staging", str(tmp_path / f"staging-{tag}"), *extra,
        ]
        with contextlib.redirect_stdout(io.StringIO()):
            rc, jobs = job_count(lambda: main(argv))
        assert rc == 0
        assert jobs <= budget, (tag, jobs)


def test_spark_submit_pyfiles_job(spark, transcripts_df, dictionary_df, tmp_path):
    import pyspark

    submit = Path(pyspark.__file__).parent / "bin" / "spark-submit"
    assert submit.exists()

    # package the library exactly as a deployer would
    zip_path = tmp_path / "otar3088_spark.zip"
    subprocess.run(
        [sys.executable, str(REPO / "tools" / "make_pyfiles.py"), str(zip_path)],
        check=True, cwd=str(REPO),
    )
    assert zip_path.exists()

    tin = tmp_path / "transcripts.parquet"
    din = tmp_path / "dictionary.parquet"
    transcripts_df.write.mode("overwrite").parquet(str(tin))
    dictionary_df.write.mode("overwrite").parquet(str(din))
    out = tmp_path / "kg_out"

    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    p = subprocess.run(
        [
            str(submit),
            "--master", "local[4]",
            "--conf", "spark.sql.shuffle.partitions=4",
            "--conf", "spark.ui.enabled=false",
            "--py-files", str(zip_path),
            str(REPO / "jobs" / "kg_submit.py"),
            "--transcripts", str(tin),
            "--dictionary", str(din),
            "--output", str(out),
            "--staging", str(tmp_path / "staging"),
        ],
        capture_output=True, text=True, timeout=420,
        cwd=str(tmp_path), env=env,
    )
    assert p.returncode == 0, p.stderr[-4000:]

    metrics = json.loads(
        [l for l in p.stdout.splitlines() if l.startswith('{"job"')][-1]
    )
    assert metrics["counts"]["triples"] > 0
    assert metrics["counts"]["nodes"] > 0
    assert metrics["counts"]["edges"] > 0
    assert metrics["master"] == "local[4]"
    assert metrics["shuffle_partitions"] == "4"

    # the committed parquet is readable by an independent session and
    # carries the triple-table contract columns
    triples = spark.read.parquet(str(out / "triples"))
    assert {"subj", "pred", "obj", "conv_id", "turn_idx"} <= set(triples.columns)
    assert triples.count() == metrics["counts"]["triples"]
    edges = spark.read.parquet(str(out / "edges"))
    assert {"src", "rel", "dst"} <= set(edges.columns)
