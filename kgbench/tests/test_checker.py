"""The checker child process: its request/reply protocol end to end.

Run with ``python3 -m pytest kgbench/tests -q`` from the repository root.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import duckdb

from kgbench import oracle

ROOT = Path(__file__).resolve().parents[2]


def test_prepare_check_and_exit(tmp_path):
    proc = subprocess.Popen(
        [sys.executable, "-m", "kgbench.checker"],
        cwd=ROOT, stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
    )

    def ask(**req):
        proc.stdin.write(json.dumps(req) + "\n")
        proc.stdin.flush()
        return json.loads(proc.stdout.readline())

    try:
        r = ask(op="prepare", work=str(tmp_path), turns=60, seed=3, variant_share=0.0,
                merged=False, threads=1)
        paths = r["paths"]
        assert Path(paths["transcripts"]).is_file() and r["gen_s"] > 0 and r["oracle_s"] > 0

        # what a correct build writes: the oracle's own rows
        con = duckdb.connect()
        sql = oracle.oracle_sql(False, paths["transcripts"], paths["dictionary"])
        exp = oracle.expected(con, sql)
        out = tmp_path / "triples"
        out.mkdir()
        con.execute(f"COPY ({sql}) TO '{out}/part-0.parquet' (FORMAT PARQUET)")
        counts = {k: exp[k] for k in ("triples", "nodes", "edges")}
        assert ask(op="check", triples_dir=str(out), counts=counts) == {"bad": []}

        bad = ask(op="check", triples_dir=str(out), counts={**counts, "edges": 0})["bad"]
        assert len(bad) == 1 and "edges" in bad[0]
        assert "error" in ask(op="no_such_op")
    finally:
        proc.stdin.close()
    assert proc.wait(timeout=30) == 0
