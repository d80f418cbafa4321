"""Oracle path substitution and the count + hash comparison.

Run with ``python3 -m pytest kgbench/tests -q`` from the repository root.
"""

from __future__ import annotations

import shutil

import duckdb
import pytest

from kgbench import gen, oracle
from otar3088_spark.oracles_sql import ORACLE_SQL
from otar3088_spark.queries import KG_FIXTURE_DIR


@pytest.mark.parametrize("merged,key", [(False, "kg_triples_gazetteer"), (True, "kg_triples")])
def test_substitutes_both_fixture_paths(merged, key):
    sql = oracle.oracle_sql(merged, "/data/t.parquet", "/data/d.parquet")
    assert str(KG_FIXTURE_DIR) not in sql
    assert sql.count("read_parquet('/data/t.parquet')") == 1
    assert sql.count("read_parquet('/data/d.parquet')") == 1
    # nothing else changed
    assert sql.replace("/data/t.parquet", f"{KG_FIXTURE_DIR}/transcripts.parquet").replace(
        "/data/d.parquet", f"{KG_FIXTURE_DIR}/dictionary.parquet"
    ) == ORACLE_SQL[key]


def test_refuses_an_oracle_that_no_longer_names_the_fixtures(monkeypatch):
    monkeypatch.setitem(oracle.ORACLE_SQL, "kg_triples", "SELECT 1")
    with pytest.raises(ValueError, match="expected 1"):
        oracle.oracle_sql(True, "/t.parquet", "/d.parquet")


def test_refuses_a_path_that_would_break_the_sql_literal():
    with pytest.raises(ValueError, match="quote"):
        oracle.oracle_sql(False, "/it's/t.parquet", "/d.parquet")


def test_substituted_oracle_on_copied_fixtures_matches_the_original(tmp_path):
    for name in ("transcripts", "dictionary"):
        shutil.copy(KG_FIXTURE_DIR / f"{name}.parquet", tmp_path / f"{name}.parquet")
    con = duckdb.connect()
    original = oracle.expected(con, ORACLE_SQL["kg_triples_gazetteer"])
    copied = oracle.expected(
        con,
        oracle.oracle_sql(
            False, str(tmp_path / "transcripts.parquet"), str(tmp_path / "dictionary.parquet")
        ),
    )
    assert copied == original
    assert original["triples"] > 0


def test_written_triples_are_compared_by_count_and_hash(tmp_path):
    con = duckdb.connect()
    sql = ORACLE_SQL["kg_triples_gazetteer"]
    exp = oracle.expected(con, sql)
    out = tmp_path / "triples"
    out.mkdir()
    # the same rows, written in another order and split over two files
    con.execute(f"COPY (SELECT * FROM ({sql}) ORDER BY random() LIMIT 100) "
                f"TO '{out}/a.parquet' (FORMAT PARQUET)")
    con.execute(f"COPY (SELECT * FROM ({sql}) EXCEPT SELECT * FROM read_parquet('{out}/a.parquet')) "
                f"TO '{out}/b.parquet' (FORMAT PARQUET)")
    counts = {k: exp[k] for k in ("triples", "nodes", "edges")}
    assert oracle.mismatches(exp, counts, oracle.written(con, str(out))) == []
    # one row missing is caught by count and hash, even with matching footers
    (out / "b.parquet").unlink()
    bad = oracle.mismatches(exp, counts, oracle.written(con, str(out)))
    assert len(bad) == 1 and "hash" in bad[0]


def test_generator_is_seeded():
    a = gen.transcripts(60, seed=5, variant_share=0.3)
    assert a.equals(gen.transcripts(60, seed=5, variant_share=0.3))
    assert not a.equals(gen.transcripts(60, seed=6, variant_share=0.3))
    assert len(a) == 60 and a["conv_id"].nunique() == 3
