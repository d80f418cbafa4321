"""DuckDB oracle for the benchmark's generated inputs.

The engine's KG oracles (``ORACLE_SQL["kg_triples_gazetteer"]`` for the
gazetteer path, ``["kg_triples"]`` for the merged gazetteer+model path)
read the committed fixture parquet under ``KG_FIXTURE_DIR``. The benchmark
replays the same SQL with those two paths replaced by the generated files,
and reduces both the oracle result and every written triples table to a
count plus an order-insensitive hash, so a build is checked without
collecting its rows.
"""

from __future__ import annotations

import duckdb

from otar3088_spark.oracles_sql import ORACLE_SQL
from otar3088_spark.queries import KG_FIXTURE_DIR

# one fixed type per column so both sides hash identical values identically
_ROW_HASH = (
    "hash(subj::VARCHAR, pred::VARCHAR, obj::VARCHAR, conv_id::VARCHAR, "
    "turn_idx::BIGINT, span_start::BIGINT, span_end::BIGINT)"
)


def oracle_sql(merged: bool, transcripts: str, dictionary: str) -> str:
    """The engine's KG oracle SQL with the fixture inputs replaced.

    Raises ``ValueError`` if either fixture path is not in the SQL exactly
    once, so a change in how the oracle names its inputs fails loudly
    instead of silently checking against the committed fixtures."""
    sql = ORACLE_SQL["kg_triples" if merged else "kg_triples_gazetteer"]
    for name, path in (("transcripts", transcripts), ("dictionary", dictionary)):
        ref = f"read_parquet('{KG_FIXTURE_DIR}/{name}.parquet')"
        if sql.count(ref) != 1:
            raise ValueError(f"oracle SQL reads {ref} {sql.count(ref)} times, expected 1")
        if "'" in path:
            raise ValueError(f"path must not contain a quote: {path!r}")
        sql = sql.replace(ref, f"read_parquet('{path}')")
    return sql


def connect(threads: int, temp_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute(f"SET threads = {int(threads)}")
    con.execute(f"SET temp_directory = '{temp_dir}'")
    return con


def expected(con: duckdb.DuckDBPyConnection, sql: str) -> dict[str, int]:
    """Triples count and hash of the oracle result, plus the node and edge
    counts ``graph_tables`` must produce from those triples: one node per
    distinct subject-or-object id, one edge per distinct (subj, pred, obj)."""
    con.execute(f"CREATE OR REPLACE TEMP TABLE oracle_triples AS {sql}")
    n, h = con.execute(
        f"SELECT count(*), COALESCE(sum({_ROW_HASH}), 0) FROM oracle_triples"
    ).fetchone()
    nodes = con.execute(
        "SELECT count(*) FROM (SELECT subj FROM oracle_triples "
        "UNION SELECT obj FROM oracle_triples)"
    ).fetchone()[0]
    edges = con.execute(
        "SELECT count(*) FROM (SELECT DISTINCT subj, pred, obj FROM oracle_triples)"
    ).fetchone()[0]
    con.execute("DROP TABLE oracle_triples")
    return {"triples": int(n), "hash": int(h), "nodes": int(nodes), "edges": int(edges)}


def written(con: duckdb.DuckDBPyConnection, triples_dir: str) -> tuple[int, int]:
    """Count and hash of a written triples parquet directory."""
    n, h = con.execute(
        f"SELECT count(*), COALESCE(sum({_ROW_HASH}), 0) "
        f"FROM read_parquet('{triples_dir}/*.parquet')"
    ).fetchone()
    return int(n), int(h)


def mismatches(exp: dict[str, int], counts: dict[str, int], got: tuple[int, int]) -> list[str]:
    """Human-readable differences between the oracle and one build: the
    written triples (count, hash) and the footer counts of all three
    tables. Empty when the build is correct."""
    out = []
    if got != (exp["triples"], exp["hash"]):
        out.append(f"triples (count, hash) {got} != oracle {(exp['triples'], exp['hash'])}")
    for part in ("triples", "nodes", "edges"):
        if counts.get(part) != exp[part]:
            out.append(f"{part} footer count {counts.get(part)} != oracle {exp[part]}")
    return out

