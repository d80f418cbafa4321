"""The benchmark's own data work, in a child process of its own.

Input generation (pandas, pyarrow), the DuckDB oracle replay and the check
of every written triples table run here, so the measured driver process
holds only what a ``kg_submit`` driver holds. The parent writes one JSON
request per line to standard input and reads one JSON reply per line from
standard output; the process ends when its standard input closes.

    {"op": "prepare", "work", "turns", "seed", "variant_share", "merged", "threads"}
        -> {"paths": {"transcripts", "dictionary"}, "gen_s", "oracle_s"}
    {"op": "check", "triples_dir", "counts"} -> {"bad": [reason, ...]}

A request that raises gets ``{"error": traceback}``.
"""

from __future__ import annotations

import json
import os
import sys
import time
import traceback


class Checker:
    def __init__(self):
        self.con = None
        self.expected = None

    def prepare(self, work, turns, seed, variant_share, merged, threads):
        from kgbench import gen, oracle

        t0 = time.perf_counter()
        inp = os.path.join(work, "input")
        os.makedirs(inp)
        paths = gen.write_inputs(inp, turns, seed, variant_share)
        gen_s = time.perf_counter() - t0

        t0 = time.perf_counter()
        tmp = os.path.join(work, "duckdb")
        os.makedirs(tmp)
        con = oracle.connect(threads, tmp)
        try:
            sql = oracle.oracle_sql(merged, paths["transcripts"], paths["dictionary"])
            self.expected = oracle.expected(con, sql)
        finally:
            con.close()
        oracle_s = time.perf_counter() - t0
        # written outputs are checked one at a time, single-threaded
        self.con = oracle.connect(1, tmp)
        return {"paths": paths, "gen_s": gen_s, "oracle_s": oracle_s}

    def check(self, triples_dir, counts):
        from kgbench import oracle

        got = oracle.written(self.con, triples_dir)
        return {"bad": oracle.mismatches(self.expected, counts, got)}


def main() -> int:
    replies = sys.stdout
    sys.stdout = sys.stderr  # nothing but replies on the reply pipe
    checker = Checker()
    for line in sys.stdin:
        req = json.loads(line)
        try:
            reply = getattr(checker, req.pop("op"))(**req)
        except Exception:
            reply = {"error": traceback.format_exc()}
        replies.write(json.dumps(reply) + "\n")
        replies.flush()
    if checker.con is not None:
        checker.con.close()
    return 0


if __name__ == "__main__":
    sys.exit(main())
