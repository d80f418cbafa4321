#!/usr/bin/env python
"""spark-submit entry point for the KG-construction pipeline.

This is the north rule's deployment surface ("run via spark-submit
--py-files on a multi-executor cluster"): package the library, submit this
file, and the cluster manager owns all sizing —

    python tools/make_pyfiles.py dist/otar3088_spark.zip
    spark-submit \
        --master <cluster-url-or-yarn> \
        --conf spark.sql.shuffle.partitions=<2-3x total executor cores> \
        --py-files dist/otar3088_spark.zip \
        jobs/kg_submit.py \
        --transcripts lake.raw.transcripts \
        --dictionary  lake.dims.gazetteer \
        --output      lake.kg \
        --staging     s3://bucket/kg_staging/run42 \
        [--events lake.raw.events] [--use-model] [--salt-partitions N]

Inputs/outputs accept either an Iceberg/catalog TABLE identifier (no "/")
or a parquet PATH — the same pipeline runs against both, which is what
makes the job testable in this sandbox (parquet in, parquet out, asserted
by tests/test_spark_submit_job.py over a real spark-submit subprocess)
while remaining the production Iceberg job (table in, `write_iceberg`
out). The reference's deployment analogue is the SLURM batch submission
(`sample_slurm_job.batch:1-26`); here the unit of deployment is one zip +
one job file.

Spark jobs, in order: the schema reads of the two inputs, one collect of
the dictionary (``PreparedDictionary``: anchor IN-set, anchor mode, alias
clusters and the content digest, derived on the driver), with ``--staging``
the span-snapshot write, then the three output writes. Nothing else runs a
job: the snapshot's stage name hashes the collected dictionary rows, the
snapshot is read back with the schema its manifest stores, and the output
counts of a local directory are summed from the written files' parquet
footers, read in Python (a Spark count for tables and non-local paths).
The dictionary arrives as plain rows and the alias clusters go back to the
JVM as one JSON value, so without ``--use-model`` the driver loads neither
pandas nor pyarrow and starts no Python worker. The triple table
feeds all three outputs, so it is persisted once, written from the cache,
and the node and edge tables are derived from that persisted frame instead
of recomputing the triple tail; the cache is dropped before ``main``
returns, on success or failure.

Prints ONE JSON metrics line (counts, timings, effective config) on
success — the same contract as bench.py.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time


def _is_table(src: str) -> bool:
    """Catalog table identifier vs filesystem path. Identifiers are DOTTED
    (``lake.raw.transcripts`` — production Iceberg tables are namespaced);
    anything with a path separator, a .parquet suffix, or no dot at all
    (``kg_out``, a natural relative directory) is a filesystem path. To
    address an unqualified table in the current catalog, qualify it."""
    return "/" not in src and not src.endswith(".parquet") and "." in src


def _read(spark, src: str):
    return spark.table(src) if _is_table(src) else spark.read.parquet(src)


def _positive_int(s: str) -> int:
    # distinguishes "unset" (None default) from an explicit invalid 0/-N:
    # `args.salt_partitions or default` would silently swallow a 0
    v = int(s)
    if v <= 0:
        raise argparse.ArgumentTypeError(f"must be a positive integer, got {s!r}")
    return v


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--transcripts", required=True,
                    help="input table identifier or parquet path "
                         "(conv_id, turn_idx, role, text, tool, ts)")
    ap.add_argument("--dictionary", required=True,
                    help="gazetteer table identifier or parquet path "
                         "(ent_id, term, label, canonical_id)")
    ap.add_argument("--events", default=None,
                    help="optional PHEE-shaped events source for causes-triples")
    ap.add_argument("--output", required=True,
                    help="output: catalog namespace (writes <ns>.triples/"
                         ".nodes/.edges via Iceberg) or directory (writes "
                         "parquet subdirs triples/ nodes/ edges/)")
    ap.add_argument("--output-format", choices=["auto", "table", "path"],
                    default="auto",
                    help="route --output explicitly: 'table' = Iceberg "
                         "catalog identifier, 'path' = filesystem directory. "
                         "'auto' infers: dotted+slash-free = table — so a "
                         "natural dotted dir name like 'kg_out.v2' needs "
                         "--output-format path (or './kg_out.v2')")
    ap.add_argument("--staging", default=None,
                    help="span-snapshot staging dir (per-stage checkpoint; "
                         "strongly recommended — without it the tagging DAG "
                         "executes twice under label resolution)")
    ap.add_argument("--use-model", action="store_true",
                    help="enable the merged transformer branch (north star)")
    ap.add_argument("--salt-partitions", type=_positive_int, default=None,
                    help="salted repartition width for normalize_turns "
                         "(default: 2x defaultParallelism)")
    args = ap.parse_args(argv)

    from otar3088_spark.io.checkpoint import (
        SnapshotStore,
        iceberg_catalog_configured,
        write_iceberg,
    )
    from otar3088_spark.plans.kg_pipeline import build_kg
    from otar3088_spark.session import submit_spark

    spark = submit_spark()
    out_is_table = (
        _is_table(args.output)
        if args.output_format == "auto"
        else args.output_format == "table"
    )
    # fail fast on a decidable misconfiguration: build_kg with --staging
    # eagerly materializes the span snapshot (the dominant job cost) — a
    # missing catalog must abort BEFORE that, not after
    if out_is_table and not iceberg_catalog_configured(spark):
        raise SystemExit(
            f"--output {args.output!r} is a table identifier but the "
            "session has no Iceberg catalog; pass a directory path or "
            "submit with --conf spark.sql.catalog.<name>=..."
        )
    salt = (
        args.salt_partitions
        if args.salt_partitions is not None
        else spark.sparkContext.defaultParallelism * 2
    )

    t0 = time.perf_counter()
    res = build_kg(
        _read(spark, args.transcripts),
        _read(spark, args.dictionary),
        events=_read(spark, args.events) if args.events else None,
        salt_partitions=salt,
        staging_dir=args.staging,
        use_model=args.use_model,
    )

    triples = res.triples.persist()
    counts: dict[str, int] = {}
    try:
        # res.nodes/res.edges are built on first access, over the triples
        # just persisted (persist() returns the same DataFrame)
        outputs = {"triples": triples, "nodes": res.nodes, "edges": res.edges}
        if out_is_table:
            for part, df in outputs.items():
                tbl = f"{args.output}.{part}"
                # bootstrap: overwritePartitions() cannot create a table (and
                # bucket(conv_id) hidden partitioning is only applied at table
                # creation), so the first run of a fresh namespace must
                # create_or_replace; steady-state runs dynamic-overwrite
                mode = (
                    "replace_partitions"
                    if spark.catalog.tableExists(tbl)
                    else "create_or_replace"
                )
                write_iceberg(df, tbl, mode=mode)
                counts[part] = spark.table(tbl).count()
        else:
            for part, df in outputs.items():
                dest = os.path.join(args.output, part)
                df.write.mode("overwrite").parquet(dest)
                # the count of what was committed: summed from the written
                # files' parquet footers on a local directory (no Spark
                # job), a Spark count elsewhere
                counts[part] = (
                    sum(f["rows"] for f in SnapshotStore._file_lineage(spark, dest))
                    if os.path.isdir(dest)
                    else spark.read.parquet(dest).count()
                )
    finally:
        triples.unpersist()
    elapsed = time.perf_counter() - t0

    print(json.dumps({
        "job": "kg_submit",
        "elapsed_sec": round(elapsed, 3),
        "counts": counts,
        "use_model": args.use_model,
        "salt_partitions": salt,
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "master": spark.sparkContext.master,
        "output": args.output,
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
