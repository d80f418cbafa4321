"""Traced run: where the time of one build goes, layer by layer.

Measured in a session of its own (``--trace 1``), never in an end-to-end
run. After the same warm-up as the end-to-end run it does three things:

1. untraced timed builds (``kg_submit``), for the per-build JVM and Python
   worker counters and the untraced ``build_s`` reference;
2. the cumulative-prefix harness: the build re-composed from each layer's
   public functions in ``build_kg``'s order, every prefix materialised with
   the ``noop`` sink under a job group named after the layer step, so each
   step's wall time is its prefix's time minus the prefix before it;
3. one traced whole build (``kg_submit`` under one span and job group),
   then one untraced build at the same point of the warm-up curve, the
   reference for ``trace.overhead_s``.

Engine metrics come from the event log, aggregated by job group
(``eventlog.py``). Spans (name, start, end, parent, build) are kept in
memory and written to ``.kgbench_out/`` when the run ends.
"""

from __future__ import annotations

import contextlib
import json
import os
import time

from pyspark.sql import Observation
from pyspark.sql import functions as F

from kgbench import eventlog

LAYERS = ("sentencize", "tagging", "inference", "checkpoint", "canonicalize", "triples")
ENGINE = ("shuffle_write_mb", "spill_mb", "task_cpu_s", "gc_s", "jobs")
REPEAT = "repeat:"  # job-group prefix of repeated prefix materialisations


class Tracer:
    """Spans in memory; a span may also set the Spark job group of every
    job started inside it (the previous group is restored on exit)."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._groups: list[str | None] = [None]
        self.build: str | None = None

    @contextlib.contextmanager
    def span(self, name: str, group: str | None = None):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "build": self.build,
            "start": time.perf_counter(),
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        if group is not None:
            self._groups.append(group)
            self.sc.setJobGroup(group, name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if group is not None:
                self._groups.pop()
                if self._groups[-1] is None:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)
                else:
                    self.sc.setJobGroup(self._groups[-1], self._groups[-1])


def _noop(df) -> int:
    """Materialise ``df`` with the noop sink; returns its row count, taken
    by an Observation on the same job."""
    obs = Observation()
    df.observe(obs, F.count(F.lit(1)).alias("rows")).write.format("noop").mode(
        "overwrite"
    ).save()
    return int(obs.get["rows"])


def _dir_mb(path: str) -> float:
    total = 0
    for dirpath, _, names in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, n)) for n in names)
    return total / 2**20


def prefix_harness(bench, tr: Tracer, staging: str, out: str) -> dict[str, float]:
    """Per-step wall seconds and counts of one build composed from the
    layers' public functions. Returns the output footer counts under
    ``counts`` so the composed build is oracle-checked like any other."""
    from otar3088_spark.functions.text import IRREGULAR_PLURALS
    from otar3088_spark.io.checkpoint import SnapshotStore
    from otar3088_spark.operators.canonicalize import entity_clusters, resolve_labels
    from otar3088_spark.operators.inference import (
        link_model_mentions,
        merge_spans_with_model,
        model_mentions,
    )
    from otar3088_spark.operators.sentencize import normalize_turns, sentencize
    from otar3088_spark.operators.tagging import prepare_dictionary, tag_mentions
    from otar3088_spark.operators.triples import graph_tables, mention_triples
    from otar3088_spark.plans.kg_pipeline import _span_stage_fingerprint

    spark, wl = bench.spark, bench.wl
    lemma = IRREGULAR_PLURALS
    m: dict[str, float] = {}
    t = {}  # prefix wall seconds, keyed by step

    def timed(step: str, fn):
        with tr.span(step, group=step) as rec:
            result = fn()
        t[step] = rec["end"] - rec["start"]
        return result

    def noop_step(step: str, df) -> int:
        """A side-effect-free prefix runs twice and the faster run is its
        time. The repeat has a job group of its own, outside every layer,
        so the engine metrics count each prefix once. Steps that write, or
        that hit a plan memo when repeated, go through ``timed`` once."""
        rows = timed(step, lambda: _noop(df))
        with tr.span(step + " (repeat)", group=REPEAT + step) as rec:
            _noop(df)
        t[step] = min(t[step], rec["end"] - rec["start"])
        return rows

    transcripts = spark.read.parquet(bench.paths["transcripts"])
    dictionary = spark.read.parquet(bench.paths["dictionary"])
    salt = spark.sparkContext.defaultParallelism * 2

    normalized = normalize_turns(transcripts, salt_partitions=salt)
    sentences = sentencize(normalized)

    def plan_tagging():  # runs tag_mentions' eager plan-time jobs
        dp = prepare_dictionary(dictionary)
        return dp, tag_mentions(sentences, dp, lemma_overrides=lemma)

    dict_prepared, spans = timed("tagging.plan", plan_tagging)
    spans_step = "tagging.tag"
    m["sentencize.turns_kept"] = noop_step("sentencize.normalize", normalized)
    m["sentencize.sentences"] = noop_step("sentencize.split", sentences)
    m["tagging.spans"] = noop_step("tagging.tag", spans)
    if wl.use_model:
        model_sp = model_mentions(sentences)
        m["inference.scored_spans"] = noop_step("inference.score", model_sp)
        linked = link_model_mentions(model_sp, dict_prepared, lemma_overrides=lemma)
        linked_n = noop_step("inference.link", linked)
        m["inference.linked_ratio"] = linked_n / max(m["inference.scored_spans"], 1)
        spans = merge_spans_with_model(spans, linked)
        noop_step("inference.merge", spans)
        spans_step = "inference.merge"

    def snapshot():
        store = SnapshotStore(staging)
        stage = "spans-" + _span_stage_fingerprint(dictionary, wl.use_model, None, lemma)
        return store.get_or_compute(spark, stage, lambda: spans)

    # as build_kg does on the merged path: the sentence subtree, read by
    # the tagging and the scoring branch, is cached for the snapshot write
    # only. Cached data is looked up when a query is planned, so the noop
    # prefixes above ran without the cache.
    if wl.use_model:
        sentences.persist()
    try:
        snap = timed("checkpoint.write", snapshot)
    finally:
        if wl.use_model:
            sentences.unpersist()
    m["checkpoint.written_mb"] = _dir_mb(staging)
    snap_n = noop_step("checkpoint.read", snap)
    resolved = resolve_labels(snap)
    resolved_n = noop_step("canonicalize.resolve", resolved)
    m["canonicalize.kept_ratio"] = resolved_n / max(snap_n, 1)

    def clusters_step():  # entity_clusters runs its connected components eagerly
        c = entity_clusters(dict_prepared)
        _noop(c)
        return c

    clusters = timed("canonicalize.clusters", clusters_step)
    triples = mention_triples(resolved, clusters)
    m["triples.rows"] = noop_step("triples.triples", triples)
    nodes, edges = graph_tables(triples)
    noop_step("triples.nodes", nodes)
    noop_step("triples.edges", edges)

    counts: dict[str, int] = {}

    def write_outputs():
        for part, df in (("triples", triples), ("nodes", nodes), ("edges", edges)):
            dest = os.path.join(out, part)
            df.write.mode("overwrite").parquet(dest)
            counts[part] = spark.read.parquet(dest).count()

    timed("triples.write", write_outputs)

    g = lambda k: t.get(k, 0.0)  # noqa: E731
    m["sentencize.normalize_s"] = g("sentencize.normalize")
    m["sentencize.split_s"] = g("sentencize.split") - g("sentencize.normalize")
    m["tagging.plan_s"] = g("tagging.plan")
    m["tagging.tag_s"] = g("tagging.tag") - g("sentencize.split")
    if "inference.merge" in t:
        m["inference.score_s"] = g("inference.score") - g("sentencize.split")
        m["inference.link_s"] = g("inference.link") - g("inference.score")
        # the merge joins both branches: what the merged prefix costs
        # beyond the tagging prefix and the scoring + linking branch
        m["inference.merge_s"] = (
            g("inference.merge") - g("tagging.tag") - (g("inference.link") - g("sentencize.split"))
        )
    # the snapshot write computes the span stage again: only the excess
    # over the span prefix is the checkpoint's
    m["checkpoint.write_s"] = g("checkpoint.write") - g(spans_step)
    m["checkpoint.read_s"] = g("checkpoint.read")
    m["canonicalize.resolve_s"] = g("canonicalize.resolve") - g("checkpoint.read")
    m["canonicalize.clusters_s"] = g("canonicalize.clusters")
    m["triples.triples_s"] = g("triples.triples") - g("canonicalize.resolve")
    # each graph table recomputes the triples from the snapshot, as the
    # output writes do: the whole materialisation is charged here
    m["triples.graph_s"] = g("triples.nodes") + g("triples.edges")
    m["triples.write_s"] = g("triples.write") - g("triples.triples") - m["triples.graph_s"]
    m["counts"] = counts
    m["steps"] = dict(t)
    return m


def _layer_engine(groups: dict[str, eventlog.GroupMetrics], model: bool):
    """Engine metrics per layer, composed from the prefix groups the same
    way the step times are (each prefix minus the prefix before it)."""
    def val(group: str, key: str) -> float:
        gm = groups.get(group)
        return float(getattr(gm, key)) if gm else 0.0

    spans_step = "inference.merge" if model else "tagging.tag"
    parts = {
        "sentencize": [("sentencize.split", 1)],
        "tagging": [("tagging.plan", 1), ("tagging.tag", 1), ("sentencize.split", -1)],
        "inference": [("inference.merge", 1), ("tagging.tag", -1)] if model else [],
        "checkpoint": [("checkpoint.write", 1), (spans_step, -1), ("checkpoint.read", 1)],
        "canonicalize": [
            ("canonicalize.resolve", 1), ("checkpoint.read", -1), ("canonicalize.clusters", 1)
        ],
        "triples": [("triples.write", 1), ("canonicalize.resolve", -1)],
    }
    out: dict[str, float] = {}
    for layer, terms in parts.items():
        for key in ENGINE:
            out[f"{layer}.{key}"] = sum(sign * val(g, key) for g, sign in terms)
        out[f"{layer}.task_skew"] = max(
            (gm.task_skew for g, gm in groups.items() if g.startswith(layer + ".")),
            default=0.0,
        )
    out["tagging.plan_jobs"] = val("tagging.plan", "jobs")
    out["canonicalize.clusters_jobs"] = val("canonicalize.clusters", "jobs")
    return out


def _unit(name: str) -> str:
    for suffix, unit in (("_s", "s"), ("_mb", "MB"), ("_ratio", "ratio"), ("_skew", "ratio")):
        if name.endswith(suffix):
            return unit
    return "count"


def traced_run(bench, seconds: float) -> dict[str, tuple[float, str]]:
    from kgbench.run import ROOT, median_of

    t0 = time.perf_counter()
    bench.start_session()
    bench.setup_builds()
    tr = Tracer(bench.spark.sparkContext)
    tr.spans.append({"id": 0, "name": "setup", "parent": None, "build": "setup",
                     "start": t0, "end": time.perf_counter()})
    builds = bench.timed_builds(seconds)
    if not builds:
        raise RuntimeError("every timed build failed")

    tr.build = "prefix"
    layer: dict = {}

    def harness(staging: str, out: str) -> dict[str, int]:
        layer.update(prefix_harness(bench, tr, staging, out))
        return layer.pop("counts")

    bench.build(harness, timed=True)
    if not layer:
        raise RuntimeError("the prefix harness failed")
    steps = layer.pop("steps")

    tr.build = "traced"

    def traced(staging: str, out: str) -> dict[str, int]:
        with tr.span("build", group="build"):
            return bench.submit(staging, out)

    whole = bench.build(traced, timed=True)
    # the untraced neighbour of the traced build, at the same point of the
    # JIT warm-up curve
    neighbour = bench.build(bench.submit, timed=True)
    if whole is None or neighbour is None:
        raise RuntimeError("the traced build or its untraced neighbour failed")

    log_dir = str(bench.work / "eventlog")
    bench.close()
    groups = eventlog.aggregate(log_dir)

    untraced_s = median_of(builds, "build_s")
    layer_s = sum(
        v for k, v in layer.items()
        if k.endswith("_s") and k.split(".")[0] in LAYERS
    )
    # a model-off build does no inference work: its metrics read 0
    layer = {
        "inference.score_s": 0.0, "inference.link_s": 0.0, "inference.merge_s": 0.0,
        "inference.scored_spans": 0, "inference.linked_ratio": 0.0,
        **layer, **_layer_engine(groups, bench.wl.use_model),
    }
    metrics = {k: (float(v), _unit(k)) for k, v in layer.items()}
    metrics.update({
        "jvm.jit_s": (median_of(builds, "jit_s"), "s"),
        "jvm.jit_cpu_s": (median_of(builds, "jit_cpu_s"), "s"),
        "box.steal_s": (median_of(builds, "steal_s"), "s"),
        "jvm.gc_s": (median_of(builds, "gc_s"), "s"),
        "jvm.heap_committed_mb": (builds[-1]["heap_committed_mb"], "MB"),
        "jvm.peak_rss_mb": (median_of(builds, "jvm_peak_rss_mb"), "MB"),
        "python.worker_peak_rss_mb": (median_of(builds, "worker_peak_rss_mb"), "MB"),
        "trace.build_s": (untraced_s, "s"),
        "trace.whole_s": (whole["build_s"], "s"),
        "trace.layer_sum_s": (layer_s, "s"),
        "trace.unattributed_s": (whole["build_s"] - layer_s, "s"),
        "trace.overhead_s": (whole["build_s"] - neighbour["build_s"], "s"),
        "trace.timed_builds": (float(len(builds)), "count"),
        "bench.gen_s": (bench.bench_s["gen_s"], "s"),
        "bench.oracle_s": (bench.bench_s["oracle_s"], "s"),
    })

    out_dir = ROOT / ".kgbench_out"
    out_dir.mkdir(exist_ok=True)
    with open(out_dir / f"trace-{bench.name}-seed{bench.seed}.json", "w") as f:
        json.dump({
            "workload": bench.name, "seed": bench.seed, "spans": tr.spans,
            "prefix_steps_s": steps,
            "job_groups": {
                g: {"jobs": gm.jobs, "tasks": gm.tasks, "task_cpu_s": gm.task_cpu_s,
                    "shuffle_write_mb": gm.shuffle_write_mb, "task_skew": gm.task_skew}
                for g, gm in groups.items()
            },
        }, f, indent=1)
    return metrics
