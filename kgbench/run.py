#!/usr/bin/env python3
"""Steady-state, oracle-checked benchmark of one kg_submit-shaped KG build.

    python3 kgbench/run.py --workload kg_gazetteer --seed 1 --seconds 1 --trace 0

One run is one long-lived ``local[nproc]`` Spark session. It generates the
workload's parquet inputs from ``--seed``, replays the engine's DuckDB
oracle over them, runs warm-up builds, then repeats timed builds for
``--seconds``. A build is ``jobs/kg_submit.py``'s ``main`` called in-process
(fresh parquet reads, ``build_kg`` with a span-snapshot staging dir, three
parquet writes, footer counts); every build is checked against the oracle.

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` runs the traced
variant (see ``trace.py``) and prints the per-layer metrics. The last line
of standard output is one JSON object: ``correct``, ``attempted``,
``failed``, ``metrics``. Workloads, metrics and their layers are described
in ``kgbench/README.md``.
"""

from __future__ import annotations

import argparse
import contextlib
import importlib.util
import io
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
from dataclasses import dataclass
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]


@dataclass(frozen=True)
class Workload:
    turns: int
    use_model: bool
    variant_share: float  # share of mentions written as a surface variant


WORKLOADS = {
    "kg_gazetteer": Workload(turns=3_000, use_model=False, variant_share=0.0),
    "kg_merged": Workload(turns=3_000, use_model=True, variant_share=0.3),
}

# The first build of a session is several times slower than the rest (JIT
# and codegen); the second still compiles. Builds run in a fixed sequence,
# so every run compares the same steps of the warm-up curve.
WARMUP_BUILDS = 2
# A warm build takes 5-10 s and the run budget allows two: with the
# benchmark's run_seconds of 1, every run times exactly this many builds,
# so no run measures later (faster) steps of the warm-up curve than another.
MIN_TIMED_BUILDS = 2
DRIVER_MEMORY = "2g"


def _load_kg_submit():
    spec = importlib.util.spec_from_file_location("kg_submit", ROOT / "jobs" / "kg_submit.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.main


class Bench:
    """One workload in one Spark session: inputs, oracle, and builds."""

    def __init__(self, name: str, seed: int, work: Path, trace: bool):
        self.name = name
        self.wl = WORKLOADS[name]
        self.seed = seed
        self.work = work
        self.trace = trace
        self.cores = os.cpu_count() or 1
        self.bench_s: dict[str, float] = {}
        self.failures: list[str] = []
        self.attempted = 0  # every checked build, warm-ups included
        self.timed = 0
        self.n_build = 0

    # -- set-up outside the session ---------------------------------------

    def prepare(self) -> None:
        """Start the checker process (``checker.py``); it writes the inputs
        and replays the oracle over them."""
        self.checker = subprocess.Popen(
            [sys.executable, "-m", "kgbench.checker"],
            cwd=ROOT, stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
        )
        r = self.ask(
            op="prepare", work=str(self.work), turns=self.wl.turns, seed=self.seed,
            variant_share=self.wl.variant_share, merged=self.wl.use_model,
            threads=self.cores,
        )
        self.paths = r["paths"]
        self.bench_s.update(gen_s=r["gen_s"], oracle_s=r["oracle_s"])

    def ask(self, **request):
        """One request to the checker process; returns its reply."""
        self.checker.stdin.write(json.dumps(request) + "\n")
        self.checker.stdin.flush()
        line = self.checker.stdout.readline()
        if not line:
            raise RuntimeError("the checker process ended")
        reply = json.loads(line)
        if "error" in reply:
            raise RuntimeError("checker: " + reply["error"])
        return reply

    # -- the session --------------------------------------------------------

    def start_session(self):
        from otar3088_spark.session import get_spark

        tmp = self.work / "tmp"
        tmp.mkdir()
        conf = {
            "spark.local.dir": str(self.work / "spark-local"),
            "spark.sql.warehouse.dir": str(self.work / "warehouse"),
            "spark.driver.memory": DRIVER_MEMORY,
            # no hsperfdata file in the system temp dir
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
        }
        if self.trace:
            (self.work / "eventlog").mkdir()
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": str(self.work / "eventlog"),
                "spark.eventLog.compress": "false",
            })
        self.spark = get_spark(app_name=f"kgbench-{self.name}", cores=self.cores, extra_conf=conf)
        self.jvm = self.spark.sparkContext._jvm
        self.kg_submit = _load_kg_submit()
        return self.spark

    def close(self) -> None:
        """End the checker process, stop the session and wait for the JVM
        and every process below this one to end."""
        from kgbench import procstat

        checker = getattr(self, "checker", None)
        if checker is not None:
            checker.stdin.close()  # the checker exits when its stdin closes
            try:
                checker.wait(timeout=30)
            except subprocess.TimeoutExpired:
                checker.kill()
                checker.wait()
            self.checker = None
        spark = getattr(self, "spark", None)
        if spark is None:
            return
        started = procstat.tree()[1:]  # the JVM and everything below it
        gateway = spark.sparkContext._gateway
        proc = getattr(gateway, "proc", None)
        try:
            spark.stop()
            gateway.shutdown()
        except Exception:  # e.g. a py4j call cut short by SIGTERM: go on
            traceback.print_exc()
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        procstat.wait_gone(started, timeout=30)
        self.spark = None

    def jvm_counters(self) -> dict[str, float]:
        """JIT compile seconds and GC seconds so far, committed heap MB."""
        mf = self.jvm.java.lang.management.ManagementFactory
        gc_ms = sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans())
        return {
            "jit_s": mf.getCompilationMXBean().getTotalCompilationTime() / 1000.0,
            "gc_s": gc_ms / 1000.0,
            "heap_committed_mb": mf.getMemoryMXBean().getHeapMemoryUsage().getCommitted()
            / 2**20,
        }

    # -- builds ---------------------------------------------------------------

    def submit(self, staging: str, out: str) -> dict[str, int]:
        """One kg_submit run; returns its footer counts."""
        argv = [
            "--transcripts", self.paths["transcripts"],
            "--dictionary", self.paths["dictionary"],
            "--output", out, "--output-format", "path",
            "--staging", staging,
        ]
        if self.wl.use_model:
            argv.append("--use-model")
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            rc = self.kg_submit(argv)
        if rc != 0:
            raise RuntimeError(f"kg_submit returned {rc}")
        return json.loads(buf.getvalue().strip().splitlines()[-1])["counts"]

    def check(self, out: str, counts: dict[str, int]) -> list[str]:
        return self.ask(op="check", triples_dir=os.path.join(out, "triples"), counts=counts)["bad"]

    def build(self, run, timed: bool) -> dict[str, float] | None:
        """One checked build through ``run(staging, out) -> counts``; returns
        its measurements, or None if it raised or failed the oracle check."""
        from kgbench import procstat

        self.n_build += 1
        staging = str(self.work / f"staging-{self.n_build}")
        out = str(self.work / f"out-{self.n_build}")
        self.attempted += 1
        self.timed += timed
        try:
            # the measured tree: this driver, the JVM and its Python
            # workers; the idle checker process is not part of it
            skip = self.checker.pid
            jvm = procstat.jvm_pid()
            pids = procstat.tree(skip=skip)
            procstat.reset_peaks(pids)
            cpu0, jvm0 = procstat.cpu_s(pids), self.jvm_counters()
            jit0, steal0 = procstat.jit_cpu_s(jvm), procstat.steal_s()
            t0 = time.perf_counter()
            counts = run(staging, out)
            wall = time.perf_counter() - t0
            steal = procstat.steal_s() - steal0
            jit_cpu = procstat.jit_cpu_delta(jit0, procstat.jit_cpu_s(jvm))
            pids = procstat.tree(skip=skip)
            python = [p for p in pids if p != jvm]
            m = {
                "build_s": wall,
                "cpu_s": procstat.cpu_s(pids) - cpu0,
                "jit_cpu_s": jit_cpu,
                "steal_s": steal,
                "peak_rss_mb": procstat.peak_rss_mb(python),
                "jvm_peak_rss_mb": procstat.peak_rss_mb([jvm]),
                "worker_peak_rss_mb": procstat.peak_rss_mb(procstat.tree(jvm)[1:]),
            }
            jvm1 = self.jvm_counters()
            m["jit_s"] = jvm1["jit_s"] - jvm0["jit_s"]
            m["gc_s"] = jvm1["gc_s"] - jvm0["gc_s"]
            m["heap_committed_mb"] = jvm1["heap_committed_mb"]
            bad = self.check(out, counts)
        except Exception:
            bad = ["build raised:\n" + traceback.format_exc()]
        finally:
            shutil.rmtree(out, ignore_errors=True)
            shutil.rmtree(staging, ignore_errors=True)
        if bad:
            self.failures.append(f"build {self.n_build}: " + "; ".join(bad))
            print(self.failures[-1], file=sys.stderr)
            return None
        return m

    def setup_builds(self) -> None:
        for _ in range(WARMUP_BUILDS):
            self.build(self.submit, timed=False)

    def timed_builds(self, seconds: float) -> list[dict[str, float]]:
        done: list[dict[str, float]] = []
        t_end = time.perf_counter() + seconds
        while time.perf_counter() < t_end or self.timed < MIN_TIMED_BUILDS:
            m = self.build(self.submit, timed=True)
            if m is not None:
                done.append(m)
        return done


def median_of(builds: list[dict[str, float]], key: str) -> float:
    return statistics.median(b[key] for b in builds)


def end_to_end(bench: Bench, seconds: float) -> dict[str, tuple[float, str]]:
    t0 = time.perf_counter()
    bench.start_session()
    bench.setup_builds()
    setup_s = time.perf_counter() - t0
    builds = bench.timed_builds(seconds)
    if not builds:
        raise RuntimeError("every timed build failed")
    build_s = median_of(builds, "build_s")
    print(f"{bench.name}: {len(builds)} timed builds", file=sys.stderr)
    for key in builds[0]:
        print(f"  {key}: {[round(b[key], 3) for b in builds]}", file=sys.stderr)
    return {
        "setup_s": (setup_s, "s"),
        "build_s": (build_s, "s"),
        "turns_per_s": (bench.wl.turns / build_s, "turns/s"),
        "cpu_s": (median_of(builds, "cpu_s"), "s"),
        "peak_rss_mb": (median_of(builds, "peak_rss_mb"), "MB"),
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="how long the timed builds run")
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0,
                    help="1: traced run printing the per-layer metrics")
    args = ap.parse_args(argv)

    # the engine must be importable here and in the Spark Python workers
    sys.path.insert(0, str(ROOT))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    # a stopped run still stops its session and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    work = ROOT / ".kgbench_work" / f"{args.workload}-{os.getpid()}"
    work.mkdir(parents=True)
    # everything the run writes stays under its work dir
    os.environ["TMPDIR"] = str(work)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    # the JVM spark-submit runs to assemble the driver command line
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work}"
    bench = Bench(args.workload, args.seed, work, bool(args.trace))
    try:
        bench.prepare()
        if args.trace:
            from kgbench import trace

            metrics = trace.traced_run(bench, args.seconds)
        else:
            metrics = end_to_end(bench, args.seconds)
    finally:
        try:
            bench.close()
        finally:
            shutil.rmtree(work, ignore_errors=True)
            with contextlib.suppress(OSError):
                (ROOT / ".kgbench_work").rmdir()
    print(json.dumps({
        "correct": not bench.failures,
        "attempted": bench.attempted,
        "failed": len(bench.failures),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
