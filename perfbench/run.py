"""Dedup benchmark: one closed-loop client driving ``DedupPipeline.run``.

    python3 perfbench/run.py --workload planted --seed 1 --seconds 1 --trace 0

Run it from the repository root. One process starts a session on
``local[nproc]`` (shuffle partitions = nproc, every other setting the
program's default) and writes the workload's corpus from ``--seed`` to
parquet; that is the set-up. It then runs passes back to back, one client,
each starting after the previous one ends, until ``--seconds`` have passed
(at least one pass). A pass is ``DedupPipeline.run`` through writing the
clusters. The first pass of a fresh session is timed as it comes, with no
warm-up before it: that is the pass a batch dedup job pays for. Every
pass's clusters are checked (``checks.py``); a pass that raises or fails a
check counts as failed.

``--trace 0`` prints the end-to-end metrics; the summary line also gives
precision and peak RSS, which swing too much from run to run to gate on
(see ``main``). ``--trace 1`` then runs one
more untraced pass and one traced pass that calls each layer in turn
(``tracing.py``), writes the spans and per-layer counts to
``.perfbench_out/traces/``, and prints the per-layer metrics. The last
stdout line is the JSON result; the line before it is a readable summary
with the sample count and the failed share.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback
from collections import defaultdict
from dataclasses import dataclass
from typing import Callable

import corpora

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".perfbench_out")


@dataclass(frozen=True)
class Workload:
    write: Callable  # (spark, path, seed) -> None
    group: Callable  # conv_id -> truth group
    run_dir: bool  # checkpoint-resumable path (parquet stages) vs in-memory
    paths: bool = False  # clusters must be exactly the generated paths


WORKLOADS = {
    "planted": Workload(corpora.write_planted, corpora.planted_group, run_dir=True),
    "chains": Workload(corpora.write_chains, corpora.chain_group, run_dir=False, paths=True),
}


# ---- processes and memory, from /proc ---------------------------------------


def _descendants(pid: int) -> list[int]:
    kids = defaultdict(list)
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids[ppid].append(int(d))
    out, todo = [], [pid]
    while todo:
        for k in kids[todo.pop()]:
            out.append(k)
            todo.append(k)
    return out


def _status_kb(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb() -> float:
    """Sum of the peak RSS (VmHWM) of every process this one started: the
    JVM and the Python workers."""
    return sum(_status_kb(p, "VmHWM") for p in _descendants(os.getpid())) * 1024 / 1e6


def _cpu_jiffies() -> list[int]:
    """Host-wide CPU time counters (user, nice, system, idle, iowait, irq,
    softirq, steal, ...) from /proc/stat."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait for every child to end."""
    from pyspark import SparkContext

    kids = _descendants(os.getpid())
    gateway = SparkContext._gateway  # noqa: SLF001
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while any(_alive(p) for p in kids) and time.monotonic() < deadline:
        time.sleep(0.1)
    for p in kids:
        if _alive(p):
            os.kill(p, signal.SIGKILL)


# ---- one pass ---------------------------------------------------------------

CLUSTER_COLS = ["conv_id", "cluster_id", "is_representative"]


def run_pass(spark, turns, workdir: str, run_dir: bool):
    """One timed ``DedupPipeline.run`` through writing the clusters.

    Returns (wall_s, shuffle write bytes, clusters as pandas, assembled
    conv_ids or None)."""
    from dedup.pipeline import DedupPipeline
    from dedup.util import free_all_scratch, shuffle_totals

    rd = os.path.join(workdir, "run") if run_dir else None
    out = os.path.join(rd, "clusters") if rd else os.path.join(workdir, "clusters")
    before = shuffle_totals(spark)["shuffle_write_bytes"]
    t0 = time.perf_counter()
    res = DedupPipeline(spark, run_dir=rd).run(turns)
    if rd is None:
        res.clusters.write.parquet(out)
    wall = time.perf_counter() - t0
    shuffled = shuffle_totals(spark)["shuffle_write_bytes"] - before
    clusters = spark.read.parquet(out).select(*CLUSTER_COLS).toPandas()
    assembled = assembled_ids(spark, rd)
    free_all_scratch(spark)
    shutil.rmtree(workdir, ignore_errors=True)
    return wall, shuffled, clusters, assembled


def assembled_ids(spark, run_dir: str | None) -> list[str] | None:
    """conv_ids of the run dir's conversations stage; None without one."""
    if run_dir is None:
        return None
    convs = spark.read.parquet(os.path.join(run_dir, "conversations"))
    return [r[0] for r in convs.select("conv_id").collect()]


class Runner:
    """Session, corpus and pass bookkeeping for one benchmark run."""

    def __init__(self, workload: str, seed: int, work: str):
        self.name = workload
        self.wl = WORKLOADS[workload]
        self.seed = seed
        self.work = work
        self.attempted = 0
        self.failed = 0
        self.n_pass = 0

    def setup(self) -> dict[str, float]:
        import pyarrow.parquet as pq

        from dedup.session import get_spark

        nproc = len(os.sched_getaffinity(0))
        t0 = time.perf_counter()
        self.spark = get_spark(
            "perfbench",
            master=f"local[{nproc}]",
            shuffle_partitions=nproc,
            extra_conf={"spark.ui.showConsoleProgress": "false"},
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()
        path = os.path.join(self.work, "corpus")
        self.wl.write(self.spark, path, self.seed)
        self.turns = self.spark.read.parquet(path)
        self.n_turns = self.turns.count()  # the session's first read of the corpus
        ids = pq.read_table(path, columns=["conv_id"]).column("conv_id")
        self.conv_ids = set(ids.unique().to_pylist())
        self.truth = {c: self.wl.group(c) for c in self.conv_ids}
        self.expected = None
        if self.wl.paths:
            by_group = defaultdict(list)
            for c in self.conv_ids:
                by_group[self.truth[c]].append(c)
            self.expected = {min(m): len(m) for m in by_group.values()}
        t2 = time.perf_counter()
        return {"session_s": t1 - t0, "corpus_s": t2 - t1}

    def check(self, clusters, assembled) -> list[str]:
        from checks import check_clusters

        return check_clusters(clusters, self.conv_ids, assembled, self.expected)

    def one_pass(self):
        """Run and check one pass; None when it raised or failed a check."""
        from checks import pair_quality

        self.attempted += 1
        self.n_pass += 1
        workdir = os.path.join(self.work, f"pass{self.n_pass}")
        try:
            wall, shuffled, clusters, assembled = run_pass(
                self.spark, self.turns, workdir, self.wl.run_dir
            )
        except Exception:  # noqa: BLE001 — a failed pass is a measured outcome
            traceback.print_exc()
            self.failed += 1
            return None
        errors = self.check(clusters, assembled)
        if errors:
            print(f"pass {self.n_pass} failed checks: {errors}", file=sys.stderr)
            self.failed += 1
            return None
        recall, precision = pair_quality(clusters, self.truth)
        return wall, shuffled, recall, precision

    def timed(self, seconds: float) -> list[tuple]:
        """Passes for ``seconds`` (at least one); also records the share of
        the host's CPU time the hypervisor stole meanwhile, which explains
        run-to-run drift of the walls on a shared host."""
        done = []
        before = _cpu_jiffies()
        deadline = time.perf_counter() + seconds
        while True:
            r = self.one_pass()
            if r is not None:
                done.append(r)
            if time.perf_counter() >= deadline:
                delta = [b - a for a, b in zip(before, _cpu_jiffies())]
                self.steal_share = delta[7] / max(1, sum(delta))
                return done

    def traced(self, untraced_wall: float, setup: dict) -> dict[str, float]:
        """One traced pass; returns the per-layer metrics and writes the
        spans and counts to ``.perfbench_out/traces/<run id>.json``."""
        from checks import pair_quality
        from tracing import Tracer, layer_metrics, stage_metrics_by_group, traced_pass

        spark = self.spark
        run_id = f"{self.name}-s{self.seed}-{os.getpid()}"
        tracer = Tracer(spark, run_id)
        workdir = os.path.join(self.work, "traced")
        rd = os.path.join(workdir, "run") if self.wl.run_dir else None
        self.attempted += 1
        spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
        try:
            with tracer.span("pass"):
                clusters = traced_pass(spark, tracer, self.turns, rd)
                pdf = clusters.select(*CLUSTER_COLS).toPandas()
        finally:
            spark.conf.unset("spark.sql.pyspark.udf.profiler")
        errors = self.check(pdf, assembled_ids(spark, rd))
        if errors:
            print(f"traced pass failed checks: {errors}", file=sys.stderr)
            self.failed += 1
        root = tracer.spans[0]
        metrics = layer_metrics(tracer, stage_metrics_by_group(spark))
        metrics["keep.precision"] = pair_quality(pdf, self.truth)[1]
        metrics.update({f"setup.{k}": v for k, v in setup.items()})
        metrics["pipeline.trace_overhead_s"] = (root["end"] - root["start"]) - untraced_wall
        os.makedirs(os.path.join(OUT, "traces"), exist_ok=True)
        with open(os.path.join(OUT, "traces", f"{run_id}.json"), "w") as f:
            json.dump({"run_id": run_id, "spans": tracer.spans, "metrics": metrics}, f, indent=1)
        shutil.rmtree(workdir, ignore_errors=True)
        return metrics


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    work = os.path.join(OUT, f"work-{os.getpid()}")
    # the JVM passes PYTHONPATH on to the Python workers, which import dedup
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # every JVM the session starts keeps its scratch inside the checkout
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"
    os.environ.pop("DEDUP_DRIVER_MEM", None)  # the program's own heap default
    sys.path.insert(0, ROOT)
    try:
        import dedup.pipeline  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the dedup package from {ROOT}: {e}", file=sys.stderr)
        return 2
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)

    runner = Runner(args.workload, args.seed, work)
    try:
        setup = runner.setup()
        passes = runner.timed(args.seconds)
        if not passes:
            print("perfbench: no timed pass succeeded", file=sys.stderr)
            return 1
        wall = statistics.median(p[0] for p in passes)
        if args.trace:
            # the traced pass runs in a warm session: compare it with a
            # warm untraced pass
            warm = runner.one_pass()
            metrics = runner.traced(warm[0] if warm else wall, setup)
            metrics["session.peak_rss_mb"] = peak_rss_mb()
            ungated = {}
            from tracing import unit

            result = {k: {"value": metrics[k], "unit": unit(k)} for k in sorted(metrics)}
        else:
            result = {
                "turns_per_s": {"value": runner.n_turns / wall, "unit": "1/s"},
                "setup_s": {"value": sum(setup.values()), "unit": "s"},
                "shuffle_mb": {
                    "value": statistics.median(p[1] for p in passes) / 1e6, "unit": "MB"
                },
                "recall": {"value": statistics.median(p[2] for p in passes), "unit": "ratio"},
            }
            # Reported here, gated nowhere (the traced run reports them as
            # keep.precision and session.peak_rss_mb). Precision swings by
            # seed with the SimHash tier's false merges; the JVM's share of
            # the peak RSS swings from run to run with the default heap's
            # growth, which is timing-dependent.
            ungated = {"precision": (statistics.median(p[3] for p in passes), "ratio"),
                       "peak_rss_mb": (peak_rss_mb(), "MB")}
    finally:
        if hasattr(runner, "spark"):
            stop_spark(runner.spark)
        shutil.rmtree(work, ignore_errors=True)

    walls = " ".join(f"{p[0]:.2f}" for p in passes)
    print(
        f"perfbench {args.workload} seed={args.seed}: {runner.n_turns} turns, "
        f"setup {' '.join(f'{k}={v:.2f}' for k, v in setup.items())}, "
        f"{len(passes)} timed passes (walls {walls} s, host steal "
        f"{runner.steal_share:.3f}), "
        f"failed_share={runner.failed / runner.attempted:.3f} "
        f"({runner.failed}/{runner.attempted}); "
        + ", ".join(f"{k}={v:.6g} {u}" for k, (v, u) in ungated.items())
        + (", " if ungated else "")
        + ", ".join(f"{k}={v['value']:.6g} {v['unit']}" for k, v in result.items())
    )
    print(
        json.dumps(
            {
                "correct": runner.failed == 0,
                "attempted": runner.attempted,
                "failed": runner.failed,
                "metrics": result,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
