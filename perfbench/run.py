"""Closed-loop benchmark of ``pipeline.run_incremental``.

    python3 perfbench/run.py --workload backfill --seed 1 --seconds 10 --trace 0

One process, Spark ``local[nproc / 2]``, the JVM on its C1 JIT and the
serial GC, BLAS pinned to one thread.  A run:

1. generates the workload's world from ``--seed`` and writes it to parquet;
2. sets up three times (session start + worker warm-up + world load) and
   keeps the median CPU time, plus that of the one IVF base-index build on
   ``ann_growth``, as ``setup_s``;
3. runs one untimed warm-up ``run_incremental`` over the workload's first
   batches in the same session (JIT and codegen warm up);
4. repeats ``run_incremental`` on a fresh lake ``--seconds`` ÷ the
   workload's nominal iteration time times (at least once), so that two
   commits are timed on the same work; a full GC precedes each iteration;
5. checks every iteration's lake against the NumPy oracle (``gate.py``).

``--trace 0`` prints the end-to-end metrics.  ``--trace 1`` runs untraced
and traced iterations (twice as many as ``--trace 0`` runs, at least two,
in U T T U order) and prints the per-layer metrics (``spans.py``),
``trace.overhead_frac`` included; its spans are written to
``.perfbench_work/traces/``.  The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.  See README.md.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import resource
import shutil
import statistics
import sys
import time
import traceback
from contextlib import nullcontext
from dataclasses import dataclass, field

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
BLAS_VARS = ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS")
SETUPS = 3
# C1 only: the JIT reaches its plateau within the warm-up, so timed
# iterations do not race the C2 compiler threads for CPU.  Alone, C1 gets a
# 48 MB code cache, which Spark's generated code fills in about a minute.
# Serial GC on a fixed-size heap: with a 1 GB heap, G1's 1 MB regions make
# Arrow and broadcast buffers humongous, and the concurrent mark cycles they
# start swing the JVM's CPU time by 2x between iterations.
JVM_OPTS = (
    "-XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=240m"
    " -XX:+UseSerialGC -Xms1g -XX:-UseAdaptiveSizePolicy"
)
DIM = 256

E2E_UNITS = {
    "cpu_ms_per_turn": "ms/turn",
    "batch_cpu_s_p50": "s",
    "setup_s": "s",
    "lake_bytes_per_turn": "B/turn",
    "lake_files": "count",
    "peak_rss_mb": "MB",
    "triples_precision": "ratio",
    "triples_recall": "ratio",
}
LAYER_UNITS = {
    "pipeline.run_batch_self_s": "s",
    "spark.jobs_per_batch": "count",
    "pipeline.lake_write_s": "s",
    "pipeline.lake_writes": "count",
    "pipeline.persist_wait_s": "s",
    "pipeline.rw_delta_wait_s": "s",
    "clustering.kernel_s": "s",
    "clustering.nil_rows": "count",
    "ann_index.build_s": "s",
    "ann_index.persist_delta_s": "s",
    "ann_index.persist_delta_calls": "count",
    "retrieval.kb_shards_s": "s",
    "session.start_s": "s",
    "pipeline.mentions": "count",
    "pipeline.nil_mentions": "count",
    "kb.new_entities": "count",
    "trace.overhead_frac": "ratio",
}


def _pin_environment() -> None:
    """Everything the JVM and the Python workers inherit, set before either
    starts: one BLAS thread per worker, the checkout on the workers' path,
    and every scratch file inside the checkout."""
    for k in BLAS_VARS:
        os.environ[k] = "1"
    pp = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + pp if pp else "")
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["SPARK_DRIVER_MEMORY"] = "1g"


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="tiny: smoke-test worlds of a few hundred turns")
    return ap.parse_args(argv)


@dataclass
class Iteration:
    index: int
    traced: bool
    lake: str
    wall_s: float = 0.0
    cpu_s: float = 0.0
    commits: list = field(default_factory=list)  # (wall s, CPU s) from start
    stats: list = field(default_factory=list)
    jobs: int = 0
    problems: list = field(default_factory=list)
    precision: float = 0.0
    recall: float = 0.0


def _intervals(it: Iteration, k: int) -> list[tuple[float, float]]:
    """(previous, this) commit pairs in clock k (0 wall, 1 CPU), the first
    from the start of the run."""
    marks = [0.0] + [c[k] for c in it.commits]
    return list(zip(marks, marks[1:]))


def _lake_size(root: str) -> tuple[int, int]:
    """(bytes of every file, parquet file count) under a lake root."""
    size = files = 0
    for d, _, names in os.walk(root):
        for n in names:
            size += os.path.getsize(os.path.join(d, n))
            files += n.endswith(".parquet")
    return size, files


def _tree_cpu_s() -> float:
    """CPU seconds (user + system, reaped children included) of this process
    and all its descendants: the driver, the JVM and the Python workers."""
    parent, ticks = {}, {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # exited while we looked
            continue
        parent[int(name)] = int(fields[1])
        ticks[int(name)] = sum(int(x) for x in fields[11:15])
    me, total = os.getpid(), 0
    for pid, t in ticks.items():
        p = pid
        while p not in (me, 0, 1) and p in parent:
            p = parent[p]
        total += t if p == me else 0
    return total / os.sysconf("SC_CLK_TCK")


def _cpu_ticks() -> list[int]:
    """Host-wide CPU tick counters (user, nice, system, idle, ..., steal)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM (and its Python workers) to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def main(argv=None) -> int:
    args = _parse(argv)
    t_start = time.perf_counter()
    phase_s: dict[str, float] = {}
    _pin_environment()
    load_start = os.getloadavg()
    ticks_start = _cpu_ticks()
    sys.path.insert(0, ROOT)

    import incremental_entity_extraction_spark as pkg

    if not os.path.abspath(pkg.__file__).startswith(ROOT + os.sep):
        raise SystemExit(f"package imported from {pkg.__file__}, not {ROOT}")

    from incremental_entity_extraction_spark.config import PipelineConfig
    from incremental_entity_extraction_spark.fixtures import make_world, write_world
    from incremental_entity_extraction_spark.operators.ann_index import (
        ensure_ann_index,
    )
    from incremental_entity_extraction_spark.operators.retrieval_ann import (
        composite_corpus,
    )
    from incremental_entity_extraction_spark.pipeline import Lake, run_incremental
    from incremental_entity_extraction_spark.session import get_spark
    from gate import Gate
    from spans import Tracer, layer_metrics
    from workloads import WORKLOADS, shape

    if args.workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}: {sorted(WORKLOADS)}")
    w = shape(WORKLOADS[args.workload], args.size == "tiny")
    ivf = w.retrieval_mode != "broadcast"
    cfg = PipelineConfig(dim=DIM)
    # half the CPUs: the driver, the JVM's own threads and the lake writers
    # need the rest, and fewer parallel tasks wait less on a slowed vCPU
    cores = max(1, len(os.sched_getaffinity(0)) // 2)

    @dataclass
    class TimedLake(Lake):
        """The caller's lake, recording when each batch's lineage commits."""

        commits: list = field(default_factory=list)

        def mark_complete(self, batch_id, stats):
            super().mark_complete(batch_id, stats)
            self.commits.append((time.perf_counter(), _tree_cpu_s()))

    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    base_index = os.path.join(run_dir, "base_index")

    world = make_world(
        cfg, n_convs=w.n_convs, n_entities=w.n_entities, nil_frac=w.nil_frac,
        n_batches=w.n_batches, base_turns=w.base_turns, seed=args.seed,
    )
    files = write_world(world, os.path.join(run_dir, "world"))
    turns = len(world.transcripts)
    phase_s["world"] = time.perf_counter() - t_start

    def fresh_lake(name: str) -> TimedLake:
        root = os.path.join(run_dir, "lakes", name)
        if ivf:  # a fresh lake holds only the base index built in setup
            shutil.copytree(base_index, os.path.join(root, "ann_index"))
        return TimedLake(root)

    spark = None
    try:
        # ---- setup, several times; the median CPU time is setup_s ---------
        setup_s, setup_cpu_s, start_s = [], [], []
        for _ in range(SETUPS):
            if spark is not None:
                spark.stop()
            c0, t0 = _tree_cpu_s(), time.perf_counter()
            spark = get_spark(
                cores=cores, app_name=f"perfbench-{w.name}",
                extra_conf={
                    "spark.ui.showConsoleProgress": "false",
                    "spark.driver.extraJavaOptions":
                        f"-Djava.io.tmpdir={os.environ['TMPDIR']} "
                        + JVM_OPTS,
                },
            )
            t1 = time.perf_counter()
            transcripts = spark.read.parquet(files["transcripts"]).cache()
            kb = spark.read.parquet(files["entities_kb"]).cache()
            transcripts.count()
            kb.count()
            setup_s.append(time.perf_counter() - t0)
            setup_cpu_s.append(_tree_cpu_s() - c0)
            start_s.append(t1 - t0)
        build_s = build_cpu_s = 0.0
        if ivf:  # the base index is built once, in the session that is timed
            c0, t0 = _tree_cpu_s(), time.perf_counter()
            ensure_ann_index(
                composite_corpus(kb.select("id", "indexer", "embedding")),
                base_index, mode=w.retrieval_mode,
            )
            build_s = time.perf_counter() - t0
            build_cpu_s = _tree_cpu_s() - c0
        sc = spark.sparkContext

        def last_job_id() -> int:
            ids = sc.statusTracker().getJobIdsForGroup(None)
            return max(ids) if ids else -1

        def run(lake, source=transcripts):
            return run_incremental(
                spark, source, kb, lake, cfg, cluster_mode="cc",
                retrieval_mode=w.retrieval_mode,
            )

        # ---- untimed warm-up in the same session, on the first batches --
        t0 = time.perf_counter()
        warm_ids = sorted(int(b) for b in world.transcripts["batch_id"].unique())
        warm_lake = fresh_lake("warmup")
        run(warm_lake, transcripts.filter(
            transcripts.batch_id.isin(warm_ids[: w.warmup_batches])
        ))
        phase_s["warmup"] = time.perf_counter() - t0

        # ---- timed window: the same number of iterations on every commit
        tracer = Tracer()
        its: list[Iteration] = []
        n_its = max(1, round(args.seconds / w.iteration_s))
        if args.trace:  # untraced and traced iterations in U T T U order, so
            n_its = max(2, 2 * n_its)  # a warm-up trend cancels in the ratio
        t_loop = time.perf_counter()
        for i in range(n_its):
            it = Iteration(i, bool(args.trace) and i % 4 in (1, 2), "")
            lake = fresh_lake(f"it{i}")
            it.lake = lake.root
            its.append(it)
            spark._jvm.java.lang.System.gc()  # every iteration starts on
            gc.collect()  # an empty heap, outside the timed window
            j0 = last_job_id()
            try:
                with tracer.installed(i) if it.traced else nullcontext():
                    c0, t0 = _tree_cpu_s(), time.perf_counter()
                    it.stats = run(lake)
                    it.wall_s = time.perf_counter() - t0
                    it.cpu_s = _tree_cpu_s() - c0
            except Exception:
                traceback.print_exc()
                it.problems.append("run_incremental raised")
                continue
            it.jobs = last_job_id() - j0
            it.commits = [(t - t0, c - c0) for t, c in lake.commits]

        peak_rss_mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
        peak_rss_mb += _vm_hwm_mb(
            int(spark._jvm.java.lang.ProcessHandle.current().pid())
        )
        spark_version = spark.version
        phase_s["timed"] = time.perf_counter() - t_loop
    finally:
        if spark is not None:
            t0 = time.perf_counter()
            _stop(spark)
            phase_s["stop"] = time.perf_counter() - t0
    load_end = os.getloadavg()
    ticks = [b - a for a, b in zip(ticks_start, _cpu_ticks())]

    # ---- correctness gate (outside the timed window) ---------------------
    t0 = time.perf_counter()
    gate = Gate(world.transcripts, world.entities_kb, cfg, w.triples_floor,
                warm_lake.root)
    for it in its:
        if not it.problems:
            it.precision, it.recall, it.problems = gate.check(it.lake)
        for p in it.problems:
            print(f"FAILED iteration {it.index}: {p}", file=sys.stderr)
    ok = [it for it in its if not it.problems]
    failed = len(its) - len(ok)
    phase_s["gate"] = time.perf_counter() - t0

    host = {
        "workload": w.name, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "size": args.size, "turns": turns,
        "batches": w.n_batches, "nproc": os.cpu_count(), "spark_cores": cores,
        "loadavg_start": load_start, "loadavg_end": load_end,
        # CPU time the hypervisor gave to other guests, share of all ticks
        "steal_frac": ticks[7] / sum(ticks) if len(ticks) > 7 else None,
        "spark_version": spark_version,
        "blas_pinning": {k: os.environ[k] for k in BLAS_VARS},
        "iterations": len(its), "failed_frac": failed / len(its),
        "setup_samples_s": setup_s,
        "setup_cpu_samples_s": setup_cpu_s,
        "index_build_s": build_s,
        "iteration_walls_s": [round(it.wall_s, 3) for it in its],
        "iteration_cpu_s": [round(it.cpu_s, 2) for it in its],
        "batch_intervals_s": [
            [round(b - a, 3) for a, b in _intervals(it, 0)] for it in its
        ],
        "phase_s": {k: round(v, 2) for k, v in phase_s.items()},
    }
    print("host " + json.dumps(host))

    med = statistics.median
    metrics: dict[str, float] = {}
    untraced = [it for it in ok if not it.traced]
    traced = [it for it in ok if it.traced]
    if ok and (untraced and (not args.trace or traced)):
        cpu_per_turn = med(it.cpu_s / turns for it in untraced)
        if args.trace:
            per = [
                layer_metrics(tracer, it.index, w.n_batches, it.jobs, it.stats)
                for it in traced
            ]
            metrics = {k: med(p[k] for p in per) for k in per[0]}
            metrics["session.start_s"] = med(start_s)
            metrics["ann_index.build_s"] = build_s
            metrics["trace.overhead_frac"] = med(
                it.cpu_s / turns for it in traced
            ) / cpu_per_turn - 1
            os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
            tracer.dump(
                os.path.join(WORK, "traces", f"{w.name}-seed{args.seed}.json"),
                {"host": host},
            )
        else:
            def pooled(k):
                return [b - a for it in untraced for a, b in _intervals(it, k)]

            # wall-clock figures for the reader; too host-dependent to bound
            print(f"turns_per_s = {med(turns / it.wall_s for it in untraced):.6g}"
                  f" turns/s (wall)")
            print(f"batch_s_p50 = {med(pooled(0)):.6g} s (wall)")
            sizes = [_lake_size(it.lake) for it in untraced]
            metrics = {
                "cpu_ms_per_turn": 1000 * cpu_per_turn,
                "batch_cpu_s_p50": med(pooled(1)),
                "setup_s": med(setup_cpu_s) + build_cpu_s,
                "lake_bytes_per_turn": med(s[0] for s in sizes) / turns,
                "lake_files": float(med(s[1] for s in sizes)),
                "peak_rss_mb": peak_rss_mb,
                "triples_precision": med(it.precision for it in ok),
                "triples_recall": med(it.recall for it in ok),
            }
    units = LAYER_UNITS if args.trace else E2E_UNITS
    for name, value in metrics.items():
        print(f"{name} = {value:.6g} {units[name]}")
    print(f"failed_frac = {failed / len(its):.6g} ratio ({failed}/{len(its)})")
    shutil.rmtree(run_dir, ignore_errors=True)

    print(json.dumps({
        "correct": failed == 0 and bool(metrics),
        "attempted": len(its),
        "failed": failed,
        "metrics": {
            k: {"value": metrics[k], "unit": units[k]} for k in units if k in metrics
        },
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
