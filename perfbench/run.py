#!/usr/bin/env python3
"""featherstore_spark benchmark: one workload, one seed, one JSON result.

    python3 perfbench/run.py --workload pit_skewed --seed 1 --seconds 15 --trace 0

Run from the repository root.  Workloads (see perfbench/README.md):

- ``feature_log``: clean checkpointed backfill of a uniform corpus;
- ``pit_skewed``: clean point-in-time materialization (bucketed as-of,
  auto width) over a corpus whose one conversation holds half the turns;
- ``serve_mixed``: a ``cli serve`` process under a closed-loop Flight
  client mixing latest, point-in-time and history reads with ingests.

``--trace 0`` prints every end-to-end metric named in BENCHMARK.json;
``--trace 1`` runs the same workload with tracing on and prints every
per-layer metric instead, writing the spans to ``.perfbench_out/``.  The
last stdout line is the result; the line before it holds host
diagnostics (1-min loadavg, hypervisor steal share), which never change
how a run is measured.  Exit status is 1 when an output check fails.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
#: Input generations per Spark run (the first is slow while the JIT
#: compiles it; a third would cost 6 s a run the campaign's time budget
#: does not have), and server set-ups per ``serve_mixed`` run.
SETUP_REPS = 2
SERVE_SETUP_REPS = 5
#: Measured materializations per run, whatever ``--seconds`` is.
MIN_RUNS = 2
#: Untimed requests that warm a fresh server before it is measured.
WARM_OPS = 50
WORKLOADS = ("feature_log", "pit_skewed", "serve_mixed")


def declared_metrics() -> tuple[dict, dict]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


class Run:
    """Counts operations and output checks attempted and failed."""

    def __init__(self):
        self.attempted = 0
        self.failures: list[str] = []
        self.phases: dict[str, float] = {}
        self.diag: dict = {}
        self._t = time.perf_counter()

    def phase(self, name: str) -> None:
        """Record the wall seconds since the previous phase ended."""
        now = time.perf_counter()
        self.phases[name] = round(now - self._t, 3)
        self._t = now

    def ops(self, n: int) -> None:
        self.attempted += n

    def checked(self, n: int, errs: list[str]) -> None:
        self.attempted += n
        self.failures += errs


def spark_workload(args, work: str, run: Run, tracer) -> tuple[dict, dict]:
    import spark_jobs as sj
    from tracing import tree_peak_rss_mb

    t0 = time.perf_counter()
    spark = sj.start_session(work, trace=False)
    try:
        session_s = time.perf_counter() - t0
        job = sj.Job(spark, args.workload, args.seed, args.scale, work, tracer)
        gens = []
        for _ in range(1 if args.trace else SETUP_REPS):  # a traced run reports no setup_s
            t = time.perf_counter()
            job.generate()
            gens.append(time.perf_counter() - t)
        warm = job.materialize("warm")  # the first run compiles: set-up, not steady state
        setup_s = session_s + statistics.median(gens) + warm
        run.phase("setup")
        walls = sj.materialize_loop(job, args.seconds, MIN_RUNS, "run")
        run.diag["inputs"] = {"turns": job.n_turns, "spine_rows": job.n_spine}
        run.diag["setup_parts_s"] = {"session": round(session_s, 3), "generate": [round(g, 3) for g in gens]}
        run.diag["materialize_s"] = {"warm": round(warm, 3), "runs": [round(w, 3) for w in walls]}
        run.ops(1 + len(walls))
        peak_mb = tree_peak_rss_mb(sj.jvm_pid(spark))
        run.phase("measure")
        if args.trace:
            spark.stop()  # same JVM, a new context with the event log on
            spark = job.spark = sj.start_session(work, trace=True)
            traced = traced_loop(job, args.seconds, tracer)
            run.ops(len(traced))
            run.phase("traced")
        run.checked(*job.check())
        out_bytes = job.output_bytes()
        run.phase("check")
    finally:
        sj.stop_session(spark)
    layers = {**spark_layers(work, traced, walls, tracer), "peak_rss_mb": peak_mb} if args.trace else {}
    run.phase("stop")
    metrics = {
        "setup_s": setup_s,
        "turns_per_s": job.n_turns / statistics.median(walls),
        "output_bytes_per_turn": out_bytes / job.n_turns,
    }
    return metrics, layers


MANIFEST_METHODS = ("__init__", "get_stat", "set_stat", "mark_done")


def traced_loop(job, seconds: float, tracer) -> list[tuple]:
    """Materializations with spans on, in the new context (the JVM's JIT
    is already warm); returns (label, wall s, JVM GC s, files written)
    for each."""
    import spark_jobs as sj
    from featherstore_spark.plans.checkpoint import CheckpointManifest

    tracer.enabled = True
    undo = tracer.wrap_methods(CheckpointManifest, MANIFEST_METHODS, "CheckpointManifest")
    traced, t_end = [], time.perf_counter() + seconds
    try:
        while len(traced) < MIN_RUNS or time.perf_counter() < t_end:
            label = f"traced{len(traced)}"
            g0 = sj.gc_s(job.spark)
            wall = job.materialize(label)
            traced.append((label, wall, sj.gc_s(job.spark) - g0, job.files_written()))
    finally:
        undo()
    return traced


def spark_layers(work: str, traced: list[tuple], untraced_walls: list[float], tracer) -> dict:
    """Median per-layer numbers over the traced materializations."""
    import spark_jobs as sj
    from tracing import layer_metrics, read_event_log, stage_table

    by_iter = stage_table(read_event_log(os.path.join(work, "eventlog")))
    per_iter = []
    for label, wall, gc, files in traced:
        span = next(s for s in tracer.spans if s["name"] == "materialize" and s.get("label") == label)
        m = layer_metrics(by_iter.get(label, []), wall, sj.slots())
        m["asof.width_stats_s"] = tracer.total("auto_bucket_width_us", span)
        m["checkpoint.manifest_s"] = sum(tracer.total(f"CheckpointManifest.{n}", span) for n in MANIFEST_METHODS)
        m["jvm.gc_s"] = gc
        m["io.files_written"] = files
        per_iter.append(m)
    layers = {k: statistics.median(m[k] for m in per_iter) for k in per_iter[0]}
    layers["trace.overhead_s"] = statistics.median(t[1] for t in traced) - statistics.median(untraced_walls)
    return layers


def serve_workload(args, work: str, run: Run, tracer) -> tuple[dict, dict]:
    import serving
    import synth_table

    # the table is the benchmark's own input: built once, outside set-up
    table_path, _ = synth_table.write(os.path.join(work, "table"), args.seed, args.scale)
    mix = serving.Mix(table_path, args.seed, tracer)
    run.phase("inputs")
    reps, server = [], None
    try:
        for r in range(SERVE_SETUP_REPS):
            if server is not None:
                server.stop()
            root = os.path.join(work, f"root{r}")
            serving.register_table(root, table_path)
            t = time.perf_counter()
            server = serving.Server(root, ROOT)
            mix.connect(server)
            mix.run_pass(timed=False, n_ops=WARM_OPS)
            reps.append(time.perf_counter() - t)
        run.phase("setup")
        t_end = time.perf_counter() + args.seconds
        while not mix.records or time.perf_counter() < t_end:
            mix.run_pass()
        peak_mb = server.peak_rss_mb()
        served = mix.metrics()
        run.phase("measure")
        run.checked(*mix.check())  # one check per request plus one per pass
        run.phase("check")
        layers = {}
        if args.trace:
            untraced_pass_s = mix.wall_s / len(mix.records)
            mix.reset()
            tracer.enabled = True
            t_end = time.perf_counter() + args.seconds
            while not mix.records or time.perf_counter() < t_end:
                mix.run_pass()
            layers = {**mix.layer_metrics(), "peak_rss_mb": peak_mb}
            layers["trace.overhead_s"] = mix.wall_s / len(mix.records) - untraced_pass_s
            run.checked(*mix.check())
            run.phase("traced")
    finally:
        if server is not None:
            server.stop()
    metrics = {
        "setup_s": statistics.median(reps),
        "output_bytes_per_turn": served.pop("ingest_bytes_per_row"),
        **served,
    }
    return metrics, layers


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True, help="measured time per run")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=1.0,
                   help="input-size multiplier (the benchmark's own tests use a small one)")
    args = p.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import featherstore_spark  # noqa: F401
        e2e_units, layer_units = declared_metrics()
    except (ImportError, OSError) as exc:
        print(f"perfbench: run from a featherstore_spark checkout ({exc})", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.environ["TMPDIR"] = work  # Spark's launcher and Python workers write temp files here

    from tracing import Tracer, cpu_ticks, loadavg_1m, steal_share

    tracer = Tracer(enabled=False)
    run = Run()
    load0, ticks0 = loadavg_1m(), cpu_ticks()
    try:
        if args.workload == "serve_mixed":
            metrics, layers = serve_workload(args, work, run, tracer)
        else:
            metrics, layers = spark_workload(args, work, run, tracer)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))  # only when no other run is using it
    unbounded = {k: v for k, v in metrics.items() if k not in e2e_units}
    print(json.dumps({"diagnostics": {"loadavg_1m_start": load0, "loadavg_1m_end": loadavg_1m(),
                                      "steal_share": steal_share(ticks0, cpu_ticks()),
                                      "phases_s": run.phases, **run.diag, "timings": unbounded}}))
    for msg in run.failures:
        print(f"check failed: {msg}", file=sys.stderr)

    if args.trace:
        out_dir = os.path.join(ROOT, ".perfbench_out")
        tracer.dump(os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.json"))
        units = layer_units
    else:
        units = e2e_units
    values = {**{k: 0.0 for k in layer_units}, **metrics, **layers}
    missing = sorted(set(units) - set(values))
    if missing:
        print(f"perfbench: no value for {missing}", file=sys.stderr)
        return 1
    print(json.dumps({
        "correct": not run.failures,
        "attempted": max(1, run.attempted),
        "failed": len(run.failures),
        "metrics": {k: {"value": float(values[k]), "unit": units[k]} for k in units},
    }))
    return 0 if not run.failures else 1


if __name__ == "__main__":
    sys.exit(main())
