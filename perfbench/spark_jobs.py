"""The Spark half of the benchmark: session sizing, seeded inputs, one
clean materialization the way ``cli materialize`` runs it, and the
output checks on what it wrote.
"""

from __future__ import annotations

import json
import os
import random
import time

import pyarrow.dataset as pads

import checks
import tracing

#: Inputs per workload: ~140k turns, as large as a run can be while 22
#: runs of ``pit_skewed`` and of ``serve_mixed`` fit the campaign's time
#: budget; the fixed cost of a job (scheduling, the width stats job, 64
#: output files, Python worker start) still takes most of a
#: materialization.  ``skew=True`` gives conversation 0 about half of
#: all turns (the mega-conversation).
SIZES = {
    "feature_log": {"n_convs": 3500, "mean_turns": 40, "skew": False},
    "pit_skewed": {"n_convs": 3500, "mean_turns": 40, "skew": True},
}
#: Conversations the oracle re-derives per run, and spine points it checks
#: on the mega-conversation (its every point would take the pandas oracle
#: minutes).
SAMPLE_CONVS = 12
MEGA_POINTS = 150
MEGA_CONV = "conv_00000000"


def slots() -> int:
    return len(os.sched_getaffinity(0))


def start_session(work: str, trace: bool):
    """A session sized to this box: ``local[<cores>]``, a 3 GiB driver
    heap (``get_spark`` would ask for 48 GiB), scratch and warehouse in
    the work directory, no UI, and the event log only when tracing."""
    from featherstore_spark.session import get_spark

    # the JVM takes its scratch dirs from this variable over spark.local.dir;
    # the launcher JVM spark-submit starts first reads the second
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={work} -XX:-UsePerfData"
    conf = {
        "spark.driver.memory": "3g",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work} -XX:-UsePerfData",
        "spark.eventLog.enabled": "true" if trace else "false",
    }
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({"spark.eventLog.dir": log_dir, "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    spark = get_spark(master=f"local[{slots()}]", app_name="perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop the context and the JVM it launched, and wait for the JVM."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def jvm_pid(spark) -> int:
    return spark.sparkContext._gateway.proc.pid


def gc_s(spark) -> float:
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(b.getCollectionTime() for b in beans) / 1000


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


class Job:
    """One workload's inputs and its clean materializations."""

    def __init__(self, spark, workload: str, seed: int, scale: float, work: str, tracer: tracing.Tracer):
        from featherstore_spark.config import DEFAULTS

        self.spark, self.seed, self.tracer = spark, seed, tracer
        size = SIZES[workload]
        self.n_convs = max(20, int(size["n_convs"] * scale))
        self.mean_turns, self.skew = size["mean_turns"], size["skew"]
        self.pit = workload == "pit_skewed"
        pipe = DEFAULTS["pipeline"]  # what `cli materialize` runs with by default
        self.trailing, self.session_gap, self.n_buckets = pipe["trailing"], pipe["session_gap"], pipe["n_buckets"]
        self.corpus = os.path.join(work, "corpus")
        self.spine_path = os.path.join(work, "spine") if self.pit else None
        self.out = os.path.join(work, "out")
        self.lineage = {
            "input": self.corpus, "spine": self.spine_path,
            "params": {"trailing": self.trailing, "session_gap": self.session_gap,
                       "n_buckets": self.n_buckets,
                       "asof_strategy": "bucketed" if self.pit else pipe["asof_strategy"]},
        }
        self.n_turns = self.n_spine = 0
        self.hashes: list[dict] = []
        self.total_rows: list[int] = []

    def generate(self) -> None:
        from featherstore_spark.datagen import generate_spine, generate_transcripts

        generate_transcripts(self.spark, n_convs=self.n_convs, mean_turns=self.mean_turns,
                             seed=self.seed, skew=self.skew).write.mode("overwrite").parquet(self.corpus)
        self.n_turns = pads.dataset(self.corpus).count_rows()
        if self.pit:
            generate_spine(self.spark.read.parquet(self.corpus), seed=self.seed) \
                .write.mode("overwrite").parquet(self.spine_path)
            self.n_spine = pads.dataset(self.spine_path).count_rows()

    def materialize(self, label: str) -> float:
        """One clean run; returns its wall seconds.  The clean-output
        delete and the manifest read-back stay outside the timed part."""
        from featherstore_spark.operators.asof import asof_join, auto_bucket_width_us
        from featherstore_spark.plans.checkpoint import (
            CheckpointManifest, clear_stale_output, run_with_checkpoint)
        from featherstore_spark.plans.materialize import FEATURE_COLS, build_feature_log

        clear_stale_output(self.out)
        self.spark.sparkContext.setLocalProperty(tracing.ITER_PROP, label)
        trailing, gap = self.trailing, self.session_gap
        t0 = time.perf_counter()
        with self.tracer.span("materialize", label=label):
            transcripts = self.spark.read.parquet(self.corpus)
            if not self.pit:
                with self.tracer.span("run_with_checkpoint"):
                    run_with_checkpoint(
                        transcripts, self.out, self.lineage, n_buckets=self.n_buckets,
                        pipeline=lambda t: build_feature_log(t, trailing, gap), output_format="parquet")
            else:
                # the spine path of `cli materialize --asof-strategy bucketed
                # --asof-bucket auto`: width resolved once, cached in the manifest
                spine = self.spark.read.parquet(self.spine_path)
                manifest = CheckpointManifest(self.out, self.lineage)
                width = None if manifest.lineage_changed else manifest.get_stat("asof_width_us")
                if width is None:
                    with self.tracer.span("auto_bucket_width_us"):
                        width = int(auto_bucket_width_us(transcripts, on="conv_id", ts="ts"))
                    manifest.set_stat("asof_width_us", width)

                def pit_pipeline(t, s):
                    feats = build_feature_log(t, trailing, gap).select("conv_id", "ts", "turn_idx", *FEATURE_COLS)
                    return asof_join(s, feats, on="conv_id", ts="ts", tiebreaks=("turn_idx",),
                                     strategy="bucketed", bucket=width)

                with self.tracer.span("run_with_checkpoint"):
                    run_with_checkpoint(transcripts, self.out, self.lineage, n_buckets=self.n_buckets,
                                        pipeline=pit_pipeline, spine=spine, output_format="parquet")
        wall = time.perf_counter() - t0
        self.spark.sparkContext.setLocalProperty(tracing.ITER_PROP, None)
        with open(os.path.join(self.out, "_manifest.json")) as fh:
            buckets = json.load(fh)["buckets"]
        self.hashes.append({b: m["content_hash"] for b, m in buckets.items()})
        self.total_rows.append(sum(m["row_count"] for m in buckets.values()))
        return wall

    def files_written(self) -> int:
        return sum(1 for d, _, fs in os.walk(self.out) for f in fs if f.endswith(".parquet"))

    def output_bytes(self) -> int:
        return dir_bytes(self.out)

    # -- checks ----------------------------------------------------------

    def check(self) -> tuple[int, list[str]]:
        """(checks attempted, failure messages) for every materialization
        of this run and for the rows the last one wrote."""
        want = self.n_spine if self.pit else self.n_turns
        errs, n = [], 0
        for i, rows in enumerate(self.total_rows):
            n += 1
            errs += checks.check_row_count(f"materialization {i} manifest", rows, want)
        n += 1
        errs += checks.check_content_hashes(self.hashes)

        from pyspark.sql import functions as F

        from featherstore_spark.functions.time import interval_to_us

        trailing_us = interval_to_us(self.trailing)
        gap_s = interval_to_us(self.session_gap) / 1e6
        rng = random.Random(self.seed)
        # inputs and outputs are read back through Spark: pyarrow cannot
        # decode every page of Spark's Hadoop-framed LZ4 parquet
        corpus = self.spark.read.parquet(self.corpus)
        out = self.spark.read.parquet(self.out)
        convs = sorted(r[0] for r in corpus.select("conv_id").distinct().collect())
        small = [c for c in convs if not (self.skew and c == MEGA_CONV)]
        sample = rng.sample(small, min(SAMPLE_CONVS, len(small)))

        def transcripts(ids):
            return corpus.where(F.col("conv_id").isin(ids)).toPandas()

        def written(ids):
            return out.where(F.col("conv_id").isin(ids)).toPandas()

        n += 1
        errs += checks.check_row_count("written files", out.count(), want)
        if not self.pit:
            n += 1
            errs += checks.check_feature_log(written(sample), transcripts(sample), trailing_us, gap_s)
            return n, errs

        n += 1
        errs += checks.check_no_leakage(out.select("ts", "f_ts").toPandas())
        spine = self.spark.read.parquet(self.spine_path)
        ghosts = sorted(r[0] for r in spine.select("conv_id").distinct().collect() if r[0] not in set(convs))
        ids = sample + rng.sample(ghosts, min(2, len(ghosts)))
        n += 1
        errs += checks.check_pit(written(ids), spine.where(F.col("conv_id").isin(ids)).toPandas(),
                                 transcripts(ids), trailing_us, gap_s)
        if self.skew:
            mega_spine = spine.where(F.col("conv_id") == MEGA_CONV).toPandas()
            points = sorted(set(mega_spine["ts"]))
            picked = set(rng.sample(points, min(MEGA_POINTS, len(points))))
            mega_out = written([MEGA_CONV])
            n += 1
            errs += checks.check_pit(mega_out[mega_out["ts"].isin(picked)], mega_spine[mega_spine["ts"].isin(picked)],
                                     transcripts([MEGA_CONV]), trailing_us, gap_s)
        return n, errs


def materialize_loop(job: Job, seconds: float, min_runs: int, prefix: str) -> list[float]:
    """Clean materializations until ``seconds`` have passed (at least
    ``min_runs``); returns each one's wall seconds."""
    walls, t_end = [], time.perf_counter() + seconds
    while len(walls) < min_runs or time.perf_counter() < t_end:
        walls.append(job.materialize(f"{prefix}{len(walls)}"))
    return walls
