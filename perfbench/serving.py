"""The ``serve_mixed`` workload: a ``cli serve`` process over a bucketed
feature table plus a catalog feature set that takes ingests, driven by
one closed-loop Flight client replaying a seeded request mix.  No Spark
runs anywhere in it.
"""

from __future__ import annotations

import json
import os
import random
import select
import statistics
import subprocess
import sys
import time
import urllib.request
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.dataset as pads
import pyarrow.parquet as pq

import checks
import tracing

TABLE = "turns"
#: Reads of one pass on the bucketed table, by kind.  With one ingest and
#: one fresh read of the catalog set per ``BLOCK`` requests, a pass is 200
#: requests: 35% latest, 25% point-in-time, 15% history, 12.5% ingest,
#: 12.5% fresh read.  These proportions are an assumption, not taken from
#: a measured trace: they keep every request kind frequent enough for a
#: median in each pass.  Each ingest adds one file to the set, which
#: every later read of the set must discover and scan.
READS = (("latest", 70), ("pit", 50), ("history", 30))
BLOCK = 8
HISTORY_ROWS = 10
#: Which server-side operation (``/metrics`` op label) each client op is.
SERVER_OP = {"latest": "get_features", "fresh_read": "get_features", "pit": "get_features_at",
             "history": "get_feature_history", "ingest": "ingest"}
FRESH_INITIAL_FILES = 8
INGEST_ENTITIES, INGEST_ROWS_PER_ENTITY = 4, 4
FRESH_SCHEMA = {"type": "struct", "fields": [
    {"name": n, "type": t, "nullable": True, "metadata": {}}
    for n, t in (("conv_id", "string"), ("ts", "timestamp"), ("turn_idx", "integer"),
                 ("w_turns", "long"), ("score", "double"))
]}


class Server:
    """``python -m featherstore_spark.cli serve`` on free ports."""

    def __init__(self, root: str, repo_root: str, timeout_s: float = 60.0):
        env = dict(os.environ, PYTHONPATH=repo_root)
        self.proc = subprocess.Popen(
            [sys.executable, "-m", "featherstore_spark.cli", "serve", "--root", root,
             "--flight-port", "0", "--http-port", "0"],
            cwd=repo_root, env=env, stdout=subprocess.PIPE, text=True,
        )
        ready, _, _ = select.select([self.proc.stdout], [], [], timeout_s)
        line = self.proc.stdout.readline() if ready else ""
        if not line:
            self.stop()
            raise RuntimeError("serve process did not report its ports")
        info = json.loads(line)
        self.root = root
        self.flight_uri = f"grpc://127.0.0.1:{info['flight_port']}"
        self.http_port = info["http_port"]

    def metrics(self) -> dict[str, tuple[float, int]]:
        with urllib.request.urlopen(f"http://127.0.0.1:{self.http_port}/metrics", timeout=30) as r:
            return tracing.parse_duration_metrics(r.read().decode())

    def peak_rss_mb(self) -> float:
        return tracing.tree_peak_rss_mb(self.proc.pid)

    def stop(self) -> None:
        if self.proc.poll() is None:
            self.proc.terminate()
            try:
                self.proc.wait(timeout=15)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait()
        self.proc.stdout.close()


def read_table(path: str) -> pa.Table:
    """The bucketed table as the served files hold it (``p_bucket`` is
    the directory partition, not a served column)."""
    return pads.dataset(path, format="parquet", partitioning="hive").to_table().drop_columns(["p_bucket"])


def tiebreaks_of(columns) -> list[str]:
    # the serving tier's tiebreak rule (sources/serving.py _resolve)
    return [c for c in ("turn_idx", "event_id") if c in columns]


def build_script(seed: int, table: pa.Table) -> list[tuple]:
    """One pass of requests.  Every ``BLOCK`` requests hold one ingest,
    then a fresh read of the entities it wrote, then reads drawn from
    ``READS`` in a seeded order, so each seed sends the same mix and every
    fresh read meets the same number of set files.  Entities and times
    come from the table so lookups hit rows; a history request spans
    ``HISTORY_ROWS`` consecutive rows of its entity."""
    rng = random.Random(seed)
    ts_by_entity = table.select(["conv_id", "ts"]).to_pandas().groupby("conv_id")["ts"].apply(sorted).to_dict()
    ents = sorted(ts_by_entity)

    def t_in(e):
        lo, hi = ts_by_entity[e][0], ts_by_entity[e][-1]
        return (lo - timedelta(hours=1) + (hi - lo + timedelta(hours=2)) * rng.random()).floor("us")

    reads = [k for k, n in READS for _ in range(n)]
    rng.shuffle(reads)
    script = []
    for b in range(len(reads) // (BLOCK - 2)):
        script += [("ingest", b), ("fresh_read", b)]
        for kind in reads[b * (BLOCK - 2):(b + 1) * (BLOCK - 2)]:
            if kind == "latest":
                script.append(("latest", rng.choice(ents)))
            elif kind == "pit":
                pair = rng.sample(ents, 2)
                script.append(("pit", [(e, t_in(e)) for e in pair for _ in range(2)]))
            else:
                e = rng.choice(ents)
                ts = ts_by_entity[e]
                i = rng.randrange(max(1, len(ts) - HISTORY_ROWS + 1))
                script.append(("history", e, ts[i], ts[min(i + HISTORY_ROWS, len(ts)) - 1]))
    return script


def fresh_entities(k: int) -> list[str]:
    return [f"user_{(k * INGEST_ENTITIES + i) % 32:03d}" for i in range(INGEST_ENTITIES)]


def fresh_batch(k: int, seed: int) -> pa.Table:
    """Ingest batch ``k`` of a pass: ``INGEST_ROWS_PER_ENTITY`` rows for
    each of ``fresh_entities(k)``, newer than every earlier batch, with
    seeded scores.  Batches ``< 0`` are the set's initial files."""
    rng = random.Random(seed * 1_000_003 + k)
    base = datetime(2026, 6, 1) + timedelta(minutes=10 * (k + FRESH_INITIAL_FILES))
    recs = [(e, base + timedelta(seconds=j), j, k * 100 + j, rng.random())
            for e in fresh_entities(k) for j in range(INGEST_ROWS_PER_ENTITY)]
    cols = list(zip(*recs))
    return pa.table({
        "conv_id": pa.array(cols[0], pa.string()),
        "ts": pa.array(cols[1], pa.timestamp("us")),
        "turn_idx": pa.array(cols[2], pa.int32()),
        "w_turns": pa.array(cols[3], pa.int64()),
        "score": pa.array(cols[4], pa.float64()),
    })


def register_table(root: str, table_path: str) -> None:
    """Register the bucketed table in a serving root before a server starts on it."""
    from featherstore_spark.sources.serving import ServingStore

    ServingStore(root).register_bucketed_table(TABLE, table_path)


class Mix:
    """Replays the script against a running server, one request at a
    time; latencies are measured client-side, around the whole call."""

    def __init__(self, table_path: str, seed: int, tracer: tracing.Tracer):
        self.seed, self.tracer = seed, tracer
        self.server = self.client = self.root = self.bucketed = None
        self.table = read_table(table_path)
        self.tiebreaks = tiebreaks_of(self.table.column_names)
        self.script = build_script(seed, self.table)
        self.batches = {op[1]: fresh_batch(op[1], seed) for op in self.script if op[0] == "ingest"}
        self.records: list[dict] = []
        self.passes = 0
        self.wall_s = 0.0
        self.server_ms: dict[str, list[tuple[float, int]]] = {}
        self.fragments: list[int] = []
        self.set_files: list[int] = []

    def connect(self, server: Server) -> None:
        """Send every later pass to ``server`` (whose root holds the table)."""
        from featherstore_spark.sources.flight import FeatureFlightClient

        self.server, self.root = server, server.root
        self.client = FeatureFlightClient(server.flight_uri)
        self.bucketed = None

    def _new_set(self) -> str:
        name = f"fresh_{self.passes}"
        self.client.create_feature_set(name, {"schema": FRESH_SCHEMA, "entity_col": "conv_id", "ts_col": "ts"})
        for k in range(-FRESH_INITIAL_FILES, 0):
            self.client.ingest_batch(name, fresh_batch(k, self.seed))
        return name

    def run_pass(self, timed: bool = True, n_ops: int | None = None) -> None:
        name = self._new_set()
        before = self.server.metrics() if self.tracer.enabled else None
        recs, t_pass = [], time.perf_counter()
        for op in self.script[:n_ops]:
            kind = op[0]
            t0 = time.perf_counter()
            try:
                with self.tracer.span(f"client.{kind}"):
                    if kind == "latest":
                        out = self.client.get_features(TABLE, entity_ids=[op[1]])
                    elif kind == "pit":
                        out = self.client.get_features_at(TABLE, op[1])
                    elif kind == "history":
                        out = self.client.get_feature_history(TABLE, op[1], op[2], op[3])
                    elif kind == "ingest":
                        out = self.client.ingest_batch(name, self.batches[op[1]])
                    else:
                        out = self.client.get_features(name, entity_ids=fresh_entities(op[1]))
                err = None
            except Exception as exc:  # a failed request is counted, the loop goes on
                out, err = None, f"{kind}: {type(exc).__name__}: {exc}"
            recs.append({"op": op, "s": time.perf_counter() - t0, "out": out, "err": err})
        wall = time.perf_counter() - t_pass
        if self.tracer.enabled:
            if self.bucketed is None:
                from featherstore_spark.sources.serving import ServingStore

                self.bucketed = ServingStore(self.root).bucketed(TABLE)
            after = self.server.metrics()
            for op_name, (s1, n1) in after.items():
                s0, n0 = before.get(op_name, (0.0, 0))
                self.server_ms.setdefault(op_name, []).append((s1 - s0, n1 - n0))
            for r in recs:
                if r["op"][0] in ("latest", "pit"):
                    ents = [r["op"][1]] if r["op"][0] == "latest" else sorted({p[0] for p in r["op"][1]})
                    self.fragments.append(len(self.bucketed.fragments_scanned(ents)))
        data = os.path.join(self.root, name, "data")
        files = [os.path.join(data, f) for f in os.listdir(data) if f.endswith(".parquet")]
        self.set_files.append(len(files))
        if timed:
            rows = INGEST_ENTITIES * INGEST_ROWS_PER_ENTITY * (
                FRESH_INITIAL_FILES + sum(1 for r in recs if r["op"][0] == "ingest"))
            self.records.append({"set": name, "recs": recs, "wall": wall, "set_path": data,
                                 "bytes_per_row": sum(map(os.path.getsize, files)) / rows})
            self.wall_s += wall
        self.passes += 1

    def reset(self) -> None:
        """Forget the timed passes so far (the traced passes start clean)."""
        self.records, self.wall_s, self.server_ms, self.fragments, self.set_files = [], 0.0, {}, [], []

    # -- results -----------------------------------------------------------

    def latencies_ms(self, kind: str) -> list[float]:
        return [r["s"] * 1000 for p in self.records for r in p["recs"] if r["op"][0] == kind]

    def metrics(self) -> dict[str, float]:
        """Latency medians over every timed request; the request rate is
        the median over passes, so one pass caught in a burst of host
        contention moves it less than a run-long mean would.  Stored bytes
        are those of the files the server's ingest wrote into each pass's
        catalog set, per row ingested."""
        return {
            "latest_p50_ms": statistics.median(self.latencies_ms("latest")),
            "pit_p50_ms": statistics.median(self.latencies_ms("pit")),
            "ops_per_s": statistics.median(len(p["recs"]) / p["wall"] for p in self.records),
            "ingest_bytes_per_row": statistics.median(p["bytes_per_row"] for p in self.records),
        }

    def layer_metrics(self) -> dict[str, float]:
        def p99(kind):
            return float(np.percentile(self.latencies_ms(kind), 99))

        out = {"serving.latest_p99_ms": p99("latest"), "serving.pit_p99_ms": p99("pit"),
               "serving.fresh_read_p50_ms": statistics.median(self.latencies_ms("fresh_read")),
               "serving.ingest_p50_ms": statistics.median(self.latencies_ms("ingest"))}
        client_ms: dict[str, list[float]] = {}
        for kind, op in SERVER_OP.items():
            client_ms.setdefault(op, []).extend(self.latencies_ms(kind))
        for op, pairs in sorted(self.server_ms.items()):
            s, n = sum(p[0] for p in pairs), sum(p[1] for p in pairs)
            server = s / n * 1000 if n else 0.0
            out[f"serving.{op}.server_ms"] = server
            if client_ms.get(op):
                out[f"flight.{op}.transport_ms"] = statistics.fmean(client_ms[op]) - server
        out["serving.fragments_per_lookup"] = statistics.fmean(self.fragments) if self.fragments else 0.0
        out["serving.ingest_set_files"] = statistics.fmean(self.set_files)
        return out

    def check(self) -> tuple[int, list[str]]:
        """(checks attempted, failure messages) over every timed request:
        each served row against an oracle over the served files, each
        ingest acknowledgement against the rows sent, and each pass's
        catalog-set files against everything ingested into it."""
        ref = checks.ServedTable(self.table.column_names, "conv_id", "ts", self.tiebreaks).add(self.table)
        n, errs = 0, []
        for p in self.records:
            initial = [fresh_batch(k, self.seed) for k in range(-FRESH_INITIAL_FILES, 0)]
            fresh = checks.ServedTable(initial[0].column_names, "conv_id", "ts", ["turn_idx"])
            sent = []
            for t in initial:
                fresh.add(t)
                sent.append(t)
            for r in p["recs"]:
                n += 1
                op = r["op"]
                if r["err"]:
                    errs.append(r["err"])
                elif op[0] == "ingest":
                    batch = self.batches[op[1]]
                    errs += checks.check_ingest_ack(r["out"], batch.num_rows)
                    fresh.add(batch)
                    sent.append(batch)
                elif op[0] == "latest":
                    errs += checks.check_latest(r["out"], ref, [op[1]])
                elif op[0] == "pit":
                    errs += checks.check_points(r["out"], ref, op[1])
                elif op[0] == "history":
                    errs += checks.check_history(r["out"], ref, op[1], op[2], op[3])
                else:
                    errs += checks.check_latest(r["out"], fresh, fresh_entities(op[1]))
            n += 1
            files = pq.ParquetDataset(p["set_path"]).read()
            errs += checks.check_same_rows(f"ingest set {p['set']}", files, pa.concat_tables(sent))
        return n, errs
