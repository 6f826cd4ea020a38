"""Measurement helpers: host diagnostics, process memory, in-memory spans,
and the per-layer attribution of a Spark event log.

All of it observes the program from outside: /proc, the Spark event log
of the traced run, spans the benchmark records around its own calls into
public functions, and the serving tier's ``/metrics`` text.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import time
from collections import defaultdict

# -- host ------------------------------------------------------------------


def loadavg_1m() -> float:
    with open("/proc/loadavg") as fh:
        return float(fh.read().split()[0])


def cpu_ticks() -> tuple[int, int]:
    """(busy, steal) jiffies summed over all CPUs; busy excludes idle and
    iowait, so steal / busy is the share of would-be-busy time the
    hypervisor took."""
    with open("/proc/stat") as fh:
        vals = [int(x) for x in fh.readline().split()[1:]]
    idle = vals[3] + (vals[4] if len(vals) > 4 else 0)
    return sum(vals) - idle, vals[7] if len(vals) > 7 else 0


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    busy = after[0] - before[0]
    return (after[1] - before[1]) / busy if busy > 0 else 0.0


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids[ppid].append(int(d))
    return kids


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_peak_rss_mb(pid: int) -> float:
    """Sum of peak resident set sizes of ``pid`` and its live descendants
    (the Spark JVM plus its Python workers, or the server process)."""
    kids = _children()
    total, todo = 0, [pid]
    while todo:
        p = todo.pop()
        total += _hwm_kb(p)
        todo.extend(kids.get(p, []))
    return total / 1024


# -- spans -----------------------------------------------------------------


class Tracer:
    """In-memory spans (name, start, end, parent, attrs), written out once
    when the run ends.  A disabled tracer records nothing, so untraced
    runs pay one attribute check per call."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def total(self, name: str, within: dict | None = None) -> float:
        """Summed duration of spans called ``name`` (inside ``within``)."""
        return sum(
            s["end"] - s["start"] for s in self.spans
            if s["name"] == name and s["end"] is not None
            and (within is None or within["start"] <= s["start"] <= within["end"])
        )

    def wrap_methods(self, cls, names, prefix: str):
        """Time calls to ``cls.<name>`` from outside the class; returns an
        undo callable restoring the originals."""
        saved = {n: getattr(cls, n) for n in names}
        for n, fn in saved.items():
            def traced(*a, __fn=fn, __n=n, **kw):
                with self.span(f"{prefix}.{__n}"):
                    return __fn(*a, **kw)
            setattr(cls, n, traced)
        return lambda: [setattr(cls, n, fn) for n, fn in saved.items()]

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


# -- Spark event log -------------------------------------------------------

ITER_PROP = "perfbench.iteration"


def _stage_scopes(stage_info: dict) -> set[str]:
    names = set()
    for rdd in stage_info.get("RDD Info", []):
        scope = rdd.get("Scope")
        if scope:
            names.add(json.loads(scope)["name"])
    return names


def read_event_log(log_dir: str) -> list[dict]:
    events = []
    for name in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, name)) as fh:
            events.extend(json.loads(line) for line in fh if line.strip())
    return events


def stage_table(events: list[dict]) -> dict[str, list[dict]]:
    """Completed stages grouped by the ``perfbench.iteration`` local
    property the benchmark sets around each materialization.  Each stage:
    id, plan-node scopes, submit/complete ms, and its tasks' metrics."""
    props, tasks = {}, defaultdict(list)
    for e in events:
        if e["Event"] == "SparkListenerStageSubmitted":
            props[e["Stage Info"]["Stage ID"]] = (e.get("Properties") or {}).get(ITER_PROP)
        elif e["Event"] == "SparkListenerTaskEnd" and e.get("Task Metrics"):
            info, m = e["Task Info"], e["Task Metrics"]
            acc = {a.get("Name"): a.get("Update") for a in info.get("Accumulables", [])}
            sr = m.get("Shuffle Read Metrics", {})
            tasks[e["Stage ID"]].append({
                "run_s": m["Executor Run Time"] / 1000,
                "wall_s": (info["Finish Time"] - info["Launch Time"]) / 1000,
                "spill_mb": m.get("Disk Bytes Spilled", 0) / 1e6,
                "shuffle_write_mb": m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0) / 1e6,
                "shuffle_read_mb": (sr.get("Local Bytes Read", 0) + sr.get("Remote Bytes Read", 0)) / 1e6,
                "fetch_wait_s": sr.get("Fetch Wait Time", 0) / 1000,
                "output_mb": m.get("Output Metrics", {}).get("Bytes Written", 0) / 1e6,
                "py_sent_mb": int(acc.get("data sent to Python workers") or 0) / 1e6,
                "py_returned_mb": int(acc.get("data returned from Python workers") or 0) / 1e6,
            })
    by_iter: dict[str, list[dict]] = defaultdict(list)
    for e in events:
        if e["Event"] != "SparkListenerStageCompleted":
            continue
        si = e["Stage Info"]
        it = props.get(si["Stage ID"])
        if it is None or "Completion Time" not in si:
            continue
        by_iter[it].append({
            "id": si["Stage ID"], "scopes": _stage_scopes(si),
            "submit_ms": si["Submission Time"], "complete_ms": si["Completion Time"],
            "tasks": tasks.get(si["Stage ID"], []),
        })
    for stages in by_iter.values():
        stages.sort(key=lambda s: s["id"])
    return by_iter


def _covered_s(stages: list[dict]) -> float:
    """Length of the union of the stages' [submit, complete] intervals."""
    total, end = 0.0, None
    for a, b in sorted((s["submit_ms"], s["complete_ms"]) for s in stages):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total / 1000


def layer_metrics(stages: list[dict], wall_s: float, slots: int) -> dict[str, float]:
    """Per-layer numbers for one materialization.

    Stages are attributed by the plan nodes they hold: a stage holding
    ``FlatMapCoGroupsInPandas`` is the as-of cogroup; the first other
    stage holding ``Window`` is the shared per-turn window + sessionize
    stage, and later ``Window`` stages are the as-of boundary carry (it
    consumes rows the first window stage emits); a stage holding
    ``WriteFiles`` is the checkpoint write.  Spark fuses the write into
    the last compute stage, so ``checkpoint.write_task_s`` overlaps the
    windows stage on the feature log and the cogroup stage on the
    point-in-time job."""
    cogroup = [s for s in stages if "FlatMapCoGroupsInPandas" in s["scopes"]]
    windowed = [s for s in stages if "Window" in s["scopes"] and s not in cogroup]
    windows, carry = windowed[:1], windowed[1:]
    write = [s for s in stages if "WriteFiles" in s["scopes"]]

    def tasks(sel):
        return [t for s in sel for t in s["tasks"]]

    def run(sel):
        return sum(t["run_s"] for t in tasks(sel))

    w_runs = [t["run_s"] for t in tasks(windows)] or [0.0]
    c_runs = [t["run_s"] for t in tasks(cogroup)] or [0.0]
    med = statistics.median(w_runs)
    every = tasks(stages)
    return {
        "windows.task_s": run(windows),
        "windows.max_task_s": max(w_runs),
        "windows.task_skew": max(w_runs) / med if med > 0 else 0.0,
        "windows.spill_mb": sum(t["spill_mb"] for t in tasks(windows)),
        "shuffle.write_mb": sum(t["shuffle_write_mb"] for t in every),
        "shuffle.read_mb": sum(t["shuffle_read_mb"] for t in every),
        "shuffle.fetch_wait_s": sum(t["fetch_wait_s"] for t in every),
        "asof.carry_task_s": run(carry),
        "asof.cogroup_task_s": run(cogroup),
        "asof.max_task_s": max(c_runs),
        "asof.python_mb_sent": sum(t["py_sent_mb"] for t in tasks(cogroup)),
        "asof.python_mb_returned": sum(t["py_returned_mb"] for t in tasks(cogroup)),
        "checkpoint.write_task_s": run(write),
        "io.output_mb": sum(t["output_mb"] for t in tasks(write)),
        "driver.gap_s": max(0.0, wall_s - _covered_s(stages)),
        "slots.utilization": sum(t["wall_s"] for t in every) / (wall_s * slots) if wall_s > 0 else 0.0,
    }


# -- serving /metrics ------------------------------------------------------


def parse_duration_metrics(text: str) -> dict[str, tuple[float, int]]:
    """op -> (seconds sum, request count) from the Prometheus text the
    serving tier renders at ``/metrics``."""
    sums, counts = {}, {}
    for line in text.splitlines():
        for suffix, dest, cast in (("_sum", sums, float), ("_count", counts, int)):
            head = f"featherstore_request_duration_seconds{suffix}{{op=\""
            if line.startswith(head):
                op = line[len(head):].split('"', 1)[0]
                dest[op] = cast(line.rsplit(" ", 1)[1])
    return {op: (sums.get(op, 0.0), counts.get(op, 0)) for op in counts}
