"""Measurement plumbing shared by the workloads: spans, RSS sampling, the run
environment record, and readers for what Spark already reports (streaming
progress events, the planning tracker, and the UI REST API)."""

from __future__ import annotations

import itertools
import json
import os
import statistics
import subprocess
import threading
import time
import urllib.request
from contextlib import contextmanager
from datetime import datetime


def p50(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def p90(values: list[float]) -> float:
    if len(values) < 2:
        return values[0] if values else 0.0
    return statistics.quantiles(values, n=10, method="inclusive")[8]


def parse_ts_ms(iso: str) -> float:
    """Epoch ms of a streaming progress ``timestamp`` ("...T03:10:52.725Z")."""
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp() * 1000.0


class Tracer:
    """In-memory spans: name, start, end, parent and the run id.

    Disabled, ``span`` records nothing, so untraced runs pay only a
    context-manager enter and exit at each (coarse) layer boundary."""

    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._ids = itertools.count()
        self._lock = threading.Lock()
        self._local = threading.local()

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        with self._lock:
            sid = next(self._ids)
        stack.append(sid)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            stack.pop()
            self._append(sid, name, start, end, parent, attrs)

    def add(self, name: str, start: float, end: float, parent: int | None = None, **attrs) -> int:
        """Record a span measured elsewhere (e.g. a progress-event phase),
        with times on the ``perf_counter`` clock."""
        with self._lock:
            sid = next(self._ids)
        self._append(sid, name, start, end, parent, attrs)
        return sid

    def _append(self, sid, name, start, end, parent, attrs) -> None:
        record = {"id": sid, "name": name, "start": start, "end": end,
                  "parent": parent, "run": self.run_id, **attrs}
        with self._lock:
            self.spans.append(record)

    def self_times(self) -> dict[str, float]:
        """Seconds per span name of span time not covered by child spans."""
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s.get("parent") is not None:
                children.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out: dict[str, float] = {}
        for s in self.spans:
            covered, reach = 0.0, s["start"]
            for a, b in sorted(children.get(s["id"], [])):
                a, b = max(a, reach), min(b, s["end"])
                if b > a:
                    covered += b - a
                    reach = b
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - covered
        return out


class RssSampler:
    """Peak resident set of this process and all its descendants (the
    driver JVM and the Python workers it forks), sampled every 0.2 s."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    def _tree_rss(self) -> int:
        parent_of: dict[int, int] = {}
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            parent_of[int(entry)] = int(stat[stat.rindex(")") + 2:].split()[1])
        tree, grew = {os.getpid()}, True
        while grew:
            grew = False
            for pid, ppid in parent_of.items():
                if ppid in tree and pid not in tree:
                    tree.add(pid)
                    grew = True
        total = 0
        for pid in tree:
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except OSError:
                pass
        return total

    def _loop(self):
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, self._tree_rss())
            self._stop.wait(self.interval_s)


def _read(path: str) -> str:
    try:
        with open(path) as f:
            return f.read().strip()
    except OSError:
        return "unavailable"


def host_load() -> dict:
    """Load average, CPU pressure and the host's cumulative CPU jiffies,
    whose ``steal`` share shows time the hypervisor gave to other guests."""
    fields = ("user", "nice", "system", "idle", "iowait", "irq", "softirq", "steal")
    cpu = _read("/proc/stat").splitlines()[0].split()[1:9]
    return {"loadavg": _read("/proc/loadavg"), "cpu_pressure": _read("/proc/pressure/cpu"),
            "cpu_jiffies": dict(zip(fields, map(int, cpu)))}


def steal_frac(before: dict, after: dict) -> float:
    """Share of CPU time stolen by the hypervisor between two host_load()s."""
    delta = {k: after["cpu_jiffies"][k] - before["cpu_jiffies"][k] for k in after["cpu_jiffies"]}
    total = sum(delta.values())
    return delta["steal"] / total if total else 0.0


def git_commit(root: str) -> str:
    try:
        out = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown (not a git checkout)"


class StreamLog:
    """Collects committed-batch progress from the engine's listener bus.

    A progress event is posted only after a batch's offsets are committed,
    and ``onQueryTerminated`` is posted after the last of them, so once
    ``wait_terminated`` returns the log holds exactly the batches that
    committed before ``stop()``."""

    def __init__(self):
        from pyspark.sql.streaming import StreamingQueryListener

        log = self
        self.progress: dict[str, list[dict]] = {}
        self.terminated: set[str] = set()
        self._cond = threading.Condition()

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = json.loads(event.progress.json)
                with log._cond:
                    log.progress.setdefault(p["id"], []).append(p)
                    log._cond.notify_all()

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                with log._cond:
                    log.terminated.add(str(event.id))
                    log._cond.notify_all()

        self.listener = _Listener()

    def batches(self, qid: str) -> list[dict]:
        with self._cond:
            return list(self.progress.get(qid, []))

    def wait_batches(self, qid: str, n: int, timeout_s: float) -> bool:
        with self._cond:
            return self._cond.wait_for(lambda: len(self.progress.get(qid, [])) >= n, timeout_s)

    def wait_terminated(self, qid: str, timeout_s: float) -> bool:
        with self._cond:
            return self._cond.wait_for(lambda: qid in self.terminated, timeout_s)


def planning_ms(df) -> dict[str, float]:
    """Analysis / optimization / planning ms from the planning tracker of
    the query execution ``df.collect()`` ran."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for phase in ("analysis", "optimization", "planning"):
        opt = phases.get(phase)
        out[phase] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out


_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TIME_MS = {"ms": 1.0, "s": 1e3, "m": 6e4, "h": 3.6e6}


def sql_metric_value(text: str) -> float:
    """Numeric total of a UI SQL metric string: "40,000", or
    "total (min, med, max ...)\\n3.3 MiB (...)", or "...\\n10.9 s (...)";
    sizes in bytes, times in ms."""
    total = text.split("\n")[-1].split(" (")[0].strip()
    parts = total.split()
    number = float(parts[0].replace(",", ""))
    if len(parts) == 1:
        return number
    return number * _SIZE.get(parts[1], _TIME_MS.get(parts[1], 1.0))


PYTHON_SQL_METRICS = {
    "time to start Python workers": "python.start_ms",
    "time to initialize Python workers": "python.init_ms",
    "time to run Python workers": "python.run_ms",
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_returned",
}


class SparkRest:
    """Reads jobs, stages and SQL executions from the live UI's REST API
    (on localhost) and sums them over the jobs a predicate selects."""

    def __init__(self, spark):
        sc = spark.sparkContext
        port = sc.uiWebUrl.rsplit(":", 1)[1]
        self.base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as resp:
            return json.load(resp)

    def collect(self, select_job) -> dict:
        """Totals over the selected jobs (``select_job(job_json) -> bool``):
        exec.* counters from their stages and python.* / mq scan byte
        counters from the SQL executions that ran them. A python.* counter
        is present only if some node of those executions reported it."""
        jobs = [j for j in self._get("/jobs") if select_job(j)]
        job_ids = {j["jobId"] for j in jobs}
        stage_ids = {s for j in jobs for s in j["stageIds"]}
        stages = [s for s in self._get("/stages?withSummaries=true&quantiles=0.5,1.0")
                  if s["stageId"] in stage_ids and s["status"] in ("COMPLETE", "FAILED")]
        out = {
            "exec.jobs": float(len(jobs)),
            "exec.stages": float(len(stages)),
            "exec.tasks": float(sum(s["numCompleteTasks"] + s["numFailedTasks"] for s in stages)),
            "exec.failed_tasks": float(sum(s["numFailedTasks"] for s in stages)),
            "exec.executor_run_ms": float(sum(s["executorRunTime"] for s in stages)),
            "exec.executor_cpu_ms": sum(s["executorCpuTime"] for s in stages) / 1e6,
            "exec.gc_ms": float(sum(s["jvmGcTime"] for s in stages)),
            "exec.shuffle_read_bytes": float(sum(s["shuffleReadBytes"] for s in stages)),
            "exec.shuffle_write_bytes": float(sum(s["shuffleWriteBytes"] for s in stages)),
            "exec.shuffle_fetch_wait_ms": float(sum(s["shuffleFetchWaitTime"] for s in stages)),
            "exec.spill_bytes": float(sum(s["memoryBytesSpilled"] + s["diskBytesSpilled"] for s in stages)),
        }
        # Skew: max / median task run time per multi-task stage, weighted by
        # the stage's run time so that the stages that cost most count most.
        weighted = weight = 0.0
        for s in stages:
            dist = (s.get("taskMetricsDistributions") or {}).get("executorRunTime")
            if s["numCompleteTasks"] > 1 and dist and dist[0] > 0:
                weighted += s["executorRunTime"] * dist[1] / dist[0]
                weight += s["executorRunTime"]
        out["exec.stage_skew"] = weighted / weight if weight else 1.0
        out["mq_scan_bytes_returned"] = 0.0
        out["mq_scan_rows"] = 0.0
        for ex in self._get("/sql?details=true&planDescription=false&offset=0&length=100000"):
            ran = set(ex.get("successJobIds", [])) | set(ex.get("failedJobIds", []))
            if not ran & job_ids:
                continue
            for node in ex.get("nodes", []):
                metrics = {m["name"]: m["value"] for m in node.get("metrics", [])}
                for label, name in PYTHON_SQL_METRICS.items():
                    if label in metrics:
                        out[name] = out.get(name, 0.0) + sql_metric_value(metrics[label])
                if node["nodeName"] == "BatchScan mq":
                    out["mq_scan_bytes_returned"] += sql_metric_value(
                        metrics.get("data returned from Python workers", "0"))
                    out["mq_scan_rows"] += sql_metric_value(metrics.get("number of output rows", "0"))
        return out
