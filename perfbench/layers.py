"""Layer instrumentation for the traced run, plus the out-of-process RSS
sampler every run uses.

* ``Tracer`` keeps spans (name, start, end, parent, op id) in memory. In a
  traced run it wraps the engine's public calls at their module boundary
  (``sources.io.load``, ``operators.detection.detect_text_column``, …) so a
  span is recorded around each one.
* ``StatusReader`` reads Spark's own status stores over py4j after each op
  (``AppStatusStore`` for jobs/stages/RDD storage, ``SQLAppStatusStore`` for
  per-operator metrics). The stores are serialized to JSON inside the JVM
  with Jackson, so one read costs a few py4j calls, not one per field.
* ``RssSampler`` sums, from ``/proc``, the resident set of this process and
  of the Python and Java processes under it (the JVM and the Python workers
  it forks).
"""

from __future__ import annotations

import functools
import importlib
import json
import os
import re
import threading
import time


class Tracer:
    """In-memory span recorder. Disabled tracers record nothing and install
    no wrappers, so the untraced run executes the engine unmodified."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []
        self.op_id: int | None = None

    def span(self, name: str):
        return _Span(self, name)

    def wrap(self, module: str, attr: str, name: str) -> None:
        """Record a span named ``name`` around every call of
        ``module.attr`` (callers that look the attribute up at call time,
        as the engine's lazy imports do, see the wrapper)."""
        if not self.enabled:
            return
        mod = importlib.import_module(module)
        orig = getattr(mod, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        setattr(mod, attr, traced)
        self._patched.append((mod, attr, orig))

    def unwrap_all(self) -> None:
        while self._patched:
            mod, attr, orig = self._patched.pop()
            setattr(mod, attr, orig)

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            json.dump(self.spans, f)


class _Span:
    def __init__(self, tracer: Tracer, name: str):
        self.tracer, self.name, self.rec = tracer, name, None

    def __enter__(self):
        t = self.tracer
        if t.enabled:
            self.rec = {"id": len(t.spans), "name": self.name,
                        "parent": t._stack[-1] if t._stack else None,
                        "op": t.op_id, "start": time.time(), "end": None}
            t.spans.append(self.rec)
            t._stack.append(self.rec["id"])
        return self

    def __exit__(self, *exc):
        if self.rec is not None:
            self.rec["end"] = time.time()
            self.tracer._stack.pop()
        return False


# --- Spark status stores ---------------------------------------------------

_UNITS = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
          "B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4}
_VALUE = re.compile(r"^\s*(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]*)")


def parse_metric(text: str | None) -> float:
    """Parse a formatted SQL metric value: ``"713 ms"`` → 0.713 (seconds),
    ``"1035.7 KiB"`` → bytes, ``"15,000"`` → 15000. Task-distributed
    metrics (``"total (min, med, max …)\\n21.6 KiB (…)"``) give their
    total."""
    if not text:
        return 0.0
    if text.startswith("total"):
        text = text.split("\n", 1)[1] if "\n" in text else ""
    m = _VALUE.match(text)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


class StatusReader:
    """Per-op deltas from Spark's status stores (works with
    ``spark.ui.enabled=false``)."""

    def __init__(self, spark):
        sc = spark.sparkContext
        jvm = sc._jvm
        self._gw = sc._gateway
        self._jvm = jvm
        self._store = sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        scala_module = (jvm.java.lang.Class
                        .forName("com.fasterxml.jackson.module.scala."
                                 "DefaultScalaModule$")
                        .getField("MODULE$").get(None))
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self._mapper.registerModule(scala_module)
        self.mark()

    def mark(self) -> None:
        """Start the next delta after every job and execution so far."""
        self.last_job = self._max_job()
        self.last_exec = self._max_exec()

    def _json(self, obj):
        return json.loads(self._mapper.writeValueAsString(obj))

    def _max_job(self) -> int:
        jobs = self._json(self._store.jobsList(None))
        return max((j["jobId"] for j in jobs), default=-1)

    def _max_exec(self) -> int:
        ex = self._sql.executionsList()
        return max((ex.apply(i).executionId() for i in range(ex.size())),
                   default=-1)

    def cache_bytes(self) -> int:
        """Memory plus disk held by cached RDDs/DataFrames right now."""
        return sum(r["memoryUsed"] + r["diskUsed"]
                   for r in self._json(self._store.rddList(False)))

    def op_delta(self, start: float, end: float) -> dict:
        """Metrics of every job and SQL execution started since the last
        call; ``start``/``end`` are the op's wall-clock bounds (epoch s)."""
        jobs = [j for j in self._json(self._store.jobsList(None))
                if j["jobId"] > self.last_job]
        self.last_job = max([j["jobId"] for j in jobs] + [self.last_job])
        stage_ids = {s for j in jobs for s in j["stageIds"]}
        jvm = self._jvm
        all_stages = self._json(self._store.stageList(
            jvm.java.util.ArrayList(), False, False,
            self._gw.new_array(jvm.double, 0), jvm.java.util.ArrayList()))
        stages = [s for s in all_stages
                  if s["stageId"] in stage_ids and s["status"] != "SKIPPED"]

        def total(*fields):
            return sum(s[f] for s in stages for f in fields)

        out = {
            "spark.jobs": len(jobs),
            "spark.stages": len(stages),
            "spark.tasks": total("numCompleteTasks", "numFailedTasks"),
            "spark.executor_run_s": total("executorRunTime") / 1e3,
            "spark.executor_cpu_s": total("executorCpuTime") / 1e9,
            "spark.gc_s": total("jvmGcTime") / 1e3,
            "spark.shuffle_write_bytes": total("shuffleWriteBytes"),
            "spark.shuffle_read_bytes": total("shuffleReadBytes"),
            "spark.spill_bytes": total("memoryBytesSpilled",
                                       "diskBytesSpilled"),
            "spark.driver_gap_s": _uncovered(start, end, [
                (j["submissionTime"] / 1e3, j["completionTime"] / 1e3)
                for j in jobs
                if j.get("submissionTime") and j.get("completionTime")]),
        }
        out.update(self._sql_delta())
        return out

    def _sql_delta(self) -> dict:
        out = {"sql.exchanges": 0, "sql.broadcasts": 0,
               "sql.broadcast_collect_s": 0.0, "sql.broadcast_build_s": 0.0,
               "python.udf_s": 0.0, "python.rows": 0,
               "python.bytes_sent": 0, "python.bytes_received": 0}
        ex = self._sql.executionsList()
        ids = [ex.apply(i).executionId() for i in range(ex.size())]
        new = sorted(i for i in ids if i > self.last_exec)
        self.last_exec = max(new + [self.last_exec])
        for eid in new:
            nodes = self._json(self._sql.planGraph(eid).allNodes())
            values = self._json(self._sql.executionMetrics(eid))
            for node in nodes:
                m = {x["name"]: values.get(str(x["accumulatorId"]))
                     for x in node["metrics"]}
                if node["name"] == "Exchange":
                    out["sql.exchanges"] += 1
                elif node["name"] == "BroadcastExchange":
                    out["sql.broadcasts"] += 1
                    out["sql.broadcast_collect_s"] += parse_metric(
                        m.get("time to collect"))
                    out["sql.broadcast_build_s"] += parse_metric(
                        m.get("time to build"))
                if "time to run Python workers" in m:
                    out["python.udf_s"] += parse_metric(
                        m["time to run Python workers"])
                    out["python.rows"] += int(parse_metric(
                        m.get("number of output rows")))
                    out["python.bytes_sent"] += int(parse_metric(
                        m.get("data sent to Python workers")))
                    out["python.bytes_received"] += int(parse_metric(
                        m.get("data returned from Python workers")))
        return out


def _uncovered(start: float, end: float, intervals: list) -> float:
    """Length of [start, end] not covered by the union of ``intervals``."""
    covered, cursor = 0.0, start
    for a, b in sorted(intervals):
        a, b = max(a, cursor), min(b, end)
        if b > a:
            covered += b - a
            cursor = b
    return max(end - start - covered, 0.0)


# --- resident memory of the process tree -------------------------------------

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _tree_rss(root_pid: int) -> int:
    """Summed RSS of the ``python*`` and ``java`` processes in the tree under
    ``root_pid``. Other names are skipped: a child the JVM is spawning
    shares the JVM's pages under a thread's name until it execs, and would
    count the JVM twice."""
    parents: dict[int, list[int]] = {}
    names: dict[int, bytes] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        close = stat.rindex(b")")
        pid = int(entry)
        names[pid] = stat[stat.index(b"(") + 1:close]
        parents.setdefault(int(stat[close + 2:].split()[1]), []).append(pid)
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        todo.extend(parents.get(pid, ()))
        if pid != root_pid and not names[pid].startswith((b"python", b"java")):
            continue
        try:
            with open(f"/proc/{pid}/statm", "rb") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            pass
    return total


class RssSampler:
    """Background thread sampling the summed RSS of this process tree; a
    disabled sampler starts no thread and reports 0."""

    def __init__(self, enabled: bool, interval: float = 0.25):
        self.enabled, self.interval = enabled, interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, _tree_rss(pid))
            self._stop.wait(self.interval)

    def __enter__(self):
        if self.enabled:
            self._thread.start()
        return self

    def __exit__(self, *exc):
        if self.enabled:
            self._stop.set()
            self._thread.join()
        return False
