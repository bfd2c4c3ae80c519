"""Per-layer tracing from the benchmark side of each call.

A span wraps one call into a layer of the program. It records its name,
start, end and parent span, and the Spark jobs whose ids were assigned
between its start and its end (job ids are dense and increase; the
client is single-threaded, so jobs started by background threads the
program runs inside the call are the call's too, which thread-local job
groups would miss). Per-job and per-stage counters are read from Spark's
own status store after the listener bus drains. Everything stays in
memory until `dump`.

With tracing off, `span` is a shared no-op context and nothing is read.
"""

from __future__ import annotations

import contextlib
import json
import time
from collections import defaultdict

# every layer call the benchmark wraps; each reports MEASURES
CALLS = (
    "index_build.build_index",
    "index_query.open",
    "index_query.warm",
    "index_query.search_local",
    "index_query.search",
    "index_query.search_batch_pandas",
    "incremental.add_documents",
    "incremental.delete_documents",
    "incremental.merge_tier",
    "incremental.merge_segments",
    "dedup.minhash_lsh_pairs",
    "dedup.ngram_jaccard_pairs",
)
MEASURES = (  # (name, unit); jobs and tasks are per call, the rest totals
    ("jobs", "count"), ("tasks", "count"), ("wall_s", "s"),
    ("exec_run_s", "s"), ("exec_cpu_s", "s"), ("driver_only_s", "s"),
    ("input_mb", "MB"), ("shuffle_mb", "MB"), ("spill_mb", "MB"),
)
_NULL = contextlib.nullcontext()


def per_layer_metric_names() -> list[tuple[str, str]]:
    names = [("session.get_spark.wall_s", "s")]
    for c in CALLS:
        names += [(f"{c}.{m}", u) for m, u in MEASURES]
    names.append(("index_query.search_local.zero_job_ratio", "ratio"))
    return names


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._sc = None
        self._next_job = 0

    def attach(self, spark) -> None:
        """Start reading the status store of this session's context."""
        if self.enabled:
            self._sc = spark.sparkContext._jsc.sc()
            self._next_job = self._job_counter()  # earlier jobs: no span

    def span(self, name: str):
        return self._span(name) if self.enabled else _NULL

    @contextlib.contextmanager
    def _span(self, name: str):
        if self._sc is not None:
            self._next_job = self._job_counter()
        rec = {"name": name, "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), "end": None, "jobs": []}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if self._sc is not None:
                rec["jobs"] = self._read_jobs(self._job_counter())

    def _job_counter(self) -> int:
        """Id the scheduler gives the next job (ids are dense)."""
        # DAGScheduler.nextJobId: an AtomicInteger, read through py4j
        return int(self._sc.dagScheduler().nextJobId())

    def _read_jobs(self, end: int) -> list[dict]:
        """Counters of jobs [self._next_job, end) from the status store."""
        if end == self._next_job:
            return []
        self._sc.listenerBus().waitUntilEmpty()
        store = self._sc.statusStore()
        out = []
        for jid in range(self._next_job, end):
            job = store.job(jid)
            rec = {"id": jid, "tasks": 0, "run_ms": 0, "cpu_ns": 0,
                   "input": 0, "shuffle": 0, "spill": 0,
                   "submit": _date_s(job.submissionTime()),
                   "done": _date_s(job.completionTime())}
            ids = job.stageIds()
            for k in range(ids.size()):
                st = store.lastStageAttempt(ids.apply(k))
                rec["tasks"] += (st.numCompleteTasks() + st.numFailedTasks()
                                 + st.numKilledTasks())
                rec["run_ms"] += st.executorRunTime()
                rec["cpu_ns"] += st.executorCpuTime()
                rec["input"] += st.inputBytes()
                rec["shuffle"] += st.shuffleReadBytes() + st.shuffleWriteBytes()
                rec["spill"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            out.append(rec)
        self._next_job = end
        return out

    # ----------------------------------------------------------- reports

    def metrics(self) -> dict[str, float]:
        acc: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        zero_job_calls = 0
        for s in self.spans:
            a = acc[s["name"]]
            wall = s["end"] - s["start"]
            a["calls"] += 1
            a["wall_s"] += wall
            a["jobs"] += len(s["jobs"])
            covered = _covered(s["start"], s["end"], s["jobs"])
            a["driver_only_s"] += max(0.0, wall - covered)
            for j in s["jobs"]:
                a["tasks"] += j["tasks"]
                a["exec_run_s"] += j["run_ms"] / 1e3
                a["exec_cpu_s"] += j["cpu_ns"] / 1e9
                a["input_mb"] += j["input"] / 1e6
                a["shuffle_mb"] += j["shuffle"] / 1e6
                a["spill_mb"] += j["spill"] / 1e6
            if s["name"] == "index_query.search_local" and not s["jobs"]:
                zero_job_calls += 1
        out = {"session.get_spark.wall_s": acc["session.get_spark"]["wall_s"]}
        for c in CALLS:
            a = acc[c]
            n = a["calls"]
            for m, _ in MEASURES:
                v = a[m]
                out[f"{c}.{m}"] = v / n if m in ("jobs", "tasks") and n else v
        n_local = acc["index_query.search_local"]["calls"]
        out["index_query.search_local.zero_job_ratio"] = (
            zero_job_calls / n_local if n_local else 0.0)
        return out

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, **extra}, f)


def _date_s(opt) -> float | None:
    """java Option[Date] -> epoch seconds."""
    return opt.get().getTime() / 1e3 if opt.isDefined() else None


def _covered(start: float, end: float, jobs: list[dict]) -> float:
    """Length of [start, end] covered by the union of the jobs' lifetimes."""
    iv = sorted((max(start, j["submit"] or start), min(end, j["done"] or end))
                for j in jobs)
    total, cur_s, cur_e = 0.0, None, None
    for s, e in iv:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
