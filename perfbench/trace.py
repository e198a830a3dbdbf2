"""Benchmark-side spans and the fold of Spark's event log onto them.

Spans are kept in memory (name, start, end, parent, round id) and written
out when the run ends.  The end-to-end metrics are read from the same
spans, so traced and untraced runs time identical code; a traced run only
adds Spark's event log, whose jobs and tasks are assigned to the round
span whose interval contains their submission time.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float  # epoch seconds, comparable with event-log timestamps
    end: float = 0.0
    parent: int | None = None  # index into Tracer.spans
    round: str | None = None  # shared by every span of one round

    @property
    def dur(self) -> float:
        return self.end - self.start


@dataclass
class Tracer:
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)
    _round: str | None = None

    @contextmanager
    def span(self, name: str, round_id: str | None = None):
        if round_id is not None:
            self._round = round_id
        s = Span(
            name,
            time.time(),
            parent=self._stack[-1] if self._stack else None,
            round=self._round,
        )
        self.spans.append(s)
        self._stack.append(len(self.spans) - 1)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            if round_id is not None:
                self._round = None

    def add_round(self, rnd: Span, parent: Span) -> None:
        """Record a round span after the fact (the rounds inside run_crawl)
        and give its id to the spans that started within it."""
        rnd.parent = self.spans.index(parent)
        for s in self.spans:
            if s.round is None and rnd.start <= s.start < rnd.end:
                s.round = rnd.round
        self.spans.append(rnd)

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def per_round(self, name: str, rounds: list[Span]) -> float:
        """Summed duration of the ``name`` spans inside ``rounds``, per round."""
        ids = {r.round for r in rounds}
        return sum(s.dur for s in self.named(name) if s.round in ids) / len(rounds)

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump([s.__dict__ for s in self.spans], fh)


# ---------------------------------------------------------------- event log


def _read_events(log_dir: str) -> list[dict]:
    """Every event of the logs under ``log_dir`` (Spark writes a rolling
    log as a directory of ``events_*`` files)."""
    events = []
    for d, _, files in sorted(os.walk(log_dir)):
        for name in sorted(files):
            if name.startswith((".", "appstatus")):
                continue
            with open(os.path.join(d, name)) as fh:
                events.extend(json.loads(line) for line in fh if line.strip())
    return events


def _plan_nodes(info: dict):
    yield info
    for child in info.get("children", []):
        yield from _plan_nodes(child)


_SCALE = {"timing": 1e-3, "nsTiming": 1e-9}  # SQL timing metrics -> seconds
_PY_RUN = "time to run Python workers"
_PY_SENT = "data sent to Python workers"
_PY_START = ("time to start Python workers", "time to initialize Python workers")
# the politeness window (engine/politeness.py): its first phase shuffles on
# (host, salt group) and sorts by the pinned order, priority descending
_WINDOW_EXCHANGE = re.compile(r"hashpartitioning\(host#\d+, [a-z_]")
_WINDOW_SORT = re.compile(r"priority#\d+ DESC")


@dataclass
class Task:
    stage: int
    run_ms: int
    cpu_ns: int
    deser_ms: int
    gc_ms: int
    shuffle_bytes: int
    accums: dict[int, int]


@dataclass
class EventLog:
    """Jobs, tasks and SQL metrics of one application, by round span."""

    jobs: dict[int, tuple[float, float]]  # job id -> (submit, complete) s
    stage_job: dict[int, int]
    tasks: list[Task]
    # accumulator id -> (node name, node simpleString, metric name, type)
    metric_of: dict[int, tuple[str, str, str, str]]

    @classmethod
    def load(cls, log_dir: str) -> "EventLog":
        jobs, stage_job, tasks, metric_of = {}, {}, [], {}
        for ev in _read_events(log_dir):
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                jobs[jid] = (ev["Submission Time"] / 1e3, 0.0)
                for sid in ev["Stage IDs"]:
                    stage_job[sid] = jid
            elif kind == "SparkListenerJobEnd":
                jid = ev["Job ID"]
                jobs[jid] = (jobs[jid][0], ev["Completion Time"] / 1e3)
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                sr = m.get("Shuffle Read Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                tasks.append(
                    Task(
                        ev["Stage ID"],
                        m.get("Executor Run Time", 0),
                        m.get("Executor CPU Time", 0),
                        m.get("Executor Deserialize Time", 0),
                        m.get("JVM GC Time", 0),
                        sr.get("Remote Bytes Read", 0)
                        + sr.get("Local Bytes Read", 0)
                        + sw.get("Shuffle Bytes Written", 0),
                        {
                            a["ID"]: int(a["Update"])
                            for a in ev["Task Info"].get("Accumulables", [])
                            if isinstance(a.get("Update"), (int, str))
                            and str(a["Update"]).lstrip("-").isdigit()
                        },
                    )
                )
            elif kind.endswith("SQLExecutionStart") or kind.endswith(
                "SQLAdaptiveExecutionUpdate"
            ):
                for node in _plan_nodes(ev["sparkPlanInfo"]):
                    for met in node.get("metrics", []):
                        metric_of[met["accumulatorId"]] = (
                            node["nodeName"],
                            node["simpleString"],
                            met["name"],
                            met["metricType"],
                        )
        return cls(jobs, stage_job, tasks, metric_of)

    def fold(self, rounds: list[Span]) -> dict[str, float]:
        """Per-round means of the Spark-side metrics over ``rounds``."""
        if not rounds:
            return {}
        job_round = {}
        for jid, (submit, _) in self.jobs.items():
            for r in rounds:
                if r.start <= submit <= r.end:
                    job_round[jid] = r.round
                    break
        in_rounds = [
            t for t in self.tasks if self.stage_job.get(t.stage) in job_round
        ]
        n = len(rounds)
        busy = 0.0
        for r in rounds:
            ivs = sorted(
                (max(s, r.start), min(e or r.end, r.end))
                for jid, (s, e) in self.jobs.items()
                if job_round.get(jid) == r.round
            )
            cur_s = cur_e = None
            for s, e in ivs:
                if cur_e is None or s > cur_e:
                    if cur_e is not None:
                        busy += cur_e - cur_s
                    cur_s, cur_e = s, e
                else:
                    cur_e = max(cur_e, e)
            if cur_e is not None:
                busy += cur_e - cur_s
        wall = sum(r.dur for r in rounds)
        out = {
            "spark.jobs_per_round": len(job_round) / n,
            "spark.tasks_per_round": len(in_rounds) / n,
            "spark.idle_frac": 1.0 - busy / wall,
            "spark.deser_s": sum(t.deser_ms for t in in_rounds) / 1e3 / n,
            "spark.cpu_s": sum(t.cpu_ns for t in in_rounds) / 1e9 / n,
            "spark.run_s": sum(t.run_ms for t in in_rounds) / 1e3 / n,
            "spark.gc_s": sum(t.gc_ms for t in in_rounds) / 1e3 / n,
            "spark.shuffle_mb": sum(t.shuffle_bytes for t in in_rounds) / 1e6 / n,
        }

        def total(pred) -> float:
            """Per-round sum over the rounds' tasks of the SQL metrics
            matching ``pred(node, plan, name)``; timings in seconds."""
            scale = {
                a: _SCALE.get(mtype, 1.0)
                for a, (node, plan, name, mtype) in self.metric_of.items()
                if pred(node, plan, name)
            }
            return sum(
                v * scale[a] for t in in_rounds for a, v in t.accums.items() if a in scale
            ) / n

        def rows(pred) -> float:
            return total(
                lambda node, plan, name: name == "number of output rows"
                and pred(node, plan)
            )

        def py(metric: str, *udfs: str) -> float:
            return total(
                lambda node, plan, name: node.startswith("ArrowEvalPython")
                and any(u + "(" in plan for u in udfs)
                and name == metric
            )

        out.update(
            {
                "udfs.extract_py_s": py(_PY_RUN, "extract_both_z_udf"),
                "udfs.extract_in_mb": py(_PY_SENT, "extract_both_z_udf") / 1e6,
                "udfs.hash_py_s": py(_PY_RUN, "hash64_udf", "canon_hash_udf"),
                "udfs.worker_start_s": total(
                    lambda node, plan, name: name in _PY_START
                ),
                "crawl.fetch_scan_rows": rows(
                    lambda node, plan: node == "InMemoryTableScan" and "html_z" in plan
                ),
                # rows into the first (salted) politeness window exchange
                "politeness.window_rows": total(
                    lambda node, plan, name: node == "Exchange"
                    and _WINDOW_EXCHANGE.search(plan) is not None
                    and name == "shuffle records written"
                ),
            }
        )
        out["politeness.task_skew"] = self._window_skew(in_rounds)
        return out

    def _window_skew(self, tasks: list[Task]) -> float:
        """max / median task run time in stages that run the politeness
        window's sort (the pinned order sorts priority DESC)."""
        sort_ids = {
            a
            for a, (node, plan, _, _) in self.metric_of.items()
            if node == "Sort" and _WINDOW_SORT.search(plan)
        }
        stages = {t.stage for t in tasks if sort_ids & t.accums.keys()}
        runs = [t.run_ms for t in tasks if t.stage in stages]
        if not runs:
            return 0.0
        return max(runs) / max(statistics.median(runs), 1)
