"""Reader for Spark's local JSON event log, keyed by job group.

The traced run sets a job group around every call it makes
(``SparkContext.setJobGroup``); Spark copies the group into the
properties of each job and stage it runs.  ``EventLog.stats(group)``
sums the task metrics of those stages.  Jobs inside one group can be
split further by *call site*: the SQL execution's description, its
driver call (``Dataset.count``, ``collectToPython`` ...) and its
physical plan, matched against a regex.

Reads both the single-file log and the rolling ``eventlog_v2_*``
directory layout, uncompressed.
"""

from __future__ import annotations

import json
import os
import re
from dataclasses import dataclass, field

GROUP_KEY = "spark.jobGroup.id"
SQL_KEY = "spark.sql.execution.id"
SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
PYTHON_BYTES = ("data sent to Python workers",
                "data returned from Python workers")


@dataclass
class Stats:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    fetch_wait_s: float = 0.0
    spill_bytes: int = 0
    python_bytes: int = 0
    # (submit, end) of each job, epoch ms
    intervals: list = field(default_factory=list)

    def job_union_s(self) -> float:
        """Seconds covered by at least one of the jobs."""
        total, cur_s, cur_e = 0, None, None
        for s, e in sorted(self.intervals):
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    total += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            total += cur_e - cur_s
        return total / 1000.0


def log_files(log_dir: str) -> list[str]:
    """Event-log files of the one application in ``log_dir`` (a
    ``spark.eventLog.dir``): its single file, or the ``events_<n>_*``
    parts of a rolling ``eventlog_v2_*`` directory in order."""
    apps = [n for n in os.listdir(log_dir) if not n.startswith(".")]
    if len(apps) != 1:
        raise ValueError(f"expected one application log in {log_dir}, "
                         f"found {apps}")
    app = os.path.join(log_dir, apps[0])
    if os.path.isfile(app):
        return [app]
    parts = [n for n in os.listdir(app) if n.startswith("events_")]
    parts.sort(key=lambda n: int(n.split("_")[1]))
    return [os.path.join(app, n) for n in parts]


def read_events(log_dir: str):
    for fn in log_files(log_dir):
        with open(fn) as f:
            for line in f:
                if line.strip():
                    yield json.loads(line)


class EventLog:
    def __init__(self, events):
        self.jobs: dict[int, dict] = {}
        self.stages: dict[tuple, dict] = {}   # (stage id, attempt) → info
        self.sql: dict[str, str] = {}         # execution id → call site
        self.tasks: list[dict] = []
        for e in events:
            kind = e.get("Event")
            if kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                self.jobs[e["Job ID"]] = {
                    "group": props.get(GROUP_KEY),
                    "sql": props.get(SQL_KEY),
                    "submit": e["Submission Time"],
                    "end": e["Submission Time"],
                    "stage_names": [s.get("Stage Name", "")
                                    for s in e.get("Stage Infos", [])],
                }
            elif kind == "SparkListenerJobEnd":
                job = self.jobs.get(e["Job ID"])
                if job is not None:
                    job["end"] = e["Completion Time"]
            elif kind == "SparkListenerStageSubmitted":
                info = e["Stage Info"]
                props = e.get("Properties") or {}
                self.stages[(info["Stage ID"], info["Stage Attempt ID"])] = {
                    "group": props.get(GROUP_KEY),
                    "sql": props.get(SQL_KEY),
                    "name": info.get("Stage Name", ""),
                }
            elif kind == "SparkListenerTaskEnd":
                self.tasks.append(e)
            elif kind == SQL_START:
                details = (e.get("details") or "").split("\n", 1)[0]
                self.sql[str(e["executionId"])] = "\n".join([
                    e.get("description") or "", details,
                    e.get("physicalPlanDescription") or "",
                ])

    @classmethod
    def from_dir(cls, log_dir: str) -> "EventLog":
        return cls(read_events(log_dir))

    def call_site(self, sql_id, names: str) -> str:
        """Stage names (``first at .../pipeline.py:566`` for calls made
        from Python) plus the SQL execution's description, driver call
        and physical plan."""
        return names + "\n" + self.sql.get(str(sql_id), "")

    def stats(self, groups, where: str | None = None) -> Stats:
        """Metrics of every job in ``groups`` (one name or several);
        with ``where``, only the jobs (and their stages) whose call site
        matches that regex."""
        groups = {groups} if isinstance(groups, str) else set(groups)
        pat = re.compile(where) if where else None

        def keep(g, sql_id, fallback):
            if g not in groups:
                return False
            return pat is None or bool(
                pat.search(self.call_site(sql_id, fallback)))

        st = Stats()
        for job in self.jobs.values():
            if keep(job["group"], job["sql"], "\n".join(job["stage_names"])):
                st.jobs += 1
                st.intervals.append((job["submit"], job["end"]))
        kept = set()
        for key, stage in self.stages.items():
            if keep(stage["group"], stage["sql"], stage["name"]):
                kept.add(key)
                st.stages += 1
        for t in self.tasks:
            if (t["Stage ID"], t["Stage Attempt ID"]) not in kept:
                continue
            st.tasks += 1
            if (t.get("Task End Reason") or {}).get("Reason") != "Success":
                st.failed_tasks += 1
            m = t.get("Task Metrics")
            if not m:
                continue
            st.run_s += m.get("Executor Run Time", 0) / 1e3
            st.cpu_s += m.get("Executor CPU Time", 0) / 1e9
            st.gc_s += m.get("JVM GC Time", 0) / 1e3
            st.spill_bytes += (m.get("Memory Bytes Spilled", 0)
                               + m.get("Disk Bytes Spilled", 0))
            w = m.get("Shuffle Write Metrics") or {}
            st.shuffle_write_bytes += w.get("Shuffle Bytes Written", 0)
            r = m.get("Shuffle Read Metrics") or {}
            st.shuffle_read_bytes += (r.get("Remote Bytes Read", 0)
                                      + r.get("Local Bytes Read", 0))
            st.fetch_wait_s += r.get("Fetch Wait Time", 0) / 1e3
            for acc in (t.get("Task Info") or {}).get("Accumulables", []):
                if acc.get("Name") in PYTHON_BYTES:
                    st.python_bytes += int(acc.get("Update") or 0)
        return st
