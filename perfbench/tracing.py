"""Traced mode: spans around the engine's public calls, plus Spark
status-store counters per job group.

Spans (name, start, end, parent, request id) are kept in memory and
written out when the run ends. Each traced call runs under its own Spark
job group; the jobs, stages and task metrics of that group are read from
the application status store (``sc._jsc.sc().statusStore()``, served with
the UI off) once the run has finished, so the reads never sit inside a
measured interval.
"""

from __future__ import annotations

import itertools
import json
import threading
import time
from contextlib import contextmanager

#: Keep every job and stage of a run in the status store.
TRACE_CONF = {"spark.ui.retainedJobs": "100000", "spark.ui.retainedStages": "100000"}

#: The stated tolerance: a layer table's self-times must sum to its
#: end-to-end time within this share.
TOLERANCE = 0.10


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self.overhead_s = 0.0
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    @contextmanager
    def span(self, name: str, rid=None, group: bool = False):
        """Time the enclosed block; with ``group`` its Spark jobs carry a
        job group named after the span, so their counters can be read back."""
        t_in = time.perf_counter()
        sid = next(self._ids)
        parent = getattr(self._local, "current", None)
        rec = {"id": sid, "name": name, "parent": parent, "rid": rid}
        if group:
            rec["group"] = f"{name}#{sid}"
            self.sc.setJobGroup(rec["group"], name, interruptOnCancel=False)
        self._local.current = sid
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            t1 = time.perf_counter()
            self._local.current = parent
            if group:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            rec["start"], rec["end"] = t0, t1
            with self._lock:
                self.spans.append(rec)
                self.overhead_s += (t0 - t_in) + (time.perf_counter() - t1)

    def settle(self) -> None:
        """Let the listener bus deliver the last task ends to the store."""
        time.sleep(0.5)

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                fh.write(json.dumps(s) + "\n")

    # -- status store -------------------------------------------------------

    def counters(self, spans: list[dict]) -> dict:
        """Jobs, tasks and executor run/CPU seconds of the job groups of
        ``spans``."""
        store = self.sc._jsc.sc().statusStore()
        tracker = self.sc.statusTracker()
        out = {"jobs": 0, "tasks": 0, "run_s": 0.0, "cpu_s": 0.0}
        for s in spans:
            if "group" not in s:
                continue
            for jid in tracker.getJobIdsForGroup(s["group"]):
                info = tracker.getJobInfo(jid)
                if info is None:
                    continue
                out["jobs"] += 1
                for sid in info.stageIds:
                    try:
                        st = store.lastStageAttempt(sid)
                    except Exception:  # stage skipped or evicted: no counters
                        continue
                    out["tasks"] += st.numTasks()
                    out["run_s"] += st.executorRunTime() / 1e3
                    out["cpu_s"] += st.executorCpuTime() / 1e9
        return out


def print_table(title: str, rows: list[tuple[str, float]], total: float, unit: str) -> float:
    """Print a layer table; return the unattributed share of ``total``."""
    print(f"-- layer table: {title} (self-times, {unit}) --")
    for name, v in rows:
        print(f"  {name:<28} {v:12.3f}")
    attributed = sum(v for _, v in rows)
    share = abs(total - attributed) / total if total else 0.0
    verdict = "ok" if share <= TOLERANCE else "OVER TOLERANCE"
    print(f"  {'sum of self-times':<28} {attributed:12.3f}")
    print(f"  {'end-to-end':<28} {total:12.3f}   unattributed {share:.1%} (tolerance {TOLERANCE:.0%}: {verdict})")
    return share
