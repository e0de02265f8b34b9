"""Helpers shared by the workloads: percentiles, host-noise readings,
the Spark session and its shutdown, and the result line."""

from __future__ import annotations

import json
import math
import os

#: A percentile is reported only with at least this many samples beyond it.
MIN_BEYOND = 10


def min_samples(q: float) -> int:
    """Fewest samples for which the ``q``-quantile (0 < q < 1) has
    ``MIN_BEYOND`` samples above it."""
    return math.ceil(MIN_BEYOND / (1.0 - q) - 1e-9)


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank ``q``-quantile; refuses a sample too small to back it."""
    if len(values) < min_samples(q):
        raise ValueError(f"p{round(q * 100)} needs >= {min_samples(q)} samples, got {len(values)}")
    ordered = sorted(values)
    return ordered[max(0, math.ceil(q * len(ordered)) - 1)]


# -- host noise -------------------------------------------------------------


def steal_ticks() -> int:
    """Cumulative steal ticks from the ``cpu`` line of /proc/stat (0 when
    the field or file is absent)."""
    try:
        with open("/proc/stat") as fh:
            fields = fh.readline().split()
        return int(fields[8]) if len(fields) > 8 else 0
    except OSError:
        return 0


def load1() -> float:
    try:
        return os.getloadavg()[0]
    except OSError:
        return 0.0


# -- session ----------------------------------------------------------------


def cores() -> int:
    return min(4, os.cpu_count() or 1)


def spark_session(work: str, extra: dict | None = None):
    """The engine's own session factory at local[cores], with every
    scratch path kept inside ``work``."""
    from forgettable_spark.session import get_spark

    tmp = os.path.join(work, "jvm-tmp")
    os.makedirs(tmp, exist_ok=True)
    conf = {
        "spark.ui.enabled": "false",
        "spark.driver.memory": "2g",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
    }
    conf.update(extra or {})
    n = cores()
    spark = get_spark(app_name="perfbench", master=f"local[{n}]", shuffle_partitions=n, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _children() -> dict[int, list[int]]:
    """Parent pid -> child pids of every process in /proc."""
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(root: int) -> set[int]:
    kids, out, todo = _children(), set(), [root]
    while todo:
        for c in kids.get(todo.pop(), ()):
            out.add(c)
            todo.append(c)
    return out


def _alive(pid: int) -> bool:
    """Whether ``pid`` is running: present and not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def stop_processes(timeout: float = 60.0) -> None:
    """Stop the Spark session, if one is running, and the JVM behind it,
    then wait until every process started by this one has ended.

    ``SparkSession.stop`` leaves the JVM to exit on its own once Python's
    end of its stdin closes, which it does only after Python has exited;
    here the pipe is closed and the JVM waited for, and any process still
    left (Python workers, helpers) is killed after ``timeout`` seconds."""
    import signal
    import subprocess
    import time

    from pyspark import SparkContext

    procs = descendants(os.getpid())
    gateway = SparkContext._gateway
    try:
        if SparkContext._active_spark_context is not None:
            SparkContext._active_spark_context.stop()
    finally:
        jvm = getattr(gateway, "proc", None)
        if gateway is not None:
            try:
                gateway.shutdown()
            except Exception:
                pass
        if jvm is not None:
            jvm.stdin.close()  # the JVM exits when its stdin closes
            try:
                jvm.wait(timeout)
            except subprocess.TimeoutExpired:
                jvm.kill()
                jvm.wait()
    procs |= descendants(os.getpid())
    deadline, killed = time.monotonic() + timeout, False
    while left := [p for p in procs if _alive(p)]:
        if time.monotonic() > deadline:
            if killed:
                raise RuntimeError(f"processes {left} outlived SIGKILL")
            for p in left:
                try:
                    os.kill(p, signal.SIGKILL)
                except OSError:
                    pass
            deadline, killed = time.monotonic() + 10.0, True
        time.sleep(0.05)
    # zombies left by the JVM pass to init once it exits; give init a moment to reap them
    deadline = time.monotonic() + 5.0
    while time.monotonic() < deadline and any(os.path.exists(f"/proc/{p}") for p in procs):
        time.sleep(0.05)


# -- output -----------------------------------------------------------------


def result_line(correct: bool, attempted: int, failed: int, metrics: dict[str, tuple[float, str]]) -> str:
    return json.dumps(
        {
            "correct": correct,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
    )
