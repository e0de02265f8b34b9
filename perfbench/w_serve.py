"""Serving workload over ``ForgetHTTPServer``: read-after-write.

One closed-loop client replays episodes of ``/incr``s and reads
(``/dist``, ``/get``, ``/nmostprobable`` with an explicit ``now``) on
uniform keys, each write acknowledged before the next op. Every episode
runs on a fresh server over the generated log, so its writes are the
only ones its reads can see. Every read is compared with the DuckDB
evaluation in ``oracle.py`` over the log plus the acknowledged
``/incr``s.
"""

from __future__ import annotations

import json
import os
import statistics
import time
import urllib.parse
import urllib.request

from perfbench import common, gen, oracle
from perfbench.tracing import Tracer, print_table


def _url(base: str, req: dict, rid: int) -> str:
    q = [("distribution", req["distribution"])]
    q += [("field", f) for f in req.get("fields", [])]
    if "N" in req:
        q.append(("N", str(req["N"])))
    if "now" in req:
        q.append(("now", str(req["now"])))
    q.append(("rid", str(rid)))  # ignored by the server; ties traced spans to a request
    return f"{base}{req['route']}?{urllib.parse.urlencode(q)}"


def _call(base: str, req: dict, rid: int) -> tuple[bool, object]:
    """One request; returns (http ok, parsed body)."""
    try:
        with urllib.request.urlopen(_url(base, req, rid), timeout=120) as resp:
            body = resp.read().decode()
    except Exception:
        return False, None
    if req["route"] == "/incr":
        return body == "OK", body
    try:
        env = json.loads(body)
    except ValueError:
        return False, None
    return env.get("status_code") == 200, env.get("data")


def _inputs(seed: int, cfg: dict, work: str) -> tuple[dict, list, list]:
    """The seeded log, the episodes and the warm-up reads. Every
    episode opens with a ``/dist``, so set-ups differ only in their key."""
    log = gen.serving_log(seed, cfg["rows"], cfg["distributions"], cfg["max_bins"], cfg["window_s"], f"{work}/log.parquet")
    sched = gen.mixed_schedule(seed, log, cfg["episodes"], cfg["incrs_per_episode"], cfg["now_offsets_s"])
    for ops in sched:
        ops[0] = {"route": "/dist", "distribution": ops[0]["distribution"], "now": ops[0]["now"]}
    # warm-up reads carry negative request ids, apart from every checked one
    warm = [dict(r, rid=-1 - i) for i, r in enumerate(gen.read_list(seed, log, cfg["warmup_reads"], cfg["now_offsets_s"]))]
    return log, sched, warm


def _warm_up(new_server, reqs: list[dict]) -> float:
    """Untimed, unchecked reads on a server of their own, so that the
    set-ups and the timed work start on a warm JVM. Returns seconds."""
    t = time.perf_counter()
    srv, base = new_server()
    try:
        for req in reqs:
            _call(base, req, req["rid"])
    finally:
        srv.stop()
    return time.perf_counter() - t


def _instrument(tracer: Tracer) -> None:
    """Wrap the public read methods and the write path (traced mode only)."""
    from forgettable_spark.api import ForgetTable
    from forgettable_spark.server import ForgetHTTPServer

    def wrap_read(fn):
        def read(self, *a, **kw):
            with tracer.span("api.read_build"):
                df = fn(self, *a, **kw)
            collect = df.collect

            def traced_collect():
                with tracer.span("exec.read_collect", group=True):
                    return collect()

            df.collect = traced_collect
            return df

        return read

    for name in ("dist", "get", "n_most_probable"):
        setattr(ForgetTable, name, wrap_read(getattr(ForgetTable, name)))
    apply_incr = ForgetHTTPServer.apply_incr

    def traced_apply_incr(self, *a, **kw):
        with tracer.span("server.apply_incr", group=True):
            return apply_incr(self, *a, **kw)

    ForgetHTTPServer.apply_incr = traced_apply_incr


def _trace_server(server, tracer: Tracer) -> None:
    handler = server._httpd.RequestHandlerClass
    do_get = handler.do_GET

    def traced_do_get(self):
        rid = urllib.parse.parse_qs(urllib.parse.urlparse(self.path).query).get("rid", [None])[0]
        with tracer.span("server.request", rid=rid):
            do_get(self)

    handler.do_GET = traced_do_get


def run(args, cfg: dict, work: str) -> dict:
    from perfbench.tracing import TRACE_CONF

    steal0 = common.steal_ticks()
    t = time.perf_counter()
    spark = common.spark_session(work, TRACE_CONF if args.trace else None)
    session_s = time.perf_counter() - t
    return _run(args, cfg, work, spark, session_s, steal0)


def _run(args, cfg, work, spark, session_s, steal0) -> dict:
    from forgettable_spark.api import ForgetTable
    from forgettable_spark.server import ForgetHTTPServer

    t = time.perf_counter()
    log, sched, warm = _inputs(args.seed, cfg, work)
    inputs_s = time.perf_counter() - t
    log_path = f"{work}/log.parquet"
    rate = cfg["rate"]
    tracer = Tracer(spark.sparkContext) if args.trace else None
    if tracer:
        _instrument(tracer)

    def new_server():
        srv = ForgetHTTPServer(ForgetTable(spark, log_path, rate=rate))
        if tracer:
            _trace_server(srv, tracer)
        h, p = srv.start()
        return srv, f"http://{h}:{p}"

    res = _episodes(sched, warm, new_server, log_path, rate)
    out = dict(res, sizes=log["sizes"], inputs_s=inputs_s, session_s=session_s)
    out["host"] = {"steal_ticks": common.steal_ticks() - steal0, "load1": common.load1()}
    if tracer:
        out["trace"] = _layers(tracer, res, work)
    return out


def _first_read(new_server, req: dict, expected: dict) -> tuple:
    """One set-up: a ForgetTable over the log, its server started, and
    the first read answered. Returns the server, its base URL, the
    set-up's seconds, the first read's record and whether it was correct."""
    t = time.perf_counter()
    srv, base = new_server()
    t_read = time.perf_counter()
    ok, body = _call(base, req, req["rid"])
    t_end = time.perf_counter()
    rec = {"rid": req["rid"], "route": req["route"], "ms": (t_end - t_read) * 1e3, "incrs_before": 0}
    return srv, base, t_end - t, rec, ok and oracle.matches(expected[req["rid"]], body)


def _episodes(sched, warm, new_server, log_path, rate) -> dict:
    reads, incrs, seq = [], [], 0
    for e, ops in enumerate(sched):
        for op in ops:
            seq += 1
            (incrs if op["route"] == "/incr" else reads).append(dict(op, rid=seq, episode=e, seq=seq))
    expected = oracle.expected_payloads(log_path, rate, reads, incrs)
    warm_s = _warm_up(new_server, warm)
    recs, first, setups, failed = [], [], [], 0
    # a fresh server per episode: its log is the generated one, and the
    # episode's writes are the only ones its reads can see. The episode's
    # opening read belongs to its set-up.
    for e in range(len(sched)):
        ops = sorted((o for o in reads + incrs if o["episode"] == e), key=lambda o: o["seq"])
        srv, base, dt, rec, ok = _first_read(new_server, ops[0], expected)
        setups.append(dt)
        first.append(rec)
        failed += not ok
        try:
            applied = 0
            for op in ops[1:]:
                t = time.perf_counter()
                ok, body = _call(base, op, op["rid"])
                dt = (time.perf_counter() - t) * 1e3
                if op["route"] != "/incr":
                    ok = ok and oracle.matches(expected[op["rid"]], body)
                failed += not ok
                recs.append({"rid": op["rid"], "route": op["route"], "ms": dt, "ok": ok, "incrs_before": applied})
                applied += op["route"] == "/incr" and ok
        finally:
            srv.stop()
    read_ms = [r["ms"] for r in recs if r["route"] != "/incr"]
    incr_ms = [r["ms"] for r in recs if r["route"] == "/incr"]
    work_s = sum(r["ms"] for r in recs) / 1e3
    return {
        "attempted": len(recs) + len(setups),
        "failed": failed,
        "samples": {"reads": len(read_ms), "incrs": len(incr_ms), "setups": len(setups)},
        "setup_s": statistics.median(setups),
        "warm_s": warm_s,
        "work_s": work_s,
        "named": {
            "mixed_ops_per_s": len(recs) / work_s,
            "mixed_read_p50_ms": common.percentile(read_ms, 0.5),
            "incr_p50_ms": common.percentile(incr_ms, 0.5),
        },
        "ops": recs,
        "first_reads": first,
    }


def _layers(tracer: Tracer, res: dict, work: str) -> dict:
    """Per-request layer table and the serving per-layer metrics."""
    tracer.settle()
    reqs = {s["rid"]: s for s in tracer.named("server.request")}
    children: dict[int, dict[str, float]] = {}
    for s in tracer.spans:
        if s["name"] in ("api.read_build", "exec.read_collect", "server.apply_incr") and s["parent"]:
            children.setdefault(s["parent"], {}).setdefault(s["name"], 0.0)
            children[s["parent"]][s["name"]] += s["end"] - s["start"]
    ops = res["ops"]
    n = len(ops)
    total_ms = sum(r["ms"] for r in ops)
    layer = {"http+client": 0.0, "server.self": 0.0, "api.read_build": 0.0, "exec.read_collect": 0.0, "server.apply_incr": 0.0}
    for r in ops:
        s = reqs.get(str(r["rid"]))
        if s is None:
            continue
        handler_ms = (s["end"] - s["start"]) * 1e3
        kids = children.get(s["id"], {})
        kid_ms = {k: v * 1e3 for k, v in kids.items()}
        layer["http+client"] += r["ms"] - handler_ms
        layer["server.self"] += handler_ms - sum(kid_ms.values())
        for k, v in kid_ms.items():
            layer[k] += v
    share = print_table("mean per request, from send", [(k, v / n) for k, v in layer.items()], total_ms / n, "ms")
    collects = tracer.named("exec.read_collect")
    reads = max(1, len(collects))
    c = tracer.counters(collects)
    n_incrs = res["samples"]["incrs"]
    n_reads = n - n_incrs
    out = {
        "server.self_ms": layer["server.self"] / n,
        "server.apply_incr_ms": layer["server.apply_incr"] / n_incrs,
        "api.read_build_ms": layer["api.read_build"] / n_reads,
        "exec.read_collect_ms": layer["exec.read_collect"] / n_reads,
        "exec.jobs_per_read": c["jobs"] / reads,
        "exec.tasks_per_read": c["tasks"] / reads,
        "exec.cpu_ms_per_read": c["cpu_s"] * 1e3 / reads,
        "exec.run_ms_per_read": c["run_s"] * 1e3 / reads,
        "trace.unattributed_pct": share * 100,
    }
    # read cost against the number of writes the serving table has absorbed
    by_parent = {s["parent"]: s for s in collects}
    groups: dict[int, list] = {}
    # each episode's opening (set-up) read is its 0-incr read
    read_ops = res["first_reads"] + [r for r in ops if r["route"] != "/incr"]
    for r in read_ops:
        s = reqs.get(str(r["rid"]))
        if s is None or s["id"] not in by_parent:
            continue
        groups.setdefault(r["incrs_before"], []).append((r["ms"], tracer.counters([by_parent[s["id"]]])["tasks"]))
    print("-- reads by incrs applied before the read: tasks and latency per read --")
    for k in sorted(groups):
        ms = [x for x, _ in groups[k]]
        tk = [t for _, t in groups[k]]
        print(f"  {k:<4} reads={len(ms):<4} tasks_per_read={statistics.mean(tk):8.1f} read_ms_median={statistics.median(ms):9.1f}")
    ks = sorted(groups)
    out["exec.tasks_per_read_growth"] = statistics.mean(t for _, t in groups[ks[-1]]) / max(1e-9, statistics.mean(t for _, t in groups[ks[0]]))
    tracer.dump(os.path.join(os.path.dirname(work), "spans-serve_mixed.jsonl"))
    out["trace.overhead_pct"] = tracer.overhead_s / (total_ms / 1e3) * 100
    return out
