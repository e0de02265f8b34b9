"""Independent DuckDB evaluation of the decay law for serving responses.

For each read it recomputes, from the generated parquet (plus the
``/incr``s acknowledged before that read), the payload the reference
server returns: bins decayed by ``floor(rate * dt)`` with ``dt`` measured
from the distribution's newest increment to the read's ``now`` (clamped at
0), zero bins pruned, ``Z`` over the whole decayed distribution, and
``/nmostprobable`` selecting on the undecayed counts.
"""

from __future__ import annotations

import duckdb

#: Timestamp given to acknowledged ``/incr``s: the server stamps them with
#: its wall clock, which is after every ``now`` the schedules use, so any
#: later instant decays the same way (dt clamps to 0).
INCR_TS_US = 2_000_000_000_000_000


def expected_payloads(log_path: str, rate: float, reads: list[dict], incrs: list[dict]) -> dict[int, dict]:
    """``reads``: dicts with rid, episode, seq, route, distribution, now
    (unix s), optional fields / N. ``incrs``: dicts with episode, seq,
    distribution, fields, N. Returns rid -> expected response ``data``."""
    con = duckdb.connect()
    try:
        con.execute("CREATE TABLE reqs (rid BIGINT, episode BIGINT, seq BIGINT, distribution VARCHAR, now_us BIGINT)")
        con.executemany(
            "INSERT INTO reqs VALUES (?, ?, ?, ?, ?)",
            [(r["rid"], r.get("episode", 0), r.get("seq", 0), r["distribution"], r["now"] * 1_000_000) for r in reads],
        )
        con.execute("CREATE TABLE incrs (episode BIGINT, seq BIGINT, distribution VARCHAR, bin VARCHAR, n BIGINT)")
        rows = [(i["episode"], i["seq"], i["distribution"], f, i["N"]) for i in incrs for f in i["fields"]]
        if rows:
            con.executemany("INSERT INTO incrs VALUES (?, ?, ?, ?, ?)", rows)
        got = con.execute(
            f"""
            WITH ev AS (
              SELECT r.rid, l.bin, l.n, epoch_us(l.ts) AS ts_us
              FROM reqs r JOIN read_parquet('{log_path}') l ON l.distribution = r.distribution
              UNION ALL
              SELECT r.rid, i.bin, i.n, {INCR_TS_US}
              FROM reqs r JOIN incrs i
                ON i.distribution = r.distribution AND i.episode = r.episode AND i.seq < r.seq
            ),
            st AS (
              SELECT rid, bin, SUM(n) AS cnt, MAX(MAX(ts_us)) OVER (PARTITION BY rid) AS t
              FROM ev GROUP BY rid, bin
            )
            SELECT st.rid, st.bin, st.cnt,
                   GREATEST(st.cnt - FLOOR(CAST({float(rate)!r} AS DOUBLE)
                       * GREATEST(CAST(r.now_us - st.t AS DOUBLE) / 1000000.0, 0.0)), 0) AS c
            FROM st JOIN reqs r USING (rid)
            """
        ).fetchall()
    finally:
        con.close()
    by_rid: dict[int, list[tuple[str, int, int]]] = {}
    for rid, b, cnt, c in got:
        by_rid.setdefault(rid, []).append((b, int(cnt), int(c)))
    return {r["rid"]: _payload(r, by_rid.get(r["rid"], []), rate) for r in reads}


def _payload(req: dict, rows: list[tuple[str, int, int]], rate: float) -> dict:
    live = [(b, c) for b, _, c in rows if c > 0]
    z = sum(c for _, c in live)
    if req["route"] == "/get":
        keep = [(b, c) for b, c in live if b in req["fields"]]
    elif req["route"] == "/nmostprobable":
        top = {b for b, _, _ in sorted(rows, key=lambda r: (-r[1], r[0]))[: req["N"]]}
        keep = [(b, c) for b, c in live if b in top]
    else:
        keep = live
    keep.sort(key=lambda r: (-r[1], r[0]))
    return {
        "distribution": req["distribution"],
        "Z": z if keep else 0,
        "T": req["now"] if keep else 0,
        "data": [{"bin": b, "count": c, "p": c / z} for b, c in keep],
        "rate": rate,
        "prune": True,
    }


def matches(expected: dict, got: dict | None) -> bool:
    """Exact bins, counts, Z and T; probabilities to 1e-12."""
    if not isinstance(got, dict):
        return False
    if any(got.get(k) != expected[k] for k in ("distribution", "Z", "T", "prune")):
        return False
    if abs(float(got.get("rate", -1)) - expected["rate"]) > 1e-12:
        return False
    a, b = got.get("data") or [], expected["data"]
    return len(a) == len(b) and all(
        x.get("bin") == y["bin"] and x.get("count") == y["count"] and abs(x.get("p", -1) - y["p"]) <= 1e-12
        for x, y in zip(a, b)
    )
