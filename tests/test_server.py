"""HTTP edge tests: routes, envelopes, and error texts verb-for-verb
against the reference server (goforget/forget.go, http_utils.go,
pyforget's /ping). Decay-through-HTTP is pinned via the documented
``now`` parameter so results are deterministic."""

from __future__ import annotations

import json
import socket
import time
import urllib.error
import urllib.request
from datetime import datetime, timezone

import pytest

from forgettable_spark.api import ForgetTable
from forgettable_spark.server import CHECKPOINT_EVERY, ForgetHTTPServer

T0 = datetime(2026, 1, 1, tzinfo=timezone.utc)
T0_SEC = int(T0.timestamp())


def _get(base: str, path: str):
    """Returns (status, body_bytes) without raising on HTTP errors."""
    try:
        with urllib.request.urlopen(base + path, timeout=60) as resp:
            return resp.status, resp.read()
    except urllib.error.HTTPError as e:
        return e.code, e.read()


def _get_json(base: str, path: str):
    status, body = _get(base, path)
    return status, json.loads(body)


def _colors_table(spark) -> ForgetTable:
    t = ForgetTable.empty(spark)
    t = t.incr("colors", ["red"], n=3, ts=T0)
    return t.incr("colors", ["blue"], n=1, ts=T0)


@pytest.fixture(scope="module")
def served(spark):
    """Read-only server over the colors fixture (reference README's own
    example distribution, goforget/README.md:23-35)."""
    srv = ForgetHTTPServer(_colors_table(spark))
    host, port = srv.start()
    yield f"http://{host}:{port}"
    srv.stop()


# -- liveness ---------------------------------------------------------------


def test_ping(served):
    status, body = _get(served, "/ping")
    assert (status, body) == (200, b"OK")
    req = urllib.request.Request(served + "/ping", method="HEAD")
    with urllib.request.urlopen(req, timeout=60) as resp:
        assert resp.status == 200


def test_unknown_route_404(served):
    status, _ = _get(served, "/nope")
    assert status == 404


# -- reads ------------------------------------------------------------------


def test_dist_envelope_and_payload(served):
    status, env = _get_json(served, f"/dist?distribution=colors&rate=0&now={T0_SEC + 5}")
    assert status == 200
    assert env["status_code"] == 200 and env["status_txt"] == ""
    d = env["data"]
    assert d["distribution"] == "colors"
    assert d["Z"] == 4
    assert d["T"] == T0_SEC + 5
    assert d["rate"] == 0.0 and d["prune"] is True
    assert d["data"] == [
        {"bin": "red", "count": 3, "p": 0.75},
        {"bin": "blue", "count": 1, "p": 0.25},
    ]


def test_dist_decays_at_now(served):
    # rate 0.2 over 10 s -> k = floor(2) = 2: red 3->1, blue 1->0 (pruned)
    _, env = _get_json(served, f"/dist?distribution=colors&rate=0.2&now={T0_SEC + 10}")
    d = env["data"]
    assert d["data"] == [{"bin": "red", "count": 1, "p": 1.0}]
    assert d["Z"] == 1


def test_dist_absent_distribution_is_empty_not_error(served):
    # An unfilled reference Distribution serializes Z=0, T=0, data=[]
    status, env = _get_json(served, "/dist?distribution=ghost&rate=0")
    assert status == 200
    assert env["data"] == {
        "distribution": "ghost",
        "Z": 0,
        "T": 0,
        "data": [],
        "rate": 0.0,
        "prune": True,
    }


def test_get_field(served):
    _, env = _get_json(served, f"/get?distribution=colors&field=red&rate=0&now={T0_SEC}")
    assert env["data"]["data"] == [{"bin": "red", "count": 3, "p": 0.75}]


def test_nmostprobable_top1(served):
    _, env = _get_json(
        served, f"/nmostprobable?distribution=colors&N=1&rate=0&now={T0_SEC}"
    )
    d = env["data"]["data"]
    assert d == [{"bin": "red", "count": 3, "p": 0.75}]


def test_nmostprobable_default_n_is_10(served):
    _, env = _get_json(served, f"/nmostprobable?distribution=colors&rate=0&now={T0_SEC}")
    assert len(env["data"]["data"]) == 2  # both bins, N defaults to 10


def test_dbsize(served):
    status, env = _get_json(served, "/dbsize")
    assert status == 200
    assert env["data"] == 1


# -- errors (reference reason strings) --------------------------------------


@pytest.mark.parametrize(
    "path,reason",
    [
        ("/dist", "MISSING_ARG_DISTRIBUTION"),
        ("/get", "MISSING_ARG_DISTRIBUTION"),
        ("/incr", "MISSING_ARG_DISTRIBUTION"),
        ("/nmostprobable", "MISSING_ARG_DISTRIBUTION"),
        ("/incr?distribution=colors", "MISSING_ARG_FIELD"),
        ("/get?distribution=colors", "MISSING_ARG_FIELD"),
        ("/incr?distribution=colors&field=red&N=abc", "COULDNT_PARSE_N"),
        ("/nmostprobable?distribution=colors&N=abc", "INVALID_ARG_N"),
        ("/dist?distribution=colors&rate=xyz", "CANNOT_PARSE_RATE"),
        ("/get?distribution=colors&field=red&rate=xyz", "CANNOT_PARSE_RATE"),
        ("/nmostprobable?distribution=colors&rate=xyz", "CANNOT_PARSE_RATE"),
    ],
)
def test_error_reasons(served, path, reason):
    status, env = _get_json(served, path)
    assert status == 500
    assert env == {"status_code": 500, "status_txt": reason, "data": None}


# -- writes and lifecycle ---------------------------------------------------


def test_incr_then_read_back(spark):
    srv = ForgetHTTPServer(_colors_table(spark))
    host, port = srv.start()
    base = f"http://{host}:{port}"
    try:
        status, body = _get(base, "/incr?distribution=pets&field=dog&N=5")
        assert (status, body) == (200, b"OK")
        # default N is 1
        status, body = _get(base, "/incr?distribution=pets&field=cat")
        assert (status, body) == (200, b"OK")

        _, env = _get_json(base, "/dbsize")
        assert env["data"] == 2

        _, env = _get_json(base, "/dist?distribution=pets&rate=0")
        assert env["data"]["Z"] == 6
        assert env["data"]["data"][0] == {"bin": "dog", "count": 5, "p": 5 / 6}

        # engine validates N >= 1 -> reference's "FAIL" text path
        status, body = _get(base, "/incr?distribution=pets&field=dog&N=0")
        assert (status, body) == (500, b"FAIL")
    finally:
        srv.stop()


def test_reads_after_checkpoint_fold(spark):
    """More appends than CHECKPOINT_EVERY cross the localCheckpoint fold
    of the served log; reads after it still see every acknowledged write."""
    srv = ForgetHTTPServer(_colors_table(spark))
    expected: dict[str, int] = {}
    for i in range(CHECKPOINT_EVERY + 5):
        fields = [f"b{i % 3}", f"b{i % 5}"] if i % 2 else [f"b{i % 7}"]
        srv.apply_incr("fold", fields, n=i + 1)
        for f in fields:
            expected[f] = expected.get(f, 0) + i + 1
    assert "LogicalRDD" in srv.table().events._jdf.queryExecution().logical().toString()
    host, port = srv.start()
    base = f"http://{host}:{port}"
    try:
        _, env = _get_json(base, "/dist?distribution=fold&rate=0")
        got = {d["bin"]: d["count"] for d in env["data"]["data"]}
        assert got == expected
        assert env["data"]["Z"] == sum(expected.values())
        _, env = _get_json(base, "/get?distribution=fold&field=b1&field=b4&rate=0")
        got = {d["bin"]: d["count"] for d in env["data"]["data"]}
        assert got == {"b1": expected["b1"], "b4": expected["b4"]}
        _, env = _get_json(base, "/get?distribution=colors&field=red&rate=0")
        assert env["data"]["data"][0]["count"] == 3
    finally:
        srv.stop()


def test_exit_stops_server(spark):
    srv = ForgetHTTPServer(_colors_table(spark))
    host, port = srv.start()
    base = f"http://{host}:{port}"
    status, body = _get(base, "/exit")
    assert (status, body) == (200, b"OK")
    deadline = time.time() + 10
    while time.time() < deadline:
        try:
            with socket.create_connection((host, port), timeout=1):
                time.sleep(0.1)
        except OSError:
            break
    else:
        pytest.fail("server did not shut down after /exit")
