"""Tests for the benchmark's pure helpers (no Spark session).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from perfbench import common, gen, oracle

CONFIG = json.load(open(os.path.join(os.path.dirname(__file__), "..", "config.json")))


def _digest(path: str) -> str:
    h = hashlib.sha256()
    for d, _, files in sorted(os.walk(path)):
        for f in sorted(files):
            h.update(f.encode())
            h.update(open(os.path.join(d, f), "rb").read())
    return h.hexdigest()


# -- percentile rule ---------------------------------------------------------


def test_min_samples_leaves_ten_beyond():
    assert common.min_samples(0.5) == 20
    assert common.min_samples(0.9) == 100
    assert common.min_samples(0.99) == 1000


def test_percentile_refuses_thin_samples():
    with pytest.raises(ValueError):
        common.percentile(list(range(19)), 0.5)
    with pytest.raises(ValueError):
        common.percentile(list(range(99)), 0.9)


def test_percentile_nearest_rank():
    values = list(range(1, 101))
    assert common.percentile(values, 0.5) == 50
    assert common.percentile(values, 0.9) == 90
    assert common.percentile(list(reversed(values)), 0.9) == 90


# -- generators ----------------------------------------------------------------


def test_serving_generator_is_deterministic(tmp_path):
    logs, scheds = [], []
    for i, seed in enumerate((7, 7, 8)):
        log = gen.serving_log(seed, 2000, 100, 6, 600, f"{tmp_path}/{i}/log.parquet")
        logs.append(_digest(f"{tmp_path}/{i}"))
        scheds.append((gen.read_list(seed, log, 20, [1, 60]), gen.mixed_schedule(seed, log, 2, 3, [1, 60])))
    assert logs[0] == logs[1] != logs[2]
    assert scheds[0] == scheds[1] != scheds[2]


def test_serving_log_is_microsecond_utc(tmp_path):
    gen.serving_log(1, 100, 10, 3, 60, f"{tmp_path}/log.parquet")
    assert pq.read_schema(f"{tmp_path}/log.parquet").field("ts").type == pa.timestamp("us", tz="UTC")


def test_stream_generator_is_deterministic(tmp_path):
    sizes = {"events": 300, "documents": 40, "embeddings": 40}
    for i, seed in enumerate((3, 3, 4)):
        gen.stream_inputs(seed, sizes, 6, f"{tmp_path}/s{i}")
    assert _digest(f"{tmp_path}/s0") == _digest(f"{tmp_path}/s1") != _digest(f"{tmp_path}/s2")


def test_stream_loops_reach_their_fold():
    stream = CONFIG["stream"]
    assert stream["files_per_loop"] >= stream["fold_every"]


# -- oracle --------------------------------------------------------------------


def test_oracle_reproduces_the_reference_example(tmp_path):
    # FIXTURES.md B: rate 0.5, prune; colors decays 1 per bin from t = now - 2 s
    now = 1_700_000_000
    rows = [("colors", "red", 9, 10), ("colors", "blue", 5, 10), ("colors", "green", 1, 10), ("colors", "red", 1, 2), ("stale", "old", 7, 120)]
    pq.write_table(
        pa.table(
            {
                "distribution": [r[0] for r in rows],
                "bin": [r[1] for r in rows],
                "n": pa.array([r[2] for r in rows], pa.int64()),
                "ts": pa.array([(now - r[3]) * 1_000_000 for r in rows], pa.timestamp("us", tz="UTC")),
            }
        ),
        f"{tmp_path}/log.parquet",
    )
    reads = [
        {"rid": 1, "route": "/dist", "distribution": "colors", "now": now},
        {"rid": 2, "route": "/nmostprobable", "distribution": "colors", "now": now, "N": 1},
        {"rid": 3, "route": "/dist", "distribution": "stale", "now": now},
        {"rid": 4, "route": "/get", "distribution": "colors", "now": now, "fields": ["blue"], "episode": 0, "seq": 2},
    ]
    incrs = [{"episode": 0, "seq": 1, "distribution": "colors", "fields": ["blue"], "N": 2}]
    got = oracle.expected_payloads(f"{tmp_path}/log.parquet", 0.5, reads, incrs)
    assert [(d["bin"], d["count"]) for d in got[1]["data"]] == [("red", 9), ("blue", 4)]
    assert got[1]["Z"] == 13 and got[1]["T"] == now
    assert [(d["bin"], d["count"]) for d in got[2]["data"]] == [("red", 9)]
    assert got[3] == {"distribution": "stale", "Z": 0, "T": 0, "data": [], "rate": 0.5, "prune": True}
    # after an acknowledged /incr the distribution is newer than now: no decay
    assert [(d["bin"], d["count"]) for d in got[4]["data"]] == [("blue", 7)]
    assert got[4]["Z"] == 10 + 7 + 1
    assert oracle.matches(got[1], json.loads(json.dumps(got[1])))
    assert not oracle.matches(got[1], dict(got[1], Z=12))
