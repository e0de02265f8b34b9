"""Seeded input generators for the benchmark (single process, numpy only).

Every generator is a pure function of its seed and sizes: the same seed
writes byte-identical parquet and returns the same request list. The
engine under test only ever sees the written files and the request list.

Timestamps are written as parquet TIMESTAMP(MICROS, UTC): that is the
precision ``ForgetTable(spark, path)`` reads directly.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: 2024-01-01T00:00:00Z — the generated logs sit in a fixed past window, so
#: an ``/incr`` (stamped with the server's wall clock) always lands after
#: every read's explicit ``now`` and its distribution reads undecayed.
BASE_US = 1_704_067_200_000_000

WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
EVENT_TYPES = ("click", "signup", "error", "view", "purchase")


def _write(table: pa.Table, path: str) -> int:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
    return os.path.getsize(path)


def _ts_us(values: np.ndarray) -> pa.Array:
    return pa.array(values.astype(np.int64), pa.timestamp("us", tz="UTC"))


# -- serving log + request lists --------------------------------------------


def serving_log(seed: int, rows: int, dists: int, max_bins: int, window_s: int, path: str) -> dict:
    """Write an increment log (distribution, bin, n, ts) and return its
    shape: distribution names, the bins each one holds, and its sizes."""
    rng = np.random.default_rng([seed, 1])
    names = np.array([f"d{i:06d}" for i in range(dists)])
    n_bins = rng.integers(1, max_bins + 1, dists)
    d = rng.integers(0, dists, rows)
    # bins within a distribution are skewed toward low ids (a few heavy bins)
    b = np.floor(n_bins[d] * rng.random(rows) ** 2).astype(np.int64)
    n = rng.integers(1, 6, rows)
    ts = BASE_US + rng.integers(0, window_s * 1_000_000, rows)
    table = pa.table(
        {
            "distribution": pa.array(names[d]),
            "bin": pa.array(np.char.add("b", b.astype(str))),
            "n": pa.array(n, pa.int64()),
            "ts": _ts_us(ts),
        }
    )
    nbytes = _write(table, path)
    present = sorted(set(zip(d.tolist(), b.tolist())))
    bins: dict[str, list[str]] = {}
    for di, bi in present:
        bins.setdefault(str(names[di]), []).append(f"b{bi}")
    return {
        "names": names.tolist(),
        "bins": bins,
        "t_end_s": (BASE_US // 1_000_000) + window_s,
        "sizes": {
            "rows": rows,
            "distributions": len(bins),
            "bins": len(present),
            "bytes": nbytes,
        },
    }


def _read_request(rng, dist: str, bins: list[str], now_s: int) -> dict:
    route = rng.choice(["/dist", "/get", "/nmostprobable"], p=[0.5, 0.25, 0.25])
    req = {"route": str(route), "distribution": dist, "now": now_s}
    if route == "/get":
        k = int(rng.integers(1, 3))
        req["fields"] = sorted(set(rng.choice(bins, size=k).tolist()))
    elif route == "/nmostprobable":
        req["N"] = int(rng.choice([1, 3, 5, 10]))
    return req


def read_list(seed: int, log: dict, count: int, now_offsets_s: list[int]) -> list[dict]:
    """``count`` reads on uniform keys."""
    rng = np.random.default_rng([seed, 2])
    names = sorted(log["bins"])
    reqs = []
    for _ in range(count):
        dist = names[int(rng.integers(len(names)))]
        reqs.append(_read_request(rng, dist, log["bins"][dist], log["t_end_s"] + int(rng.choice(now_offsets_s))))
    return reqs


def mixed_schedule(seed: int, log: dict, episodes: int, incrs_per_episode: int, now_offsets_s: list[int]) -> list[list[dict]]:
    """Closed-loop op lists, one per episode: read, then (incr, read) x k,
    on uniform keys. An incr names an existing bin or a new one."""
    rng = np.random.default_rng([seed, 3])
    names = sorted(log["bins"])
    out = []
    for _ in range(episodes):
        ops = []
        for j in range(incrs_per_episode + 1):
            if j:
                dist = names[int(rng.integers(len(names)))]
                bins = log["bins"][dist]
                field = str(rng.choice(bins)) if rng.random() < 0.7 else f"n{int(rng.integers(100))}"
                ops.append({"route": "/incr", "distribution": dist, "fields": [field], "N": int(rng.integers(1, 4))})
                # half the reads target the distribution just written
                read_dist = dist if rng.random() < 0.5 else names[int(rng.integers(len(names)))]
            else:
                read_dist = names[int(rng.integers(len(names)))]
            now_s = log["t_end_s"] + int(rng.choice(now_offsets_s))
            ops.append(_read_request(rng, read_dist, log["bins"][read_dist], now_s))
        out.append(ops)
    return out


# -- streaming micro-batch files -------------------------------------------


def _texts(rng, n: int, dup_share: float) -> list[str]:
    texts = []
    for i in range(n):
        if i > 10 and rng.random() < dup_share:
            src = texts[int(rng.integers(i))].split()
            src.insert(int(rng.integers(len(src) + 1)), "dup")
            texts.append(" ".join(src))
        else:
            texts.append(" ".join(rng.choice(WORDS, size=int(rng.integers(8, 90)))))
    return texts


def _stage(table: pa.Table, n_files: int, out_dir: str) -> int:
    """Split ``table`` into ``n_files`` parquet files with staggered mtimes,
    so a ``maxFilesPerTrigger=1`` stream reads them in a fixed order."""
    os.makedirs(out_dir, exist_ok=True)
    step = -(-table.num_rows // n_files)
    nbytes = 0
    for i in range(n_files):
        p = f"{out_dir}/part-{i:03d}.parquet"
        nbytes += _write(table.slice(i * step, step), p)
        os.utime(p, (1_700_000_000 + i, 1_700_000_000 + i))
    return nbytes


def stream_inputs(seed: int, sizes: dict, n_files: int, out_dir: str) -> dict:
    """Micro-batch files for the three loops: increments (forget_events),
    documents (doc_id, text) and embeddings (vec_id, embedding)."""
    rng = np.random.default_rng([seed, 5])
    ev = sizes["events"]
    users = max(10, ev // 66)
    incr = pa.table(
        {
            "distribution": pa.array(rng.choice(EVENT_TYPES, ev)),
            "bin": pa.array(rng.integers(0, users, ev).astype(str)),
            "n": pa.array(np.ones(ev, np.int64)),
            "ts": _ts_us(np.sort(BASE_US + rng.integers(0, 86_400 * 1_000_000, ev))),
        }
    )
    docs = pa.table(
        {
            "doc_id": pa.array(np.arange(sizes["documents"]), pa.int64()),
            "text": pa.array(_texts(rng, sizes["documents"], 0.1)),
        }
    )
    vn = sizes["embeddings"]
    vecs = rng.normal(size=(vn, 64))
    dup = rng.random(vn) < 0.1
    dup[:5] = False
    src = (rng.random(vn) * np.arange(vn)).astype(np.int64)
    vecs[dup] = vecs[src[dup]] + rng.normal(scale=0.01, size=(int(dup.sum()), 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    emb = pa.table(
        {
            "vec_id": pa.array(np.arange(vn), pa.int64()),
            "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        }
    )
    nbytes = {
        "events": _stage(incr, n_files, f"{out_dir}/events"),
        "documents": _stage(docs, n_files, f"{out_dir}/documents"),
        "embeddings": _stage(emb, n_files, f"{out_dir}/embeddings"),
    }
    return {
        "rows": {"events": ev, "documents": sizes["documents"], "embeddings": vn},
        "distinct_keys": int(len(set(zip(incr["distribution"].to_pylist(), incr["bin"].to_pylist())))),
        "bytes": nbytes,
        "files_per_loop": n_files,
    }
