"""Streaming workload: the three loops the scripts drive, each an
``availableNow`` query over fixed micro-batch files (one file a trigger).

- publish: ``streaming_forget_table`` -> ``publish_stream_to_table``;
- admit: ``admission_stream`` over documents;
- semantic: ``semantic_admission_stream`` over embeddings.

Each loop gets as many files as its fold threshold (``fold_every``), so
every loop folds its delta chain in its last micro-batch. The set-up is
the engine's: the semantic codebook's training (median of
``setup_repeats``); the timed work runs from each query's start call to
its termination.

Checks: the published table holds one row per distinct (distribution,
bin) key, and admitted + duplicate verdicts cover every document/vector.
"""

from __future__ import annotations

import json
import os
import statistics
import time

from perfbench import common, gen

SEMANTIC = {"threshold": 0.38, "max_cell_size": 64, "k": 8}


def _du(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


def _jobs(store) -> list:
    lst = store.jobsList(None)
    return [lst.apply(i) for i in range(lst.size())]


def _loop_counters(store, before: set[int]) -> dict:
    """Jobs and executor CPU of the jobs that are not in ``before``."""
    jobs = [j for j in _jobs(store) if j.jobId() not in before]
    cpu = 0.0
    for j in jobs:
        ids = j.stageIds()
        for i in range(ids.size()):
            try:
                cpu += store.lastStageAttempt(ids.apply(i)).executorCpuTime() / 1e9
            except Exception:  # skipped stage: no attempt, no CPU
                pass
    return {"jobs": len(jobs), "cpu_s": cpu}


def _progress(q) -> list[dict]:
    return [json.loads(p.json) if hasattr(p, "json") else p for p in q.recentProgress]


def run(args, cfg: dict, work: str) -> dict:
    from perfbench.tracing import TRACE_CONF

    steal0 = common.steal_ticks()
    t = time.perf_counter()
    spark = common.spark_session(work, TRACE_CONF if args.trace else None)
    session_s = time.perf_counter() - t
    return _run(args, cfg, work, spark) | {
        "session_s": session_s,
        "host": {"steal_ticks": common.steal_ticks() - steal0, "load1": common.load1()},
    }


def _run(args, cfg, work, spark) -> dict:
    from forgettable_spark.extensions import codebook as cb
    from forgettable_spark.sources.txn import ManifestTable
    from forgettable_spark.streaming import admission_stream, publish_stream_to_table, read_increment_stream, streaming_forget_table
    from forgettable_spark.streaming.semantic_admit import semantic_admission_stream
    from pyspark.sql import functions as F

    t = time.perf_counter()
    src = f"{work}/in"
    sizes = gen.stream_inputs(args.seed, cfg["sizes"], cfg["files_per_loop"], src)
    inputs_s = time.perf_counter() - t
    trainings = []
    for _ in range(cfg["setup_repeats"]):
        t = time.perf_counter()
        centroids = cb.train_codebook(spark.read.parquet(f"{src}/embeddings"), k=SEMANTIC["k"])
        trainings.append(time.perf_counter() - t)

    store = spark.sparkContext._jsc.sc().statusStore()
    read = lambda d, schema: spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(f"{src}/{d}")  # noqa: E731
    table = ManifestTable(f"{work}/tbl")
    starts = {
        "publish": lambda: publish_stream_to_table(
            streaming_forget_table(read_increment_stream(spark, f"{src}/events"), rate=1e-12), table, f"{work}/ckpt-pub",
            available_now=True, fold_every=cfg["fold_every"],
        ),
        "admit": lambda: admission_stream(
            read("documents", "doc_id BIGINT, text STRING"),
            f"{work}/adm/index", f"{work}/adm/corpus", f"{work}/adm/verdicts", f"{work}/adm/ckpt",
            available_now=True, fold_every=cfg["fold_every"],
        ),
        "semantic": lambda: semantic_admission_stream(
            read("embeddings", "vec_id BIGINT, embedding ARRAY<FLOAT>"),
            f"{work}/sem/index", f"{work}/sem/verdicts", f"{work}/sem/ckpt", centroids,
            threshold=SEMANTIC["threshold"], available_now=True,
            max_cell_size=SEMANTIC["max_cell_size"], fold_every=cfg["fold_every"],
        ),
    }
    walls, progress, counters = {}, {}, {}
    for loop, start in starts.items():
        before = {j.jobId() for j in _jobs(store)}
        t = time.perf_counter()
        q = start()
        q.awaitTermination()
        walls[loop] = time.perf_counter() - t
        progress[loop] = _progress(q)
        counters[loop] = _loop_counters(store, before)

    rows = sizes["rows"]
    failed = []
    if table.read(spark).count() != sizes["distinct_keys"]:
        failed.append("publish: state rows != distinct keys")
    for loop, d, n in (("admit", "adm", rows["documents"]), ("semantic", "sem", rows["embeddings"])):
        v = spark.read.option("recursiveFileLookup", "true").parquet(f"{work}/{d}/verdicts")
        if v.filter(F.col("is_dup")).count() + v.filter(~F.col("is_dup")).count() != n:
            failed.append(f"{loop}: admitted + dup != inputs")
    for f in failed:
        print(f"stream check failed: {f}")
    out = {
        "attempted": 3,
        "samples": {loop: sum(1 for p in prog if p.get("numInputRows", 0) > 0) for loop, prog in progress.items()},
        "failed": len(failed),
        "work_s": sum(walls.values()),
        "setup_s": statistics.median(trainings),
        "inputs_s": inputs_s,
        "sizes": sizes,
        "named": {
            "publish_rows_per_s": rows["events"] / walls["publish"],
            "admit_docs_per_s": rows["documents"] / walls["admit"],
            "semantic_admit_vecs_per_s": rows["embeddings"] / walls["semantic"],
            "publish_jobs": counters["publish"]["jobs"],
            "admit_jobs": counters["admit"]["jobs"],
            "semantic_jobs": counters["semantic"]["jobs"],
        },
    }
    if args.trace:
        out["trace"] = _layers(walls, progress, counters, table, f"{work}/tbl", sizes["bytes"]["events"])
    return out


def _layers(walls, progress, counters, table, tbl_dir, input_bytes) -> dict:
    from perfbench.tracing import print_table

    out, rows = {}, []
    for loop, prog in progress.items():
        trig = [p for p in prog if p.get("durationMs")]
        dur = lambda k: [p["durationMs"].get(k, 0) for p in trig]  # noqa: E731
        n = max(1, sum(1 for p in trig if p.get("numInputRows", 0) > 0))
        commit = [a + b for a, b in zip(dur("walCommit"), dur("commitOffsets"))]
        offsets = [a + b for a, b in zip(dur("latestOffset"), dur("getBatch"))]
        other = [t - a - p - c - o for t, a, p, c, o in zip(dur("triggerExecution"), dur("addBatch"), dur("queryPlanning"), commit, offsets)]
        out[f"stream.{loop}.trigger_ms"] = statistics.mean(dur("triggerExecution") or [0])
        out[f"stream.{loop}.add_batch_ms"] = statistics.mean(dur("addBatch") or [0])
        out[f"stream.{loop}.plan_ms"] = statistics.mean(dur("queryPlanning") or [0])
        out[f"stream.{loop}.commit_ms"] = statistics.mean(commit or [0])
        out[f"stream.{loop}.jobs_per_batch"] = counters[loop]["jobs"] / n
        out[f"stream.{loop}.cpu_s"] = counters[loop]["cpu_s"]
        rows += [
            (f"{loop}: addBatch", sum(dur("addBatch")) / 1e3),
            (f"{loop}: queryPlanning", sum(dur("queryPlanning")) / 1e3),
            (f"{loop}: wal+commit", sum(commit) / 1e3),
            (f"{loop}: offsets+getBatch", sum(offsets) / 1e3),
            (f"{loop}: trigger other", sum(other) / 1e3),
        ]
    share = print_table("streaming loops", rows, sum(walls.values()), "s")
    out["trace.unattributed_pct"] = share * 100
    out["trace.overhead_pct"] = 0.0  # progress and status-store reads happen after each loop ends
    out["txn.versions"] = table.current_version() or 0
    out["txn.segments"] = table.segment_count()
    out["txn.bytes_per_input_byte"] = _du(tbl_dir) / input_bytes
    return out
