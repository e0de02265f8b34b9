"""Regression locks for the review-found defects: negative-dt inflation,
sampler stall, and decay-mode plumbing through every read verb.
"""

from __future__ import annotations

import time
from datetime import datetime, timedelta, timezone

import numpy as np
import pytest

from forgettable_spark.api import ForgetTable
from forgettable_spark.functions.sampling import poisson_inverse_cdf

T0 = datetime(2024, 6, 1, 12, 0, 0, tzinfo=timezone.utc)


def test_future_events_never_gain_mass(spark):
    """count − floor(rate·dt) with dt < 0 used to ADD mass; dt clamps at 0."""
    ft = (
        ForgetTable.empty(spark, rate=0.5)
        .incr("c", ["future"], n=10, ts=T0 + timedelta(days=1))
    )
    rows = {r["bin"]: r["count"] for r in ft.dist("c", now=T0).collect()}
    assert rows == {"future": 10}


def test_sampler_far_tail_uniform_terminates():
    """u beyond the float-CDF plateau used to loop forever."""
    u = np.array([(2**53 - 1) / 2**53] * 3)
    k = poisson_inverse_cdf(np.array([10.0, 18.4, 1e-3]), u)
    assert (k >= 0).all() and (k < np.iinfo(np.int64).max).all()


def test_sampler_still_correct_quantiles_after_guard():
    assert poisson_inverse_cdf(np.array([5.0]), np.array([0.5]))[0] == 5
    assert poisson_inverse_cdf(np.array([19.0]), np.array([0.5]))[0] == np.iinfo(np.int64).max


def test_poisson_mode_consistent_across_read_verbs(spark):
    """A poisson-mode table must answer dist/get/n_most_probable with the
    same stochastic counts at the same instant (get and n_most_probable
    used to silently fall back to expected mode)."""
    ft = ForgetTable.empty(spark, rate=0.5, decay_mode="poisson", seed=7).incr(
        "d", ["x"], n=100, ts=T0
    )
    now = T0 + timedelta(seconds=10)
    d = {r["bin"]: r["count"] for r in ft.dist("d", now=now).collect()}
    g = {r["bin"]: r["count"] for r in ft.get("d", ["x"], now=now).collect()}
    t = {r["bin"]: r["count"] for r in ft.n_most_probable("d", n=1, now=now).collect()}
    assert d == g == t
    # and it genuinely sampled (expected mode would give exactly 95)
    exp = ForgetTable.empty(spark, rate=0.5).incr("d", ["x"], n=100, ts=T0)
    e = {r["bin"]: r["count"] for r in exp.dist("d", now=now).collect()}
    assert e == {"x": 95}


def test_naive_datetime_is_utc(spark):
    """A naive `now` must mean UTC regardless of host timezone."""
    ft = ForgetTable.empty(spark, rate=0.5).incr("c", ["r"], n=10, ts=T0)
    aware = {r["bin"]: r["count"] for r in ft.dist("c", now=T0 + timedelta(seconds=10)).collect()}
    naive = {
        r["bin"]: r["count"]
        for r in ft.dist("c", now=(T0 + timedelta(seconds=10)).replace(tzinfo=None)).collect()
    }
    assert aware == naive == {"r": 5}


@pytest.fixture()
def host_tz_new_york(monkeypatch):
    """Run with the host's local zone set to America/New_York."""
    monkeypatch.setenv("TZ", "America/New_York")
    time.tzset()
    yield
    monkeypatch.undo()
    time.tzset()


def test_naive_incr_ts_is_utc_on_non_utc_host(spark, host_tz_new_york):
    """A naive incr `ts` must mean UTC, like a naive `now`: pyspark's
    row conversion used to read it in the host's zone, which put this
    write 4 h in the future of the read and left it undecayed (r=10)."""
    t0 = datetime(2024, 6, 1, 12, 0, 0)
    ft = ForgetTable.empty(spark, rate=0.2).incr("c", ["r"], n=10, ts=t0)
    rows = {r["bin"]: r["count"] for r in ft.dist("c", now=t0 + timedelta(seconds=10)).collect()}
    assert rows == {"r": 8}


def test_stratified_sample_threshold_rounds_like_oracle(spark):
    """frac * BUCKETS can land just under an integer in doubles
    (0.5609 * 10000 = 5608.999…); the old truncating cast kept bucket
    5608 out while DECIMAL-arithmetic oracles kept it in. Thresholds now
    resolve to integers via Python round() on the driver, so a doc whose
    bucket is exactly 5608 must be KEPT at fraction 0.5609."""
    from pyspark.sql import functions as F

    from forgettable_spark.extensions.sampling import hash_bucket, stratified_sample

    # doc_id 10048 hashes to bucket 5608 under the default 'sample' salt
    docs = spark.createDataFrame(
        [(10048, "en"), (1, "en")], ["doc_id", "lang"]
    )
    b = {r["doc_id"]: r["bkt"] for r in docs.select(
        "doc_id", hash_bucket(F.col("doc_id"), "sample").alias("bkt")).collect()}
    assert b[10048] == 5608  # fixture guard: the id still hashes there
    kept = {r["doc_id"] for r in stratified_sample(docs, {"en": 0.5609}).collect()}
    assert 10048 in kept


def test_fuzzy_decontaminate_accepts_custom_id_col(spark):
    """ADVICE r6: banded() hard-aliases ids to doc_id/eval_doc_id, so the
    verify join must use those fixed names — joining on the caller's
    id_col raised AnalysisException for any id_col != 'doc_id'."""
    from forgettable_spark.extensions.contamination import (
        fuzzy_decontaminate_from_sketches,
    )
    from forgettable_spark.extensions.dedup import _minhash_sketches

    text = "alpha beta gamma delta epsilon zeta eta theta"
    corpus = spark.createDataFrame([(101, text), (102, "totally different words here")],
                                   ["rid", "body"])
    evals = spark.createDataFrame([(900, text)], ["rid", "body"])
    c_sigs = _minhash_sketches(corpus, "body", "rid", k=12)
    e_sigs = _minhash_sketches(evals, "body", "rid", k=12)
    rows = fuzzy_decontaminate_from_sketches(c_sigs, e_sigs, id_col="rid").collect()
    assert [(r["doc_id"], r["eval_doc_id"]) for r in rows] == [(101, 900)]
    assert rows[0]["jaccard"] == 1.0


def test_kmeans_oracle_degrades_to_omission_without_corpus():
    """ADVICE r6: an oracle_sql() fetch against an environment lacking
    the corpus must omit ann_kmeans_topk (rows-only check) instead of
    raising out of oracle_sql() and breaking EVERY oracle. Since the r8
    sf_dir threading the missing corpus is simulated by passing it
    explicitly rather than poking the (removed) _LAST_KMEANS_SF global."""
    from forgettable_spark import entrypoints_ext as ext

    oracles = ext.oracle_sql("/nonexistent/sf999")
    assert "ann_kmeans_topk" not in oracles
    assert "dedup_exact" in oracles  # the rest of the dict survives


def test_table_parts_skip_batch_dir_without_success(tmp_path):
    """ADVICE r6: an external reader (read_spine/read_sketches) racing an
    in-flight batch write must not read a torn batch-<id> directory —
    batch dirs are gated on _SUCCESS exactly like folds."""
    from forgettable_spark.streaming.admit import _table_parts

    root = tmp_path / "tbl"
    for name, done in (("batch-0", True), ("batch-1", False), ("batch-2", True)):
        d = root / name
        d.mkdir(parents=True)
        (d / "part-00000.parquet").write_bytes(b"torn")
        if done:
            (d / "_SUCCESS").write_text("")
    parts = _table_parts(str(root), exclude_batch=-1)
    assert [p.rsplit("/", 1)[1] for p in parts] == ["batch-0", "batch-2"]
