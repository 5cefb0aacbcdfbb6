"""Model tests for DSIR importance resampling (functions/importance.py).

Parity target: the pure-Python replica below IS the spec — hashed n-gram
bucket counts, add-1-smoothed per-bucket log-ratios in integer micro-nats,
count-weighted per-doc sums, deterministic md5-Gumbel top-k. The gate
oracle (the `domain_mixture` dsir leg) re-states the same spec in DuckDB
SQL; this file pins the Python/Spark side on hand-checkable corpora.
"""

from __future__ import annotations

import hashlib
import math

import pytest
from pyspark.sql import functions as F

from etl_edi_data_scrapper_spark.functions.importance import (
    MICRO,
    U32,
    dsir_log_weights,
    dsir_resample,
    gumbel_micro,
)

# --- pure-Python replica ---------------------------------------------------


def _py_word(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)


def _py_grams(text: str) -> list[str]:
    toks = text.split(" ")
    bigrams = [f"{toks[i]} {toks[i + 1]}" for i in range(len(toks) - 1)]
    return toks + bigrams


def _py_bucket_counts(docs: dict[int, str], n_buckets: int) -> dict[tuple[int, int], int]:
    tf: dict[tuple[int, int], int] = {}
    for doc_id, text in docs.items():
        for g in _py_grams(text):
            k = (doc_id, _py_word(g) % n_buckets)
            tf[k] = tf.get(k, 0) + 1
    return tf


def _py_log_micro(c: int, total: int, n_buckets: int, s: int = 1) -> int:
    return math.floor(math.log((c + s) / (total + s * n_buckets)) * MICRO)


def _py_log_weights(
    source: dict[int, str], target: dict[int, str], n_buckets: int
) -> dict[int, tuple[int, int]]:
    """doc_id -> (n_grams, logw_sum_micro), the dsir_log_weights contract."""
    src_tf = _py_bucket_counts(source, n_buckets)
    tgt_tf = _py_bucket_counts(target, n_buckets)
    src_b: dict[int, int] = {}
    tgt_b: dict[int, int] = {}
    for (_, b), c in src_tf.items():
        src_b[b] = src_b.get(b, 0) + c
    for (_, b), c in tgt_tf.items():
        tgt_b[b] = tgt_b.get(b, 0) + c
    t_s, t_t = sum(src_b.values()), sum(tgt_b.values())
    ratio = {
        b: _py_log_micro(tgt_b.get(b, 0), t_t, n_buckets)
        - _py_log_micro(src_b.get(b, 0), t_s, n_buckets)
        for b in set(src_b) | set(tgt_b)
    }
    out: dict[int, tuple[int, int]] = {}
    for (doc_id, b), c in src_tf.items():
        n, w = out.get(doc_id, (0, 0))
        out[doc_id] = (n + c, w + c * ratio[b])
    return out


def _py_gumbel(doc_id: int, seed: int = 0) -> int:
    w = _py_word(f"{seed}:{doc_id}")
    u = (w + 0.5) / U32
    return math.floor(-math.log(-math.log(u)) * MICRO)


SOURCE = {
    1: "the cat sat on the mat",
    2: "stock prices rose sharply in early trading",
    3: "le chat dort sur le tapis rouge",
    4: "the dog sat on the rug",
    5: "quarterly earnings beat analyst estimates again today",
    6: "le chien dort sur le tapis bleu",
    7: "a cat and a dog sat together",
}
TARGET = {
    101: "le chat mange sur le tapis",
    102: "le chien joue sur le tapis",
}
N_BUCKETS = 64


def _frames(spark):
    src = spark.createDataFrame(
        [(k, v) for k, v in SOURCE.items()], "doc_id long, text string"
    )
    tgt = spark.createDataFrame(
        [(k, v) for k, v in TARGET.items()], "doc_id long, text string"
    )
    return src, tgt


def test_dsir_log_weights_matches_pure_python_model(spark):
    src, tgt = _frames(spark)
    got = {
        r["doc_id"]: (r["n_grams"], r["logw_sum_micro"])
        for r in dsir_log_weights(src, tgt, n_buckets=N_BUCKETS).collect()
    }
    want = _py_log_weights(SOURCE, TARGET, N_BUCKETS)
    assert got == want


def test_dsir_upweights_target_like_documents(spark):
    """French docs (3, 6) share vocabulary with the French target corpus;
    every English doc must score strictly below both of them. Needs enough
    buckets (512 here) that hash collisions don't blur the corpora — at 64
    buckets the separation genuinely degrades (verified in the pure model),
    which is the expected feature-hashing behavior, not a bug."""
    src, tgt = _frames(spark)
    w = {
        r["doc_id"]: r["logw_sum_micro"] / r["n_grams"]
        for r in dsir_log_weights(src, tgt, n_buckets=512).collect()
    }
    assert min(w[3], w[6]) > max(w[k] for k in SOURCE if k not in (3, 6))


def test_gumbel_micro_deterministic_and_seed_sensitive(spark):
    df = spark.createDataFrame([(i,) for i in range(50)], "doc_id long")
    g0 = df.select("doc_id", gumbel_micro(F.col("doc_id"), 0).alias("g")).collect()
    g0_again = df.select("doc_id", gumbel_micro(F.col("doc_id"), 0).alias("g")).collect()
    assert sorted(map(tuple, g0)) == sorted(map(tuple, g0_again))
    assert {r["doc_id"]: r["g"] for r in g0} == {
        i: _py_gumbel(i, 0) for i in range(50)
    }
    g1 = {r["doc_id"]: r["g"] for r in
          df.select("doc_id", gumbel_micro(F.col("doc_id"), 1).alias("g")).collect()}
    assert any(g1[i] != _py_gumbel(i, 0) for i in range(50))


@pytest.mark.parametrize("seed", [0, 7])
def test_dsir_resample_topk_matches_brute_force(spark, seed):
    src, tgt = _frames(spark)
    rows = dsir_resample(src, tgt, n_keep=3, n_buckets=N_BUCKETS, seed=seed).collect()
    assert len(rows) == len(SOURCE)  # all source docs returned
    want_w = _py_log_weights(SOURCE, TARGET, N_BUCKETS)
    want_key = {k: want_w[k][1] + _py_gumbel(k, seed) for k in SOURCE}
    assert {r["doc_id"]: r["key_micro"] for r in rows} == want_key
    brute_top = set(sorted(SOURCE, key=lambda k: (-want_key[k], k))[:3])
    assert {r["doc_id"] for r in rows if r["dsir_keep"]} == brute_top


def test_dsir_resample_plan_has_no_global_window(spark):
    """Top-k must compile to TakeOrderedAndProject (per-partition heaps),
    never a partition-less Window/Sort — the 100 TB contract."""
    src, tgt = _frames(spark)
    plan = dsir_resample(src, tgt, n_keep=3, n_buckets=N_BUCKETS)._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "Window" not in plan


def test_dsir_resample_partition_count_stable(spark):
    src, tgt = _frames(spark)
    a = dsir_resample(src.repartition(1), tgt, n_keep=4, n_buckets=N_BUCKETS)
    b = dsir_resample(src.repartition(7), tgt, n_keep=4, n_buckets=N_BUCKETS)
    kept_a = {r["doc_id"] for r in a.collect() if r["dsir_keep"]}
    kept_b = {r["doc_id"] for r in b.collect() if r["dsir_keep"]}
    assert kept_a == kept_b and len(kept_a) == 4


def test_dsir_resample_n_keep_exceeding_corpus_keeps_all(spark):
    src, tgt = _frames(spark)
    rows = dsir_resample(src, tgt, n_keep=1000, n_buckets=N_BUCKETS).collect()
    assert len(rows) == len(SOURCE)
    assert all(r["dsir_keep"] for r in rows)


def test_dsir_ratio_table_persistence_and_score_parity(spark, tmp_path):
    """r14: fit_dsir_ratios + dsir_score reproduce dsir_log_weights
    exactly (the refactor is a pure factoring); the ratio table
    round-trips through its parquet+meta artifact and the load returns
    the recorded hash-space geometry; foreign/missing sidecars refuse."""
    import pytest

    from etl_edi_data_scrapper_spark.functions.importance import (
        dsir_log_weights,
        dsir_score,
        fit_dsir_ratios,
        load_dsir_ratios,
        save_dsir_ratios,
    )

    src = spark.createDataFrame(
        [(i, "raw crawl junk text %d with noise" % (i % 5)) for i in range(30)],
        "doc_id long, text string",
    )
    tgt = spark.createDataFrame(
        [(100 + i, "curated formal reference prose sample") for i in range(10)],
        "doc_id long, text string",
    )
    B = 256
    want = {r.doc_id: (r.n_grams, r.logw_sum_micro)
            for r in dsir_log_weights(src, tgt, n_buckets=B).collect()}

    ratios = fit_dsir_ratios(src, tgt, n_buckets=B)
    got = {r.doc_id: (r.n_grams, r.logw_sum_micro)
           for r in dsir_score(src, ratios, n_buckets=B).collect()}
    assert got == want

    path = str(tmp_path / "dsir")
    save_dsir_ratios(spark, ratios, path, n_buckets=B)
    loaded, nb = load_dsir_ratios(spark, path)
    assert nb == B
    got2 = {r.doc_id: (r.n_grams, r.logw_sum_micro)
            for r in dsir_score(src, loaded, n_buckets=nb).collect()}
    assert got2 == want

    with pytest.raises(FileNotFoundError):
        load_dsir_ratios(spark, str(tmp_path / "absent"))


def test_domain_mixture_pool_threads_do_not_outlive_a_failed_build(
    spark, sf_dir, monkeypatch
):
    """`q_domain_mixture` builds its DSIR leg on a worker thread while the
    main chain plans the mixture rates. When the main chain raises, the
    pool must still be shut down and its worker joined: a leaked worker
    keeps running Spark jobs (and holds an idle thread) after the caller
    has already seen the error."""
    import concurrent.futures

    from etl_edi_data_scrapper_spark import suite
    from etl_edi_data_scrapper_spark.functions import hashing

    pools = []

    class RecordingPool(concurrent.futures.ThreadPoolExecutor):
        def __init__(self, *args, **kwargs):
            super().__init__(*args, **kwargs)
            pools.append(self)

    def broken_hex_word(*args, **kwargs):
        raise RuntimeError("main chain failed")

    monkeypatch.setattr(concurrent.futures, "ThreadPoolExecutor", RecordingPool)
    # the main chain's membership filter is the first hex_word call after
    # the DSIR leg is submitted; importance.py bound its own reference at
    # import, so the DSIR leg itself is unaffected
    monkeypatch.setattr(hashing, "hex_word", broken_hex_word)
    with pytest.raises(RuntimeError, match="main chain failed"):
        suite.QUERIES["domain_mixture"](spark, sf_dir)
    assert len(pools) == 1
    workers = list(pools[0]._threads)
    assert workers, "the DSIR leg never reached the pool"
    assert not any(t.is_alive() for t in workers)
