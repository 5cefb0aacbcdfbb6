"""Product quantization (functions/similarity.pq_*) — Jégou/Douze/Schmid
TPAMI 2011 re-expressed as zero-shuffle DataFrame expressions.

Covers: encode parity against a pure-numpy reference, exact reconstruction
of codebook members, ADC == distance-to-reconstruction, full-probe IVFADC
== full-scan ADC, kmeans codebooks beating sample codebooks on clustered
data, and the zero-shuffle encode plan (the 100 TB contract: the corpus
never moves to be encoded).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_edi_data_scrapper_spark.functions.similarity import (
    ivf_index,
    ivfpq_topk,
    pq_adc_topk,
    pq_codebooks,
    pq_decode,
    pq_encode,
)


def _corpus(spark, vecs):
    return spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )


def _queries(spark, vecs, ids=None):
    ids = ids if ids is not None else range(len(vecs))
    return spark.createDataFrame(
        [(int(i), [float(x) for x in v]) for i, v in zip(ids, vecs)],
        "q_id long, q_vec array<float>",
    )


VECS8 = [
    [1, 0, 0, 0, 5, 5, 0, 0],
    [0, 1, 0, 0, 0, 0, 5, 5],
    [0, 0, 1, 0, 5, 0, 5, 0],
    [0, 0, 0, 1, 0, 5, 0, 5],
    [1, 1, 0, 0, 5, 4, 0, 1],
    [0, 0, 1, 1, 4, 0, 5, 1],
    [2, 0, 0, 0, 5, 5, 1, 0],
    [0, 2, 0, 0, 1, 0, 5, 4],
]


# ---- independent numpy/python oracles for the Arrow kernels ------------
# Pure-Python float arithmetic in the kernels' documented order: squared
# distances and dots are sequential left folds in index order, ADC sums
# add table entries in subspace order, ties go to the lowest id. IEEE
# doubles make the same ops in the same order bit-identical, so the
# kernels must match these to the last ulp.


def _h(i, d):
    import hashlib

    return (int(hashlib.md5(f"{i}:{d}".encode()).hexdigest()[:4], 16)
            / 32768.0) - 1.0


def _fold_sqdist(a, b):
    t = 0.0
    for x, y in zip(a, b):
        d = float(x) - float(y)
        t += d * d
    return t


def _fold_cosine(a, b):
    import math

    dot = na = nb = 0.0
    for x, y in zip(a, b):
        dot += float(x) * float(y)
    for x in a:
        na += float(x) * float(x)
    for y in b:
        nb += float(y) * float(y)
    den = math.sqrt(na) * math.sqrt(nb)
    return None if den == 0.0 else dot / den


def _oracle_encode(vec, cbs):
    d = len(cbs[0][0])
    return [
        min(range(len(cb)), key=lambda c: _fold_sqdist(vec[s * d:(s + 1) * d], cb[c]))
        for s, cb in enumerate(cbs)
    ]


def _oracle_tables(q, cbs):
    d = len(cbs[0][0])
    return [[_fold_sqdist(q[s * d:(s + 1) * d], e) for e in cb]
            for s, cb in enumerate(cbs)]


def _oracle_adc_topk(queries, cbs, codes, k, route=None, residual=False):
    """queries: [(q_id, q_vec)]; codes: {vec_id: (codes, cell)};
    route: None (full scan) or (centroid rows [(id, vec)], nprobe) —
    cosine-ranked (sim desc, centroid id asc), probed cells only.
    Returns sorted (q_id, rank, vec_id, adc)."""
    out = []
    for qid, q in queries:
        if route is None:
            tabs = {None: _oracle_tables(q, cbs)}
        else:
            cents, nprobe = route
            ranked = sorted(
                cents, key=lambda c: (-_fold_cosine(q, c[1]), c[0])
            )[:nprobe]
            tabs = {
                cid: _oracle_tables(
                    [float(a) - float(b) for a, b in zip(q, cv)] if residual else q,
                    cbs,
                )
                for cid, cv in ranked
            }
        scored = []
        for vid, (cs, cell) in codes.items():
            t = tabs.get(None if route is None else cell)
            if t is None:
                continue
            adc = 0.0
            for s, c in enumerate(cs):
                adc += t[s][c]
            scored.append((adc, vid))
        scored.sort()
        out += [(qid, r, vid, adc) for r, (adc, vid) in enumerate(scored[:k], 1)]
    return sorted(out)


def _vecs(df, id_col, vec_col):
    return [(r[0], [float(x) for x in r[1]])
            for r in df.select(id_col, vec_col).collect()]


def test_pq_encode_matches_numpy_reference(spark):
    import numpy as np

    m_sub, n_codes, dim = 4, 3, 8
    corpus = _corpus(spark, VECS8)
    cbs = pq_codebooks(corpus, m_sub=m_sub, n_codes=n_codes, dim=dim)
    got = {
        r.vec_id: list(r.codes)
        for r in pq_encode(corpus, cbs).select("vec_id", "codes").collect()
    }
    X = np.array(VECS8, dtype=np.float64)
    d = dim // m_sub
    for i, v in enumerate(X):
        for s in range(m_sub):
            sub = v[s * d : (s + 1) * d]
            cb = X[:n_codes, s * d : (s + 1) * d]  # sample codebook = lowest ids
            dists = ((cb - sub) ** 2).sum(axis=1)
            assert got[i][s] == int(dists.argmin())  # argmin = first min = lowest code


def test_pq_codebook_members_reconstruct_exactly(spark):
    corpus = _corpus(spark, VECS8)
    cbs = pq_codebooks(corpus, m_sub=2, n_codes=4, dim=8)
    enc = pq_encode(corpus, cbs)
    dec = pq_decode(enc, cbs, out_col="recon")
    rows = {r.vec_id: r for r in dec.filter(F.col("vec_id") < 4).collect()}
    for i in range(4):  # the n_codes lowest ids ARE codebook entries
        assert [float(x) for x in rows[i].recon] == [float(x) for x in VECS8[i]]


def test_adc_equals_distance_to_reconstruction(spark):
    """ADC(q, codes) = ||q - decode(codes)||² by construction (per-subspace
    sums of the same squared diffs); only float re-association separates
    them, so they agree to ~1e-9 relative."""
    corpus = _corpus(spark, VECS8)
    cbs = pq_codebooks(corpus, m_sub=4, n_codes=3, dim=8)
    enc = pq_encode(corpus, cbs)
    queries = _queries(spark, [[0.5, 0.1, 0, 0, 4.5, 4.0, 1.0, 0.2]], ids=[0])
    adc = {
        r.vec_id: r.adc
        for r in pq_adc_topk(queries, cbs, enc, k=len(VECS8)).collect()
    }
    q = [0.5, 0.1, 0, 0, 4.5, 4.0, 1.0, 0.2]
    recon = {
        r.vec_id: [float(x) for x in r.recon]
        for r in pq_decode(enc, cbs, out_col="recon").collect()
    }
    for vid, rv in recon.items():
        want = sum((a - b) ** 2 for a, b in zip(q, rv))
        assert adc[vid] == pytest.approx(want, rel=1e-9)


def test_ivfpq_full_probe_equals_full_scan_adc(spark):
    """nprobe = n_centroids probes every cell, so IVFADC must return
    exactly the full-scan ADC top-k (routing only partitions the scan)."""
    corpus = _corpus(spark, VECS8)
    cbs = pq_codebooks(corpus, m_sub=4, n_codes=3, dim=8)
    enc = pq_encode(corpus, cbs)
    queries = _queries(spark, VECS8[:2], ids=[0, 1])
    full = {
        (r.q_id, r.vec_id, r.rank)
        for r in pq_adc_topk(queries, cbs, enc, k=3).collect()
    }
    centroids, assigned = ivf_index(corpus, n_centroids=4)
    enc_assigned = pq_encode(assigned, cbs)
    routed = {
        (r.q_id, r.vec_id, r.rank)
        for r in ivfpq_topk(
            queries, centroids, enc_assigned, cbs, k=3, nprobe=4
        ).collect()
    }
    assert routed == full


def test_pq_kmeans_codebooks_reduce_quantization_error(spark):
    """Two tight clusters, and the n_codes lowest ids all sit in cluster A
    — the sample codebook can't represent cluster B, Lloyd's can. Mean
    squared reconstruction error must drop (the quality-path contract;
    float iteration is model-pinned here, not oracle-gated)."""
    a = [[10.0 + 0.1 * i, 10.0, 0.0, 0.0] for i in range(4)]
    b = [[-10.0, -10.0 - 0.1 * i, 0.0, 0.0] for i in range(4)]
    corpus = _corpus(spark, a + b)  # ids 0-3 = cluster A, 4-7 = cluster B

    def mse(cbs):
        enc = pq_encode(corpus, cbs)
        dec = pq_decode(enc, cbs, out_col="recon")
        err = F.aggregate(
            F.zip_with(
                "embedding",
                "recon",
                lambda x, r: (x.cast("double") - r) * (x.cast("double") - r),
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        return dec.agg(F.avg(err)).first()[0]

    sample_mse = mse(pq_codebooks(corpus, m_sub=2, n_codes=2, dim=4))
    km_mse = mse(
        pq_codebooks(corpus, m_sub=2, n_codes=2, dim=4, train="kmeans")
    )
    assert sample_mse > 50  # cluster B is ~20 units away per coordinate pair
    assert km_mse < sample_mse / 10


def test_pq_encode_plan_is_zero_shuffle(spark, sf_dir):
    """The encode contract at 100 TB: a pure per-row expression over a
    literal codebook — no Exchange anywhere in the encode plan (the
    codebook build may shuffle its n_codes rows; the CORPUS never moves)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cbs = pq_codebooks(emb, m_sub=8, n_codes=16, dim=64)
    plan = (
        pq_encode(emb.select("vec_id", "embedding"), cbs)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan


def test_pq_codes_shape_and_bounds(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cbs = pq_codebooks(emb, m_sub=8, n_codes=16, dim=64)
    bad = (
        pq_encode(emb, cbs)
        .filter(
            (F.size("codes") != 8)
            | F.exists("codes", lambda c: (c < 0) | (c >= 16))
        )
        .count()
    )
    assert bad == 0


def test_sample_codebooks_local_matches_dataframe_form(spark, sf_dir):
    """The driver-side fast path must be value-identical to collecting
    pq_codebooks(train='sample') — both widen float32→double exactly."""
    from etl_edi_data_scrapper_spark.functions.similarity import (
        _collect_codebooks,
        sample_codebooks_local,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    via_df = _collect_codebooks(pq_codebooks(emb, m_sub=8, n_codes=16, dim=64))
    local = sample_codebooks_local(emb, m_sub=8, n_codes=16, dim=64)
    assert local == via_df


def test_ivfpq_index_save_load_roundtrip(spark, sf_dir, tmp_path):
    """A saved+loaded IVFADC index answers identically to the in-memory
    one; the codes land partitioned by centroid_id (pruned probes) and
    WITHOUT the float vectors — the on-disk rows are (vec_id, codes),
    which is where PQ's ~32x compression cashes out."""
    import os

    from etl_edi_data_scrapper_spark.functions.similarity import (
        load_ivfpq_index,
        sample_codebooks_local,
        save_ivfpq_index,
    )

    corpus = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = corpus.limit(5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    cbs = sample_codebooks_local(corpus, m_sub=8, n_codes=16, dim=64)
    centroids, assigned = ivf_index(corpus, n_centroids=8)
    enc_assigned = pq_encode(assigned, cbs)
    want = {
        (r.q_id, r.rank): r.vec_id
        for r in ivfpq_topk(
            queries, centroids, enc_assigned, cbs, k=3, nprobe=2
        ).collect()
    }

    idx = str(tmp_path / "ivfpq")
    save_ivfpq_index(centroids, enc_assigned, cbs, idx)
    cells = [d for d in os.listdir(f"{idx}/codes") if d.startswith("centroid_id=")]
    assert len(cells) == 8
    c2, ea2, cb2 = load_ivfpq_index(spark, idx)
    assert set(ea2.columns) == {"vec_id", "codes", "centroid_id"}  # no floats
    got = {
        (r.q_id, r.rank): r.vec_id
        for r in ivfpq_topk(queries, c2, ea2, cb2, k=3, nprobe=2).collect()
    }
    assert got == want and len(got) == 15

    plan = (
        ea2.filter(F.col("centroid_id") == 3)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters: [isnotnull(centroid_id" in plan


def _clustered_corpus(spark):
    """Four well-separated clusters × 2 vectors, dim 4, ids 0-3 one per
    cluster (so sample IVF centroids land one per cluster) and ids 4-7
    their +0.25-shifted twins. The SAME shift everywhere on purpose: the
    residual set is exactly {0, 0.25}ᵈ, representable without error by a
    k=2 residual codebook — so the residual path's ADC ranking can be
    asserted EQUAL to exact L2, not merely close."""
    cents = [
        [20.0, 20.0, 20.0, 20.0],
        [20.0, -20.0, -20.0, 20.0],
        [-20.0, 20.0, -20.0, -20.0],
        [-20.0, -20.0, 20.0, -20.0],
    ]
    vecs = list(cents) + [[x + 0.25 for x in cents[j]] for j in range(4)]
    return _corpus(spark, vecs), vecs


def test_residual_ivfpq_cuts_reconstruction_error(spark):
    """Jégou §IV: residual codebooks only cover a cell's diameter, so the
    same code budget (2 codes × 2 subspaces) reconstructs near-exactly,
    while raw-PQ must stretch those 4 codewords across 4 clusters ±40
    apart — MSE drops by orders of magnitude."""
    from etl_edi_data_scrapper_spark.functions.similarity import (
        ivfpq_residual_index,
        pq_decode,
    )

    corpus, vecs = _clustered_corpus(spark)
    raw_cbs = pq_codebooks(corpus, m_sub=2, n_codes=2, dim=4, train="kmeans")
    raw = pq_decode(pq_encode(corpus, raw_cbs), raw_cbs, out_col="recon")

    centroids, enc, cbs = ivfpq_residual_index(
        corpus, n_centroids=4, m_sub=2, n_codes=2, dim=4, train="kmeans"
    )
    res = (
        pq_decode(enc, cbs, out_col="r")
        .join(centroids, "centroid_id")
        .withColumn(
            "recon",
            F.zip_with("centroid_vec", "r", lambda c, r: c.cast("double") + r),
        )
        .join(corpus, "vec_id")
    )

    err = F.aggregate(
        F.zip_with(
            "embedding",
            "recon",
            lambda x, r: (x.cast("double") - r) * (x.cast("double") - r),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    raw_mse = raw.agg(F.avg(err)).first()[0]
    res_mse = res.agg(F.avg(err)).first()[0]
    assert raw_mse > 100  # codewords stretched across ±40-apart clusters
    assert res_mse < raw_mse / 100  # residuals span only the ±1 cell noise


def test_residual_ivfpq_full_probe_matches_exact_l2(spark):
    """With near-exact reconstruction (previous test) and every cell
    probed, residual ADC ranking must reproduce the exact squared-L2
    top-3 on the clustered corpus."""
    from etl_edi_data_scrapper_spark.functions.similarity import (
        _sq_dist,
        ivfpq_residual_index,
    )
    from pyspark.sql import Window as W

    corpus, vecs = _clustered_corpus(spark)
    queries = _queries(spark, vecs[:3], ids=[0, 1, 2])
    centroids, enc, cbs = ivfpq_residual_index(
        corpus, n_centroids=4, m_sub=2, n_codes=2, dim=4, train="kmeans"
    )
    got = {
        (r.q_id, r.rank): r.vec_id
        for r in ivfpq_topk(
            queries, centroids, enc, cbs, k=3, nprobe=4, residual=True
        ).collect()
    }
    wl2 = W.partitionBy("q_id").orderBy(F.col("d").asc(), F.col("vec_id"))
    exact = {
        (r.q_id, r.rank): r.vec_id
        for r in corpus.crossJoin(F.broadcast(queries))
        .select(
            "q_id",
            "vec_id",
            _sq_dist(F.col("q_vec"), F.col("embedding")).alias("d"),
        )
        .withColumn("rank", F.row_number().over(wl2))
        .filter(F.col("rank") <= 3)
        .collect()
    }
    assert got == exact


def test_cli_ann_index_and_query_roundtrip(spark, sf_dir, tmp_path, capsys):
    """End-to-end operator surface: `ann-index` builds + persists the
    residual IVFADC layout (cells on disk, meta sidecar), `ann-query`
    loads it and answers top-k for a query parquet. Self-queries must
    rank themselves first — residual ADC distance to yourself is the
    reconstruction error, strictly below any far-cluster candidate."""
    from etl_edi_data_scrapper_spark.__main__ import main
    from etl_edi_data_scrapper_spark.engine import Engine

    idx, out = str(tmp_path / "idx"), str(tmp_path / "res")
    eng = Engine(spark=spark)
    rc = main(
        [
            "ann-index",
            "--embeddings", f"{sf_dir}/embeddings.parquet",
            "--output", idx,
            "--dim", "64", "--n-centroids", "8",
            "--m-sub", "8", "--n-codes", "16",
            "--train", "sample",
        ],
        engine=eng,
    )
    assert rc == 0
    assert "SUCCESS: ANN index built" in capsys.readouterr().out

    rc = main(
        [
            "ann-query",
            "--index", idx,
            "--queries", f"{sf_dir}/embeddings.parquet",
            "--output", out,
            "--k", "3", "--nprobe", "8",
        ],
        engine=eng,
    )
    assert rc == 0
    assert "SUCCESS: ANN query" in capsys.readouterr().out
    res = spark.read.parquet(out)
    n_q = spark.read.parquet(f"{sf_dir}/embeddings.parquet").count()
    assert res.count() == n_q * 3
    # self-retrieval is NOT guaranteed under quantization (your own ADC
    # distance is your reconstruction error; a near-twin's reconstruction
    # can land closer) — at 8×16 codes on the synthetic 64-dim corpus a
    # deterministic 57% of vectors still rank themselves first; assert
    # the comfortable floor, and that self lands in the top-3 for most
    top1 = {r.q_id: r.vec_id for r in res.filter(F.col("rank") == 1).collect()}
    self_top1 = sum(1 for q, v in top1.items() if q == v)
    assert self_top1 >= n_q // 2
    self_top3 = res.filter(F.col("q_id") == F.col("vec_id")).count()
    assert self_top3 >= int(n_q * 0.7)


def test_append_to_ivfpq_index_incremental_and_idempotent(spark, tmp_path):
    """FAISS's train-once/add-forever: build the index on the cluster
    exemplars, append their twins against FROZEN centroids+codebooks —
    appended ids become queryable (and, with exactly-representable
    residuals, rank themselves first); re-appending the same batch adds
    ZERO rows (replay idempotence by identity, the streaming-store
    discipline)."""
    from etl_edi_data_scrapper_spark.functions.similarity import (
        append_to_ivfpq_index,
        ivfpq_residual_index,
        ivfpq_topk,
        load_ivfpq_index,
        save_ivfpq_index,
    )

    corpus, vecs = _clustered_corpus(spark)
    base = corpus.filter(F.col("vec_id") < 4)  # one exemplar per cluster
    twins = corpus.filter(F.col("vec_id") >= 4)
    # codebooks must know the twin residual (0.25): train them on the full
    # corpus's residual range the way a production build would — here via
    # kmeans over base+twins residuals, then REBUILD the stored index from
    # base only so the append is a true incremental add
    centroids, enc_full, cbs = ivfpq_residual_index(
        corpus, n_centroids=4, m_sub=2, n_codes=2, dim=4, train="kmeans"
    )
    idx = str(tmp_path / "inc")
    save_ivfpq_index(
        centroids,
        enc_full.join(base.select("vec_id"), "vec_id"),
        cbs,
        idx,
        meta={"residual": True, "id_col": "vec_id"},
    )
    assert append_to_ivfpq_index(spark, twins, idx) == 4
    assert append_to_ivfpq_index(spark, twins, idx) == 0  # replay: no-op
    # appended rows answer queries: every twin retrieves itself at rank 1
    c2, e2, cb2 = load_ivfpq_index(spark, idx)
    assert e2.count() == 8
    queries = twins.select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    top1 = {
        r.q_id: r.vec_id
        for r in ivfpq_topk(
            queries, c2, e2, cb2, k=1, nprobe=4, residual=True
        ).collect()
    }
    assert top1 == {i: i for i in range(4, 8)}


def test_append_refuses_wrong_dimension_batch(spark, tmp_path):
    """A wrong-dim batch would encode NULL codes (slices past the array
    end) and the id anti-join would make the corruption PERMANENT — so
    the append validates against the codebooks' m_sub × d_sub and
    refuses loudly (r11 review)."""
    from etl_edi_data_scrapper_spark.functions.similarity import (
        append_to_ivfpq_index,
        ivfpq_residual_index,
        save_ivfpq_index,
    )

    corpus, _ = _clustered_corpus(spark)
    centroids, enc, cbs = ivfpq_residual_index(
        corpus, n_centroids=4, m_sub=2, n_codes=2, dim=4
    )
    idx = str(tmp_path / "dimchk")
    save_ivfpq_index(centroids, enc, cbs, idx, meta={"residual": True})
    short = spark.createDataFrame(
        [(100, [1.0, 2.0])], "vec_id long, embedding array<float>"
    )
    with pytest.raises(ValueError, match="dimension"):
        append_to_ivfpq_index(spark, short, idx)


def test_ivfpq_rerank_recovers_exact_ranking_in_probed_cells(spark):
    """The refinement tier: ADC shortlists k x k_factor, float originals
    re-rank exactly — with every cell probed and a shortlist as large as
    the corpus, the result must EQUAL the exact squared-L2 top-k (the
    ladder converges to exact); and on VECS8 the reranked top-1 is the
    query itself even where pure ADC's quantization error demotes it."""
    from etl_edi_data_scrapper_spark.functions.similarity import (
        _sq_dist,
        ivfpq_topk_rerank,
    )
    from pyspark.sql import Window as W

    corpus = _corpus(spark, VECS8)
    queries = _queries(spark, VECS8[:3], ids=[0, 1, 2])
    cbs = pq_codebooks(corpus, m_sub=4, n_codes=3, dim=8)
    centroids, assigned = ivf_index(corpus, n_centroids=4)
    enc = pq_encode(assigned, cbs)
    got = {
        (r.q_id, r.rank): r.vec_id
        for r in ivfpq_topk_rerank(
            queries, centroids, enc, cbs, corpus, k=3, k_factor=3, nprobe=4
        ).collect()
    }
    wl2 = W.partitionBy("q_id").orderBy(F.col("d").asc(), F.col("vec_id"))
    exact = {
        (r.q_id, r.rank): r.vec_id
        for r in corpus.crossJoin(F.broadcast(queries))
        .select(
            "q_id", "vec_id",
            _sq_dist(F.col("q_vec"), F.col("embedding")).alias("d"),
        )
        .withColumn("rank", F.row_number().over(wl2))
        .filter(F.col("rank") <= 3)
        .collect()
    }
    assert got == exact
    assert all(got[(q, 1)] == q for q in range(3))  # self top-1 restored


def test_cli_ann_query_rerank_tier(spark, sf_dir, tmp_path, capsys):
    """--rerank-corpus engages the refinement ladder from the CLI: exact
    float re-rank restores self-retrieval at rank 1 for ≥95% of queries
    (pure ADC manages ~57% at 8×16 codes) — the residue is selves whose
    quantization error pushed them out of the k×k_factor ADC shortlist
    entirely; rerank is exact only WITHIN the shortlist."""
    from etl_edi_data_scrapper_spark.__main__ import main
    from etl_edi_data_scrapper_spark.engine import Engine

    idx, out = str(tmp_path / "idx"), str(tmp_path / "res")
    eng = Engine(spark=spark)
    emb = f"{sf_dir}/embeddings.parquet"
    assert main(
        ["ann-index", "--embeddings", emb, "--output", idx,
         "--dim", "64", "--n-centroids", "8", "--m-sub", "8",
         "--n-codes", "16", "--train", "sample"],
        engine=eng,
    ) == 0
    capsys.readouterr()
    assert main(
        ["ann-query", "--index", idx, "--queries", emb, "--output", out,
         "--k", "3", "--nprobe", "8", "--rerank-corpus", emb,
         "--k-factor", "8"],
        engine=eng,
    ) == 0
    assert "rerank: exact" in capsys.readouterr().out
    res = spark.read.parquet(out)
    n_q = spark.read.parquet(emb).count()
    top1 = {r.q_id: r.vec_id for r in res.filter(F.col("rank") == 1).collect()}
    assert len(top1) == n_q
    self_top1 = sum(1 for q, v in top1.items() if q == v)
    assert self_top1 >= int(n_q * 0.95)  # vs ~57% for pure ADC


def test_meta_sidecar_always_written_and_flag_refusals(spark, tmp_path):
    """r12 hardening (ADVICE r11): `save_ivfpq_index` writes `_meta.json`
    even when called without one (legal pre-r12, and exactly the call that
    used to strand a residual index as assumed-raw); `append_to_ivfpq_index`
    and the CLI refuse LOUDLY when the residual flag is unknowable instead
    of guessing — a raw/residual mix-up ranks silently wrong, never errors.
    An explicit residual= overrides for legacy indexes."""
    from etl_edi_data_scrapper_spark import fsutil
    from etl_edi_data_scrapper_spark.functions.similarity import (
        append_to_ivfpq_index,
        ivfpq_residual_index,
        load_ivfpq_meta,
        save_ivfpq_index,
    )

    corpus, _ = _clustered_corpus(spark)
    centroids, enc, cbs = ivfpq_residual_index(
        corpus, n_centroids=4, m_sub=2, n_codes=2, dim=4
    )
    idx = str(tmp_path / "legacy")
    # meta=None + residual kwarg: the sidecar still lands, with the flag
    save_ivfpq_index(centroids, enc, cbs, idx, residual=True)
    assert load_ivfpq_meta(spark, idx) == {"residual": True}
    # simulate a true pre-r12 index: no sidecar at all
    fs, p = fsutil._fs(spark, f"{idx}/_meta.json")
    fs.delete(p, False)
    assert load_ivfpq_meta(spark, idx) == {}
    batch = spark.createDataFrame(
        [(100, [9.0, 9.0, 9.0, 9.0])], "vec_id long, embedding array<float>"
    )
    with pytest.raises(ValueError, match="residual"):
        append_to_ivfpq_index(spark, batch, idx)
    # explicit flag unblocks the legacy index
    assert append_to_ivfpq_index(spark, batch, idx, residual=True) == 1


def test_cli_ann_query_residual_flag_and_rerank_cols(
    spark, sf_dir, tmp_path, capsys
):
    """CLI side of the r12 hardening: `ann-query` refuses a flagless index
    under --residual auto (exit 2, argparse error), runs with an explicit
    --residual; --rerank-id-col/--rerank-vec-col map a rerank corpus whose
    schema differs from the index's, and a wrong column name fails with a
    CLI-level message naming the corpus, not an AnalysisException."""
    from etl_edi_data_scrapper_spark import fsutil
    from etl_edi_data_scrapper_spark.__main__ import main
    from etl_edi_data_scrapper_spark.engine import Engine

    idx, out = str(tmp_path / "idx"), str(tmp_path / "res")
    eng = Engine(spark=spark)
    emb = f"{sf_dir}/embeddings.parquet"
    assert main(
        ["ann-index", "--embeddings", emb, "--output", idx,
         "--dim", "64", "--n-centroids", "4", "--m-sub", "4",
         "--n-codes", "8", "--train", "sample"],
        engine=eng,
    ) == 0
    fs, p = fsutil._fs(spark, f"{idx}/_meta.json")
    fs.delete(p, False)  # make it a legacy flagless index
    with pytest.raises(SystemExit):
        main(
            ["ann-query", "--index", idx, "--queries", emb,
             "--output", out, "--k", "2"],
            engine=eng,
        )
    assert "residual" in capsys.readouterr().err
    # renamed rerank corpus: the col flags route it; id comes back mapped
    renamed = str(tmp_path / "renamed")
    spark.read.parquet(emb).withColumnRenamed(
        "vec_id", "doc_id"
    ).withColumnRenamed("embedding", "emb").write.parquet(renamed)
    assert main(
        ["ann-query", "--index", idx, "--queries", emb, "--output", out,
         "--k", "2", "--residual", "yes", "--rerank-corpus", renamed,
         "--rerank-id-col", "doc_id", "--rerank-vec-col", "emb"],
        engine=eng,
    ) == 0
    res = spark.read.parquet(out)
    assert res.filter(F.col("rank") == 1).count() > 0
    with pytest.raises(SystemExit):
        main(
            ["ann-query", "--index", idx, "--queries", emb, "--output", out,
             "--residual", "yes", "--rerank-corpus", renamed,
             "--rerank-id-col", "nope"],
            engine=eng,
        )
    assert "lacks column" in capsys.readouterr().err


def test_fit_fraction_sampled_codebooks_ab_vs_full_fit(spark):
    """r12 (r11 verdict #7): `fit_fraction` threads through the kmeans
    training paths (`pq_codebooks`, `ivf_index`, `ivfpq_residual_index`)
    — the FAISS train-on-a-sample discipline. A/B on a 6k-vector
    clustered corpus (30× the gate's 200-vector grain): the 25%-sample
    fit's reconstruction MSE stays within 1.5× of the full fit's, and
    BOTH kmeans fits beat the lowest-id 'sample' codebooks — sampling
    the TRAINING set must not degenerate to not training at all."""
    import hashlib

    from etl_edi_data_scrapper_spark.functions.similarity import (
        ivfpq_residual_index,
        pq_codebooks,
        pq_decode,
        pq_encode,
    )

    def h(i, d):  # deterministic pseudo-noise in [-1, 1)
        return (int(hashlib.md5(f"{i}:{d}".encode()).hexdigest()[:4], 16)
                / 32768.0) - 1.0

    cents = [[40.0 * ((c >> b) & 1) - 20.0 for b in range(8)]
             for c in range(16)]
    vecs = [[cents[i % 16][d] + h(i, d) for d in range(8)]
            for i in range(6000)]
    corpus = _corpus(spark, vecs)

    def mse(cbs):
        rec = pq_decode(
            pq_encode(corpus, cbs), cbs, out_col="rec"
        ).select(
            F.aggregate(
                F.zip_with(
                    "embedding", "rec",
                    lambda x, r: (x.cast("double") - r) * (x.cast("double") - r),
                ),
                F.lit(0.0), lambda a, v: a + v,
            ).alias("e")
        ).agg(F.avg("e")).first()[0]
        return rec

    full = mse(pq_codebooks(corpus, m_sub=4, n_codes=16, dim=8,
                            train="kmeans"))
    sampled = mse(pq_codebooks(corpus, m_sub=4, n_codes=16, dim=8,
                               train="kmeans", fit_fraction=0.25))
    lowest_id = mse(pq_codebooks(corpus, m_sub=4, n_codes=16, dim=8,
                                 train="sample"))
    assert sampled <= 1.5 * full
    assert sampled < lowest_id and full < lowest_id

    # the residual build accepts and uses it end-to-end (both quantizers)
    cents_df, enc, cbs = ivfpq_residual_index(
        corpus, n_centroids=16, m_sub=4, n_codes=16, dim=8,
        train="kmeans", coarse_train="kmeans", fit_fraction=0.25,
    )
    assert cents_df.count() == 16 and enc.count() == 6000


def test_arrow_kernels_match_numpy_oracle(spark):
    """`pq_encode`, `ivf_assign` and `assign_clusters` run one Arrow
    kernel each; an independent pure-Python oracle fixes their values
    and tie rules: per-subspace code = argmin of the sequential-fold
    squared distance, cell = argmax cosine, cluster = argmin squared
    distance, every tie to the lowest id. Duplicate codebook entries and
    centroids (same vector, higher id) make the tie rule observable."""
    from etl_edi_data_scrapper_spark.functions.clustering import (
        assign_clusters,
    )
    from etl_edi_data_scrapper_spark.functions.similarity import (
        _collect_codebooks,
        ivf_assign,
    )

    vecs = [[10.0 * _h(i, d) for d in range(8)] for i in range(400)]
    corpus = _corpus(spark, vecs)
    rows = _vecs(corpus, "vec_id", "embedding")  # float32-rounded values
    # 75 codes x 4 subspaces; entry 74 duplicates entry 0 in every subspace
    cbs = _collect_codebooks(
        pq_codebooks(corpus, m_sub=4, n_codes=75, dim=8, train="sample")
    )
    cbs = [cb[:74] + [cb[0]] for cb in cbs]
    got = {r.vec_id: list(r.codes) for r in pq_encode(corpus, cbs).collect()}
    assert got == {vid: _oracle_encode(v, cbs) for vid, v in rows}
    assert all(74 not in c for c in got.values())

    cents = [(i, v) for i, v in rows[:70]]
    centroids = spark.createDataFrame(
        cents, "centroid_id long, centroid_vec array<double>"
    )
    got = {r.vec_id: r.centroid_id for r in ivf_assign(corpus, centroids).collect()}
    want = {
        vid: min(cents, key=lambda c: (-_fold_cosine(v, c[1]), c[0]))[0]
        for vid, v in rows
    }
    assert got == want

    flat = [v for _, v in rows[:70]] + [rows[5][1]]  # 70 duplicates 5
    got = {r.vec_id: r.cluster
           for r in assign_clusters(corpus, "embedding", flat).collect()}
    want = {
        vid: min(range(len(flat)), key=lambda c: _fold_sqdist(v, flat[c]))
        for vid, v in rows
    }
    assert got == want and got[5] == 5


def test_ann_compact_bounds_files_and_preserves_answers(
    spark, tmp_path, capsys
):
    """r12 (r11 verdict #3): `append_to_ivfpq_index` appends one file per
    batch per touched cell forever; `compact_ivfpq_codes` (CLI
    `ann-compact`) rewrites the code store to ONE file per cell via the
    temp-write + Hadoop-FS swap discipline. Query answers are
    byte-identical pre/post (same rows, same codes — it is purely a
    file-layout rewrite), `_meta.json`/centroids/codebooks untouched,
    and the file count drops to ≤ the number of live cells."""
    from etl_edi_data_scrapper_spark.__main__ import main
    from etl_edi_data_scrapper_spark.engine import Engine
    from etl_edi_data_scrapper_spark.functions.similarity import (
        append_to_ivfpq_index,
        compact_ivfpq_codes,
        ivfpq_residual_index,
        ivfpq_topk,
        load_ivfpq_index,
        load_ivfpq_meta,
        save_ivfpq_index,
    )

    corpus, vecs = _clustered_corpus(spark)
    base = corpus.filter(F.col("vec_id") < 4)
    centroids, enc_full, cbs = ivfpq_residual_index(
        corpus, n_centroids=4, m_sub=2, n_codes=2, dim=4, train="kmeans"
    )
    idx = str(tmp_path / "idx")
    save_ivfpq_index(
        centroids,
        enc_full.join(base.select("vec_id"), "vec_id"),
        cbs,
        idx,
        meta={"residual": True, "id_col": "vec_id"},
    )
    # two appends -> extra files in every touched cell
    assert append_to_ivfpq_index(
        spark, corpus.filter((F.col("vec_id") >= 4) & (F.col("vec_id") < 6)), idx
    ) == 2
    assert append_to_ivfpq_index(
        spark, corpus.filter(F.col("vec_id") >= 6), idx
    ) == 2

    queries = corpus.select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )

    def answers():
        c, e, cb = load_ivfpq_index(spark, idx)
        return sorted(
            (r.q_id, r.rank, r.vec_id, round(r.adc, 9))
            for r in ivfpq_topk(
                queries, c, e, cb, k=3, nprobe=4, residual=True
            ).collect()
        )

    pre = answers()
    meta_pre = load_ivfpq_meta(spark, idx)
    fb, fa = compact_ivfpq_codes(spark, idx)
    assert fb > fa and fa <= 4  # one file per live cell
    assert answers() == pre
    assert load_ivfpq_meta(spark, idx) == meta_pre
    # and through the CLI (idempotent: already one file per cell)
    assert main(["ann-compact", "--index", idx], engine=Engine(spark=spark)) == 0
    assert "ANN index compacted" in capsys.readouterr().out
    assert answers() == pre


def test_adc_kernels_bit_identical_to_numpy_oracle(spark):
    """`pq_adc_topk` and `ivfpq_topk` (raw and residual) against the
    pure-Python ADC oracle: tables, lookup sums and routing cosines are
    sequential folds, ties break (adc asc, id asc) / (sim desc, centroid
    asc) — asserted on exact (id, rank, adc-to-the-double) tuples at a k
    that forces tie-breaks, through the per-partition map-side combine
    (repartitioned input)."""
    from etl_edi_data_scrapper_spark.functions.similarity import (
        _collect_codebooks,
        ivfpq_residual_index,
    )

    vecs = [[10.0 * _h(i, d) for d in range(8)] for i in range(300)]
    corpus = _corpus(spark, vecs).repartition(7)
    queries = _queries(spark, [vecs[i] for i in (3, 77, 150)], ids=(3, 77, 150))
    qs = _vecs(queries, "q_id", "q_vec")

    def rows(df):
        return sorted(
            (r.q_id, r.rank, r.vec_id, r.adc) for r in df.collect()
        )

    cbs = _collect_codebooks(
        pq_codebooks(corpus, m_sub=4, n_codes=8, dim=8, train="sample")
    )
    enc = pq_encode(corpus, cbs)
    codes = {r.vec_id: (list(r.codes), None) for r in enc.collect()}
    got = rows(pq_adc_topk(queries, cbs, enc, k=7))
    assert got == _oracle_adc_topk(qs, cbs, codes, 7) and len(got) == 21

    centroids, assigned = ivf_index(corpus, n_centroids=6)
    enc_a = pq_encode(assigned, cbs).select("vec_id", "codes", "centroid_id")
    codes = {r.vec_id: (list(r.codes), r.centroid_id) for r in enc_a.collect()}
    cents = _vecs(centroids, "centroid_id", "centroid_vec")
    got = rows(ivfpq_topk(queries, centroids, enc_a, cbs, k=7, nprobe=3))
    assert got == _oracle_adc_topk(qs, cbs, codes, 7, route=(cents, 3))
    assert len(got) == 21
    # an empty query set plans and answers nothing (no 1-d table build)
    none = queries.limit(0)
    assert pq_adc_topk(none, cbs, enc, k=7).count() == 0
    assert ivfpq_topk(none, centroids, enc_a, cbs, k=7, nprobe=3).count() == 0

    rcen, renc, rcbs = ivfpq_residual_index(
        corpus, n_centroids=6, m_sub=4, n_codes=8, dim=8
    )
    rcbs = _collect_codebooks(rcbs)
    codes = {r.vec_id: (list(r.codes), r.centroid_id) for r in renc.collect()}
    cents = _vecs(rcen, "centroid_id", "centroid_vec")
    got = rows(ivfpq_topk(queries, rcen, renc, rcbs, k=7, nprobe=3,
                          residual=True))
    assert got == _oracle_adc_topk(
        qs, rcbs, codes, 7, route=(cents, 3), residual=True
    )
    assert len(got) == 21


def test_ivf_assign_zero_norm_centroid_parity(spark):
    """r13 (ADVICE medium): a zero-norm centroid (e.g. a failed-embed
    row sampled as a literal-train centroid) must never capture the
    corpus. Its cosine is undefined (SQL: NULL, sorted last), so the
    kernel masks it instead of letting a NaN column win argmax for EVERY
    vector. A zero-norm VECTOR has no cosine to any centroid and routes
    to the lowest centroid_id — degenerate or not — the SQL oracles'
    `sim desc nulls last, centroid_id` window outcome."""
    from etl_edi_data_scrapper_spark.functions.similarity import ivf_assign

    vecs = [[10.0 * _h(i, d) for d in range(8)] for i in range(100)]
    vecs[17] = [0.0] * 8  # a zero-norm corpus vector rides along
    corpus = _corpus(spark, vecs)
    rows = _vecs(corpus, "vec_id", "embedding")
    cent_rows = [(0, [0.0] * 8)] + [  # centroid_id 0 is DEGENERATE
        (i + 1, [float(x) for x in vecs[i * 7]]) for i in range(9)
    ]

    def oracle(cents):
        out = {}
        for vid, v in rows:
            sims = [(_fold_cosine(v, cv), cid) for cid, cv in cents]
            live = [(-sim, cid) for sim, cid in sims if sim is not None]
            out[vid] = min(live)[1] if live else min(c for c, _ in cents)
        return out

    centroids = spark.createDataFrame(
        cent_rows, "centroid_id long, centroid_vec array<double>"
    )
    got = {r.vec_id: r.centroid_id for r in
           ivf_assign(corpus, centroids).collect()}
    assert got == oracle(cent_rows)
    assert 0 not in {c for v, c in got.items() if v != 17}
    assert got[17] == 0  # zero vector: no cosine anywhere -> lowest id
    # and with no degenerate centroid, the zero VECTOR still agrees
    clean = spark.createDataFrame(
        cent_rows[1:], "centroid_id long, centroid_vec array<double>"
    )
    got = {r.vec_id: r.centroid_id for r in ivf_assign(corpus, clean).collect()}
    assert got == oracle(cent_rows[1:]) and got[17] == 1


def test_adc_pandas_strategy_string_ids(spark):
    """r13 (ADVICE): string ids ride the Arrow kernels (`pq_adc_topk`,
    `ivfpq_topk`, `ivf_assign` with literal-trained string centroid
    ids) and tie-break like the SQL window (adc asc, id asc —
    lexicographic for strings); unsupported id types raise a clear
    error instead of a numpy cast failure."""
    import pytest as _pytest

    from etl_edi_data_scrapper_spark.functions.similarity import (
        _collect_codebooks,
        ivf_assign,
    )

    vecs = [[10.0 * _h(i, d) for d in range(8)] for i in range(120)]
    corpus = spark.createDataFrame(
        [(f"doc-{i:04d}", [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id string, embedding array<float>",
    ).repartition(5)
    queries = spark.createDataFrame(
        [(f"q-{i}", [float(x) for x in vecs[i]]) for i in (3, 50)],
        "q_id string, q_vec array<float>",
    )
    qs = _vecs(queries, "q_id", "q_vec")
    cbs = _collect_codebooks(pq_codebooks(
        corpus, m_sub=4, n_codes=8, dim=8, train="sample", c_id="vec_id"
    ))
    enc = pq_encode(corpus, cbs)

    def rows(df):
        return sorted((r.q_id, r.rank, r.vec_id, r.adc) for r in df.collect())

    codes = {r.vec_id: (list(r.codes), None) for r in enc.collect()}
    got = rows(pq_adc_topk(queries, cbs, enc, k=5))
    assert got == _oracle_adc_topk(qs, cbs, codes, 5) and len(got) == 10

    centroids, assigned = ivf_index(corpus, n_centroids=4, c_id="vec_id")
    enc_a = pq_encode(assigned, cbs).select("vec_id", "codes", "centroid_id")
    codes = {r.vec_id: (list(r.codes), r.centroid_id) for r in enc_a.collect()}
    cents = _vecs(centroids, "centroid_id", "centroid_vec")
    got = rows(ivfpq_topk(queries, centroids, enc_a, cbs, k=5, nprobe=2))
    assert got == _oracle_adc_topk(qs, cbs, codes, 5, route=(cents, 2))
    assert len(got) == 10

    # ivf_assign carries string centroid ids the same way (literal
    # training reuses corpus ids, so this is the default shape)
    got = {r.vec_id: r.centroid_id for r in
           ivf_assign(corpus, centroids).collect()}
    want = {vid: min(cents, key=lambda c: (-_fold_cosine(v, c[1]), c[0]))[0]
            for vid, v in _vecs(corpus, "vec_id", "embedding")}
    assert got == want

    bad = corpus.withColumn("vec_id", F.col("vec_id").cast("binary"))
    with _pytest.raises(ValueError, match="integral or string id"):
        pq_adc_topk(queries, cbs, pq_encode(bad, cbs), k=5)


@pytest.mark.parametrize("id_type", ["decimal(10,0)", "double", "date"])
def test_adc_unsupported_id_type_error_names_the_fix(spark, id_type):
    """With the Arrow kernels the only path, an id column they cannot
    carry must fail at plan build with a message that names the column,
    its type and the cast that fixes it — for the corpus id, the query
    id and `ivf_assign`'s centroid id alike."""
    import re

    from etl_edi_data_scrapper_spark.functions.similarity import ivf_assign

    corpus = _corpus(spark, VECS8)
    cbs = pq_codebooks(corpus, m_sub=4, n_codes=3, dim=8)
    queries = _queries(spark, VECS8[:2])
    cast = "date_add(DATE'2020-01-01', CAST(vec_id AS INT))" if id_type == "date" \
        else f"CAST(vec_id AS {id_type})"
    bad = pq_encode(corpus, cbs).withColumn("vec_id", F.expr(cast))
    t = bad.schema["vec_id"].dataType.simpleString()
    msg = re.escape(f"'vec_id' is {t}. Cast it to bigint or string first")
    with pytest.raises(ValueError, match=msg):
        pq_adc_topk(queries, cbs, bad, k=2)
    bad_q = queries.withColumn("q_id", F.expr(cast.replace("vec_id", "q_id")))
    with pytest.raises(ValueError, match="'q_id' is "):
        pq_adc_topk(bad_q, cbs, pq_encode(corpus, cbs), k=2)
    cents = corpus.limit(2).select(
        F.expr(cast).alias("centroid_id"), F.col("embedding").alias("centroid_vec")
    )
    with pytest.raises(ValueError, match="'centroid_id' is "):
        ivf_assign(corpus, cents)


def test_compaction_crash_leaves_recoverable_state(spark, tmp_path):
    """r13 (ADVICE): a driver death mid-swap must not strand the codes
    where only this module's source says to look. The swap is now
    rename-aside (codes -> codes__precompact) before the new layout
    renames in, and `load_ivfpq_index` names the surviving working dir
    in its error when `codes` is missing."""
    from etl_edi_data_scrapper_spark.functions.similarity import (
        ivfpq_residual_index,
        load_ivfpq_index,
        save_ivfpq_index,
    )

    corpus = _corpus(spark, VECS8)
    centroids, enc, cbs = ivfpq_residual_index(
        corpus, n_centroids=2, m_sub=2, n_codes=2, dim=8
    )
    idx = str(tmp_path / "idx")
    save_ivfpq_index(centroids, enc, cbs, idx, meta={"residual": True})
    import shutil

    # simulate the crash window: old codes moved aside, rename-in never ran
    shutil.move(f"{idx}/codes", f"{idx}/codes__precompact")
    with pytest.raises(IOError, match="codes__precompact"):
        load_ivfpq_index(spark, idx)
    # the documented recovery is a rename back
    shutil.move(f"{idx}/codes__precompact", f"{idx}/codes")
    _, codes_df, _ = load_ivfpq_index(spark, idx)
    assert codes_df.count() == len(VECS8)

def test_opq_rotation_orthonormal_deterministic_and_invariant(spark):
    """r13 (verdict #3): OPQ-NP (Ge et al. 2013). The trained rotation
    must be orthonormal (L2/cosine distances — and therefore exact
    top-k — are invariant under it; only quantization error changes),
    and training must be deterministic (md5-ordered sample, identity
    init, numpy SVD) so index builds are reproducible."""
    import hashlib

    import numpy as np

    from etl_edi_data_scrapper_spark.functions.similarity import (
        apply_rotation,
        opq_train,
    )

    def h(i, d):
        return (int(hashlib.md5(f"{i}:{d}".encode()).hexdigest()[:4], 16)
                / 32768.0) - 1.0

    vecs = [[10.0 * h(i, d) for d in range(8)] for i in range(200)]
    corpus = _corpus(spark, vecs)
    r1, cbs1 = opq_train(corpus, m_sub=4, n_codes=8, dim=8, n_iters=3,
                         kmeans_iters=2)
    r2, cbs2 = opq_train(corpus, m_sub=4, n_codes=8, dim=8, n_iters=3,
                         kmeans_iters=2)
    assert r1 == r2 and cbs1 == cbs2
    R = np.asarray(r1)
    assert np.allclose(R @ R.T, np.eye(8), atol=1e-10)

    rot = {r.vec_id: np.asarray(r.embedding) for r in
           apply_rotation(corpus, r1).collect()}
    x = np.asarray(vecs, dtype=np.float64)
    # exact top-3 (squared L2, lowest-id ties) identical pre/post rotation
    for qi in (0, 17, 99):
        d_raw = ((x - x[qi]) ** 2).sum(1)
        xr = np.stack([rot[i] for i in range(len(vecs))])
        d_rot = ((xr - xr[qi]) ** 2).sum(1)
        top_raw = np.lexsort((np.arange(len(x)), d_raw))[:3]
        top_rot = np.lexsort((np.arange(len(x)), d_rot))[:3]
        assert list(top_raw) == list(top_rot)
        assert np.allclose(np.sort(d_raw), np.sort(d_rot), rtol=1e-9)


def test_opq_cuts_quantization_error_on_anisotropic_data(spark):
    """The OPQ win case (Ge et al. §1): PQ's blind d/m_sub slicing
    suffers when variance is unbalanced across subspaces. Build vectors
    whose energy is concentrated in the FIRST subspace (the others
    near-constant) after a fixed mixing rotation; at the same code
    budget the learned rotation must reconstruct with materially lower
    MSE than plain PQ."""
    import numpy as np

    from etl_edi_data_scrapper_spark.functions.similarity import (
        apply_rotation,
        opq_train,
        pq_codebooks,
        pq_decode,
        pq_encode,
    )

    rng = np.random.default_rng(3)
    n, dim, m_sub, n_codes = 400, 8, 4, 8
    z = np.zeros((n, dim))
    z[:, :2] = rng.normal(0, 10.0, size=(n, 2))  # 2 high-variance dims
    z[:, 2:] = rng.normal(0, 0.05, size=(n, dim - 2))
    mix, _ = np.linalg.qr(rng.normal(size=(dim, dim)))
    x = z @ mix  # variance smeared across ALL subspaces
    corpus = _corpus(spark, x.tolist())

    def mse(decoded, ref):
        got = {r.vec_id: np.asarray(r.recon) for r in decoded.collect()}
        return float(np.mean([((got[i] - ref[i]) ** 2).sum()
                              for i in range(n)]))

    pq_cbs = pq_codebooks(corpus, m_sub=m_sub, n_codes=n_codes, dim=dim,
                          train="kmeans")
    enc = pq_encode(corpus, pq_cbs)
    plain = mse(pq_decode(enc, pq_cbs, out_col="recon"), x)

    R, opq_cbs = opq_train(corpus, m_sub=m_sub, n_codes=n_codes, dim=dim,
                           n_iters=8, kmeans_iters=4)
    rotated = apply_rotation(corpus, R)
    enc_r = pq_encode(rotated, opq_cbs)
    xr = x @ np.asarray(R)
    opq = mse(pq_decode(enc_r, opq_cbs, out_col="recon"), xr)
    # rotation-invariance makes the two MSEs directly comparable
    assert opq < plain * 0.7, (opq, plain)


def test_apply_rotation_plan_is_zero_shuffle(spark, sf_dir):
    """The OPQ preprocessing must not move the corpus: rotate + encode
    is a single narrow stage (ArrowEvalPython over the scan; no
    Exchange), same contract as the raw encode."""
    import numpy as np

    from etl_edi_data_scrapper_spark.functions.similarity import (
        apply_rotation,
        pq_encode,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    dim = len(emb.select("embedding").first()[0])
    R = np.eye(dim).tolist()
    cbs = [[[0.0] * (dim // 8)] * 4 for _ in range(8)]
    plan = (
        pq_encode(apply_rotation(emb, R), cbs)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan

def test_cli_ann_index_opq_roundtrip_and_append(spark, tmp_path, capsys):
    """r13: `ann-index --opq` builds the whole index in OPQ-rotated
    space and stores the rotation in _meta.json; `ann-query` and
    `append_to_ivfpq_index` apply it automatically (an unrotated batch
    against rotated quantizers would encode silently wrong). With full
    nprobe + exact rerank, every query's own vector must come back at
    rank 1 with d == 0 — rotation or not."""
    import numpy as np

    from etl_edi_data_scrapper_spark.__main__ import main
    from etl_edi_data_scrapper_spark.engine import Engine
    from etl_edi_data_scrapper_spark.functions.similarity import (
        append_to_ivfpq_index,
        load_ivfpq_meta,
    )

    rng = np.random.default_rng(5)
    x = rng.normal(0, 3.0, size=(40, 8))
    emb = str(tmp_path / "emb")
    spark.createDataFrame(
        [(i, [float(v) for v in x[i]]) for i in range(32)],
        "vec_id long, embedding array<float>",
    ).write.parquet(emb)
    idx = str(tmp_path / "idx")
    eng = Engine(spark=spark)
    assert main(
        ["ann-index", "--embeddings", emb, "--output", idx,
         "--dim", "8", "--n-centroids", "2", "--m-sub", "4",
         "--n-codes", "4", "--opq"],
        engine=eng,
    ) == 0
    meta = load_ivfpq_meta(spark, idx)
    R = np.asarray(meta["opq_rotation"])
    assert R.shape == (8, 8) and np.allclose(R @ R.T, np.eye(8), atol=1e-9)

    # append UNROTATED vectors: the rotation must ride the meta
    batch = spark.createDataFrame(
        [(i, [float(v) for v in x[i]]) for i in range(32, 40)],
        "vec_id long, embedding array<float>",
    )
    assert append_to_ivfpq_index(spark, batch, idx) == 8

    qpath = str(tmp_path / "q")
    spark.createDataFrame(
        [(i, [float(v) for v in x[i]]) for i in (3, 17, 35)],
        "vec_id long, embedding array<float>",
    ).write.parquet(qpath)
    out = str(tmp_path / "res")
    assert main(
        ["ann-query", "--index", idx, "--queries", qpath, "--output", out,
         "--k", "3", "--nprobe", "2", "--rerank-corpus", emb,
         "--k-factor", "4"],
        engine=eng,
    ) == 0
    capsys.readouterr()
    res = {(r.q_id, r.rank): (r.vec_id, r.d)
           for r in spark.read.parquet(out).collect()}
    for q in (3, 17):  # in the rerank corpus: exact self-match at rank 1
        vid, d = res[(q, 1)]
        assert vid == q and d == 0.0
    # the appended vector is routed/encoded consistently: shortlist
    # includes it for its own query (rerank corpus lacks id 35, so just
    # assert the ADC tier finds it without rerank)
    out2 = str(tmp_path / "res2")
    assert main(
        ["ann-query", "--index", idx, "--queries", qpath, "--output", out2,
         "--k", "1", "--nprobe", "2"],
        engine=eng,
    ) == 0
    got = {r.q_id: r.vec_id for r in spark.read.parquet(out2).collect()}
    assert got[35] == 35


def test_opq_auto_decision_is_measured_and_held_out(spark):
    """r14 (r13 verdict #1): `opq_train_auto` must MEASURE the rotation
    decision at the geometry the r13 recall ladder mapped — raw on an
    ISOTROPIC corpus (i.i.d. gaussian: variance already balanced, the
    ladder measured rotation at −14% recall), rotated on an ANISOTROPIC
    one (decaying spectrum: +25–48%). The decision evaluates on a
    HELD-OUT half of the sample: the d×d rotation reliably cuts
    IN-sample MSE even where it hurts out-of-sample recall, so an
    in-sample compare would rubber-stamp 'rotated' everywhere."""
    import numpy as np

    from etl_edi_data_scrapper_spark.functions.similarity import (
        opq_train_auto,
    )

    from etl_edi_data_scrapper_spark.functions.similarity import (
        OPQ_MIN_RECALL_GAIN,
    )

    rng = np.random.default_rng(0)
    iso = rng.normal(0, 1.0, size=(1000, 64))
    dec_iso = opq_train_auto(
        _corpus(spark, iso.tolist()), m_sub=8, n_codes=64, dim=64,
        n_iters=6, kmeans_iters=3,
    )
    assert dec_iso["use_rotation"] is False

    scales = np.exp(-np.arange(64) / 8.0)
    z = rng.normal(0, 1.0, size=(2000, 64)) * scales
    mix, _ = np.linalg.qr(rng.normal(size=(64, 64)))
    dec_an = opq_train_auto(
        _corpus(spark, (z @ mix).tolist()), m_sub=8, n_codes=64, dim=64,
        n_iters=6, kmeans_iters=3,
    )
    assert dec_an["use_rotation"] is True
    # robust margins on the win case (r13 ladder: +25–48% recall)
    assert dec_an["mse_rotated"] < dec_an["mse_raw"] * 0.5
    assert dec_an["recall_rotated"] > dec_an["recall_raw"] + 0.05
    R = np.asarray(dec_an["rotation"])
    assert np.allclose(R @ R.T, np.eye(64), atol=1e-9)
    # use_rotation IS the thresholded held-out RECALL comparison, nothing
    # else (the r14 study measured held-out MSE mispicking on a clustered
    # balanced-variance corpus — MSE stays a recorded diagnostic only)
    for d in (dec_iso, dec_an):
        assert d["use_rotation"] == (
            d["recall_rotated"] > d["recall_raw"] + OPQ_MIN_RECALL_GAIN
        )
        assert 0.0 <= d["recall_raw"] <= 1.0
        assert 0.0 <= d["recall_rotated"] <= 1.0


def test_cli_ann_index_opq_auto_records_decision(spark, tmp_path, capsys):
    """`ann-index --opq auto` end-to-end: the measured decision + both
    MSEs land in _meta.json (store-info surfaces them), the rotation is
    stored ONLY when chosen, and the queryable index round-trips. Run on
    a mixed anisotropic corpus where rotation robustly wins (the
    direction pinned at library level above)."""
    import numpy as np

    from etl_edi_data_scrapper_spark.__main__ import main
    from etl_edi_data_scrapper_spark.engine import Engine
    from etl_edi_data_scrapper_spark.functions.similarity import (
        load_ivfpq_meta,
    )

    rng = np.random.default_rng(1)
    n, dim = 400, 8
    z = np.zeros((n, dim))
    z[:, :2] = rng.normal(0, 10.0, size=(n, 2))
    z[:, 2:] = rng.normal(0, 0.05, size=(n, dim - 2))
    mix, _ = np.linalg.qr(rng.normal(size=(dim, dim)))
    x = z @ mix
    emb = str(tmp_path / "emb")
    spark.createDataFrame(
        [(i, [float(v) for v in x[i]]) for i in range(n)],
        "vec_id long, embedding array<float>",
    ).write.parquet(emb)
    idx = str(tmp_path / "idx")
    eng = Engine(spark=spark)
    assert main(
        ["ann-index", "--embeddings", emb, "--output", idx,
         "--dim", "8", "--n-centroids", "2", "--m-sub", "4",
         "--n-codes", "8", "--opq", "auto"],
        engine=eng,
    ) == 0
    capsys.readouterr()
    meta = load_ivfpq_meta(spark, idx)
    opq = meta["opq"]
    assert opq["mode"] == "auto"
    assert opq["chosen"] == "rotated"  # mixed-aniso: rotation wins big
    assert "opq_rotation" in meta
    assert meta["quant_mse"]["train"] > 0.0

    # store-info surfaces the decision verbatim via the meta block
    from etl_edi_data_scrapper_spark.store_info import describe_store

    info = describe_store(spark, idx)
    assert info["meta"]["opq"]["chosen"] == "rotated"

    # auto on a corpus where raw wins: no rotation stored, queries are
    # un-rotated. Force the direction by reusing the decision contract:
    # an isotropic corpus at this small geometry can flip, so assert only
    # consistency (rotation present IFF chosen == rotated).
    iso = rng.normal(0, 1.0, size=(n, dim))
    emb2 = str(tmp_path / "emb2")
    spark.createDataFrame(
        [(i, [float(v) for v in iso[i]]) for i in range(n)],
        "vec_id long, embedding array<float>",
    ).write.parquet(emb2)
    idx2 = str(tmp_path / "idx2")
    assert main(
        ["ann-index", "--embeddings", emb2, "--output", idx2,
         "--dim", "8", "--n-centroids", "2", "--m-sub", "4",
         "--n-codes", "8", "--opq", "auto"],
        engine=eng,
    ) == 0
    capsys.readouterr()
    meta2 = load_ivfpq_meta(spark, idx2)
    assert ("opq_rotation" in meta2) == (meta2["opq"]["chosen"] == "rotated")

    # both indexes answer self-queries at rank 1 (rotation-transparent)
    for path, data in ((idx, x), (idx2, iso)):
        qpath = str(tmp_path / f"q_{path.split('/')[-1]}")
        spark.createDataFrame(
            [(i, [float(v) for v in data[i]]) for i in (3, 17)],
            "vec_id long, embedding array<float>",
        ).write.parquet(qpath)
        out = str(tmp_path / f"res_{path.split('/')[-1]}")
        assert main(
            ["ann-query", "--index", path, "--queries", qpath,
             "--output", out, "--k", "1", "--nprobe", "2"],
            engine=eng,
        ) == 0
        capsys.readouterr()
        got = {r.q_id: r.vec_id for r in spark.read.parquet(out).collect()}
        assert got[3] == 3 and got[17] == 17


def test_append_drift_tracked_and_store_info_advises_retrain(
    spark, tmp_path, capsys
):
    """r14 (r13 verdict #5): frozen quantizers degrade silently as
    appended data drifts. ann-index records the train-time quantization
    MSE; every append records its batch MSE (row-weighted running mean);
    store-info reports the ratio and advises retrain past
    RETRAIN_MSE_RATIO. A same-distribution append must NOT advise; a
    shifted-distribution append must."""
    import numpy as np

    from etl_edi_data_scrapper_spark.__main__ import main
    from etl_edi_data_scrapper_spark.engine import Engine
    from etl_edi_data_scrapper_spark.functions.similarity import (
        append_to_ivfpq_index,
        load_ivfpq_meta,
    )
    from etl_edi_data_scrapper_spark.store_info import describe_store

    rng = np.random.default_rng(7)
    base = rng.normal(0, 1.0, size=(200, 8))
    emb = str(tmp_path / "emb")
    spark.createDataFrame(
        [(i, [float(v) for v in base[i]]) for i in range(200)],
        "vec_id long, embedding array<float>",
    ).write.parquet(emb)
    idx = str(tmp_path / "idx")
    eng = Engine(spark=spark)
    assert main(
        ["ann-index", "--embeddings", emb, "--output", idx,
         "--dim", "8", "--n-centroids", "2", "--m-sub", "4",
         "--n-codes", "8"],
        engine=eng,
    ) == 0
    capsys.readouterr()
    train_mse = load_ivfpq_meta(spark, idx)["quant_mse"]["train"]
    assert train_mse > 0.0

    # in-distribution append: ratio stays near 1, no advisory
    b1 = rng.normal(0, 1.0, size=(50, 8))
    batch1 = spark.createDataFrame(
        [(1000 + i, [float(v) for v in b1[i]]) for i in range(50)],
        "vec_id long, embedding array<float>",
    )
    assert append_to_ivfpq_index(spark, batch1, idx) == 50
    qm1 = load_ivfpq_meta(spark, idx)["quant_mse"]
    assert qm1["appended"]["rows"] == 50
    m1 = qm1["last_append_mse"]
    assert qm1["appended"]["mse"] == pytest.approx(m1)
    info = describe_store(spark, idx)
    assert info["retrain_advised"] is False

    # drifted append (×20 scale): quantization error explodes
    b2 = rng.normal(0, 20.0, size=(30, 8))
    batch2 = spark.createDataFrame(
        [(2000 + i, [float(v) for v in b2[i]]) for i in range(30)],
        "vec_id long, embedding array<float>",
    )
    assert append_to_ivfpq_index(spark, batch2, idx) == 30
    qm2 = load_ivfpq_meta(spark, idx)["quant_mse"]
    m2 = qm2["last_append_mse"]
    assert m2 > m1
    # row-weighted running mean, pinned exactly
    assert qm2["appended"]["rows"] == 80
    assert qm2["appended"]["mse"] == pytest.approx((50 * m1 + 30 * m2) / 80)
    info2 = describe_store(spark, idx)
    assert info2["quant_mse_ratio"] > info2["retrain_mse_ratio_threshold"]
    assert info2["retrain_advised"] is True

    # the advisory also reaches ann-query operators, not just store-info
    qpath = str(tmp_path / "q")
    spark.createDataFrame(
        [(0, [float(v) for v in base[0]])],
        "vec_id long, embedding array<float>",
    ).write.parquet(qpath)
    out = str(tmp_path / "res")
    assert main(
        ["ann-query", "--index", idx, "--queries", qpath, "--output", out,
         "--k", "1", "--nprobe", "1"],
        engine=eng,
    ) == 0
    printed = capsys.readouterr().out
    assert "WARN" in printed and "quantization MSE" in printed


def test_pq_fit_recon_thread_parallel_is_deterministic():
    """r14 (r13 verdict #8): the per-subspace fits run thread-parallel;
    results must be bit-identical to a sequential reference loop (the
    fits share no state and assemble by subspace index)."""
    import numpy as np

    from etl_edi_data_scrapper_spark.functions.similarity import (
        _np_pq_fit_recon,
        _np_subspace_kmeans,
    )

    rng = np.random.default_rng(9)
    x = rng.normal(0, 3.0, size=(500, 16))
    cbs, y = _np_pq_fit_recon(x, m_sub=4, n_codes=8, kmeans_iters=3)
    d_sub = 4
    for s in range(4):
        xs = x[:, s * d_sub : (s + 1) * d_sub]
        cent = _np_subspace_kmeans(xs, 8, 3)
        assert np.array_equal(cbs[s], cent)
        d2 = ((xs * xs).sum(1, keepdims=True) - 2.0 * (xs @ cent.T)
              + (cent * cent).sum(1)[None, :])
        assert np.array_equal(y[:, s * d_sub : (s + 1) * d_sub],
                              cent[d2.argmin(1)])


def _ring_corpus(spark, n=64):
    """Vectors around a ring: directions vary smoothly, so the
    cosine-routed IVF cells are angular arcs and every top-k
    neighborhood straddles cell boundaries — overlap vs full-probe
    GROWS with nprobe, the regime the tuner exists to measure. (A
    collinear corpus would NOT work: cosine routing sees one direction,
    i.e. one effective cell, and nprobe=1 is already perfect.)"""
    import math

    rows = [
        (
            i,
            [
                math.cos(2 * math.pi * i / n),
                math.sin(2 * math.pi * i / n),
                math.cos(2 * math.pi * i / n),
                math.sin(2 * math.pi * i / n),
            ],
        )
        for i in range(n)
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_tune_nprobe_picks_minimal_probe_reaching_target(spark):
    """r14 operator intelligence: the chosen nprobe is the FIRST ladder
    point whose mean top-k overlap vs full-probe ADC reaches the target;
    every earlier point measured below it."""
    from etl_edi_data_scrapper_spark.functions.similarity import (
        ivf_index,
        pq_codebooks,
        pq_encode,
        tune_nprobe,
    )

    corpus = _ring_corpus(spark)
    # n_codes=64 = every point: the sample codebook represents each
    # vector exactly, so ADC == exact distance and the ladder isolates
    # ROUTING loss (16 cells of ~4 consecutive points; top-10 must span
    # several cells — nprobe=1 cannot reach 0.9)
    centroids, assigned = ivf_index(
        corpus, n_centroids=16, train="kmeans", kmeans_iters=4
    )
    cbs = pq_codebooks(corpus, m_sub=2, n_codes=64, dim=4)
    enc = pq_encode(assigned, cbs)
    queries = corpus.select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    dec = tune_nprobe(
        queries, centroids, enc, cbs, k=10, target_overlap=0.9,
        nprobes=(1, 2, 4, 8), max_queries=16,
    )
    assert dec["target_reached"] is True
    assert dec["ladder"][dec["nprobe"]] >= 0.9
    for np_, ov in dec["ladder"].items():
        if np_ < dec["nprobe"]:
            assert ov < 0.9
    assert dec["n_queries"] == 16 and dec["reference_nprobe"] == 16
    # a ring corpus at 16 arc cells NEEDS more than one probe for top-10
    assert dec["nprobe"] > 1


def test_tune_nprobe_ladder_monotone_and_unreachable_target(spark):
    """Overlap is weakly monotone in nprobe (candidates are supersets);
    an unreachable target measures the WHOLE ladder and falls back to
    full probing with target_reached=False."""
    from etl_edi_data_scrapper_spark.functions.similarity import (
        ivf_index,
        pq_codebooks,
        pq_encode,
        tune_nprobe,
    )

    corpus = _ring_corpus(spark)
    centroids, assigned = ivf_index(
        corpus, n_centroids=8, train="kmeans", kmeans_iters=4
    )
    cbs = pq_codebooks(corpus, m_sub=2, n_codes=16, dim=4)
    enc = pq_encode(assigned, cbs)
    queries = corpus.select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    dec = tune_nprobe(
        queries, centroids, enc, cbs, k=10, target_overlap=2.0,
        nprobes=(1, 2, 4), max_queries=12,
    )
    assert dec["target_reached"] is False
    assert dec["nprobe"] == dec["reference_nprobe"] == 8
    ladder = [dec["ladder"][p] for p in sorted(dec["ladder"])]
    assert len(ladder) == 3
    assert all(a <= b + 1e-12 for a, b in zip(ladder, ladder[1:]))


def test_cli_ann_query_nprobe_auto(spark, sf_dir, tmp_path, capsys):
    """`ann-query --nprobe auto` tunes on a bounded sample, prints the
    decision with its measured ladder, and answers with the chosen
    probe count."""
    from etl_edi_data_scrapper_spark.__main__ import main
    from etl_edi_data_scrapper_spark.engine import Engine

    idx, out = str(tmp_path / "idx"), str(tmp_path / "res")
    eng = Engine(spark=spark)
    emb = f"{sf_dir}/embeddings.parquet"
    assert main(
        ["ann-index", "--embeddings", emb, "--output", idx,
         "--dim", "64", "--n-centroids", "8", "--m-sub", "8",
         "--n-codes", "16", "--train", "sample"],
        engine=eng,
    ) == 0
    capsys.readouterr()
    assert main(
        ["ann-query", "--index", idx, "--queries", emb, "--output", out,
         "--k", "3", "--nprobe", "auto", "--target-overlap", "0.8",
         "--tune-queries", "12"],
        engine=eng,
    ) == 0
    printed = capsys.readouterr().out
    assert "STAGE: nprobe auto:" in printed and "ladder" in printed
    assert "SUCCESS: ANN query" in printed
    n_q = spark.read.parquet(emb).count()
    assert spark.read.parquet(out).count() == n_q * 3


def test_cli_ann_index_n_centroids_auto(spark, sf_dir, tmp_path, capsys):
    """`ann-index --n-centroids auto`: the FAISS sizing rule
    min(8*sqrt(N), N/39) measured from the corpus — at the sf0.001
    embeddings table (N=500) that is the 39-points-per-centroid floor,
    N//39 = 12 cells — decision printed and recorded in _meta.json."""
    from etl_edi_data_scrapper_spark.__main__ import main
    from etl_edi_data_scrapper_spark.engine import Engine
    from etl_edi_data_scrapper_spark.functions.similarity import (
        load_ivfpq_meta,
    )

    idx, out = str(tmp_path / "idx"), str(tmp_path / "res")
    eng = Engine(spark=spark)
    emb = f"{sf_dir}/embeddings.parquet"
    assert main(
        ["ann-index", "--embeddings", emb, "--output", idx,
         "--dim", "64", "--n-centroids", "auto", "--m-sub", "8",
         "--n-codes", "16", "--train", "sample"],
        engine=eng,
    ) == 0
    printed = capsys.readouterr().out
    assert "STAGE: n_centroids auto: 12 (N=500" in printed
    meta = load_ivfpq_meta(spark, idx)
    assert meta["n_centroids"] == 12
    assert meta["n_centroids_mode"] == "auto"
    assert main(
        ["ann-query", "--index", idx, "--queries", emb, "--output", out,
         "--k", "2", "--nprobe", "3"],
        engine=eng,
    ) == 0
    assert spark.read.parquet(out).count() == 500 * 2


def test_ann_kernels_plan_as_arrow_at_any_size(spark, tmp_path):
    """The six ANN/clustering kernels have ONE execution path: an
    Arrow-batched Python operator whatever the input size — a tiny
    parquet scan (known, small stats) plans the same operators as a
    frame with unknown stats. Never a row-at-a-time BatchEvalPython
    UDF, never a cross join."""
    from etl_edi_data_scrapper_spark.functions.clustering import (
        assign_clusters,
        assign_clusters_ivf,
    )
    from etl_edi_data_scrapper_spark.functions.similarity import ivf_assign

    path = str(tmp_path / "tiny.parquet")
    _corpus(spark, VECS8).write.parquet(path)
    for corpus in (spark.read.parquet(path), _corpus(spark, VECS8)):
        cbs = pq_codebooks(corpus, m_sub=4, n_codes=3, dim=8)
        queries = _queries(spark, VECS8[:2])
        centroids, assigned = ivf_index(corpus, n_centroids=2)
        enc_a = pq_encode(assigned, cbs)
        cents = [[float(x) for x in v] for v in VECS8[:4]]
        plans = {
            "assign_clusters": assign_clusters(corpus, "embedding", cents),
            "assign_clusters_ivf": assign_clusters_ivf(corpus, "embedding", cents),
            "ivf_assign": ivf_assign(corpus, centroids),
            "pq_encode": pq_encode(corpus, cbs),
            "pq_adc_topk": pq_adc_topk(queries, cbs, pq_encode(corpus, cbs)),
            "ivfpq_topk": ivfpq_topk(queries, centroids, enc_a, cbs, nprobe=2),
        }
        for name, df in plans.items():
            plan = df._jdf.queryExecution().executedPlan().toString()
            marker = "MapInPandas" if "topk" in name else "ArrowEvalPython"
            assert marker in plan, (name, plan)
            for bad in ("BatchEvalPython", "CartesianProduct", "NestedLoopJoin"):
                assert bad not in plan, (name, bad)
