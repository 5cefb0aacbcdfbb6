"""ANN quality study at production geometry (r11 verdict #2; r13 ladder).

The gate runs the PQ/IVFADC family at toy geometry (m_sub=8, n_codes=16,
2k vectors) — enough to hash-oracle the op order, not to certify the
operating point. This study measures, at FAISS-standard geometry
(n_codes=256, 100k vectors, dim 64, n_centroids=256):

  (a) the encode's PLAN-BUILD cost as n_codes grows (the Arrow kernel
      carries the codebook in its closure, so it should stay constant);
  (b) recall@10 vs the EXACT (numpy, independent) squared-L2 answer for
      the three tiers — full-scan ADC, routed IVFADC over nprobe, and
      the k_factor exact-rerank ladder;
  (c) end-to-end build/query wall times at this geometry;
  (d) r13 (verdict #3): the bytes ± rotation ladder — standalone
      full-scan ADC recall at m_sub ∈ {8, 16} (8 vs 16 bytes/vector),
      each raw and OPQ-rotated (Ge et al. 2013) — the two public levers
      FAISS practice uses when codes must rank on their own (the r12
      finding: 8 raw bytes plateau at 0.19 recall@10 at σ-noise
      hardness regardless of nprobe).

All tiers run the Arrow kernels (the only execution path; r12's
adc_full_scan row predates them and is superseded by this artifact). r14: the OPQ rows are measured with the
SELF-CONSISTENT opq_train (final-rotation codebook refit — the r13
ADVICE finding that this ladder was encoding final-R vectors against
stale-R codebooks is fixed, so r14 OPQ recalls supersede r13's), and
each (corpus, m_sub) adds an `m{m}_auto` row recording what
`opq_train_auto`'s held-out MSE decision picks and whether it matches
the better MEASURED recall leg. Writes one JSON artifact (default
ANN_QUALITY_r14.json). Run on an idle host; heavy legs log to stderr.

Usage: python tools/ann_quality_study.py [--n 100000] [--out PATH]
       [--skip-ladder] [--skip-plan-build]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def make_corpus(n: int, dim: int, n_true: int, seed: int = 7):
    """Clustered synthetic corpus: n_true Gaussian clusters with distinct
    centers (the regime IVF routing exists for), unit-ish noise."""
    rng = np.random.default_rng(seed)
    centers = rng.normal(0.0, 10.0, size=(n_true, dim))
    labels = rng.integers(0, n_true, size=n)
    x = centers[labels] + rng.normal(0.0, 1.0, size=(n, dim))
    return x.astype(np.float32)


def exact_top10(x: np.ndarray, q: np.ndarray, k: int = 10):
    """Independent ground truth: squared-L2 top-k with lowest-id
    tie-break (the same tie rule every Spark-side tier uses)."""
    out = []
    for i in range(q.shape[0]):
        d = ((x - q[i]) ** 2).sum(axis=1)
        idx = np.lexsort((np.arange(len(d)), d))[:k]
        out.append(set(int(j) for j in idx))
    return out


def recall(rows, truth, q_ids, k: int = 10) -> float:
    got: dict[int, set] = {int(q): set() for q in q_ids}
    for r in rows:
        got[int(r[0])].add(int(r[1]))
    return float(
        np.mean([len(got[int(q)] & truth[qi]) / k
                 for qi, q in enumerate(q_ids)])
    )


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--n", type=int, default=100_000)
    ap.add_argument("--dim", type=int, default=64)
    ap.add_argument("--n-queries", type=int, default=100)
    ap.add_argument("--n-centroids", type=int, default=256)
    ap.add_argument("--m-sub", type=int, default=8)
    ap.add_argument("--n-codes", type=int, default=256)
    ap.add_argument("--fit-fraction", type=float, default=0.1)
    ap.add_argument("--out", default="ANN_QUALITY_r14.json")
    ap.add_argument("--skip-ladder", action="store_true")
    ap.add_argument("--skip-plan-build", action="store_true")
    args = ap.parse_args()

    import pandas as pd
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from etl_edi_data_scrapper_spark.functions.similarity import (
        apply_rotation,
        ivfpq_residual_index,
        ivfpq_topk,
        ivfpq_topk_rerank,
        opq_train,
        opq_train_auto,
        pq_adc_topk,
        pq_codebooks,
        pq_encode,
    )

    spark = (
        SparkSession.builder.master("local[32]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.driver.memory", "48g")
        .config("spark.sql.adaptive.enabled", "true")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    result: dict = {
        "geometry": {
            "n": args.n, "dim": args.dim, "n_queries": args.n_queries,
            "n_centroids": args.n_centroids, "m_sub": args.m_sub,
            "n_codes": args.n_codes, "fit_fraction": args.fit_fraction,
            "train": "kmeans (coarse + pq), md5-sample fit",
        },
    }

    log("generating corpus ...")
    x = make_corpus(args.n, args.dim, n_true=1024)
    rng = np.random.default_rng(11)
    q_rows = rng.choice(args.n, size=args.n_queries, replace=False)
    q = x[q_rows] + rng.normal(0.0, 0.25, size=(args.n_queries, args.dim)).astype(
        np.float32
    )
    truth = exact_top10(x, q)

    corpus = spark.createDataFrame(
        pd.DataFrame(
            {"vec_id": np.arange(args.n), "embedding": x.astype(float).tolist()}
        ),
        schema="vec_id long, embedding array<float>",
    ).repartition(32).cache()
    corpus.count()
    queries = spark.createDataFrame(
        pd.DataFrame(
            {"q_id": q_rows.astype("int64"), "q_vec": q.astype(float).tolist()}
        ),
        schema="q_id long, q_vec array<float>",
    ).cache()
    queries.count()

    # ---- (a) plan-build cost of the encode vs n_codes -----------------
    # values don't matter for plan build; synthetic codebooks isolate the
    # Catalyst analysis and optimization cost
    d_sub = args.dim // args.m_sub
    plan_build = {}
    for nc in () if args.skip_plan_build else (16, 256, 1024):
        fake = [[[float(s + c) for _ in range(d_sub)] for c in range(nc)]
                for s in range(args.m_sub)]
        t0 = time.time()
        pq_encode(corpus, fake).explain(mode="cost")  # analysis + optimization
        plan_build[str(nc)] = round(time.time() - t0, 2)
    result["encode_plan_build_sec_by_n_codes"] = plan_build
    log(f"plan build: {plan_build}")

    # EXECUTION timing at full geometry: the end-to-end encode cost
    fake256 = [[[float(s + c) for _ in range(d_sub)] for c in range(args.n_codes)]
               for s in range(args.m_sub)]
    t0 = time.time()
    pq_encode(corpus, fake256).select(F.sum(F.element_at("codes", 1))).collect()
    result["encode_execute_sec"] = round(time.time() - t0, 1)
    log(f"encode execute: {result['encode_execute_sec']} s")

    # ---- build the two real indexes (timed) ---------------------------
    log("training raw PQ codebooks (kmeans, sampled) ...")
    t0 = time.time()
    raw_cbs = pq_codebooks(
        corpus, m_sub=args.m_sub, n_codes=args.n_codes, dim=args.dim,
        train="kmeans", fit_fraction=args.fit_fraction,
    )
    from etl_edi_data_scrapper_spark.functions.similarity import (
        _collect_codebooks,
    )

    raw_cbs = _collect_codebooks(raw_cbs)
    result["pq_codebooks_fit_sec"] = round(time.time() - t0, 1)
    log(f"pq fit: {result['pq_codebooks_fit_sec']} s")

    t0 = time.time()
    raw_codes = pq_encode(corpus, raw_cbs).select("vec_id", "codes").cache()
    raw_codes.count()
    result["pq_encode_sec"] = round(time.time() - t0, 1)

    log("building residual IVFADC index (kmeans coarse, sampled) ...")
    t0 = time.time()
    centroids, enc, res_cbs = ivfpq_residual_index(
        corpus, n_centroids=args.n_centroids, m_sub=args.m_sub,
        n_codes=args.n_codes, dim=args.dim, train="kmeans",
        coarse_train="kmeans", fit_fraction=args.fit_fraction,
    )
    res_cbs = _collect_codebooks(res_cbs)
    centroids = centroids.cache(); centroids.count()
    enc = enc.cache(); enc.count()
    result["ivfadc_build_sec"] = round(time.time() - t0, 1)
    log(f"ivfadc build: {result['ivfadc_build_sec']} s")

    # ---- (b) recall@10 curves ----------------------------------------
    tiers: dict = {}
    t0 = time.time()
    rows = [
        (r.q_id, r.vec_id)
        for r in pq_adc_topk(queries, raw_cbs, raw_codes, k=10).collect()
    ]
    tiers["adc_full_scan"] = {
        "recall_at_10": round(recall(rows, truth, q_rows), 4),
        "wall_sec": round(time.time() - t0, 1),
    }
    log(f"adc full scan: {tiers['adc_full_scan']}")

    tiers["ivfadc_by_nprobe"] = {}
    for nprobe in (1, 2, 4, 8, 16, 32):
        t0 = time.time()
        rows = [
            (r.q_id, r.vec_id)
            for r in ivfpq_topk(
                queries, centroids, enc, res_cbs, k=10, nprobe=nprobe,
                residual=True,
            ).collect()
        ]
        tiers["ivfadc_by_nprobe"][str(nprobe)] = {
            "recall_at_10": round(recall(rows, truth, q_rows), 4),
            "wall_sec": round(time.time() - t0, 1),
        }
        log(f"ivfadc nprobe={nprobe}: {tiers['ivfadc_by_nprobe'][str(nprobe)]}")

    tiers["rerank_by_k_factor"] = {}
    for kf in (2, 4, 8):
        t0 = time.time()
        rows = [
            (r.q_id, r.vec_id)
            for r in ivfpq_topk_rerank(
                queries, centroids, enc, res_cbs, corpus, k=10,
                k_factor=kf, nprobe=16, residual=True,
            ).collect()
        ]
        tiers["rerank_by_k_factor"][str(kf)] = {
            "recall_at_10": round(recall(rows, truth, q_rows), 4),
            "wall_sec": round(time.time() - t0, 1),
            "nprobe": 16,
        }
        log(f"rerank kf={kf}: {tiers['rerank_by_k_factor'][str(kf)]}")

    result["tiers"] = tiers

    # ---- (d) bytes ± rotation ladder: standalone ADC recall -----------
    # isolates QUANTIZATION quality from routing: full-scan ADC at
    # m_sub 8 vs 16 (8 vs 16 bytes/vector at n_codes=256), each raw and
    # OPQ-rotated. Rotation preserves exact L2 top-k, so the ground
    # truth is reused unchanged; queries are rotated alongside the
    # corpus. Run on TWO corpora: the study's isotropic clusters
    # (variance already balanced across subspaces — OPQ's predicted
    # no-op case) and an anisotropic one (decaying per-dim spectrum
    # mixed by a random rotation — the shape real text embeddings have,
    # and OPQ's win case per Ge et al. §1).
    def run_ladder(tag, corpus_df, queries_df, truth_l, q_rows_l):
        ladder: dict = {}
        for m in (8, 16):
            log(f"ladder[{tag}]: m_sub={m} raw (kmeans codebooks) ...")
            t0 = time.time()
            cbs_m = _collect_codebooks(pq_codebooks(
                corpus_df, m_sub=m, n_codes=args.n_codes, dim=args.dim,
                train="kmeans", fit_fraction=args.fit_fraction,
            ))
            fit_s = round(time.time() - t0, 1)
            t0 = time.time()
            codes_m = pq_encode(corpus_df, cbs_m).select("vec_id", "codes")
            rows = [
                (r.q_id, r.vec_id)
                for r in pq_adc_topk(
                    queries_df, cbs_m, codes_m, k=10
                ).collect()
            ]
            ladder[f"m{m}_raw"] = {
                "bytes_per_vector": m,
                "recall_at_10": round(recall(rows, truth_l, q_rows_l), 4),
                "fit_sec": fit_s,
                "encode_plus_scan_sec": round(time.time() - t0, 1),
            }
            log(f"ladder[{tag}] m{m}_raw: {ladder[f'm{m}_raw']}")

            log(f"ladder[{tag}]: m_sub={m} OPQ (Ge et al. NP) ...")
            t0 = time.time()
            R, opq_cbs = opq_train(
                corpus_df, m_sub=m, n_codes=args.n_codes, dim=args.dim,
                n_iters=8, kmeans_iters=4,
            )
            fit_s = round(time.time() - t0, 1)
            t0 = time.time()
            corpus_rot = apply_rotation(corpus_df, R)
            queries_rot = apply_rotation(queries_df, R, vec_col="q_vec")
            codes_r = pq_encode(corpus_rot, opq_cbs).select(
                "vec_id", "codes"
            )
            rows = [
                (r.q_id, r.vec_id)
                for r in pq_adc_topk(
                    queries_rot, opq_cbs, codes_r, k=10
                ).collect()
            ]
            ladder[f"m{m}_opq"] = {
                "bytes_per_vector": m,
                "recall_at_10": round(recall(rows, truth_l, q_rows_l), 4),
                "fit_sec": fit_s,
                "encode_plus_scan_sec": round(time.time() - t0, 1),
            }
            log(f"ladder[{tag}] m{m}_opq: {ladder[f'm{m}_opq']}")

            # r14 (r13 verdict #1): the measured-auto decision — does the
            # held-out sample RECALL comparison pick the leg the full
            # measurements above say is better? (The first r14 run caught
            # the MSE-based decision mispicking here: -13.5%% held-out MSE
            # on this clustered corpus while measured recall favors raw —
            # the decision metric is recall since.)
            log(f"ladder[{tag}]: m_sub={m} auto decision ...")
            t0 = time.time()
            dec = opq_train_auto(
                corpus_df, m_sub=m, n_codes=args.n_codes, dim=args.dim,
                n_iters=8, kmeans_iters=4,
            )
            better = (
                "rotated"
                if ladder[f"m{m}_opq"]["recall_at_10"]
                > ladder[f"m{m}_raw"]["recall_at_10"]
                else "raw"
            )
            chosen = "rotated" if dec["use_rotation"] else "raw"
            ladder[f"m{m}_auto"] = {
                "chosen": chosen,
                "recall_raw_heldout": round(dec["recall_raw"], 4),
                "recall_rotated_heldout": round(dec["recall_rotated"], 4),
                "mse_raw": round(dec["mse_raw"], 4),
                "mse_rotated": round(dec["mse_rotated"], 4),
                "better_measured_leg": better,
                "matches_better_leg": chosen == better,
                "decision_sec": round(time.time() - t0, 1),
            }
            log(f"ladder[{tag}] m{m}_auto: {ladder[f'm{m}_auto']}")
        return ladder

    if not args.skip_ladder:
        result["bytes_rotation_ladder"] = run_ladder(
            "isotropic", corpus, queries, truth, q_rows
        )

        # anisotropic corpus: same cluster structure, but the noise (the
        # part quantization must capture) has a decaying spectrum mixed
        # across ALL dims by a fixed random rotation — energy lands
        # unevenly in PQ's blind d/m_sub slices
        rng2 = np.random.default_rng(23)
        scales = 10.0 * (0.80 ** np.arange(args.dim))
        mix, _ = np.linalg.qr(rng2.normal(size=(args.dim, args.dim)))
        centers2 = rng2.normal(0.0, 1.0, size=(1024, args.dim)) * scales
        labels2 = rng2.integers(0, 1024, size=args.n)
        xa = (
            (centers2[labels2]
             + rng2.normal(0.0, 0.1, size=(args.n, args.dim)) * scales)
            @ mix
        ).astype(np.float32)
        qa_rows = rng2.choice(args.n, size=args.n_queries, replace=False)
        qa = xa[qa_rows] + (
            rng2.normal(0.0, 0.025, size=(args.n_queries, args.dim))
            * scales @ mix
        ).astype(np.float32)
        truth_a = exact_top10(xa, qa)
        corpus_a = spark.createDataFrame(
            pd.DataFrame(
                {"vec_id": np.arange(args.n),
                 "embedding": xa.astype(float).tolist()}
            ),
            schema="vec_id long, embedding array<float>",
        ).repartition(32).cache()
        corpus_a.count()
        queries_a = spark.createDataFrame(
            pd.DataFrame(
                {"q_id": qa_rows.astype("int64"),
                 "q_vec": qa.astype(float).tolist()}
            ),
            schema="q_id long, q_vec array<float>",
        ).cache()
        queries_a.count()
        result["bytes_rotation_ladder_anisotropic"] = run_ladder(
            "anisotropic", corpus_a, queries_a, truth_a, qa_rows
        )

    with open(args.out, "w") as fh:
        json.dump(result, fh, indent=1)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
