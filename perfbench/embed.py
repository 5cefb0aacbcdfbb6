"""``embed_ann``: seeded clustered 64-d vectors with near-duplicate
families through the ``ann-index`` (write path), ``ann-query`` (read path,
held-out queries) and ``dedup-embeddings`` entry points of
``__main__.main``, in that order, one pass = those three operations.

Checks, with numpy only: ``recall_at_10`` of the query results against
the exact L2 top-10, held at or above ``RECALL_FLOOR``; every vector
SemDeDup drops has a lower-id vector whose exact cosine similarity
reaches the threshold; the index lists every vector once.

The traced pass records which way ``clustering.expr_exec_ok`` routed each
kernel (interpreted expr fold or Arrow batch) by wrapping that function
for the duration of the pass.
"""

from __future__ import annotations

import os
import sys

import numpy as np

from common import ExecStats, Tracer, now, tree_cpu_s

N_VEC = 2000
N_QUERIES = 200
DIM = 64
N_CLUSTERS = 24
NEAR_DUP_FRAC = 0.15
THRESHOLD = 0.999
K = 10
RECALL_FLOOR = 0.6
INDEX_ARGS = ("--dim", str(DIM), "--n-centroids", "16", "--m-sub", "8",
              "--n-codes", "32", "--train", "sample")
QUERY_ARGS = ("--k", str(K), "--nprobe", "8", "--k-factor", "4")
DEDUP_ARGS = ("--threshold", str(THRESHOLD), "--rows-per-shard", "2048",
              "--n-passes", "2", "--k-per-shard", "8")


def make_vectors(rng, n: int) -> np.ndarray:
    """Two-level clusters (about 10 vectors per fine cluster, so every
    query has a real top-10), then near-duplicate families."""
    centers = rng.normal(size=(N_CLUSTERS, DIM))
    n_fine = max(1, n // 10)
    fine = centers[rng.integers(0, N_CLUSTERS, n_fine)] + 0.5 * rng.normal(
        size=(n_fine, DIM))
    x = fine[rng.integers(0, n_fine, n)] + 0.1 * rng.normal(size=(n, DIM))
    # near-duplicate families: copies of earlier rows plus a small jitter
    dup = np.sort(rng.choice(np.arange(1, n), int(n * NEAR_DUP_FRAC), replace=False))
    src = (rng.random(len(dup)) * dup).astype(int)
    x[dup] = x[src] + 0.01 * rng.normal(size=(len(dup), DIM))
    return x.astype(np.float32)


def _write(path: str, ids: np.ndarray, x: np.ndarray) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(x.ravel()), DIM).cast(
        pa.list_(pa.float32()))
    pq.write_table(pa.table({"vec_id": pa.array(ids, pa.int64()), "embedding": emb}),
                   os.path.join(path, "part-0.parquet"))


def _read(path: str) -> list[dict]:
    import pyarrow.parquet as pq

    return pq.read_table(path).to_pylist()


def recall_at_k(x: np.ndarray, q: np.ndarray, got: dict[int, list[int]], k: int) -> float:
    d = (q * q).sum(1)[:, None] - 2 * q @ x.T + (x * x).sum(1)[None, :]
    exact = np.argsort(d, axis=1)[:, :k]
    hits = sum(len(set(exact[i]) & set(got.get(i, []))) for i in range(len(q)))
    return hits / (k * len(q))


def unjustified_drops(x: np.ndarray, dropped: list[int], threshold: float) -> int:
    """Drops with no lower-id vector at cosine >= threshold."""
    xn = x / np.linalg.norm(x, axis=1, keepdims=True)
    bad = 0
    for i in dropped:
        if i == 0 or (xn[:i] @ xn[i]).max() < threshold - 1e-4:
            bad += 1
    return bad


class EmbedPart:
    """The embedding half of ``corpus_embed``: three jobs, one per entry
    point."""

    def __init__(self):
        self.params: dict = {}
        self.recall: float | None = None
        self.tracer: Tracer | None = None

    def prepare(self, rng, work: str) -> None:
        self.work = work
        x = make_vectors(rng, N_VEC + N_QUERIES)
        self.x, self.q = x[:N_VEC], x[N_VEC:]
        self.emb = os.path.join(work, "emb")
        self.queries = os.path.join(work, "queries")
        _write(self.emb, np.arange(N_VEC), self.x)
        _write(self.queries, np.arange(N_QUERIES), self.q)
        self.params = {"vectors": N_VEC, "queries": N_QUERIES, "dim": DIM,
                       "clusters": N_CLUSTERS, "near_dup_frac": NEAR_DUP_FRAC,
                       "threshold": THRESHOLD, "k": K, "recall_floor": RECALL_FLOOR,
                       "index_args": list(INDEX_ARGS), "query_args": list(QUERY_ARGS),
                       "dedup_args": list(DEDUP_ARGS)}

    def _run(self, spark, tag: str):
        """The three entry points in order; per-op wall and CPU seconds."""
        from etl_edi_data_scrapper_spark.__main__ import main
        from etl_edi_data_scrapper_spark.engine import Engine

        d = os.path.join(self.work, tag)
        idx, res, ver = f"{d}-index", f"{d}-results", f"{d}-verdicts"
        ops = [
            ("embed.index_build", ["ann-index", "--embeddings", self.emb,
                                   "--output", idx, *INDEX_ARGS]),
            ("embed.query", ["ann-query", "--index", idx, "--queries", self.queries,
                             "--output", res, "--rerank-corpus", self.emb,
                             *QUERY_ARGS]),
            ("embed.dedup", ["dedup-embeddings", "--embeddings", self.emb,
                             "--output", ver, *DEDUP_ARGS]),
        ]
        tr = self.tracer
        eng = Engine(spark=spark)
        lat, cpu, failed = [], [], 0
        for op_id, (name, argv) in enumerate(ops, start=1):
            c0 = tree_cpu_s()
            t0 = now()
            if tr:
                j0 = self.stats.job_count()
                s = tr.open(name, op_id)
            try:
                rc = main(argv, engine=eng)
            except Exception as e:  # noqa: BLE001 - a failed op is counted
                print(f"{name} failed: {e!r}"[:400], file=sys.stderr)
                rc = 1
            lat.append(now() - t0)
            cpu.append(tree_cpu_s() - c0)
            if tr:
                short = name.split(".")[1].replace("_build", "")
                self.layer[f"{name}_s"] = tr.close(s)
                self.layer[f"embed.{short}_jobs"] = self.stats.job_count() - j0
            failed += rc != 0
        return lat, cpu, failed, (idx, res, ver)

    def _check(self, outs) -> int:
        idx, res, ver = outs
        failed = 0
        codes = _read(os.path.join(idx, "codes"))
        if sorted(r["vec_id"] for r in codes) != list(range(N_VEC)):
            failed += 1
        got: dict[int, list[int]] = {}
        for r in _read(res):
            got.setdefault(r["q_id"], []).append(r["vec_id"])
        recall = recall_at_k(self.x, self.q, got, K)
        self.recall = recall if self.recall is None else min(self.recall, recall)
        self.params["recall_at_10"] = self.recall
        if recall < RECALL_FLOOR:
            failed += 1
        verdicts = _read(ver)
        dropped = sorted(r["vec_id"] for r in verdicts if not r["keep"])
        if len(verdicts) != N_VEC or unjustified_drops(self.x, dropped, THRESHOLD):
            failed += 1
        self.params["dropped"] = len(dropped)
        return failed

    def timed_pass(self, spark) -> dict:
        t0 = now()
        lat, cpu, failed, outs = self._run(spark, "run")
        wall = now() - t0
        failed += self._check(outs)
        return {"wall": wall, "lat": lat, "cpu": cpu, "rows": N_VEC + N_QUERIES,
                "jobs": len(lat), "failed": failed}

    def traced(self, spark, tracer: Tracer, stats: ExecStats, layer: dict) -> dict:
        from etl_edi_data_scrapper_spark.functions import clustering

        self.tracer, self.stats, self.layer = tracer, stats, layer
        routes: list[tuple[str, bool]] = []
        gate = clustering.expr_exec_ok

        def recording_gate(df, work_multiplier: float = 1.0) -> bool:
            ok = gate(df, work_multiplier)
            routes.append((sys._getframe(1).f_code.co_name, ok))
            return ok

        clustering.expr_exec_ok = recording_gate
        try:
            t0 = now()
            lat, _, failed, outs = self._run(spark, "traced")
            wall = now() - t0
        finally:
            clustering.expr_exec_ok = gate
            self.tracer = None
        failed += self._check(outs)
        self.params["routes"] = [f"{fn}:{'expr' if ok else 'arrow'}" for fn, ok in routes]
        layer["embed.recall_at_10"] = self.recall
        covered = sum(layer[f"{n}_s"] for n in ("embed.index_build", "embed.query",
                                                "embed.dedup"))
        return {"wall": wall, "covered": covered, "jobs": len(lat), "failed": failed,
                "exec": stats.since_mark()}
