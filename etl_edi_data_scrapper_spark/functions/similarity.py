"""Similarity search over embedding columns (array<float>).

Two paths, same operator surface:
  * ``cosine_topk`` — exact brute force: query×corpus join, windowed top-k.
    The baseline, and correct at any scale where #queries × corpus fits a
    shuffle (queries are broadcast — the corpus is never replicated).
  * ``lsh_topk`` — random-hyperplane LSH: bucket both sides on sign
    signatures, equi-join buckets, rerank exactly within candidates. The
    100 TB path: corpus pairs drop from N×Q to collisions only. Hyperplanes
    are derived deterministically from md5 arithmetic (reproducible across
    runs/engines, no RNG state to ship).
"""

from __future__ import annotations

import pandas as pd  # module-level so pandas_udf type hints resolve

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from etl_edi_data_scrapper_spark.functions.dedup import dot_expr, norm_expr


def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    q_id: str = "q_id",
    q_vec: str = "q_vec",
    c_id: str = "vec_id",
    c_vec: str = "embedding",
) -> DataFrame:
    """Exact top-k by cosine per query (broadcast queries × corpus scan +
    partitioned window — ties broken by corpus id for determinism)."""
    qs = F.broadcast(
        queries.select(F.col(q_id), F.col(q_vec))
        .withColumn("__nq", norm_expr(F.col(q_vec)))
    )
    joined = (
        corpus.select(F.col(c_id), F.col(c_vec))
        .withColumn("__nc", norm_expr(F.col(c_vec)))  # once per corpus row
        .crossJoin(qs)
    )
    sim = (dot_expr(F.col(q_vec), F.col(c_vec)) / (F.col("__nq") * F.col("__nc"))).alias("cosine")
    w = W.partitionBy(q_id).orderBy(F.col("cosine").desc(), F.col(c_id))
    return (
        joined.select(q_id, c_id, sim)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def hyperplane_signature(
    vec: Column | str, n_planes: int, dim: int, plane_offset: int = 0
) -> Column:
    """Sign signature under `n_planes` deterministic pseudo-random
    hyperplanes. Plane weights are md5-derived: w[p][d] = hexval(md5('p:d'))
    - 7.5 — fixed, engine-reproducible, no RNG.

    ``plane_offset`` shifts the plane index range (planes
    [offset, offset + n_planes)) so independent TABLES of the same width
    draw disjoint plane sets — the multi-table LSH recall lever used by
    `clustering.cross_shard_bridge_pairs`.

    Returns a string key '0|1|...' usable directly as an LSH bucket id.

    Pass ``vec`` as a COLUMN NAME where possible (r14): the name form
    builds the whole signature as one parsed expression — the per-plane
    Column-DSL construction (an array literal + three lambda nodes per
    plane, each a py4j round trip) measured ~0.35 s of plan build per
    call at 5 planes × dim 64. The parsed tree is identical (same
    zip_with/aggregate fold, same weights), pinned by test.
    """
    import hashlib

    def plane_weights(p: int) -> list[float]:
        return [
            float(int(hashlib.md5(f"{p}:{d}".encode()).hexdigest()[0], 16)) - 7.5
            for d in range(dim)
        ]

    if isinstance(vec, str):
        from etl_edi_data_scrapper_spark.functions.clustering import _dlit

        vec_sql = "`" + vec.replace("`", "``") + "`"
        bits_sql = []
        for p in range(plane_offset, plane_offset + n_planes):
            arr = "array(" + ",".join(_dlit(x) for x in plane_weights(p)) + ")"
            dot = (
                f"aggregate(zip_with({vec_sql}, {arr}, "
                "(x, w) -> CAST(x AS DOUBLE) * w), 0.0D, (acc, v) -> acc + v)"
            )
            bits_sql.append(f"CASE WHEN {dot} >= 0 THEN '1' ELSE '0' END")
        return F.expr("concat_ws('', " + ", ".join(bits_sql) + ")")

    bits = []
    for p in range(plane_offset, plane_offset + n_planes):
        # array-literal zip_with keeps the expression tree small (one node
        # per plane, not per dimension — 64-term chained sums choke codegen)
        dot = F.aggregate(
            F.zip_with(vec, F.lit(plane_weights(p)), lambda x, w: x.cast("double") * w),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        bits.append(F.when(dot >= 0, F.lit("1")).otherwise(F.lit("0")))
    return F.concat_ws("", *bits)


def lsh_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    n_planes: int = 8,
    dim: int = 64,
    q_id: str = "q_id",
    q_vec: str = "q_vec",
    c_id: str = "vec_id",
    c_vec: str = "embedding",
    multiprobe: bool = False,
) -> DataFrame:
    """Approximate top-k: equi-join on hyperplane bucket, exact rerank inside.

    Recall < 1.0 by construction (bucket boundaries). ``multiprobe=True``
    additionally probes every one-bit-flipped bucket per query (n_planes+1
    probes): the QUERY side explodes (broadcast, tiny), the corpus stays in
    exactly one bucket — so candidate pairs stay unique and corpus cost is
    unchanged. Recall rises steeply; candidate volume grows ~(n_planes+1)/2^n
    of the corpus per query.
    """
    qb = queries.select(
        F.col(q_id),
        F.col(q_vec),
        hyperplane_signature(q_vec, n_planes, dim).alias("bucket"),
    ).withColumn("__nq", norm_expr(F.col(q_vec)))
    if multiprobe:
        variants = [F.col("bucket")] + [
            F.concat(
                F.substring("bucket", 1, p),
                F.when(F.substring("bucket", p + 1, 1) == "1", "0").otherwise("1"),
                F.substring("bucket", p + 2, n_planes - p - 1),
            )
            for p in range(n_planes)
        ]
        qb = qb.withColumn("bucket", F.explode(F.array(*variants)))
    qb = F.broadcast(qb)
    cb = corpus.select(
        F.col(c_id), F.col(c_vec), hyperplane_signature(c_vec, n_planes, dim).alias("bucket")
    ).withColumn("__nc", norm_expr(F.col(c_vec)))
    sim = (dot_expr(F.col(q_vec), F.col(c_vec)) / (F.col("__nq") * F.col("__nc"))).alias("cosine")
    w = W.partitionBy(q_id).orderBy(F.col("cosine").desc(), F.col(c_id))
    return (
        cb.join(qb, "bucket")
        .select(q_id, c_id, sim)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def ivf_index(
    corpus: DataFrame,
    n_centroids: int = 16,
    c_id: str = "vec_id",
    c_vec: str = "embedding",
    train: str = "sample",
    kmeans_iters: int = 3,
    fit_fraction: float | None = None,
) -> tuple[DataFrame, DataFrame]:
    """IVF(-flat) index: pick centroids, assign every vector to its nearest.

    ``train="sample"``: deterministic corpus sample (lowest ids) — cheapest,
    plan-shape identical. ``train="kmeans"``: Lloyd's centroids
    (`functions/clustering.kmeans_fit`) — tighter cells, better recall at a
    given nprobe. Assignment is a broadcast cross join against the tiny
    centroid set + one windowed argmin — a single pass over the corpus.
    Returns (centroids(centroid_id, centroid_vec), corpus + centroid_id).

    ``fit_fraction`` (kmeans only) fits the centroids on `kmeans_fit`'s
    deterministic md5-bucket sample — the FAISS discipline (coarse
    quantizers train on ~1M samples, never the corpus): Lloyd's passes
    cost O(sample·k·iters) instead of O(N·k·iters); the single full-
    corpus pass left is the final assignment, which any index build
    must make anyway.
    """
    if train == "kmeans":
        from etl_edi_data_scrapper_spark.functions.clustering import kmeans_fit

        centers, _ = kmeans_fit(
            corpus, vec_col=c_vec, k=n_centroids, n_iters=kmeans_iters,
            id_col=c_id, fit_fraction=fit_fraction,
        )
        centroids = corpus.sparkSession.createDataFrame(
            [(i, [float(x) for x in c]) for i, c in enumerate(centers)],
            f"centroid_id long, centroid_vec array<double>",
        )
    else:
        centroids = (
            corpus.orderBy(F.col(c_id)).limit(n_centroids)
            .select(
                F.col(c_id).alias("centroid_id"),
                F.col(c_vec).alias("centroid_vec"),
            )
        )
    return centroids, ivf_assign(corpus, centroids, c_id=c_id, c_vec=c_vec)


def ivf_assign(
    corpus: DataFrame,
    centroids: DataFrame,
    c_id: str = "vec_id",
    c_vec: str = "embedding",
) -> DataFrame:
    """Assign every vector to its nearest centroid (argmax cosine, tie →
    lowest centroid_id). Shared by `ivf_index` (build time) and
    `append_to_ivfpq_index` (incremental adds against FROZEN centroids).

    One Arrow-batched pandas UDF computes the argmax-cosine in numpy per
    batch with ZERO extra rows and NO shuffle (a cross join + window
    form materializes corpus × n_centroids rows through a shuffle —
    25.6M rows at 100k × 256). Centroids are ordered by centroid_id and
    argmax returns the first maximum, so ties go to the lowest id. A
    zero-norm centroid has no cosine and never wins; a zero-norm vector
    has no cosine to any centroid and routes to the lowest centroid_id
    (the SQL oracles' `sim desc nulls last, centroid_id` window rule)."""
    import numpy as np

    from pyspark.sql.functions import pandas_udf

    # centroid ids inherit the corpus id type under literal training
    # — carry strings as object arrays and emit the matching schema
    # (the ADC kernels' r13 discipline)
    cen_kind = _adc_id_kind(centroids, "centroid_id")
    rows = sorted(
        centroids.select("centroid_id", "centroid_vec").collect(),
        key=lambda r: r.centroid_id,
    )
    ids_np = np.asarray(
        [r.centroid_id for r in rows],
        dtype=np.int64 if cen_kind != "string" else object,
    )
    cen_np = np.asarray(
        [[float(x) for x in r.centroid_vec] for r in rows],
        dtype=np.float64,
    )
    ncen = np.linalg.norm(cen_np, axis=1, keepdims=True)
    # Zero-norm centroids (e.g. a failed-embed row sampled as a
    # literal-train centroid): mask their sim column to -inf instead of
    # letting a NaN row in cen_unit poison argmax (which returns the
    # first NaN index and silently routes EVERY vector to the
    # degenerate centroid).
    zero_cen = (ncen == 0.0).ravel()
    ncen[zero_cen] = 1.0
    cen_unit = cen_np / ncen

    @pandas_udf(_ADC_ID_SQL[cen_kind])
    def _route(vs: pd.Series) -> pd.Series:
        x = np.asarray(vs.tolist(), dtype=np.float64)
        nx = np.linalg.norm(x, axis=1, keepdims=True)
        zero_vec = (nx == 0.0).ravel()
        nx[nx == 0.0] = 1.0
        sims = (x / nx) @ cen_unit.T
        sims[:, zero_cen] = -np.inf
        out = ids_np[sims.argmax(axis=1)]
        out[zero_vec] = ids_np[0]
        return pd.Series(out)

    return corpus.select(
        F.col(c_id), F.col(c_vec), _route(F.col(c_vec)).alias("centroid_id")
    )


def ivf_topk(
    queries: DataFrame,
    centroids: DataFrame,
    assigned: DataFrame,
    k: int = 5,
    nprobe: int = 3,
    q_id: str = "q_id",
    q_vec: str = "q_vec",
    c_id: str = "vec_id",
    c_vec: str = "embedding",
) -> DataFrame:
    """Approximate top-k: route each query to its ``nprobe`` nearest
    centroids, exact-rerank ONLY inside those buckets. Cost per query drops
    from |corpus| to ~nprobe/n_centroids of it; recall rises with nprobe
    (nprobe = n_centroids ≡ brute force)."""
    cb = F.broadcast(centroids.withColumn("__ncen", norm_expr(F.col("centroid_vec"))))
    qn = queries.withColumn("__nq", norm_expr(F.col(q_vec)))
    qsim = dot_expr(F.col(q_vec), F.col("centroid_vec")) / (F.col("__nq") * F.col("__ncen"))
    wq = W.partitionBy(q_id).orderBy(F.col("__qsim").desc(), F.col("centroid_id"))
    routed = (
        qn.crossJoin(cb)
        .withColumn("__qsim", qsim)
        .withColumn("__rk", F.row_number().over(wq))
        .filter(F.col("__rk") <= nprobe)
        .select(q_id, q_vec, "__nq", "centroid_id")
    )
    cand = assigned.withColumn("__nc", norm_expr(F.col(c_vec))).join(
        F.broadcast(routed), "centroid_id"
    )
    sim = (dot_expr(F.col(q_vec), F.col(c_vec)) / (F.col("__nq") * F.col("__nc"))).alias("cosine")
    w = W.partitionBy(q_id).orderBy(F.col("cosine").desc(), F.col(c_id))
    return (
        cand.select(q_id, c_id, sim)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def quantize_embeddings(
    df: DataFrame,
    vec_col: str = "embedding",
    out_col: str = "q_vec",
    scale_col: str = "q_scale",
) -> DataFrame:
    """Symmetric per-vector int8 quantization: ``q[i] = clamp(round(x[i] /
    scale), -127, 127)`` with ``scale = max|x| / 127`` — the standard 4×
    storage/IO compression for embedding tables (float32 → int8) that an
    ANN corpus at 100 TB needs before anything else: scan time is
    IO-bound, and candidate generation (LSH/IVF routing) tolerates the
    ≤ scale/2 per-coordinate error easily; exact rerank can fetch the
    float originals for the top candidates only.

    Pure JVM array expressions (transform/greatest/round) — no Python, no
    shuffle; the quantized column is array<tinyint> (Spark's parquet
    writer stores it compactly) plus one float scale per vector.
    All-zero vectors get scale 0 and all-zero codes (dequantizes to the
    exact original).
    """
    absmax = F.aggregate(
        F.col(vec_col),
        F.lit(0.0),
        lambda acc, v: F.greatest(acc, F.abs(v.cast("double"))),
    )
    scale = (absmax / F.lit(127.0)).alias(scale_col)
    q = F.when(
        F.col(scale_col) > 0,
        F.transform(
            F.col(vec_col),
            lambda v: F.greatest(
                F.lit(-127),
                F.least(F.lit(127), F.round(v.cast("double") / F.col(scale_col))),
            ).cast("tinyint"),
        ),
    ).otherwise(F.transform(F.col(vec_col), lambda v: F.lit(0).cast("tinyint")))
    return df.withColumn(scale_col, scale).withColumn(out_col, q)


def dequantize_embeddings(
    df: DataFrame,
    q_col: str = "q_vec",
    scale_col: str = "q_scale",
    out_col: str = "embedding",
) -> DataFrame:
    """Inverse of `quantize_embeddings`: ``x'[i] = q[i] * scale`` as
    array<float>. Per-coordinate reconstruction error ≤ scale/2 by
    construction (round-to-nearest)."""
    return df.withColumn(
        out_col,
        F.transform(
            F.col(q_col), lambda v: (v.cast("double") * F.col(scale_col)).cast("float")
        ),
    )


def save_ivf_index(
    centroids: DataFrame,
    assigned: DataFrame,
    path: str,
) -> None:
    """Persist an :func:`ivf_index` for reuse across jobs — and lay the
    assignment out PARTITIONED BY ``centroid_id``, which is what makes a
    saved index more than a cache: at query time the candidate join
    routes to ``nprobe`` centroids, and Spark's partition pruning
    (static for literal probes, dynamic for the broadcast-join route in
    :func:`ivf_topk`) reads ONLY those cells' files. At 100 TB that is
    the difference between scanning the corpus per query batch and
    scanning nprobe/n_centroids of it — the on-disk analogue of what an
    IVF inverted list buys in memory."""
    centroids.write.mode("overwrite").parquet(f"{path}/centroids")
    assigned.write.mode("overwrite").partitionBy("centroid_id").parquet(
        f"{path}/assigned"
    )


def load_ivf_index(spark, path: str) -> tuple[DataFrame, DataFrame]:
    """(centroids, assigned) back from :func:`save_ivf_index` — drop-in
    arguments for :func:`ivf_topk`. The assignment scan carries the
    ``centroid_id`` partition column, so the routed candidate join
    prunes to the probed cells."""
    return (
        spark.read.parquet(f"{path}/centroids"),
        spark.read.parquet(f"{path}/assigned"),
    )


def save_ivfpq_index(
    centroids: DataFrame,
    encoded_assigned: DataFrame,
    codebooks: DataFrame | list,
    path: str,
    c_id: str = "vec_id",
    codes_col: str = "codes",
    meta: dict | None = None,
    residual: bool | None = None,
) -> None:
    """Persist the full IVFADC layout: coarse centroids, per-subspace
    codebooks, and the encoded assignment laid out PARTITIONED BY
    ``centroid_id`` — with the float vectors DROPPED. This is where PQ's
    compression cashes out on disk: each cell stores (vec_id, codes) —
    ~8 B of codes instead of a dim-wide float array — so the routed
    probe in :func:`ivfpq_topk` both prunes to nprobe cells AND reads
    ~32× fewer bytes per cell than the IVF-flat index. A billion-vector
    corpus that IVF-flat stores in 256 GB of cells fits in ~12 GB of
    codes; the exact-rerank tier (fetch float originals for the final
    top candidates) reads the primary store by id, not this index.

    The `_meta.json` sidecar is ALWAYS written (``meta`` merged with the
    ``residual`` flag when given): codes from :func:`ivfpq_residual_index`
    are meaningless against raw query vectors, so readers
    (:func:`append_to_ivfpq_index`, the `ann-query` CLI) refuse an index
    whose sidecar lacks the flag rather than guess — a raw/residual
    mix-up ranks silently wrong, never errors."""
    spark = centroids.sparkSession
    if isinstance(codebooks, list):
        codebooks = spark.createDataFrame(
            [
                (s, c, vec)
                for s, cb in enumerate(codebooks)
                for c, vec in enumerate(cb)
            ],
            "sub_id int, code_id int, sub_vec array<double>",
        )
    centroids.write.mode("overwrite").parquet(f"{path}/centroids")
    codebooks.write.mode("overwrite").parquet(f"{path}/codebooks")
    encoded_assigned.select(
        F.col(c_id), F.col(codes_col), F.col("centroid_id")
    ).write.mode("overwrite").partitionBy("centroid_id").parquet(
        f"{path}/codes"
    )
    import json

    from etl_edi_data_scrapper_spark import fsutil

    meta = dict(meta) if meta else {}
    if residual is not None:
        meta.setdefault("residual", bool(residual))
    # the sidecar lives on the INDEX's filesystem (hdfs://, s3a://,
    # file) — a driver-local open() beside a remote index would strand
    # the meta on the driver and the index would load as raw-encoded
    fsutil.write_text_atomic(
        spark, f"{path}/_meta.json", json.dumps(meta, sort_keys=True)
    )


def load_ivfpq_index(
    spark, path: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(centroids, encoded_assigned, codebooks) back from
    :func:`save_ivfpq_index` — drop-in arguments for :func:`ivfpq_topk`.
    The codes scan carries the ``centroid_id`` partition column, so the
    routed ADC join prunes to the probed cells' directories.

    If ``codes`` is missing but a `compact_ivfpq_codes` working dir
    survives (``codes__precompact`` = the originals moved aside,
    ``codes__compacting`` = the rewritten layout), the error names the
    recoverable directory instead of a bare path-not-found."""
    codes = f"{path}/codes"
    try:
        codes_df = spark.read.parquet(codes)
    except Exception as e:
        jpath = spark._jvm.org.apache.hadoop.fs.Path
        fs = jpath(path).getFileSystem(spark._jsc.hadoopConfiguration())
        for leftover in (codes + "__precompact", codes + "__compacting"):
            if fs.exists(jpath(leftover)):
                raise IOError(
                    f"{codes!r} is missing but a compaction working dir "
                    f"survives at {leftover!r} — a `compact_ivfpq_codes` "
                    f"run died mid-swap; rename it back to 'codes' to "
                    f"recover (row sets are identical)."
                ) from e
        raise
    return (
        spark.read.parquet(f"{path}/centroids"),
        codes_df,
        spark.read.parquet(f"{path}/codebooks"),
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ) — Jégou, Douze, Schmid, "Product Quantization
# for Nearest Neighbor Search", IEEE TPAMI 2011. The 100 TB compression
# rung BELOW int8 (`quantize_embeddings`): each vector is split into
# `m_sub` subvectors and every subvector is replaced by the id of its
# nearest entry in a tiny per-subspace codebook — a 64-dim float32 vector
# (256 B) becomes m_sub code ids (8 B at m_sub=8/n_codes≤256), a 32×
# compression that turns the ANN candidate scan from IO-bound float reads
# into scanning precomputed-lookup-table sums (ADC: asymmetric distance
# computation — the query stays exact float, only the corpus side is
# quantized, so error enters once, not twice).
#
# Scale shape: codebooks are m_sub × n_codes rows — driver-resident by
# design (the kmeans-centroid bounded-state pattern); ENCODE is a pure
# per-row expression over a literal codebook (zero shuffle — the corpus
# never moves); ADC top-k replaces cosine_topk's float dot products with
# per-query table lookups over the 8-byte code arrays, and composes with
# IVF routing (`ivfpq_topk`) so each query batch touches only
# nprobe/n_centroids of the corpus — the FAISS IVFADC layout re-expressed
# as DataFrame ops.
# ---------------------------------------------------------------------------


def sample_codebooks_local(
    corpus: DataFrame,
    m_sub: int = 8,
    n_codes: int = 16,
    dim: int = 64,
    c_id: str = "vec_id",
    c_vec: str = "embedding",
) -> list[list[list[float]]]:
    """Driver-side fast path for ``pq_codebooks(train='sample')``: one
    bounded ``n_codes``-row fetch, sliced in Python — value-identical to
    collecting the DataFrame form (float→double widening is exact on both
    routes; parity pinned in tests/test_pq.py), but a single cheap job
    instead of an orderBy+window+explode plan. Use when the codebook is
    consumed as a literal anyway (encode/ADC), e.g. `suite.q_ann_recall`."""
    if dim % m_sub != 0:
        raise ValueError(f"dim {dim} not divisible by m_sub {m_sub}")
    d = dim // m_sub
    rows = (
        corpus.orderBy(F.col(c_id)).limit(n_codes).select(F.col(c_vec)).collect()
    )
    return [
        [[float(x) for x in r[0][s * d : (s + 1) * d]] for r in rows]
        for s in range(m_sub)
    ]


def pq_codebooks(
    corpus: DataFrame,
    m_sub: int = 8,
    n_codes: int = 16,
    dim: int = 64,
    c_id: str = "vec_id",
    c_vec: str = "embedding",
    train: str = "sample",
    kmeans_iters: int = 3,
    fit_fraction: float | None = None,
) -> DataFrame:
    """Per-subspace codebooks: (sub_id, code_id, sub_vec array<double>).

    ``train="sample"``: code vectors are the subvectors of the ``n_codes``
    lowest-id corpus vectors — fully deterministic and SQL-replicable (the
    oracle path, same convention as `ivf_index(train="sample")`).
    ``train="kmeans"``: per-subspace Lloyd's (`clustering.kmeans_fit`,
    md5-spread deterministic init) — the quality path: codebook cells
    track the data distribution, cutting quantization error at the same
    code budget (pinned by test, not oracle — float iteration isn't
    SQL-replicable). ``fit_fraction`` (kmeans only) trains each
    subspace's Lloyd's on `kmeans_fit`'s deterministic md5-bucket
    sample — without it the kmeans path makes m_sub × n_iters FULL
    corpus passes, the one remaining full-scan multiplier in the ANN
    build at 100 TB (FAISS trains PQ on ~1M samples; r11 verdict #7)."""
    if dim % m_sub != 0:
        raise ValueError(f"dim {dim} not divisible by m_sub {m_sub}")
    d_sub = dim // m_sub
    if train == "kmeans":
        from etl_edi_data_scrapper_spark.functions.clustering import kmeans_fit

        rows = []
        for s in range(m_sub):
            sub = corpus.select(
                F.col(c_id),
                F.transform(
                    F.slice(F.col(c_vec), s * d_sub + 1, d_sub),
                    lambda x: x.cast("double"),
                ).alias("__sub"),
            )
            centers, _ = kmeans_fit(
                sub, vec_col="__sub", k=n_codes, n_iters=kmeans_iters,
                id_col=c_id, fit_fraction=fit_fraction,
            )
            rows += [
                (s, i, [float(x) for x in cvec]) for i, cvec in enumerate(centers)
            ]
        return corpus.sparkSession.createDataFrame(
            rows, "sub_id int, code_id int, sub_vec array<double>"
        )
    base = (
        corpus.orderBy(F.col(c_id))
        .limit(n_codes)
        .select(F.col(c_id), F.col(c_vec))
        .withColumn(
            "code_id",
            (F.row_number().over(W.orderBy(F.col(c_id))) - 1).cast("int"),
        )
    )
    subs = F.explode(
        F.sequence(F.lit(0), F.lit(m_sub - 1))
    ).alias("sub_id")
    return base.select(subs, "code_id", F.col(c_vec)).select(
        F.col("sub_id").cast("int"),
        "code_id",
        F.transform(
            F.slice(F.col(c_vec), F.col("sub_id") * d_sub + 1, F.lit(d_sub)),
            lambda x: x.cast("double"),
        ).alias("sub_vec"),
    )


def _collect_codebooks(
    codebooks: DataFrame | list,
) -> list[list[list[float]]]:
    """Driver-side [sub_id][code_id] -> sub_vec. Bounded by construction
    (m_sub × n_codes rows — the codebook IS the model, like kmeans
    centroids); raises if the frame is ragged rather than encode wrongly.
    An already-collected nested list passes through unchanged, so a
    caller wiring several PQ ops over one codebook (encode + ADC +
    IVFADC, e.g. `suite.q_ann_recall`) collects exactly once."""
    if isinstance(codebooks, list):
        return codebooks
    rows = codebooks.select("sub_id", "code_id", "sub_vec").collect()
    m = max(r.sub_id for r in rows) + 1
    n = max(r.code_id for r in rows) + 1
    if len(rows) != m * n:
        raise ValueError(f"ragged codebooks: {len(rows)} rows for {m}x{n}")
    out: list[list[list[float] | None]] = [[None] * n for _ in range(m)]
    for r in rows:
        out[r.sub_id][r.code_id] = [float(x) for x in r.sub_vec]
    return out  # type: ignore[return-value]


# ---------------------------------------------------------------------------
# OPQ — Ge, He, Ke, Sun, "Optimized Product Quantization" (CVPR 2013;
# TPAMI 2014), the non-parametric variant (Algorithm: alternate
# per-subspace k-means on rotated data with an orthogonal-Procrustes
# rotation update R = UVᵀ from SVD(XᵀY)). PQ's blind d/m_sub slicing
# leaves correlated/unbalanced variance inside subspaces; a learned
# rotation redistributes it so the SAME code budget quantizes finer —
# the standard FAISS recipe ("OPQ16,IVF...,PQ16") when 8–16 bytes must
# rank on their own (r12 study: raw 8-byte codes plateau at 0.19
# recall@10 at σ-noise hardness; see ANN_QUALITY_r13.json for the
# bytes ± rotation ladder).
#
# Scale shape: training is driver-resident numpy over a bounded
# deterministic sample (md5-ordered TakeOrderedAndProject — FAISS trains
# OPQMatrix on max_train_points, never the corpus); the model is a d×d
# rotation (64×64 = 32 KB) broadcast as a literal; application is an
# Arrow-batched matmul — per-row, ZERO shuffle, the corpus never moves.
# L2 is rotation-invariant, so exact top-k in rotated space equals exact
# top-k in the original space; only the quantization error changes.
# Float-iterative (SVD + Lloyd's) → pinned by tests, not SQL-oracled,
# same as kmeans.
# ---------------------------------------------------------------------------


def _np_subspace_kmeans(xs, n_codes: int, n_iters: int):
    """Deterministic per-subspace Lloyd's for OPQ training: init = first
    ``n_codes`` rows of the (md5-ordered) sample, BLAS-expansion
    distances (training picks centroids; cross-strategy ulp parity is
    an ENCODE concern, handled by pq_encode). Empty cells keep their
    previous centroid."""
    import numpy as np

    cent = xs[: min(n_codes, xs.shape[0])].copy()
    for _ in range(n_iters):
        d2 = (
            (xs * xs).sum(1, keepdims=True)
            - 2.0 * (xs @ cent.T)
            + (cent * cent).sum(1)[None, :]
        )
        a = d2.argmin(1)
        for c in range(cent.shape[0]):
            m = a == c
            if m.any():
                cent[c] = xs[m].mean(0)
    return cent


def _np_pq_fit_recon(x, m_sub: int, n_codes: int, kmeans_iters: int):
    """Blind d/m_sub-sliced PQ fit on an in-memory sample: per-subspace
    Lloyd's (`_np_subspace_kmeans` discipline) + nearest-entry
    reconstruction. Returns (codebooks [m][n][d_sub], y = quantize(x)) —
    the shared kernel of the OPQ alternation, its final refit, and the
    raw-PQ leg of the `opq_train_auto` decision (same init, same
    iteration budget, so the two MSEs differ only by the rotation).

    Subspace fits are fully independent (no shared state), so they run
    THREAD-parallel (r13 verdict #8: the alternating loop is
    embarrassingly parallel across subspaces; numpy releases the GIL in
    the BLAS expansion, so this cuts the driver-side OPQ training wall
    ~min(m_sub, cores)× — results are assembled by subspace index and
    each fit is deterministic, so the output is bit-identical to the
    sequential loop)."""
    import numpy as np
    from concurrent.futures import ThreadPoolExecutor

    n, d = x.shape
    d_sub = d // m_sub
    y = np.empty_like(x)
    cbs: list = [None] * m_sub

    def fit_one(s: int) -> None:
        xs = x[:, s * d_sub : (s + 1) * d_sub]
        cent = _np_subspace_kmeans(xs, n_codes, kmeans_iters)
        d2 = (
            (xs * xs).sum(1, keepdims=True)
            - 2.0 * (xs @ cent.T)
            + (cent * cent).sum(1)[None, :]
        )
        y[:, s * d_sub : (s + 1) * d_sub] = cent[d2.argmin(1)]
        cbs[s] = cent

    import os

    workers = max(1, min(m_sub, (os.cpu_count() or 2) - 1))
    if workers == 1:
        for s in range(m_sub):
            fit_one(s)
    else:
        with ThreadPoolExecutor(max_workers=workers) as ex:
            list(ex.map(fit_one, range(m_sub)))
    return cbs, y


def _np_opq_train(x, m_sub: int, n_codes: int, n_iters: int = 10,
                  kmeans_iters: int = 4):
    """OPQ-NP on an in-memory float64 sample: returns (R (d, d) with
    det ±1, codebooks (m, n, d_sub), mse) minimizing
    ‖xR − quantize(xR)‖². Deterministic: identity init, per-subspace
    first-rows k-means init, numpy SVD.

    The alternation ENDS on a rotation update, so the loop's last
    codebooks were fitted under the previous iteration's R; the returned
    pair is made self-consistent by one final codebook refit on
    ``x @ R`` (r13 ADVICE #1 — the study's OPQ ladder encoded final-R
    vectors against stale-R codebooks, understating measured recall).
    ``mse`` is the sample mean ‖xR − quantize(xR)‖² of that final
    consistent pair."""
    import numpy as np

    n, d = x.shape
    R = np.eye(d)
    for _ in range(n_iters):
        xr = x @ R
        _, y = _np_pq_fit_recon(xr, m_sub, n_codes, kmeans_iters)
        u, _, vt = np.linalg.svd(x.T @ y)
        R = u @ vt
    xr = x @ R
    cbs, y = _np_pq_fit_recon(xr, m_sub, n_codes, kmeans_iters)
    mse = float(((xr - y) ** 2).sum(axis=1).mean())
    return R, cbs, mse


def _opq_sample(
    corpus: DataFrame,
    dim: int,
    c_id: str,
    c_vec: str,
    max_train_rows: int,
):
    """The bounded deterministic training sample shared by `opq_train`
    and `opq_train_auto`: the ``max_train_rows`` vectors whose md5(id)
    sorts lowest (per-partition heaps, no global sort, stable across
    partitionings — the `kmeans_fit` init discipline stretched to a
    training set). Returns a float64 (n, dim) numpy array."""
    import numpy as np

    rows = (
        corpus.select(F.col(c_id), F.col(c_vec))
        .orderBy(F.md5(F.col(c_id).cast("string")))
        .limit(max_train_rows)
        .collect()
    )
    if not rows:
        raise ValueError("opq_train: empty corpus")
    x = np.asarray([[float(v) for v in r[1]] for r in rows], dtype=np.float64)
    if x.shape[1] != dim:
        raise ValueError(f"opq_train: vectors are dim {x.shape[1]}, not {dim}")
    return x


def opq_train(
    corpus: DataFrame,
    m_sub: int = 8,
    n_codes: int = 256,
    dim: int = 64,
    c_id: str = "vec_id",
    c_vec: str = "embedding",
    n_iters: int = 10,
    kmeans_iters: int = 4,
    max_train_rows: int = 65536,
) -> tuple[list[list[float]], list[list[list[float]]]]:
    """Train an OPQ rotation + codebooks on a bounded deterministic
    sample (`_opq_sample`). Returns (R as a nested list for
    literal/broadcast use, codebooks in `pq_encode`'s [sub][code]
    layout — refit on the FINAL rotation, so the pair is
    self-consistent; encode/ADC must run on `apply_rotation`-ed
    vectors)."""
    if dim % m_sub != 0:
        raise ValueError(f"dim {dim} not divisible by m_sub {m_sub}")
    x = _opq_sample(corpus, dim, c_id, c_vec, max_train_rows)
    R, cbs, _ = _np_opq_train(x, m_sub, n_codes, n_iters, kmeans_iters)
    return (
        [[float(v) for v in row] for row in R],
        [[[float(v) for v in c] for c in cb] for cb in cbs],
    )


def _np_encode_mse(x, cbs, R=None) -> float:
    """Mean ‖xR − quantize(xR)‖² of encoding ``x`` (optionally rotated)
    against already-fitted codebooks — the held-out evaluation kernel of
    `opq_train_auto` (no refit here: fitting on the eval set would hide
    exactly the overfit the held-out split exists to expose)."""
    import numpy as np

    if R is not None:
        x = x @ R
    m = len(cbs)
    d_sub = x.shape[1] // m
    err = 0.0
    for s in range(m):
        xs = x[:, s * d_sub : (s + 1) * d_sub]
        cent = np.asarray(cbs[s])
        d2 = (
            (xs * xs).sum(1, keepdims=True)
            - 2.0 * (xs @ cent.T)
            + (cent * cent).sum(1)[None, :]
        )
        y = cent[d2.argmin(1)]
        err += ((xs - y) ** 2).sum()
    return float(err / x.shape[0])


def _np_adc_recall(ev, cbs, R=None, n_queries: int = 128,
                   k: int = 10) -> float:
    """Standalone ADC recall@k of already-fitted codebooks on the
    held-out split — the DEPLOYMENT metric `opq_train_auto` decides on.
    Queries = the first ``n_queries`` held-out rows; ground truth =
    exact L2 top-k among the held-out set in ORIGINAL space (identical
    for both legs); ranking = distance to each row's reconstruction in
    the leg's own space (q@R vs quantize(x@R) — L2 is
    rotation-invariant, so the two legs' rankings are comparable while
    each pays exactly its own quantization error). Self-matches are
    excluded on both sides (they only add a shared constant). Pure
    numpy over the bounded sample: ≤ 32k × 64 floats."""
    import numpy as np

    n = ev.shape[0]
    if n < 3:
        return 1.0
    k = min(k, n - 1)
    n_queries = min(n_queries, n)
    xr = ev @ R if R is not None else ev
    m = len(cbs)
    d_sub = xr.shape[1] // m
    recon = np.empty_like(xr)
    for s in range(m):
        xs = xr[:, s * d_sub : (s + 1) * d_sub]
        cent = np.asarray(cbs[s])
        d2 = (
            (xs * xs).sum(1, keepdims=True)
            - 2.0 * (xs @ cent.T)
            + (cent * cent).sum(1)[None, :]
        )
        recon[:, s * d_sub : (s + 1) * d_sub] = cent[d2.argmin(1)]
    hits = 0
    for qi in range(n_queries):
        dt = ((ev - ev[qi]) ** 2).sum(1)
        dt[qi] = np.inf
        truth = set(np.lexsort((np.arange(n), dt))[:k])
        da = ((recon - xr[qi]) ** 2).sum(1)
        da[qi] = np.inf
        got = set(np.lexsort((np.arange(n), da))[:k])
        hits += len(truth & got)
    return float(hits / (n_queries * k))


# `opq_train_auto` ships the rotation only when it improves held-out
# standalone ADC recall@10 by at least this many absolute points. Ties
# break RAW: the rotation costs real money forever — an extra d×d matmul
# on every encoded/appended/queried row — so a noise-band margin must not
# buy it. Measured (r14): paired rot−raw diffs on ISOTROPIC corpora at
# the 128-query/k=10 held-out eval span [−0.044, +0.018] over 8 seeds —
# pure noise — while the anisotropic win is +0.14–0.19 at study geometry.
# 0.05 sits above the whole measured noise band and well below the win.
OPQ_MIN_RECALL_GAIN = 0.05


def opq_train_auto(
    corpus: DataFrame,
    m_sub: int = 8,
    n_codes: int = 256,
    dim: int = 64,
    c_id: str = "vec_id",
    c_vec: str = "embedding",
    n_iters: int = 10,
    kmeans_iters: int = 4,
    max_train_rows: int = 65536,
) -> dict:
    """Measured OPQ decision (r13 verdict #1): rotation quality is
    corpus-dependent — ANN_QUALITY_r13 measured OPQ at −14% recall on an
    isotropic corpus (variance already balanced across subspaces; the
    rotation only perturbs a good blind slicing) and +25–48% on an
    anisotropic one (decaying spectrum: the rotation redistributes
    variance so every subspace's code budget works). Instead of a blind
    flag, fit BOTH quantizations on the md5-ordered sample's first half
    and compare them on the HELD-OUT second half. Held-out, not
    in-sample — the rotation has d² free parameters and reliably cuts
    IN-SAMPLE error even where it degrades out-of-sample quality.

    The DECISION metric is held-out standalone ADC **recall@10**
    (`_np_adc_recall`) — the deployment metric itself, not a proxy. The
    r14 study caught held-out reconstruction MSE mispicking: on a
    clustered corpus with balanced per-dim variance the rotation cuts
    held-out MSE 13.5% (real structure, honestly generalizing) while
    measured standalone recall still favors raw (0.140 vs 0.123 @ 8
    bytes) — lower reconstruction error is necessary but NOT sufficient
    for better neighbor ranking at σ-noise hardness, because ranking
    cares where the error points, not just how big it is. Both MSEs are
    still computed and returned as diagnostics (same Lloyd's init +
    iteration budget on both legs, so they isolate the rotation).

    Returns ``{"rotation", "use_rotation", "recall_raw",
    "recall_rotated", "mse_raw", "mse_rotated"}``; ``use_rotation``
    requires the rotated recall to beat raw by `OPQ_MIN_RECALL_GAIN`
    absolute points (ties break raw — see the constant's rationale).
    Callers record the decision + all four metrics in the index
    `_meta.json` (surfaced by `store-info`). The returned rotation is
    the half-sample-trained one (32k vectors at the default budget —
    ample for a d×d rotation; FAISS's OPQMatrix trains on less). The
    evaluation runs on the raw (non-residual) quantization; the shipped
    index may train residual codebooks distributed — the rotation's
    variance-balancing effect carries over (residuals inherit the
    subspace split)."""
    if dim % m_sub != 0:
        raise ValueError(f"dim {dim} not divisible by m_sub {m_sub}")
    x = _opq_sample(corpus, dim, c_id, c_vec, max_train_rows)
    half = x.shape[0] // 2
    if half >= n_codes:
        tr, ev = x[:half], x[half:]
    else:
        # degenerate sample (fewer than 2×n_codes rows): no split fits,
        # fall back to in-sample — at this size the index is trivially
        # rebuildable anyway
        tr = ev = x
    cbs_raw, _ = _np_pq_fit_recon(tr, m_sub, n_codes, kmeans_iters)
    R, cbs_rot, _ = _np_opq_train(tr, m_sub, n_codes, n_iters, kmeans_iters)
    mse_raw = _np_encode_mse(ev, cbs_raw)
    mse_rot = _np_encode_mse(ev, cbs_rot, R)
    recall_raw = _np_adc_recall(ev, cbs_raw)
    recall_rot = _np_adc_recall(ev, cbs_rot, R)
    return {
        "rotation": [[float(v) for v in row] for row in R],
        "use_rotation": bool(
            recall_rot > recall_raw + OPQ_MIN_RECALL_GAIN
        ),
        "recall_raw": recall_raw,
        "recall_rotated": recall_rot,
        "mse_raw": mse_raw,
        "mse_rotated": mse_rot,
    }


def apply_rotation(
    df: DataFrame,
    rotation: list[list[float]],
    vec_col: str = "embedding",
    out_col: str | None = None,
) -> DataFrame:
    """``out_col = vec @ R`` as array<double> — Arrow-batched matmul
    against the driver-resident d×d rotation, per-row and ZERO shuffle
    (the OPQ preprocessing step for corpus AND queries; downstream PQ
    ops are unchanged). Overwrites ``vec_col`` when ``out_col`` is
    None — the common build shape, since nothing downstream should see
    unrotated vectors by accident."""
    import numpy as np

    from pyspark.sql.functions import pandas_udf

    r_np = np.asarray(rotation, dtype=np.float64)
    if r_np.ndim != 2 or r_np.shape[0] != r_np.shape[1]:
        raise ValueError(f"rotation must be square, got {r_np.shape}")

    @pandas_udf("array<double>")
    def _rot(vs: pd.Series) -> pd.Series:
        if not len(vs):
            return pd.Series([], dtype=object)
        x = np.asarray(vs.tolist(), dtype=np.float64)
        if x.shape[1] != r_np.shape[0]:
            raise ValueError(
                f"apply_rotation: vectors are dim {x.shape[1]}, rotation "
                f"is {r_np.shape[0]}x{r_np.shape[1]}"
            )
        return pd.Series(list(x @ r_np))

    return df.withColumn(out_col or vec_col, _rot(F.col(vec_col)))


def _darr_sql(v) -> str:
    """A (possibly nested) double-array literal as SQL text. `F.lit` of a
    nested Python list converts element-by-element through py4j (r12
    study: 2.0 → 42.5 s of plan build as the code budget grows); one
    parsed string builds the identical array<...<double>> literal in
    milliseconds (exact: repr round-trips doubles — see clustering._dlit)."""
    from etl_edi_data_scrapper_spark.functions.clustering import _dlit

    if isinstance(v, (list, tuple)):
        return "array(" + ",".join(_darr_sql(x) for x in v) + ")"
    return _dlit(v)


def _sq_dist(a: Column, b: Column) -> Column:
    """Σ (a_i − b_i)² with the elementwise cast/multiply order mirrored by
    the DuckDB oracles (list_zip + list_transform + list_sum)."""
    return F.aggregate(
        F.zip_with(
            a,
            b,
            lambda x, c: (x.cast("double") - c.cast("double"))
            * (x.cast("double") - c.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def pq_encode(
    corpus: DataFrame,
    codebooks: DataFrame | list,
    c_vec: str = "embedding",
    out_col: str = "codes",
) -> DataFrame:
    """corpus + ``out_col`` array<int>: per subspace, the id of the nearest
    codebook entry (squared L2; ties → lowest code_id). ZERO shuffle — at
    100 TB the corpus never moves, and the 8-byte code column is what
    downstream ADC scans instead of the float vectors.

    One Arrow-batched pandas UDF computes the argmin in numpy (a
    nested-literal SQL expression costs ~14 s of PLAN BUILD per query at
    8×256 codes and evaluates its folds interpreted).
    Distances use `_np_fold_sqdist`'s sequential-fold float discipline,
    so they equal the SQL oracles' list_sum to the last ulp; argmin
    returns the first minimum = the lowest code_id."""
    import numpy as np

    from etl_edi_data_scrapper_spark.functions.clustering import (
        _np_fold_sqdist,
    )
    from pyspark.sql.functions import pandas_udf

    cb_np = np.asarray(_collect_codebooks(codebooks), dtype=np.float64)
    m_sub, n_codes, d_sub = cb_np.shape

    @pandas_udf("array<int>")
    def _enc(vs: pd.Series) -> pd.Series:
        x = np.asarray(vs.tolist(), dtype=np.float64)
        out = np.empty((x.shape[0], m_sub), dtype=np.int32)
        # row-chunked so the (rows x n_codes) fold intermediate stays
        # bounded whatever the Arrow batch size
        step = max(1, 200_000_000 // (n_codes * 8 or 1))
        for s in range(m_sub):
            xs = x[:, s * d_sub : (s + 1) * d_sub]
            for lo in range(0, xs.shape[0], step):
                d2 = _np_fold_sqdist(xs[lo : lo + step], cb_np[s])
                out[lo : lo + step, s] = d2.argmin(axis=1)
        return pd.Series(list(out))

    return corpus.withColumn(out_col, _enc(F.col(c_vec)))


def pq_decode(
    df: DataFrame,
    codebooks: DataFrame | list,
    codes_col: str = "codes",
    out_col: str = "embedding",
) -> DataFrame:
    """Reconstruct array<double> from codes (codebook centroid per
    subspace, concatenated) — the PQ analogue of `dequantize_embeddings`;
    reconstruction error is the per-subspace quantization error."""
    cbs = _collect_codebooks(codebooks)
    cb_lit = F.expr(_darr_sql(cbs))
    return df.withColumn(
        out_col,
        F.flatten(
            F.transform(
                F.col(codes_col),
                lambda c, s: F.element_at(F.element_at(cb_lit, s + 1), c + 1),
            )
        ),
    )


def _np_seq_sqdist_tables(q_np, cbs_np):
    """ADC lookup tables, (Q, m, n): tab[q, s, c] = squared L2 between
    query q's subvector s and codebook entry c, as a sequential left-fold
    of squared differences over the sub-dimensions — the same IEEE ops in
    the same order as the SQL oracles' list_zip + list_sum, so the
    doubles agree to the last ulp, not merely closely."""
    import numpy as np

    m, n, d = cbs_np.shape
    tab = np.zeros((q_np.shape[0], m, n), dtype=np.float64)
    for s in range(m):
        qs = q_np[:, s * d : (s + 1) * d]
        for j in range(d):
            diff = qs[:, j : j + 1] - cbs_np[s][None, :, j]
            tab[:, s, :] += diff * diff
    return tab


def _np_route(q_np, cen_np, nprobe):
    """Query → nprobe nearest coarse cells by cosine, bit-for-bit with the
    SQL route: dots and norms are sequential left folds in index order
    (`dot_expr`/`norm_expr` discipline), ties break (sim desc, centroid
    index asc). Returns (Q, nprobe) int indexes into
    the centroid-id-sorted centroid array."""
    import numpy as np

    dim = q_np.shape[1]
    qn = np.zeros(q_np.shape[0])
    cn = np.zeros(cen_np.shape[0])
    for j in range(dim):
        qn += q_np[:, j] * q_np[:, j]
        cn += cen_np[:, j] * cen_np[:, j]
    qn, cn = np.sqrt(qn), np.sqrt(cn)
    dots = np.zeros((q_np.shape[0], cen_np.shape[0]))
    for j in range(dim):
        dots += q_np[:, j : j + 1] * cen_np[None, :, j]
    sims = dots / (qn[:, None] * cn[None, :])
    idx = np.arange(cen_np.shape[0])
    out = np.empty((q_np.shape[0], min(nprobe, len(idx))), dtype=np.int64)
    for qi in range(q_np.shape[0]):
        order = np.lexsort((idx, -sims[qi]))
        out[qi] = order[: out.shape[1]]
    return out


_ADC_ID_SQL = {"long": "long", "int": "int", "string": "string"}


def _collect_queries(queries: DataFrame, q_id: str, q_vec: str, cbs):
    """(keys, (Q, dim) float64 matrix) of the driver-side query set. An
    empty set keeps the codebooks' dim, so the table construction and the
    routing return empty arrays instead of failing on a 1-d array."""
    import numpy as np

    rows = queries.select(q_id, q_vec).collect()
    dim = len(cbs) * len(cbs[0][0])
    q_np = np.asarray(
        [[float(x) for x in r[1]] for r in rows], dtype=np.float64
    ).reshape(len(rows), -1 if rows else dim)
    return [r[0] for r in rows], q_np


def _adc_id_kind(df: DataFrame, col: str) -> str:
    """'long' | 'int' | 'string' for an id column the Arrow kernels
    (`ivf_assign`, the ADC top-k) can carry; raises a clear error
    otherwise instead of a numpy mis-cast (`.simpleString()` names like
    'bigint')."""
    t = df.schema[col].dataType.simpleString()
    kind = {"bigint": "long", "int": "int", "smallint": "int",
            "tinyint": "int", "string": "string"}.get(t)
    if kind is None:
        raise ValueError(
            f"the Arrow ANN kernels support integral or string id columns; "
            f"{col!r} is {t}. Cast it to bigint or string first."
        )
    return kind


def _adc_partition_topk(q_keys, k, c_id, codes_col, tab=None,
                        probe_cells=None, cell_col="centroid_id",
                        id_kind="long"):
    """mapInPandas kernel factory: per-PARTITION ADC top-k per query —
    the map-side combine the window-over-everything plan lacks. Each
    batch's codes score via table lookups summed sequentially in
    subspace order; per query only the k best
    (adc asc, id asc) survive across batches, so the shuffle carries
    ≤ partitions × Q × k rows instead of the full scored cross product.

    ``probe_cells`` (routed/IVFADC mode): dict query-index → set of cell
    ids; ``tab`` is then indexed (query, cell) → (m, n) table (residual
    tables differ per cell). None = full-scan mode with tab (Q, m, n).
    ``id_kind`` ('long'|'int'|'string', from `_adc_id_kind`) is the
    CORPUS id dtype; string ids ride numpy '<U' arrays so the lexsort
    tie-break (adc asc, id asc) matches the final window's ordering."""
    import numpy as np
    import pandas as _pd

    Q = len(q_keys)
    int_ids = id_kind != "string"
    id_empty_dtype = np.int64 if int_ids else "<U1"

    def run(batches):
        best_s = [np.empty(0, dtype=np.float64) for _ in range(Q)]
        best_i = [np.empty(0, dtype=id_empty_dtype) for _ in range(Q)]

        def fold(qi, ids, scores):
            sc = np.concatenate([best_s[qi], scores])
            iv = np.concatenate([best_i[qi], ids])
            order = np.lexsort((iv, sc))[:k]
            best_s[qi], best_i[qi] = sc[order], iv[order]

        for pdf in batches:
            if not len(pdf):
                continue
            if int_ids:
                ids = pdf[c_id].to_numpy(dtype=np.int64)
            else:
                ids = np.asarray(pdf[c_id].tolist(), dtype=str)
            codes = np.asarray(pdf[codes_col].tolist(), dtype=np.int64)
            if probe_cells is None:
                scores = np.zeros((Q, len(ids)), dtype=np.float64)
                for s in range(codes.shape[1]):
                    scores += tab[:, s, codes[:, s]]
                for qi in range(Q):
                    fold(qi, ids, scores[qi])
            else:
                # no dtype coercion: cell ids may be strings (literal-
                # trained centroids on a string-id corpus); probe_cells
                # keys are the same python values Row.collect yields
                cells = pdf[cell_col].to_numpy()
                for cell in _pd.unique(cells):
                    mask = cells == cell
                    sub_ids, sub_codes = ids[mask], codes[mask]
                    for qi in range(Q):
                        t = probe_cells[qi].get(cell)
                        if t is None:
                            continue
                        sc = np.zeros(len(sub_ids), dtype=np.float64)
                        for s in range(sub_codes.shape[1]):
                            sc += t[s, sub_codes[:, s]]
                        fold(qi, sub_ids, sc)
        qcol, icol, scol = [], [], []
        for qi in range(Q):
            qcol.extend([q_keys[qi]] * len(best_i[qi]))
            icol.extend(best_i[qi].tolist())
            scol.extend(best_s[qi].tolist())
        yield _pd.DataFrame(
            {
                "q_id": _pd.Series(qcol, dtype=object),
                c_id: _pd.Series(
                    icol, dtype=np.int64 if int_ids else object
                ),
                "adc": _pd.Series(scol, dtype=np.float64),
            }
        )

    return run


def pq_adc_topk(
    queries: DataFrame,
    codebooks: DataFrame | list,
    encoded: DataFrame,
    k: int = 5,
    q_id: str = "q_id",
    q_vec: str = "q_vec",
    c_id: str = "vec_id",
    codes_col: str = "codes",
) -> DataFrame:
    """Approximate top-k by ADC over the full encoded corpus: queries
    (tiny, collected to the driver with their lookup tables) × code scan
    — the corpus side reads 8-byte code arrays and does m_sub table
    lookups per row instead of a dim-wide float dot product. Ascending
    distance; ties → lowest corpus id.

    Per-partition numpy top-k (`mapInPandas`, a map-side combine — the
    shuffle carries ≤ partitions × Q × k rows) + one tiny global window.
    A cross join + window form shuffles the FULL Q × N scored product
    and evaluates its lookup fold interpreted (62 s for 100 queries ×
    100k codes in ANN_QUALITY_r12.json). Tables and lookup sums are
    sequential folds (`_np_seq_sqdist_tables`), so the doubles equal
    the SQL oracles' to the last ulp."""
    import numpy as np

    cbs = _collect_codebooks(codebooks)
    q_kind = _adc_id_kind(queries, q_id)
    c_kind = _adc_id_kind(encoded, c_id)
    q_keys, q_np = _collect_queries(queries, q_id, q_vec, cbs)
    tab = _np_seq_sqdist_tables(q_np, np.asarray(cbs, dtype=np.float64))
    kernel = _adc_partition_topk(
        q_keys, k, c_id, codes_col, tab=tab, id_kind=c_kind
    )
    part = encoded.select(F.col(c_id), F.col(codes_col)).mapInPandas(
        kernel,
        schema=(
            f"q_id {_ADC_ID_SQL[q_kind]}, "
            f"{c_id} {_ADC_ID_SQL[c_kind]}, adc double"
        ),
    ).withColumnRenamed("q_id", q_id)
    w = W.partitionBy(q_id).orderBy(F.col("adc").asc(), F.col(c_id))
    return (
        part.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def ivfpq_topk(
    queries: DataFrame,
    centroids: DataFrame,
    encoded_assigned: DataFrame,
    codebooks: DataFrame | list,
    k: int = 5,
    nprobe: int = 3,
    q_id: str = "q_id",
    q_vec: str = "q_vec",
    c_id: str = "vec_id",
    codes_col: str = "codes",
    residual: bool = False,
) -> DataFrame:
    """IVF routing + ADC scoring (FAISS's IVFADC): route each query to its
    ``nprobe`` nearest coarse centroids (exact float, query side only),
    then ADC-score ONLY the codes assigned to those cells. Per-query cost
    = (nprobe/n_centroids) × corpus × m_sub lookups over 8-byte codes —
    the compounding of the two approximations that makes billion-vector
    search tractable. ``encoded_assigned`` = `ivf_index` assignment +
    `pq_encode` codes (persist it `save_ivf_index`-style partitioned by
    centroid_id and the routed join prunes to the probed cells).

    ``residual=True`` scores RESIDUAL codes (built by
    :func:`ivfpq_residual_index`): the ADC table for each (query, cell)
    pair is computed against ``q_vec − centroid_vec`` — the canonical
    IVFADC formulation, where the codebooks only have to cover the
    within-cell residual range instead of the whole space, so the same
    code budget buys a finer quantization grid.

    Routing runs in numpy on the driver (`_np_route`: sequential-fold
    cosine, ties to the lowest centroid), the code scan is pruned to the
    probed cells with one `isin` literal filter (static partition
    pruning on a `save_ivfpq_index` layout), and the per-partition
    Arrow ADC top-k uses per-(query, cell) tables — the map-side
    combine that keeps the shuffle at partitions × Q × k rows. Same
    values and tie rules as :func:`pq_adc_topk`."""
    import numpy as np

    cbs = _collect_codebooks(codebooks)
    q_kind = _adc_id_kind(queries, q_id)
    c_kind = _adc_id_kind(encoded_assigned, c_id)
    q_keys, q_np = _collect_queries(queries, q_id, q_vec, cbs)
    cen_rows = sorted(
        centroids.select("centroid_id", "centroid_vec").collect(),
        key=lambda r: r.centroid_id,
    )
    # centroid ids inherit the corpus id type under literal training
    # (ivf_index train='literal' reuses corpus ids) — keep them as
    # python values; the kernel matches them against the cell column
    # generically
    cen_ids = [r.centroid_id for r in cen_rows]
    cen_np = np.asarray(
        [[float(x) for x in r.centroid_vec] for r in cen_rows],
        dtype=np.float64,
    )
    route = _np_route(q_np, cen_np, nprobe)
    cbs_np = np.asarray(cbs, dtype=np.float64)
    # raw tables don't vary by cell: one (Q, m, n) build serves every probe
    raw_tab = None if residual else _np_seq_sqdist_tables(q_np, cbs_np)
    probe_cells = []
    for qi in range(len(q_keys)):
        tabs = {}
        for ci in route[qi]:
            if residual:
                tabs[cen_ids[ci]] = _np_seq_sqdist_tables(
                    (q_np[qi] - cen_np[ci])[None, :], cbs_np
                )[0]
            else:
                tabs[cen_ids[ci]] = raw_tab[qi]
        probe_cells.append(tabs)
    probed = sorted({cid for t in probe_cells for cid in t})
    cand = encoded_assigned.select(
        F.col(c_id), F.col(codes_col), F.col("centroid_id")
    ).filter(F.col("centroid_id").isin(probed))
    kernel = _adc_partition_topk(
        q_keys, k, c_id, codes_col, probe_cells=probe_cells,
        id_kind=c_kind,
    )
    part = cand.mapInPandas(
        kernel,
        schema=(
            f"q_id {_ADC_ID_SQL[q_kind]}, "
            f"{c_id} {_ADC_ID_SQL[c_kind]}, adc double"
        ),
    ).withColumnRenamed("q_id", q_id)
    w = W.partitionBy(q_id).orderBy(F.col("adc").asc(), F.col(c_id))
    return (
        part.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def residual_expr(vec: Column, centroid: Column) -> Column:
    """``vec − centroid`` as array<double> (elementwise, cast first) — the
    quantity residual-PQ encodes and queries score against."""
    return F.zip_with(
        vec, centroid, lambda x, c: x.cast("double") - c.cast("double")
    )


def ivfpq_residual_index(
    corpus: DataFrame,
    n_centroids: int = 16,
    m_sub: int = 8,
    n_codes: int = 16,
    dim: int = 64,
    c_id: str = "vec_id",
    c_vec: str = "embedding",
    train: str = "sample",
    kmeans_iters: int = 3,
    coarse_train: str = "sample",
    fit_fraction: float | None = None,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The full residual-IVFADC build (Jégou 2011 §IV; what FAISS calls
    IVFADC): coarse-assign every vector, then PQ-encode the RESIDUAL
    ``vec − centroid`` instead of the raw vector. Residuals span only a
    cell's diameter, so the per-subspace codebooks cover a far smaller
    range at the same code count — reconstruction error (and therefore
    ADC ranking error) drops without touching the storage budget; the
    whole gain is expressible map-side (one broadcast centroid join +
    the same zero-shuffle encode).

    Returns (centroids, encoded_assigned(c_id, codes, centroid_id),
    codebooks) — feed straight into ``ivfpq_topk(..., residual=True)``
    or ``save_ivfpq_index``. Codebooks are trained on the residuals
    (``train`` as in :func:`pq_codebooks`); the coarse quantizer trains
    separately (``coarse_train``) — 'sample' keeps it deterministic,
    'kmeans' buys tighter cells (smaller residual range) at fit cost."""
    centroids, assigned = ivf_index(
        corpus,
        n_centroids=n_centroids,
        c_id=c_id,
        c_vec=c_vec,
        train=coarse_train,
        kmeans_iters=kmeans_iters,
        fit_fraction=fit_fraction,
    )
    res = assigned.join(F.broadcast(centroids), "centroid_id").withColumn(
        "__res", residual_expr(F.col(c_vec), F.col("centroid_vec"))
    )
    cbs = pq_codebooks(
        res,
        m_sub=m_sub,
        n_codes=n_codes,
        dim=dim,
        c_id=c_id,
        c_vec="__res",
        train=train,
        kmeans_iters=kmeans_iters,
        fit_fraction=fit_fraction,
    )
    enc = pq_encode(res, cbs, c_vec="__res").select(
        F.col(c_id), F.col("codes"), F.col("centroid_id")
    )
    return centroids, enc, cbs


def load_ivfpq_meta(spark, path: str) -> dict:
    """The index's `_meta.json` sidecar (written by `save_ivfpq_index`
    when given one); `{}` for an index saved without it. Read through
    the index path's OWN filesystem — a remote index's meta is remote."""
    import json

    from etl_edi_data_scrapper_spark import fsutil

    text = fsutil.read_text(spark, f"{path}/_meta.json")
    return json.loads(text) if text else {}


# `store-info` flags an index for retrain when appended-batch quantization
# MSE exceeds this multiple of the train-time MSE (advisory — the FAISS
# operational practice is "monitor quantization error per add and retrain
# on drift"; 1.5× is where the r14 shifted-distribution study saw ADC
# ranking quality visibly degrade, and well before the 2–3× of a fully
# foreign distribution).
RETRAIN_MSE_RATIO = 1.5


def index_quant_mse(
    vectors: DataFrame,
    centroids: DataFrame,
    encoded_assigned: DataFrame,
    codebooks: DataFrame | list,
    residual: bool,
    c_id: str = "vec_id",
    c_vec: str = "embedding",
    sample_rows: int = 65536,
) -> float:
    """Mean quantization error mean ‖target − decode(codes)‖² over a
    bounded deterministic sample (md5(id)-lowest ``sample_rows`` codes),
    where target = vec − centroid (residual index) or vec (raw) — the
    FAISS practice of monitoring quantization error so an operator can
    SEE when appends against frozen quantizers have drifted (r13 verdict
    #5). ``vectors`` must be in the index's own space (pass
    `apply_rotation`-ed vectors for an OPQ index).

    Scale shape: the sample bound is on the CODE side (8-byte rows), the
    vector fetch is one id join of ≤ sample_rows rows against the float
    store, the centroids broadcast, and the result is a single mean —
    bounded work at any corpus size."""
    cbs = _collect_codebooks(codebooks)
    samp = (
        encoded_assigned.select(F.col(c_id), F.col("codes"), F.col("centroid_id"))
        .orderBy(F.md5(F.col(c_id).cast("string")))
        .limit(sample_rows)
    )
    j = samp.join(vectors.select(F.col(c_id), F.col(c_vec)), c_id)
    if residual:
        j = j.join(F.broadcast(centroids), "centroid_id").withColumn(
            "__t", residual_expr(F.col(c_vec), F.col("centroid_vec"))
        )
    else:
        j = j.withColumn(
            "__t", F.transform(F.col(c_vec), lambda x: x.cast("double"))
        )
    dec = pq_decode(j, cbs, codes_col="codes", out_col="__r")
    row = dec.select(
        F.avg(_sq_dist(F.col("__t"), F.col("__r"))).alias("m")
    ).first()
    if row is None or row["m"] is None:
        raise ValueError("index_quant_mse: no overlapping rows to measure")
    return float(row["m"])


def append_to_ivfpq_index(
    spark,
    batch: DataFrame,
    path: str,
    c_id: str = "vec_id",
    c_vec: str = "embedding",
    residual: bool | None = None,
) -> int:
    """Incrementally add a batch of vectors to a persisted IVFADC index —
    the FAISS train-once/add-forever discipline: centroids and codebooks
    are FROZEN (loaded, broadcast, never refit), the batch is
    coarse-assigned, (residual-)encoded map-side, and its codes appended
    to the partitioned cell layout. Returns the number of rows appended.

    Replay-idempotent by identity (the streaming-store discipline): ids
    already present in the index are anti-joined away before the append,
    so re-running a crashed batch never double-inserts; the batch's codes
    are materialized (localCheckpoint) BEFORE the append so the insert
    never reads its own output. The existing-id listing reads only the
    (id) column of the code store — 8-byte rows, not vectors.

    Caveat (documented, inherent to frozen quantizers): appended vectors
    far from the training distribution land in stretched cells with
    coarser effective quantization; a drifted corpus wants a periodic
    rebuild, which is `ann-index` again."""
    centroids, existing, codebooks = load_ivfpq_index(spark, path)
    meta = load_ivfpq_meta(spark, path)
    if residual is None:
        residual = meta.get("residual")
    if residual is None:
        # an index without the flag could be either encoding; appending
        # with the wrong one writes codes that rank silently wrong AND
        # the id anti-join makes the corruption permanent — refuse.
        raise ValueError(
            f"index at {path} has no 'residual' flag in _meta.json and "
            "none was passed; pass residual=True/False explicitly "
            "(indexes saved by save_ivfpq_index now always carry it)"
        )
    residual = bool(residual)
    # refuse wrong-dimension batches LOUDLY: encoding slices past a short
    # array's end, zip_with NULL-pads, and every code comes out NULL —
    # silent corruption that the id anti-join would then make PERMANENT
    # (a corrected re-append sees the ids as already present). The index's
    # true dim is m_sub × d_sub, read from the codebooks themselves.
    cbs = _collect_codebooks(codebooks)
    dim = len(cbs) * len(cbs[0][0])
    n_bad = batch.filter(F.size(F.col(c_vec)) != dim).count()
    if n_bad:
        raise ValueError(
            f"append batch has {n_bad} vectors whose dimension != the "
            f"index's {dim} (= m_sub {len(cbs)} × d_sub {len(cbs[0][0])}); "
            "refusing to append NULL codes"
        )
    codebooks = cbs  # already collected: every op below inlines the literal
    # an OPQ-built index (ann-index --opq) lives entirely in rotated
    # space — centroids AND codebooks; an unrotated batch would encode
    # against them silently wrong, and the id anti-join would make it
    # permanent. The rotation rides _meta.json, so appends stay correct
    # with no caller knowledge.
    rot = meta.get("opq_rotation")
    if rot:
        batch = apply_rotation(batch, rot, vec_col=c_vec)
    assigned = ivf_assign(batch, centroids, c_id=c_id, c_vec=c_vec)
    if residual:
        res = assigned.join(F.broadcast(centroids), "centroid_id").withColumn(
            "__res", residual_expr(F.col(c_vec), F.col("centroid_vec"))
        )
        enc = pq_encode(res, codebooks, c_vec="__res")
    else:
        enc = pq_encode(assigned, codebooks, c_vec=c_vec)
    enc = enc.select(F.col(c_id), F.col("codes"), F.col("centroid_id"))
    fresh = enc.join(
        existing.select(F.col(c_id)), c_id, "left_anti"
    ).localCheckpoint(eager=True)  # materialize BEFORE the store grows
    n = fresh.count()
    if n:
        fresh.write.mode("append").partitionBy("centroid_id").parquet(
            f"{path}/codes"
        )
        # staleness telemetry (r13 verdict #5): quantizers are frozen
        # forever, so record each batch's quantization MSE against the
        # train-time baseline — `store-info` reports the ratio and flags
        # retrain past RETRAIN_MSE_RATIO. Only for indexes that carry a
        # baseline (ann-index writes one; a bare save_ivfpq_index may
        # not) — never a behavior change for the append itself.
        qm = meta.get("quant_mse")
        if isinstance(qm, dict) and qm.get("train") is not None:
            batch_mse = index_quant_mse(
                batch, centroids, fresh, codebooks,
                residual=residual, c_id=c_id, c_vec=c_vec,
            )
            prev = qm.get("appended") or {"rows": 0, "mse": 0.0}
            tot = int(prev["rows"]) + n
            # row-weighted running mean of per-batch sample MSEs (each
            # batch's MSE is itself a ≤sample_rows estimate; weighting by
            # appended rows keeps big drifted batches dominant)
            qm["appended"] = {
                "rows": tot,
                "mse": (float(prev["mse"]) * int(prev["rows"])
                        + batch_mse * n) / tot,
            }
            qm["last_append_mse"] = batch_mse
            meta["quant_mse"] = qm
            import json

            from etl_edi_data_scrapper_spark import fsutil

            fsutil.write_text_atomic(
                spark, f"{path}/_meta.json", json.dumps(meta, sort_keys=True)
            )
    return n


def ivfpq_topk_rerank(
    queries: DataFrame,
    centroids: DataFrame,
    encoded_assigned: DataFrame,
    codebooks: DataFrame | list,
    corpus: DataFrame,
    k: int = 5,
    k_factor: int = 4,
    nprobe: int = 3,
    q_id: str = "q_id",
    q_vec: str = "q_vec",
    c_id: str = "vec_id",
    codes_col: str = "codes",
    c_vec: str = "embedding",
    residual: bool = False,
    shortlist_queries: DataFrame | None = None,
) -> DataFrame:
    """The production two-stage ladder (Jégou 2011 §V's refinement step):
    ADC shortlists ``k × k_factor`` candidates per query from the 8-byte
    codes, then ONLY those rows fetch their float originals from
    ``corpus`` (the primary store, joined by id) and re-rank by exact
    squared L2. Quantization error survives only where it pushes a true
    neighbor out of the shortlist — recall approaches the probed cells'
    exact answer as ``k_factor`` grows, while the float fetch stays
    O(queries × k × k_factor) rows regardless of corpus size. Returns
    (q_id, c_id, d, rank) with exact distances.

    ``shortlist_queries`` (OPQ indexes): the ADC stage scores in the
    index's ROTATED space, so it needs rotated query vectors, while the
    exact rerank joins the UNROTATED primary store and must use the
    original ``queries`` (L2 is rotation-invariant, so the exact
    distances agree either way — but mixing spaces inside one distance
    would not). Same q_id values, rotated q_vec."""
    short = ivfpq_topk(
        shortlist_queries if shortlist_queries is not None else queries,
        centroids,
        encoded_assigned,
        codebooks,
        k=k * k_factor,
        nprobe=nprobe,
        q_id=q_id,
        q_vec=q_vec,
        c_id=c_id,
        codes_col=codes_col,
        residual=residual,
    ).select(q_id, c_id)
    cand = short.join(corpus.select(F.col(c_id), F.col(c_vec)), c_id).join(
        F.broadcast(queries.select(q_id, q_vec)), q_id
    )
    w = W.partitionBy(q_id).orderBy(F.col("d").asc(), F.col(c_id))
    return (
        cand.select(
            q_id, c_id, _sq_dist(F.col(q_vec), F.col(c_vec)).alias("d")
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def tune_nprobe(
    queries: DataFrame,
    centroids: DataFrame,
    encoded_assigned: DataFrame,
    codebooks: DataFrame | list,
    k: int = 10,
    target_overlap: float = 0.9,
    nprobes: tuple[int, ...] = (1, 2, 4, 8, 16, 32),
    max_queries: int = 50,
    q_id: str = "q_id",
    q_vec: str = "q_vec",
    c_id: str = "vec_id",
    codes_col: str = "codes",
    residual: bool = False,
) -> dict:
    """Measured-auto ``nprobe``: the smallest probe count whose top-k
    matches the FULL-probe ADC answer at ``target_overlap`` on a bounded
    query sample — the FAISS autotune discipline (OperatingPoints /
    ``nprobe`` criterion sweeps) applied to the one knob IVF routing
    actually controls.

    The reference is nprobe = n_centroids (every cell probed): that is
    the best THESE codes can rank, so overlap against it isolates pure
    routing loss — quantization loss is k_factor/rerank's job
    (:func:`ivfpq_topk_rerank`), not nprobe's, and folding it in would
    make the tuner chase a floor no probe count can lift. Overlap@k is
    |topk(nprobe) ∩ topk(full)| / |topk(full)| averaged over the sample;
    candidates at nprobe are a subset of full-probe candidates, so the
    metric is monotone in nprobe and the first ladder point reaching the
    target is the minimal one (the walk stops there — later points are
    never measured).

    Bounded by construction: the sample is the ``max_queries`` md5-lowest
    query ids (deterministic, the opq_train/kmeans sample discipline),
    every ladder point is one `ivfpq_topk` job over that sample, and
    driver state is ≤ sample × k id pairs per point. Returns
    ``{"nprobe", "target_overlap", "target_reached", "k", "n_queries",
    "reference_nprobe", "ladder": {nprobe: overlap}}`` for _meta.json /
    logging — the decision is recorded, not just applied."""
    qs = (
        queries.select(q_id, q_vec)
        .orderBy(F.md5(F.col(q_id).cast("string")), F.col(q_id))
        .limit(int(max_queries))
        .localCheckpoint()
    )
    n_q = qs.count()
    if n_q == 0:
        raise ValueError("tune_nprobe: empty query sample")
    n_cen = centroids.count()

    def topk_sets(nprobe: int) -> dict:
        rows = (
            ivfpq_topk(
                qs, centroids, encoded_assigned, codebooks,
                k=k, nprobe=nprobe, q_id=q_id, q_vec=q_vec, c_id=c_id,
                codes_col=codes_col, residual=residual,
            )
            .select(q_id, c_id)
            .collect()
        )
        got: dict = {}
        for r in rows:
            got.setdefault(r[0], set()).add(r[1])
        return got

    ref = topk_sets(int(n_cen))
    ladder: dict[int, float] = {}
    chosen = None
    for np_ in sorted({int(p) for p in nprobes if 1 <= int(p) < n_cen}):
        got = topk_sets(np_)
        overlap = float(
            sum(
                len(got.get(q, set()) & s) / len(s)
                for q, s in ref.items()
            )
            / max(len(ref), 1)
        )
        ladder[np_] = overlap
        if overlap >= target_overlap:
            chosen = np_
            break
    reached = chosen is not None
    if chosen is None:
        # nothing under full probing reached the target on this corpus
        # geometry — fall back to exact routing rather than ship a known
        # miss (the caller sees target_reached=False and the ladder)
        chosen = int(n_cen)
    return {
        "nprobe": chosen,
        "target_overlap": target_overlap,
        "target_reached": reached,
        "k": k,
        "n_queries": int(n_q),
        "reference_nprobe": int(n_cen),
        "ladder": ladder,
    }


def compact_ivfpq_codes(spark, path: str) -> tuple[int, int]:
    """Offline compaction for the IVFPQ code store (r11 verdict #3):
    `append_to_ivfpq_index` appends one parquet file per batch per
    touched cell FOREVER — a long-lived index turns every centroid_id
    directory into thousands of tiny files, and the routed probe's
    pruning win drowns in listing + footer overhead. Same discipline as
    `compact_neardup_store` / `rollup-compact`: rewrite `{path}/codes`
    with one task (→ one file) per cell via ``repartition("centroid_id")``
    to a sibling temp dir, then swap through the Hadoop FileSystem API
    (HDFS/S3A/local alike). Row set is unchanged (appends are id-anti-
    joined, so there are no duplicate rows to drop — this is purely a
    file-layout rewrite); centroids, codebooks, and `_meta.json` are
    not touched. The swap is rename-aside → rename-in → delete-old, NOT
    atomic: run with appenders and queries STOPPED. But every crash
    window is recoverable without reading this source: the live codes
    are at exactly one of ``codes`` / ``codes__precompact`` at all
    times, and `load_ivfpq_index` names the survivor when ``codes`` is
    missing. Returns (files_before, files_after) counted over the codes
    tree's parquet data files."""
    codes_dir = f"{path}/codes"
    jpath = spark._jvm.org.apache.hadoop.fs.Path
    dst = jpath(codes_dir)
    fs = dst.getFileSystem(spark._jsc.hadoopConfiguration())

    def _n_files(p) -> int:
        n = 0
        it = fs.listFiles(p, True)
        while it.hasNext():
            f = it.next()
            name = f.getPath().getName()
            if not name.startswith(("_", ".")):
                n += 1
        return n

    before_df = spark.read.parquet(codes_dir)
    rows = before_df.count()
    files_before = _n_files(dst)
    tmp = codes_dir.rstrip("/") + "__compacting"
    (
        before_df.repartition("centroid_id")
        .write.mode("overwrite")
        .partitionBy("centroid_id")
        .parquet(tmp)
    )
    src = jpath(tmp)
    if spark.read.parquet(tmp).count() != rows:
        raise IOError(
            f"compaction row-count mismatch at {tmp!r}; original untouched"
        )
    # rename the live codes ASIDE first (never delete before the new
    # layout is in place): a driver death mid-swap leaves the original
    # intact at __precompact instead of stranding the data at the temp
    # dir with {path}/codes simply gone
    old_dir = codes_dir.rstrip("/") + "__precompact"
    old = jpath(old_dir)
    if fs.exists(old):
        fs.delete(old, True)  # leftover from a prior crashed compaction
    if not fs.rename(dst, old):
        raise IOError(
            f"compaction could not move the old codes aside to "
            f"{old_dir!r}; original untouched at {codes_dir!r}"
        )
    if not fs.rename(src, dst):
        # roll back so the index stays loadable
        restored = fs.rename(old, dst)
        raise IOError(
            f"compaction wrote {tmp!r} but could not rename it over "
            f"{codes_dir!r} — compacted codes intact at the temp path; "
            + (
                "original codes restored"
                if restored
                else f"original codes at {old_dir!r}"
            )
        )
    fs.delete(old, True)
    return files_before, _n_files(dst)
