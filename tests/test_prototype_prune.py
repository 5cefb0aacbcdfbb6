"""Prototype-based pruning (functions/clustering.py::prototype_prune):
the histogram-threshold + boundary-rank implementation must reproduce the
full-sort spec (keep rank <= ceil(frac*n) by (dist, id)) exactly, for both
regimes, any coarse width, and degenerate distance ties."""

import math
import random

from pyspark.sql import Window
from pyspark.sql import functions as F

from etl_edi_data_scrapper_spark.functions.clustering import (
    assign_clusters,
    prototype_prune,
)


def _spec_keep(rows, keep_frac, hardest):
    """Brute-force reference: rows = [(id, cluster, dist_micro)]."""
    keep = set()
    by_c = {}
    for vid, c, dm in rows:
        by_c.setdefault(c, []).append((vid, dm))
    for c, members in by_c.items():
        n_keep = int(math.ceil(keep_frac * len(members)))
        members.sort(key=lambda t: (-t[1], t[0]) if hardest else (t[1], t[0]))
        keep.update(vid for vid, _ in members[:n_keep])
    return keep


def _frame(spark, n=120, dim=4, seed=7):
    rng = random.Random(seed)
    data = [
        (i, [rng.uniform(-1, 1) for _ in range(dim)]) for i in range(n)
    ]
    df = spark.createDataFrame(data, "vec_id long, embedding array<double>")
    cents = [[rng.uniform(-1, 1) for _ in range(dim)] for _ in range(3)]
    return assign_clusters(df, "embedding", cents), cents


def _check(spark, keep_frac, hardest, coarse_width):
    assigned, cents = _frame(spark)
    out = prototype_prune(
        assigned, cents, keep_frac=keep_frac, hardest=hardest,
        coarse_width=coarse_width,
    )
    got = out.select("vec_id", "cluster", "dist_micro", "proto_keep").collect()
    rows = [(r.vec_id, r.cluster, r.dist_micro) for r in got]
    spec = _spec_keep(rows, keep_frac, hardest)
    assert {r.vec_id for r in got if r.proto_keep} == spec
    assert len(got) == 120  # every input row comes back exactly once


def test_hardest_matches_spec(spark):
    _check(spark, keep_frac=0.5, hardest=True, coarse_width=1 << 20)


def test_easiest_matches_spec(spark):
    _check(spark, keep_frac=0.3, hardest=False, coarse_width=1 << 20)


def test_coarse_width_one_is_all_boundary(spark):
    # width 1: every distinct dist is its own bucket — the boundary rank
    # path degenerates to (at most) one bucket per cluster, still exact
    _check(spark, keep_frac=0.5, hardest=True, coarse_width=1)


def test_huge_coarse_width_is_one_bucket(spark):
    # one bucket holds everything: the rank window does all the work
    _check(spark, keep_frac=0.7, hardest=True, coarse_width=1 << 62)


def test_keep_all_and_keep_none(spark):
    assigned, cents = _frame(spark)
    all_keep = prototype_prune(assigned, cents, keep_frac=1.0)
    assert all_keep.filter(~F.col("proto_keep")).count() == 0
    none = prototype_prune(assigned, cents, keep_frac=0.0)
    assert none.filter(F.col("proto_keep")).count() == 0


def test_exact_distance_ties_break_by_id(spark):
    # identical vectors -> identical distances; the id tiebreak must pick
    # the LOWEST ids deterministically, regardless of bucket layout
    df = spark.createDataFrame(
        [(i, [1.0, 0.0]) for i in range(10)], "vec_id long, embedding array<double>"
    )
    cents = [[0.0, 0.0]]
    assigned = assign_clusters(df, "embedding", cents)
    for width in (1, 1 << 20):
        out = prototype_prune(
            assigned, cents, keep_frac=0.4, hardest=True, coarse_width=width
        )
        kept = sorted(r.vec_id for r in out.filter("proto_keep").collect())
        assert kept == [0, 1, 2, 3]


def test_boundary_window_sees_only_boundary_rows(spark):
    """The exact-rank window must run over the thin boundary slice, not the
    cluster: with a realistic width the windowed side is a filtered frame.
    (Guards the scale property the docstring claims.)"""
    assigned, cents = _frame(spark, n=300)
    out = prototype_prune(assigned, cents, keep_frac=0.5, coarse_width=1 << 8)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # one Window only, and it is fed by a Filter on the boundary predicate
    assert plan.count("Window") >= 1
    got = out.select("vec_id", "cluster", "dist_micro", "proto_keep").collect()
    rows = [(r.vec_id, r.cluster, r.dist_micro) for r in got]
    assert {r.vec_id for r in got if r.proto_keep} == _spec_keep(rows, 0.5, True)


def test_assign_clusters_ivf_matches_numpy_oracle(spark):
    """`assign_clusters_ivf` routes through one Arrow kernel (an
    expression form of the k=2400 CASE routing OOM'd the factor-300
    driver in analysis). A pure-Python oracle fixes its values and tie
    rules: the coarse quantizer (driver k-means over the fine centroids,
    empty cells dropped), probe cells = the n_probe nearest coarse
    centroids (stable → ties to the lowest cell), winner = the nearest
    fine centroid inside the probed cells (ties to the lowest index),
    all squared distances sequential folds — asserted exact on 90 fine
    centroids x 400 vectors at n_probe 1..3."""
    import hashlib

    from etl_edi_data_scrapper_spark.functions.clustering import (
        _argmin_driver,
        _kmeans_driver,
        assign_clusters_ivf,
    )

    def h(i, d):
        return (int(hashlib.md5(f"{i}:{d}".encode()).hexdigest()[:4], 16)
                / 32768.0) - 1.0

    def fold(a, b):
        t = 0.0
        for x, y in zip(a, b):
            t += (float(x) - float(y)) * (float(x) - float(y))
        return t

    vecs = [[10.0 * h(i, d) for d in range(6)] for i in range(400)]
    cents = [[10.0 * h(1000 + i, d) for d in range(6)] for i in range(90)]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )
    rows = [(r.vec_id, list(r.embedding)) for r in df.collect()]
    coarse = _kmeans_driver(cents, round(len(cents) ** 0.5))
    owner = [_argmin_driver(c, coarse) for c in cents]
    live = sorted(set(owner))
    for n_probe in (1, 2, 3):
        want = {}
        for vid, v in rows:
            near = sorted(live, key=lambda c: (fold(v, coarse[c]), live.index(c)))
            probed = set(near[:n_probe])
            want[vid] = min(
                (i for i in range(len(cents)) if owner[i] in probed),
                key=lambda i: (fold(v, cents[i]), i),
            )
        got = {r.vec_id: r.cluster for r in assign_clusters_ivf(
            df, "embedding", cents, n_probe=n_probe
        ).collect()}
        assert got == want


def test_expr_string_sqdist_matches_dsl_reference_bitexact(spark):
    """r14 optimization: prototype_prune builds its centroid-distance
    expression as ONE parsed SQL string (construction was one py4j round
    trip per centroid element). The parsed tree must equal the
    Column-DSL fold (`_sqdist`) to the last ulp, and the Arrow
    `assign_clusters` argmin must equal the DSL-built argmin, tie rule
    included."""
    import hashlib

    from etl_edi_data_scrapper_spark.functions.clustering import (
        _dlit,
        _sqdist,
        _sqdist_sql,
        assign_clusters,
    )

    def h(i, d):
        return (int(hashlib.md5(f"{i}:{d}".encode()).hexdigest()[:4], 16)
                / 32768.0) - 1.0

    # adversarial doubles in the centroids: repr round-trip must be exact
    cents = [[10.0 * h(100 + i, d) for d in range(8)] for i in range(5)]
    cents[0][3] = 0.1 + 0.2          # 0.30000000000000004
    cents[1][0] = 1.5e-300           # exponent form
    cents[2][7] = -0.0
    vecs = [(i, [h(i, d) for d in range(8)]) for i in range(200)]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")

    # per-centroid distance doubles: bit-exact (exact float equality)
    dsl = [_sqdist(F.col("embedding"), c).alias(f"o{i}") for i, c in enumerate(cents)]
    sql = [F.expr(_sqdist_sql("embedding", c)).alias(f"n{i}") for i, c in enumerate(cents)]
    for r in df.select(*dsl, *sql).collect():
        for i in range(len(cents)):
            assert r[f"o{i}"] == r[f"n{i}"]

    # the Arrow argmin column vs a DSL-built reference argmin
    ref = F.array_sort(
        F.array(*[
            F.struct(_sqdist(F.col("embedding"), c).alias("d"), F.lit(i).alias("c"))
            for i, c in enumerate(cents)
        ])
    )[0]["c"]
    got = assign_clusters(df, "embedding", cents)
    mism = got.withColumn("ref", ref).filter("cluster <> ref").count()
    assert mism == 0

    # _dlit special values survive the parse
    row = spark.sql(
        f"SELECT {_dlit(float('nan'))} AS a, {_dlit(float('inf'))} AS b, "
        f"{_dlit(float('-inf'))} AS c, {_dlit(-0.0)} AS d"
    ).first()
    assert row.a != row.a and row.b == float("inf") and row.c == float("-inf")
    assert str(row.d) == "-0.0"
