"""Session-factory contracts (session.get_spark)."""

from pyspark.sql import functions as F


def test_codegen_classes_reused_across_aqe_replans(spark, tmp_path):
    """AQE numbers whole-stage codegen stages in the order it creates
    them, and that order follows stage completion timing. With the stage
    id in the generated class name, an identical pipeline that AQE
    re-plans under a different id misses the codegen cache and Janino
    compiles it again. The session keeps the id out of the class name,
    so re-running one multi-stage query compiles nothing new.

    The query has two two-shuffle branches whose first stage sleeps for
    a per-branch time read from a small parquet input. The re-run swaps
    the two sleep times, so the branches' second stages are created in
    the opposite order and swap codegen ids; the generated code of each
    stage is otherwise the same on both runs."""
    counter = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    path = str(tmp_path / "sleeps.parquet")

    def compiles() -> int:
        return counter.METRIC_COMPILATION_TIME().getCount()

    def write_sleeps(x_ms: int, y_ms: int) -> None:
        spark.createDataFrame(
            [("x", 1, x_ms), ("y", 2, y_ms)], "branch string, k long, ms long"
        ).coalesce(1).write.mode("overwrite").parquet(path)

    def query():
        sleeps = spark.read.parquet(path)

        def branch(name: str, mod: int):
            # one Thread.sleep of `ms` per row: wall time, no CPU
            slept = F.expr("reflect('java.lang.Thread', 'sleep', ms)")
            return (
                sleeps.filter(F.col("branch") == name)
                .select("k", F.length(slept).alias("s"))
                .groupBy("k")
                .agg(F.count("*").alias("n"), F.sum("s").alias("s"))
                .groupBy((F.col("k") % mod).alias("g"))
                .agg(F.sum("n").alias("v"), F.sum("s").alias("s"))
            )

        return branch("x", 3).unionByName(branch("y", 5))

    write_sleeps(2000, 500)
    first = sorted(query().collect())
    before = compiles()
    write_sleeps(500, 2000)
    second = sorted(query().collect())
    assert second == first
    assert compiles() == before, "re-running an identical pipeline recompiled code"
