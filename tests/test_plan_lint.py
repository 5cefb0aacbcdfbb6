"""Suite-wide physical-plan lint: EVERY registered query's plan must be
free of the two classic 100 TB scale-killers, forever.

* ``CartesianProduct`` — an unconstrained all-pairs join. The suite's few
  deliberate tiny crosses (1-row recall arithmetic, broadcast dimension
  legs) compile to BroadcastNestedLoopJoin, so any CartesianProduct here
  is an accident (e.g. a join condition silently dropped by a refactor).
* ``BatchEvalPython`` — a row-at-a-time Python UDF in the plan. All
  cleaning/scoring/fingerprinting is built-in Column expressions; Python
  appears only as Arrow-batched pandas operators (ArrowEvalPython /
  FlatMapGroupsInPandas / FlatMapCoGroupsInPandas / MapInPandas), which
  render differently; the ANN queries must show theirs.

Compiling all plans also guarantees every query ANALYZES against the
testdata schema — a column typo or a bad lambda fails here in seconds,
without executing anything.
"""

from pyspark.sql.types import ArrayType, MapType, StructType

from etl_edi_data_scrapper_spark.suite import QUERIES


# queries whose final plan carries an ANN kernel, which must render as
# Arrow-batched Python: ArrowEvalPython for the scalar pandas UDFs
# (`ivf_assign`), MapInPandas for the ADC top-k
ARROW_KERNEL_QUERIES = {
    "ann_topk": "ArrowEvalPython",
    "ann_recall": "MapInPandas",
}


def test_no_cartesian_products_or_row_python_udfs_anywhere(built_plans):
    assert set(built_plans) == set(QUERIES)
    offenders: dict[str, list[str]] = {}
    for name, df in built_plans.items():
        plan = df._jdf.queryExecution().executedPlan().toString()
        bad = [
            marker
            for marker in ("CartesianProduct", "BatchEvalPython")
            if marker in plan
        ]
        want = ARROW_KERNEL_QUERIES.get(name)
        if want and want not in plan:
            bad.append(f"missing {want}")
        if bad:
            offenders[name] = bad
    assert not offenders, f"scale-killer operators in plans: {offenders}"


def test_no_container_columns_in_any_registered_output_schema(built_plans):
    """The driver canonicalizes query output with a pandas `sort_values`
    over ALL columns; array/struct/map cells are unhashable there and the
    whole query ERRORS in CORRECTNESS_r{N}.json (this is exactly how the
    r9 `pack_sequences` break shipped: a new `bin_docs` array<string>
    column passed the old list→tuple local replica and died in the real
    gate). The suite convention since r1 — serialize containers
    (`array_join`, struct → 'a:b:c' strings) before returning — was only
    a docstring; this pins it mechanically, schema-only, no execution."""
    offenders: dict[str, list[str]] = {}
    for name, df in built_plans.items():
        bad = [
            f"{f.name}: {f.dataType.simpleString()}"
            for f in df.schema.fields
            if isinstance(f.dataType, (ArrayType, MapType, StructType))
        ]
        if bad:
            offenders[name] = bad
    assert not offenders, (
        "registered queries returning container-typed output columns — the "
        "driver's pandas canonicalization cannot sort these; serialize "
        f"(array_join / concat_ws) before returning: {offenders}"
    )
