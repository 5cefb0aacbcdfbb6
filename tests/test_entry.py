"""Driver-contract smoke: entry() runs, queries()/oracle_sql() keys align."""

import __spark_entry__ as entrymod


def test_entry_returns_rows(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0


def test_queries_and_oracles_align(spark):
    qs = entrymod.queries()
    os_ = entrymod.oracle_sql()
    assert qs, "no queries registered"
    assert set(os_) <= set(qs), "oracle without a query"


def test_each_query_builds_plan(built_plans):
    # plans must at least analyze (no execution) against sf0.001; the
    # shared fixture builds every query the driver contract registers
    assert set(built_plans) == set(entrymod.queries())
    for name, df in built_plans.items():
        assert df.schema.fields, name
