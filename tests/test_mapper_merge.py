"""Operator-level semantics tests: mapper, keyed merge, enrichment join.

Covers the reference behaviors the oracle queries also exercise, plus edge
cases on tiny hand-built frames (null-key drop, merge-rule arming — the
reference's P0 bug implemented as intended, §2.8.1)."""

import pytest
from pyspark.sql import functions as F

from etl_edi_data_scrapper_spark.operators.mapper import (
    MissingSourceColumnsError,
    map_columns,
)
from etl_edi_data_scrapper_spark.operators.merge import enrich, keyed_merge, with_seq


def feed(spark):
    rows = [
        # (seq, UPC, Quantity, Wholesale, Sublocation)
        (1, "42", "10", "5.00", "A"),
        (2, "42", "3", "7,50", "B"),
        (3, "", "99", "1.00", "X"),      # empty key → dropped at merge
        (4, None, "99", "1.00", "X"),    # null key → dropped at merge
        (5, "42", "7", "6.25", "C"),
        (6, "77", "1", "2.00", "D"),
    ]
    return spark.createDataFrame(
        rows, "_seq long, UPC string, Quantity string, Wholesale string, Sublocation string"
    )


RULES = {
    "upc": "UPC",
    "qty": ["Quantity", "min"],
    "price": ["Wholesale", "max"],
    "status": ["Sublocation", "addArray"],
}


def test_map_columns_projects_and_stamps(spark):
    out, merge_rules = map_columns(feed(spark), RULES, 9, 2, keep=["_seq"])
    assert set(out.columns) == {"upc", "qty", "price", "status", "supplier_id", "version", "_seq"}
    assert merge_rules == {"qty": "min", "price": "max", "status": "addArray"}
    row = out.filter(F.col("_seq") == 2).first()
    assert row.qty == 3 and row.price == 7.5 and row.supplier_id == 9 and row.version == 2


def test_map_columns_missing_source_raises(spark):
    with pytest.raises(MissingSourceColumnsError):
        map_columns(feed(spark), {"upc": "NOPE"}, 1, 1)


def test_keyed_merge_rules_and_key_drop(spark):
    mapped, merge_rules = map_columns(feed(spark), RULES, 9, 2, keep=["_seq"])
    out = keyed_merge(mapped, "upc", merge_rules)
    rows = {r.upc: r for r in out.collect()}
    assert set(rows) == {"42", "77"}          # null/empty keys dropped
    assert rows["42"].qty == 3                # min
    assert rows["42"].price == 7.5            # max
    assert rows["42"].status == ["A", "B", "C"]  # addArray in arrival order
    assert rows["77"].status == ["D"]


def test_keyed_merge_last_write_wins(spark):
    df = spark.createDataFrame(
        [(1, "k", "first", None), (2, "k", None, "x"), (3, "k", "last", None)],
        "_seq long, key string, a string, b string",
    )
    out = keyed_merge(df, "key", {}).first()
    assert out.a == "last"
    assert out.b is None  # LWW takes the value of the LAST row even if null


def test_keyed_merge_rejects_unknown_rule(spark):
    df = spark.createDataFrame([(1, "k", "v")], "_seq long, key string, a string")
    with pytest.raises(ValueError):
        keyed_merge(df, "key", {"a": "bogus"})


def test_enrich_overwrites_and_keeps(spark):
    base = spark.createDataFrame(
        [("42", "old_name", 1), ("77", "keep_me", 2)],
        "upc string, name string, _seq long",
    )
    leg = spark.createDataFrame(
        [("42", "new_name", "extra42", 10), ("99", "discard", "x", 11)],
        "sku string, name string, extra string, _seq long",
    )
    out = enrich(base, leg, "upc", "sku", ["name", "extra"])
    rows = {r.upc: r for r in out.collect()}
    assert rows["42"].name == "new_name"      # leg overwrites
    assert rows["42"].extra == "extra42"      # new column copied
    assert rows["77"].name == "keep_me"       # no match → base survives
    assert rows["77"].extra is None
    assert "99" not in rows                   # leg-only keys discarded

    # user columns named like the join helpers are kept, not clobbered
    clash = base.select(
        "*", F.lit("b").alias("__leg_key"), F.lit("c").alias("__leg_name")
    )
    rows = {r.upc: r for r in enrich(clash, leg, "upc", "sku", ["name", "extra"]).collect()}
    assert rows["42"].name == "new_name" and rows["42"].extra == "extra42"
    assert rows["77"].name == "keep_me" and rows["77"].extra is None
    assert {(r["__leg_key"], r["__leg_name"]) for r in rows.values()} == {("b", "c")}


def test_enrich_leg_last_occurrence_wins(spark):
    base = spark.createDataFrame([("42", 1)], "upc string, _seq long")
    leg = spark.createDataFrame(
        [("42", "v1", 10), ("42", "v2", 11)], "sku string, f string, _seq long"
    )
    out = enrich(base, leg, "upc", "sku", ["f"]).first()
    assert out.f == "v2"


def test_with_seq_leg_offsets(spark):
    df = spark.createDataFrame([("a",)], "x string")
    s0 = with_seq(df, leg=0).first()._seq
    s1 = with_seq(df, leg=1).first()._seq
    # leg bits sit ABOVE bit 59 — monotonically_increasing_id's partition
    # bits (partition_id<<33) stay below that until 2^26 partitions
    assert s1 - s0 == 1 << 59
    with pytest.raises(ValueError):
        with_seq(df, leg=16)


def test_enrich_null_leg_value_overwrites_on_match(spark):
    # reference parity: hasField = array_key_exists → a matched leg row
    # overwrites the base value even with NULL (DataSetCollection.php:100-103)
    base = spark.createDataFrame(
        [("42", "base_name", 1), ("77", "keep", 2)],
        "upc string, name string, _seq long",
    )
    leg = spark.createDataFrame(
        [("42", None, 10)], "sku string, name string, _seq long"
    )
    rows = {r.upc: r for r in enrich(base, leg, "upc", "sku", ["name"]).collect()}
    assert rows["42"].name is None       # matched → null overwrites
    assert rows["77"].name == "keep"     # unmatched → base survives


def test_keyed_merge_max_array_elements(spark):
    df = spark.createDataFrame(
        [(i, "k", f"v{i}") for i in range(1, 8)],
        "_seq long, key string, status string",
    )
    out = keyed_merge(df, "key", {"status": "addArray"}, max_array_elements=3).first()
    assert out.status == ["v1", "v2", "v3"]  # FIRST N in arrival order
    salted = keyed_merge(
        df, "key", {"status": "addArray"}, salt_buckets=3, max_array_elements=3
    ).first()
    assert salted.status == ["v1", "v2", "v3"]


def test_salted_merge_equals_plain(spark, sf_dir):
    """keyed_merge_salted must produce byte-identical results to keyed_merge
    on the flagship feed shape (all four rule kinds + LWW)."""
    from pyspark.sql import functions as F

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        F.expr("l_orderkey * 8 + l_linenumber").alias("_seq"),
        F.col("l_partkey").cast("string").alias("upc"),
        F.col("l_quantity").alias("qty"),
        F.col("l_extendedprice").alias("price"),
        F.col("l_returnflag").alias("status"),
        F.col("l_linestatus").alias("last_status"),
    )
    rules = {"qty": "min", "price": "max", "status": "addArray"}
    plain = {r.upc: r for r in keyed_merge(li, "upc", rules).collect()}
    salted = {r.upc: r for r in keyed_merge(li, "upc", rules, salt_buckets=7).collect()}
    assert plain.keys() == salted.keys()
    for k in plain:
        assert tuple(plain[k]) == tuple(salted[k]), k


def test_extended_rules_sum_first_count(spark):
    """sum/first/count generalizations: plain and salted agree, values exact."""
    rows = [
        # (_seq, key, v, w)
        (1, "a", 10, "x"),
        (2, "a", 20, None),
        (3, "a", 5, "z"),
        (4, "b", 7, "q"),
    ]
    df = spark.createDataFrame(rows, "_seq long, k string, v long, w string")
    rules = {"v": "sum", "w": "count"}
    plain = {r.k: (r.v, r.w) for r in keyed_merge(df, "k", rules).collect()}
    assert plain == {"a": (35, 2), "b": (7, 1)}  # count skips nulls
    salted = {
        r.k: (r.v, r.w)
        for r in keyed_merge(df, "k", rules, salt_buckets=3).collect()
    }
    assert salted == plain

    first = {r.k: r.v for r in keyed_merge(df, "k", {"v": "first"}).collect()}
    assert first == {"a": 10, "b": 7}
    first_s = {
        r.k: r.v
        for r in keyed_merge(df, "k", {"v": "first"}, salt_buckets=3).collect()
    }
    assert first_s == first


def test_salted_merge_hot_key(spark):
    rows = [(i, "hot" if i % 10 else "cold", f"v{i}") for i in range(1000)]
    df = spark.createDataFrame(rows, "_seq long, key string, val string")
    out = {r.key: r.val for r in keyed_merge(df, "key", {}, salt_buckets=16).collect()}
    assert out["hot"] == "v999"   # last-write-wins across salts
    assert out["cold"] == "v990"


def test_salted_merge_equals_plain_property(spark):
    """Property: for ANY generated feed (dup keys, null/empty keys, ties,
    nulls in values), keyed_merge_salted ≡ keyed_merge under every rule.
    One generated corpus, several salt factors — a cheap exhaustive sweep
    beats per-example Spark jobs under hypothesis."""
    import random

    rng = random.Random(20260813)
    keys = ["", None] + [f"k{i}" for i in range(17)]
    rows = [
        (
            seq,
            rng.choice(keys),
            rng.choice([None, "a", "b", "c", "z"]),
            rng.choice([None] + list(range(10))),
            rng.uniform(0, 9) if rng.random() > 0.2 else None,
            rng.choice(["x", "y", None]),
        )
        for seq in range(1, 400)
    ]
    df = spark.createDataFrame(
        rows, "_seq long, key string, lww string, qty long, price double, st string"
    )
    rules = {"qty": "min", "price": "max", "st": "addArray"}
    plain = {r.key: tuple(r) for r in keyed_merge(df, "key", rules).collect()}
    for buckets in (1, 3, 16):
        salted = {
            r.key: tuple(r)
            for r in keyed_merge(df, "key", rules, salt_buckets=buckets).collect()
        }
        assert salted == plain, f"salt_buckets={buckets}"

    # user columns named like the salted plan's helpers survive both plans
    clash = df.select(
        "*", F.col("qty").alias("__salt"), F.col("price").alias("__max_seq"),
        F.col("lww").alias("__min_seq"),
    )
    plain = {r.key: tuple(r) for r in keyed_merge(clash, "key", rules).collect()}
    assert {"__salt", "__max_seq", "__min_seq"} <= set(
        keyed_merge(clash, "key", rules).columns
    )
    for buckets in (3, 16):
        salted = keyed_merge(clash, "key", rules, salt_buckets=buckets)
        assert {r.key: tuple(r) for r in salted.collect()} == plain, buckets


@pytest.mark.parametrize("salt_buckets,shuffles", [(1, 1), (4, 2)])
def test_keyed_merge_plan_shape(spark, salt_buckets, shuffles):
    """Plain is one shuffle, salted two; either way the addArray finish
    projection folds into the final Aggregate (no Project above it)."""
    df = spark.createDataFrame(
        [(1, "k", 3, "a", "x")], "_seq long, key string, q long, st string, w string"
    )
    out = keyed_merge(df, "key", {"q": "min", "st": "addArray"}, salt_buckets=salt_buckets)
    qe = out._jdf.queryExecution()
    assert qe.executedPlan().toString().count("Exchange hashpartitioning") == shuffles
    assert qe.optimizedPlan().nodeName() == "Aggregate"


def test_keyed_merge_auto_decision_and_equivalence(spark):
    """r14 measured-auto plain-vs-salted: no addArray → plain without a
    probe (constant-state partials are already skew-safe); addArray +
    measured hot key ≥ salt_above → salted; below → plain. Results are
    identical to the direct calls in every branch."""
    from etl_edi_data_scrapper_spark.operators.merge import keyed_merge_auto

    rows = [(i, "hot" if i % 10 else f"cold{i}", f"v{i}", i % 7)
            for i in range(300)]
    df = spark.createDataFrame(rows, "_seq long, key string, st string, q long")

    # (a) no addArray: plain, unprobed
    out, dec = keyed_merge_auto(df, "key", {"q": "min"})
    assert dec["strategy"] == "plain" and dec["probed"] is False
    assert dec["max_key_rows"] is None
    plain = {r.key: tuple(r) for r in keyed_merge(df, "key", {"q": "min"}).collect()}
    assert {r.key: tuple(r) for r in out.collect()} == plain

    # (b) addArray + hot key above the bar: salted, probed (hot = 270 rows)
    rules = {"st": "addArray"}
    out, dec = keyed_merge_auto(df, "key", rules, salt_above=100,
                                salt_buckets=5)
    assert dec["strategy"] == "salted" and dec["probed"] is True
    assert dec["max_key_rows"] == 270
    salted = {
        r.key: tuple(r)
        for r in keyed_merge(df, "key", rules, salt_buckets=5).collect()
    }
    assert {r.key: tuple(r) for r in out.collect()} == salted

    # (b2) salt_buckets="auto" sizes the salt from the measured hot mass:
    # ceil(270 / 100) = 3 buckets, still byte-identical
    out, dec = keyed_merge_auto(df, "key", rules, salt_above=100)
    assert dec["strategy"] == "salted" and dec["salt_buckets"] == 3
    salted3 = {
        r.key: tuple(r)
        for r in keyed_merge(df, "key", rules, salt_buckets=3).collect()
    }
    assert {r.key: tuple(r) for r in out.collect()} == salted3

    # (c) addArray but no key reaches the bar: plain, probed
    out, dec = keyed_merge_auto(df, "key", rules, salt_above=1000)
    assert dec["strategy"] == "plain" and dec["probed"] is True
    assert dec["max_key_rows"] == 270
    plain = {r.key: tuple(r) for r in keyed_merge(df, "key", rules).collect()}
    assert {r.key: tuple(r) for r in out.collect()} == plain

    # null/empty keys don't count toward the probe
    rows2 = rows + [(1000 + i, None, "x", 0) for i in range(500)]
    df2 = spark.createDataFrame(rows2, "_seq long, key string, st string, q long")
    _, dec = keyed_merge_auto(df2, "key", rules, salt_above=400)
    assert dec["max_key_rows"] == 270 and dec["strategy"] == "plain"

    import pytest as _pytest

    with _pytest.raises(ValueError):
        keyed_merge_auto(df, "key", {"q": "bogus"})


def test_asof_join_backward_operator(spark):
    from etl_edi_data_scrapper_spark.operators.asof import asof_join_backward

    quotes = spark.createDataFrame(
        [("A", "2024-01-01 10:00:00", 100.0),
         ("A", "2024-01-01 10:00:05", 101.0),
         ("B", "2024-01-01 10:00:02", 50.0)],
        "sym string, ts string, px double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    trades = spark.createDataFrame(
        [(1, "A", "2024-01-01 10:00:03"),   # after 100, before 101
         (2, "A", "2024-01-01 10:00:05"),   # equal ts → right wins (<=)
         (3, "B", "2024-01-01 10:00:01"),   # before any quote → null
         (4, "B", "2024-01-01 10:00:30")],  # old quote, test tolerance below
        "trade_id long, sym string, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))

    out = {r.trade_id: r.px for r in asof_join_backward(
        trades, quotes, key="sym", values=["px"]).collect()}
    assert out == {1: 100.0, 2: 101.0, 3: None, 4: 50.0}

    # 5-second tolerance: trade 4 (28 s after B's quote) loses its match
    tol = {r.trade_id: r.px for r in asof_join_backward(
        trades, quotes, key="sym", values=["px"], tolerance_us=5_000_000).collect()}
    assert tol == {1: 100.0, 2: 101.0, 3: None, 4: None}
