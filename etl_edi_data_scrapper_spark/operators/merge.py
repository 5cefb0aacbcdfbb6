"""Keyed merge (dedup w/ merge rules) + multi-source enrichment join.

Reference semantics: `DataSetCollection` (`src/Model/DataSetCollection.php`):
rows stream in arrival order into a map keyed by a unique index (default
``upc``); per-field merge rules combine colliding rows — ``min`` / ``max`` /
``addArray`` (append, arrival order) / default last-write-wins; rows whose
key is NULL or ``''`` are dropped (:70-71). `addFieldsFromCollection`
(:86-109) is the multi-source enrichment: left-join a leg onto the base by
key, overwriting listed fields where the leg has a value.

Spark-first restatement:
  * arrival order is IMPLICIT in PHP (one thread, one array); under
    distributed execution it must be explicit — every scan attaches a
    ``_seq`` long (leg_index ⊗ partition ⊗ row offset, or any caller-supplied
    total order). All order-dependent rules read it.
  * the merge is ONE ``groupBy(key)`` with hash-partial aggregation:
    map-side combine happens before the shuffle, so 100 TB with hot keys
    still moves only one partial row per key per task. ``max_by(col, _seq)``
    = last-write-wins; ``min``/``max`` direct; ``addArray`` =
    ``array_sort(collect_list(struct(_seq, col)))`` then field-extract
    (exact arrival order, deterministic under any partitioning). For keys
    hot enough to straggle one reducer, ``salt_buckets > 1`` builds the
    two-stage (key, salt) → key plan from the same per-rule table.
  * enrichment legs are typically small (supplier dimension feeds) →
    broadcast-joinable; AQE promotes them at runtime, or pass
    ``broadcast=True`` to force.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

SEQ_COL = "_seq"

# One row per merge rule: (partial, combine). ``partial(v, seq)``
# aggregates the rows; ``combine(v, lo, hi)`` merges per-salt partials when
# ``salt_buckets > 1``, with ``lo``/``hi`` the per-salt min/max seq. The
# ``None`` row is the default last-write-wins. min/max/addArray + that
# default are the reference's rules (`DataSetCollection::applyRules`);
# sum/first/count are natural generalizations this engine adds. ``addArray``
# collects (seq, value) pairs; ``keyed_merge`` finishes them into values.
_AGG = {
    "min": (lambda v, s: F.min(v), lambda v, lo, hi: F.min(v)),
    "max": (lambda v, s: F.max(v), lambda v, lo, hi: F.max(v)),
    "sum": (lambda v, s: F.sum(v), lambda v, lo, hi: F.sum(v)),
    "count": (lambda v, s: F.count(v), lambda v, lo, hi: F.sum(v)),
    "first": (lambda v, s: F.min_by(v, s), lambda v, lo, hi: F.min_by(v, lo)),
    "addArray": (
        lambda v, s: F.collect_list(F.struct(s.alias("s"), v.alias("v"))),
        lambda v, lo, hi: F.flatten(F.collect_list(v)),
    ),
    None: (lambda v, s: F.max_by(v, s), lambda v, lo, hi: F.max_by(v, hi)),
}
VALID_RULES = set(_AGG) - {None}


# Legs live at bit 59+: monotonically_increasing_id is partition_id<<33 |
# row, so its values stay below 2^59 while partition count < 2^26 (~67M — far
# past any real job; Spark itself degrades around ~1M tasks). A lower shift
# (e.g. 52) silently loses last-write-wins ties at ≥2^19 partitions.
_LEG_SHIFT = 59


def with_seq(df: DataFrame, leg: int = 0, seq_expr: Column | None = None) -> DataFrame:
    """Attach the explicit arrival-order column ``_seq``.

    Default: ``monotonically_increasing_id()`` encodes (partition, row
    offset) — deterministic for a given file listing, which matches the
    reference's file-order × row-order arrival contract without a shuffle or
    a global sort. Callers with a real event-order column (the scalable
    choice at 100 TB, and what correctness oracles use) pass ``seq_expr``
    (must stay below 2^59 when combined with a non-zero ``leg``).
    ``leg`` (0..15) offsets multi-source legs into disjoint ranges so later
    legs always win last-write-wins ties (legs are processed in config
    order, `Aggregator.php:112-128`). With a non-zero leg the default seq is
    overflow-guarded in-plan: a scan with ≥2^26 partitions raises instead of
    silently corrupting tie-breaks.
    """
    if not 0 <= int(leg) < 16:
        raise ValueError(f"leg must be in [0, 16): {leg}")
    if seq_expr is not None:
        seq = seq_expr.cast("long")
    else:
        seq = F.monotonically_increasing_id()
        if leg and not df.isStreaming:
            # plan-time guard (a per-row branch would knock the projection
            # out of whole-stage codegen): mid's partition bits stay below
            # the leg shift while partitions < 2^26; demand an explicit seq
            # beyond 2^20 static partitions — 64x headroom for AQE re-splits
            n = df.rdd.getNumPartitions()
            if n >= (1 << 20):
                raise ValueError(
                    f"with_seq: {n} partitions risks overflowing the leg "
                    "bits of monotonically_increasing_id — pass an explicit "
                    "seq_expr for multi-leg jobs at this scale"
                )
    return df.withColumn(SEQ_COL, seq + F.lit(int(leg) << _LEG_SHIFT))


def _fresh(taken: set[str], name: str) -> str:
    """``name``, prefixed with ``_`` until no column in ``taken`` has it.

    ``taken`` holds lower-cased names (Spark resolves column names
    case-insensitively); the chosen name is added to it, so successive
    helpers never collide with each other or with a user column.
    """
    while name.lower() in taken:
        name = "_" + name
    taken.add(name.lower())
    return name


def _validated(merge_rules: dict[str, str] | None) -> dict[str, str]:
    merge_rules = dict(merge_rules or {})
    bad = set(merge_rules.values()) - VALID_RULES
    if bad:
        raise ValueError(f"unknown merge rules: {sorted(bad)}")
    return merge_rules


def _keyed_rows(df: DataFrame, key: str) -> DataFrame:
    """Drop NULL / ``''`` keys (`DataSetCollection.php:70-71`)."""
    kc = F.col(key)
    return df.filter(kc.isNotNull() & (kc.cast("string") != ""))


def keyed_merge(
    df: DataFrame,
    key: str,
    merge_rules: dict[str, str] | None = None,
    seq_col: str = SEQ_COL,
    drop_seq: bool = True,
    max_array_elements: int | None = None,
    salt_buckets: int = 1,
) -> DataFrame:
    """Group by ``key`` applying per-column merge rules (§2.4 of SURVEY.md).

    Columns without a rule get last-write-wins by ``seq_col``. Null/empty
    keys are dropped before the shuffle (filter is pushed to the scan).

    ``max_array_elements`` bounds every ``addArray`` column to the FIRST N
    values in arrival order — the knob for hot keys at scale, where an
    unbounded per-key array is the one growth term the merge otherwise has
    (SCALE.md §keyed_merge). The aggregation state itself still collects
    before slicing; for keys hot enough that even that is a problem,
    ``salt_buckets > 1`` splits the collection across salt buckets.

    ``salt_buckets == 1`` is one ``groupBy(key)``. ``salt_buckets > 1`` is
    the skew-proof two-stage plan: a hot key (one UPC = 10% of a 100 TB
    feed) funnels into a single reducer under plain groupBy, so each key is
    split into (key, seq mod n) sub-groups combined in parallel, then the
    per-salt partials merge per key (``_AGG``'s combine column). Results
    are IDENTICAL to the one-stage plan (given unique ``seq_col``). AQE's
    skew-join splitting handles the JOIN side of skew; this handles the
    AGGREGATION side, which AQE does not re-split.
    """
    merge_rules = _validated(merge_rules)
    if seq_col not in df.columns:
        df = with_seq(df)
        seq_col = SEQ_COL
    df = _keyed_rows(df, key)

    rules = [(c, merge_rules.get(c)) for c in df.columns if c not in (key, seq_col)]
    if not drop_seq:
        rules.append((seq_col, "max"))
    seq = F.col(seq_col)
    if salt_buckets > 1:
        taken = {c.lower() for c in df.columns}
        salt, hi, lo = (_fresh(taken, n) for n in ("__salt", "__max_seq", "__min_seq"))
        staged = (
            df.withColumn(salt, F.pmod(seq, F.lit(int(salt_buckets))))
            .groupBy(key, salt)
            .agg(*[_AGG[r][0](F.col(c), seq).alias(c) for c, r in rules],
                 F.max(seq).alias(hi), F.min(seq).alias(lo))
        )
        merged = staged.groupBy(key).agg(
            *[_AGG[r][1](F.col(c), F.col(lo), F.col(hi)).alias(c) for c, r in rules]
        )
    else:
        merged = df.groupBy(key).agg(*[_AGG[r][0](F.col(c), seq).alias(c) for c, r in rules])
    # finish (addArray only): pairs in arrival order, first N, values only;
    # Catalyst folds this projection into the final aggregate
    out = [key]
    for c, r in rules:
        if r == "addArray":
            pairs = F.array_sort(F.col(c))
            if max_array_elements is not None:
                pairs = F.slice(pairs, 1, int(max_array_elements))
            out.append(F.transform(pairs, lambda x: x["v"]).alias(c))
        else:
            out.append(c)
    return merged.select(*out)


def enrich(
    base: DataFrame,
    leg: DataFrame,
    base_key: str,
    leg_key: str,
    fields: list[str],
    seq_col: str = SEQ_COL,
    broadcast: bool = True,
) -> DataFrame:
    """Left-join enrichment (`DataSetCollection::addFieldsFromCollection`).

    Leg rows are first deduped to last-per-key (the reference's "last
    occurrence per key wins", :94-105); leg rows whose key is absent from the
    base are discarded (left join does this); base rows with no match keep
    their values. Overlapping columns follow the reference's null semantics
    exactly (`DataRow::hasField` is ``array_key_exists``,
    `DataSetCollection.php:100-103`): when the KEY matched, the leg value
    overwrites even if it is NULL — so the overwrite keys off the join-match
    marker (leg key is never null: keyed_merge drops those rows), not off
    value presence.
    """
    taken = {c.lower() for c in (*base.columns, *fields, seq_col)}
    lk = _fresh(taken, "__leg_key")
    lf = {f: _fresh(taken, f"__leg_{f}") for f in fields}
    leg_proj = leg.select(
        F.col(leg_key).alias(lk),
        *[F.col(f) for f in fields],
        *([F.col(seq_col)] if seq_col in leg.columns else []),
    )
    leg_last = keyed_merge(leg_proj, lk, {}, seq_col=seq_col)
    renamed = leg_last.select(lk, *[F.col(f).alias(lf[f]) for f in fields])
    if broadcast:
        renamed = F.broadcast(renamed)

    joined = base.join(renamed, base[base_key] == renamed[lk], "left")
    matched = F.col(lk).isNotNull()
    out_cols: list[Column] = []
    for c in base.columns:
        if c in fields:
            out_cols.append(F.when(matched, F.col(lf[c])).otherwise(base[c]).alias(c))
        else:
            out_cols.append(base[c])
    for f in fields:
        if f not in base.columns:
            out_cols.append(F.col(lf[f]).alias(f))
    return joined.select(*out_cols)


def keyed_merge_auto(
    df: DataFrame,
    key: str,
    merge_rules: dict[str, str] | None = None,
    seq_col: str = SEQ_COL,
    salt_buckets: int | str = "auto",
    max_array_elements: int | None = None,
    salt_above: int = 1_000_000,
) -> tuple[DataFrame, dict]:
    """Measured-auto plain-vs-salted ``keyed_merge`` (r14 — the
    `jaccard_pairs` auto-strategy discipline applied to the reference's
    core operator). Returns ``(result, decision)``; the result is
    byte-identical whichever strategy fires (pinned by the salted
    equivalence tests).

    The decision rule follows where skew can actually hurt this
    aggregation: every rule EXCEPT ``addArray`` keeps constant-size
    per-key state with map-side partials (a hot key costs one partial
    row per task — plain groupBy is already skew-safe), so
    (a) with no ``addArray`` rule the plain merge ships WITHOUT any
        probe job;
    (b) with one, the hot-key mass is MEASURED first: one
        ``groupBy(key).count() → max`` probe — itself constant-state,
        so the probe cannot hit the skew it is probing for — and the
        salted two-stage fires only when the hottest key's row count
        reaches ``salt_above`` (default 1M: ~the per-task row volume
        where a single reducer's collect_list state becomes a
        straggler/OOM term at 100 TB; size it to executor memory /
        expected element width).

    ``salt_buckets="auto"`` sizes the salt from the SAME measurement:
    ⌈max_key_rows / salt_above⌉ buckets (clamped to [2, 256]) caps each
    per-(key, salt) partial's collect state at ~``salt_above`` rows —
    the bucket count scales with the measured hot mass instead of a
    fixed 16 that over-salts mild skew and under-salts a monster key.

    The probe is one linear pass over the input — measured at factor
    300 (SCALE.md): 313 s against the merge's own 792 s, because the
    probe re-pays the input SCAN, the dominant term of both jobs. It is
    skew-immune but not free: probe a NEW feed once, record the
    decision, and pin `merge_strategy` for reruns — the decision dict
    (strategy, max_key_rows, salt_above, salt_buckets, probed) is
    returned for exactly that, the opq_train_auto convention."""
    merge_rules = _validated(merge_rules)
    decision: dict = {"salt_above": int(salt_above), "probed": False,
                      "max_key_rows": None, "strategy": "plain"}
    n = 1
    if "addArray" not in merge_rules.values():
        decision["reason"] = (
            "no addArray rule: per-key aggregation state is constant "
            "(map-side partials), plain groupBy is skew-safe"
        )
    else:
        hot = int(
            _keyed_rows(df, key).groupBy(key).count()
            .agg(F.max("count").alias("m"))
            .first()["m"] or 0
        )
        decision.update(probed=True, max_key_rows=hot)
        if hot >= salt_above:
            n = (min(256, max(2, -(-hot // salt_above)))
                 if salt_buckets == "auto" else int(salt_buckets))
            decision.update(
                strategy="salted", salt_buckets=n,
                reason=(f"hottest key carries {hot} rows >= salt_above="
                        f"{salt_above}: addArray collect state on one "
                        "reducer would be the straggler/OOM term"),
            )
        else:
            decision["reason"] = (
                f"hottest key carries {hot} rows < salt_above={salt_above}: "
                "one-stage merge is cheaper (no second shuffle)"
            )
    out = keyed_merge(df, key, merge_rules, seq_col=seq_col,
                      max_array_elements=max_array_elements, salt_buckets=n)
    return out, decision
