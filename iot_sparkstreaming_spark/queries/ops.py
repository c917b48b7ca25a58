"""Operational / data-management queries a production lakehouse team
runs around the analytics themselves: CDC-style snapshot diffing and
referential-integrity auditing over the TPC-H-shaped tables.

Both are exact-integer reports with DuckDB oracles. The snapshots in
``snapshot_diff_orders`` are derived DETERMINISTICALLY from the one
orders fixture (modular-arithmetic membership + a simulated price
update), so the diff semantics — not a side-channel fixture — are
what's under test.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast, col

from iot_sparkstreaming_spark.queries.registry import register
from iot_sparkstreaming_spark.tables import load_table

# ---------------------------------------------------------------------------
# CDC snapshot diff (insert / update / delete between two table states)
# ---------------------------------------------------------------------------

#: membership knobs: %97 rows are missing from the OLD snapshot
#: (inserts), %89 rows get a price bump in the NEW one (updates),
#: %101 rows (present in old) are dropped from NEW (deletes).
INS_MOD, UPD_MOD, DEL_MOD = 97, 89, 101

SNAPSHOT_DIFF_ORACLE = f"""
WITH old AS (
  SELECT o_orderkey, CAST(ROUND(o_totalprice * 100) AS BIGINT) AS price_cents
  FROM orders WHERE o_orderkey % {INS_MOD} <> 0
),
new AS (
  SELECT o_orderkey,
    CASE WHEN o_orderkey % {UPD_MOD} = 0
         THEN CAST(ROUND(o_totalprice * 100) AS BIGINT) + 1000
         ELSE CAST(ROUND(o_totalprice * 100) AS BIGINT) END AS price_cents
  FROM orders WHERE o_orderkey % {DEL_MOD} <> 0 OR o_orderkey % {INS_MOD} = 0
)
SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
  CASE WHEN o.o_orderkey IS NULL THEN 'insert'
       WHEN n.o_orderkey IS NULL THEN 'delete'
       ELSE 'update' END AS change_type,
  o.price_cents AS old_price_cents,
  n.price_cents AS new_price_cents
FROM old o FULL OUTER JOIN new n ON o.o_orderkey = n.o_orderkey
WHERE o.o_orderkey IS NULL OR n.o_orderkey IS NULL
   OR o.price_cents <> n.price_cents
"""


@register("snapshot_diff_orders", oracle=SNAPSHOT_DIFF_ORACLE)
def snapshot_diff_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC between two snapshots of the orders table: emit one row per
    INSERTED, DELETED, or UPDATED key (update = price change at cent
    precision), unchanged rows excluded — the diff a downstream
    incremental consumer replays, and the semantics behind MERGE-style
    table maintenance when the source system only ships full
    snapshots.

    The two states derive deterministically from the one fixture:
    the old snapshot lacks the %{INS_MOD} keys, the new one bumps
    %{UPD_MOD} prices by 10.00 and drops %{DEL_MOD} keys. Prices
    compare as exact integer cents.

    Scale shape: ONE full-outer sort-merge join on the primary key —
    both snapshots shuffle once on o_orderkey and the comparison is
    a row-local CASE. With both snapshots stored bucketed by the key
    (io/bucketing.py), the storage-partitioned join drops even that
    exchange; either way there is no row explosion and no driver-side
    state. The filter keeps changed rows only, so output is the
    change volume, not the table.
    """
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    cents = F.round(col("o_totalprice") * 100).cast("bigint")
    old = orders.filter(col("o_orderkey") % INS_MOD != 0).select(
        "o_orderkey", cents.alias("price_cents")
    )
    new = orders.filter(
        (col("o_orderkey") % DEL_MOD != 0) | (col("o_orderkey") % INS_MOD == 0)
    ).select(
        "o_orderkey",
        F.when(col("o_orderkey") % UPD_MOD == 0, cents + 1000)
        .otherwise(cents)
        .alias("price_cents"),
    )
    o = old.alias("o")
    n = new.alias("n")
    joined = o.join(n, col("o.o_orderkey") == col("n.o_orderkey"), "full_outer")
    return joined.filter(
        col("o.o_orderkey").isNull()
        | col("n.o_orderkey").isNull()
        | (col("o.price_cents") != col("n.price_cents"))
    ).select(
        F.coalesce(col("o.o_orderkey"), col("n.o_orderkey")).alias("o_orderkey"),
        F.when(col("o.o_orderkey").isNull(), "insert")
        .when(col("n.o_orderkey").isNull(), "delete")
        .otherwise("update")
        .alias("change_type"),
        col("o.price_cents").alias("old_price_cents"),
        col("n.price_cents").alias("new_price_cents"),
    )


snapshot_diff_orders.__doc__ = (
    snapshot_diff_orders.__doc__.replace("{INS_MOD}", str(INS_MOD))
    .replace("{UPD_MOD}", str(UPD_MOD))
    .replace("{DEL_MOD}", str(DEL_MOD))
)


# ---------------------------------------------------------------------------
# Referential-integrity audit across the TPC-H foreign-key graph
# ---------------------------------------------------------------------------

#: (name, child table, fk column, parent table, pk column)
FK_EDGES = [
    ("lineitem.l_orderkey->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem.l_partkey->part", "lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders.o_custkey->customer", "orders", "o_custkey", "customer", "c_custkey"),
    ("customer.c_nationkey->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier.s_nationkey->nation", "supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation.n_regionkey->region", "nation", "n_regionkey", "region", "r_regionkey"),
]

FK_AUDIT_ORACLE = "\nUNION ALL\n".join(
    f"""SELECT '{name}' AS relationship,
  CAST((SELECT COUNT(*) FROM {child}) AS BIGINT) AS child_rows,
  CAST((SELECT COUNT(*) FROM {child} WHERE {fk} IS NULL) AS BIGINT) AS null_fk_rows,
  CAST((SELECT COUNT(*) FROM {child} WHERE {fk} IS NOT NULL
        AND {fk} NOT IN (SELECT {pk} FROM {parent})) AS BIGINT) AS orphan_rows,
  CAST((SELECT COUNT(DISTINCT {fk}) FROM {child} WHERE {fk} IS NOT NULL
        AND {fk} NOT IN (SELECT {pk} FROM {parent})) AS BIGINT) AS orphan_keys"""
    for name, child, fk, parent, pk in FK_EDGES
)


@register("fk_integrity_audit", oracle=FK_AUDIT_ORACLE)
def fk_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit over the full TPC-H foreign-key
    graph: one row per FK relationship with child cardinality, NULL
    FKs, orphan rows, and distinct orphan keys — the pre-flight check
    a pipeline runs before trusting joins to be lossless (an inner
    join silently DROPS orphans; this query makes that loss visible
    first). The fixture is integral, so all orphan counts are zero —
    the report proving it is the operator.

    Scale shape, per relationship (restructured round 16 — the child
    was scanned TWICE, once for the row/null counts and once for the
    per-key table): the child side collapses to DISTINCT fk values in
    ONE map-side-combined groupBy that carries the per-key row count,
    so child cardinality, NULL-FK rows, orphan rows, and orphan keys
    all fold out of the SAME key-sized table — child_rows = Σ n_rows
    (the null group included), null_fk_rows = the null group's count,
    and orphanhood comes from a LEFT join against the DISTINCT parent
    keys (key-sized; a duplicated parent PK — exactly the corrupted
    data this audit exists for — must not multiply child rows, and
    "no match" ≡ the old anti join; broadcast for the small
    dimensions, shuffle for orders). One child scan, one exchange,
    one join, one 1-row aggregate per relationship — at 100 TB this
    halves the corpus scans the audit pays. The 7 one-row reports union into one frame.
    """
    out: DataFrame | None = None
    small_parents = {"part", "supplier", "customer", "nation", "region"}
    for name, child_t, fk, parent_t, pk in FK_EDGES:
        child = load_table(spark, sf_dir, child_t)
        parent = load_table(spark, sf_dir, parent_t).select(pk).distinct()
        per_key = child.groupBy(fk).agg(F.count("*").alias("n_rows"))
        p = broadcast(parent) if parent_t in small_parents else parent
        annotated = per_key.join(p, per_key[fk] == p[pk], "left")
        is_orphan = col(fk).isNotNull() & col(pk).isNull()
        report = annotated.agg(
            F.coalesce(F.sum("n_rows"), F.lit(0))
            .cast("bigint")
            .alias("child_rows"),
            F.coalesce(
                F.sum(F.when(col(fk).isNull(), col("n_rows")).otherwise(0)),
                F.lit(0),
            )
            .cast("bigint")
            .alias("null_fk_rows"),
            F.coalesce(
                F.sum(F.when(is_orphan, col("n_rows")).otherwise(0)), F.lit(0)
            )
            .cast("bigint")
            .alias("orphan_rows"),
            F.coalesce(F.sum(F.when(is_orphan, 1).otherwise(0)), F.lit(0))
            .cast("bigint")
            .alias("orphan_keys"),
        ).select(
            F.lit(name).alias("relationship"),
            "child_rows",
            "null_fk_rows",
            "orphan_rows",
            "orphan_keys",
        )
        out = report if out is None else out.unionByName(report)
    return out


# ---------------------------------------------------------------------------
# Column profiling report (the lakehouse "table stats" pass)
# ---------------------------------------------------------------------------

#: (column, kind) — kind drives which min/max slot is populated
PROFILE_COLUMNS = [
    ("o_orderkey", "num"),
    ("o_custkey", "num"),
    ("o_orderstatus", "str"),
    ("o_totalprice", "num"),
    ("o_orderdate", "ts"),
    ("o_orderpriority", "str"),
]


def _profile_oracle() -> str:
    parts = []
    for c, kind in PROFILE_COLUMNS:
        if kind == "num":
            min_num, max_num = f"CAST(MIN({c}) AS DOUBLE)", f"CAST(MAX({c}) AS DOUBLE)"
            min_str = max_str = "CAST(NULL AS VARCHAR)"
        elif kind == "ts":
            min_num = f"CAST(epoch_ms(MIN({c})) AS DOUBLE)"
            max_num = f"CAST(epoch_ms(MAX({c})) AS DOUBLE)"
            min_str = max_str = "CAST(NULL AS VARCHAR)"
        else:
            min_num = max_num = "CAST(NULL AS DOUBLE)"
            min_str, max_str = f"MIN({c})", f"MAX({c})"
        parts.append(f"""SELECT '{c}' AS column_name,
  CAST(COUNT(*) AS BIGINT) AS n_rows,
  CAST(COUNT(*) - COUNT({c}) AS BIGINT) AS n_nulls,
  CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct,
  {min_num} AS min_num, {max_num} AS max_num,
  {min_str} AS min_str, {max_str} AS max_str
FROM orders""")
    return "\nUNION ALL\n".join(parts)


PROFILE_ORACLE = _profile_oracle()


@register("profile_orders_columns", oracle=PROFILE_ORACLE)
def profile_orders_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-profiling report over orders: one row per column with
    cardinality, null count, EXACT distinct count, and typed min/max
    (numeric/timestamp columns fill the double slots — timestamps as
    epoch-millis — string columns the varchar slots). The stats pass
    behind data-contract monitoring, CBO statistics collection, and
    "did the upstream feed break" dashboards.

    Scale shape: one pass PER COLUMN, each a single-column
    column-pruned parquet scan (ReadSchema shows exactly one field)
    feeding a map-side-combined aggregate; the exact COUNT(DISTINCT)
    is the one shuffle each pass pays — per column, that is the
    honest cost of an exact profile (swap in approx_count_distinct
    for the sketch-grade profile; HLL union is already a first-class
    operator here). Six 1-row frames union into the report.
    """
    orders = load_table(spark, sf_dir, "orders")
    out: DataFrame | None = None
    for c, kind in PROFILE_COLUMNS:
        if kind == "num":
            min_num, max_num = F.min(c).cast("double"), F.max(c).cast("double")
            min_str = max_str = F.lit(None).cast("string")
        elif kind == "ts":
            # parquet surfaces the date column as TIMESTAMP_NTZ; cast
            # to session-TZ timestamp for unix_millis (UTC session)
            min_num = F.unix_millis(F.min(col(c).cast("timestamp"))).cast("double")
            max_num = F.unix_millis(F.max(col(c).cast("timestamp"))).cast("double")
            min_str = max_str = F.lit(None).cast("string")
        else:
            min_num = max_num = F.lit(None).cast("double")
            min_str, max_str = F.min(c), F.max(c)
        report = orders.select(c).agg(
            F.count("*").cast("bigint").alias("n_rows"),
            (F.count("*") - F.count(c)).cast("bigint").alias("n_nulls"),
            F.count_distinct(col(c)).cast("bigint").alias("n_distinct"),
            min_num.alias("min_num"),
            max_num.alias("max_num"),
            min_str.alias("min_str"),
            max_str.alias("max_str"),
        ).select(F.lit(c).alias("column_name"), "*")
        out = report if out is None else out.unionByName(report)
    return out


# ---------------------------------------------------------------------------
# Bloom-style sketch-prune + exact-verify semi-join
# ---------------------------------------------------------------------------

#: bloom bit-array size (one hash function). Sized ~10× the expected
#: key count for a useful false-positive rate; the EXACT verify step
#: makes the result independent of this knob.
BLOOM_BITS = 4096
#: dimension predicate selecting the "VIP" customer key set
BLOOM_ACCTBAL_MIN = 9000

BLOOM_PRUNE_ORACLE = f"""
SELECT o_orderpriority,
  CAST(COUNT(*) AS BIGINT) AS n_orders,
  CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
FROM orders
WHERE o_custkey IN (
  SELECT c_custkey FROM customer WHERE c_acctbal > {BLOOM_ACCTBAL_MIN}
)
GROUP BY o_orderpriority
"""


@register("bloom_prune_semijoin", oracle=BLOOM_PRUNE_ORACLE)
def bloom_prune_semijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-join of the orders fact against a selective customer key
    set, executed as SKETCH-PRUNE THEN EXACT-VERIFY: a Bloom-style bit
    table (distinct ``hash(key) mod {BLOOM_BITS}`` buckets of the dim
    keys) broadcasts and prunes the fact map-side first; the
    survivors — the true matches plus the sketch's false positives —
    then pass an exact broadcast semi-join that removes the FPs. The
    oracle is the PLAIN semi-join: the composition is semantically
    exact regardless of the bit-array size, which is the property
    under test.

    This is the hand-rolled twin of Spark's runtime bloom-filter join
    (``spark.sql.optimizer.runtime.bloomFilter.enabled``) and of
    DPP-style scan pruning: at 100 TB the win is that the ~KB bit
    table reaches every scan task and drops non-matching rows BEFORE
    any exchange, so the exact join only sees the pruned stream. When
    the dim key set itself is broadcastable (as here) the second step
    is also exchange-free; when it isn't, the verify becomes the only
    shuffled join and the sketch already removed the bulk of the
    fact. Revenue accumulates exact integer cents.
    """
    orders = load_table(spark, sf_dir, "orders")
    keys = (
        load_table(spark, sf_dir, "customer")
        .filter(col("c_acctbal") > BLOOM_ACCTBAL_MIN)
        .select("c_custkey")
    )
    bits = keys.select(
        F.pmod(F.xxhash64("c_custkey"), F.lit(BLOOM_BITS)).alias("bit")
    ).distinct()
    pruned = orders.join(
        broadcast(bits),
        F.pmod(F.xxhash64("o_custkey"), F.lit(BLOOM_BITS)) == col("bit"),
        "leftsemi",
    )
    exact = pruned.join(
        broadcast(keys), col("o_custkey") == col("c_custkey"), "leftsemi"
    )
    return exact.groupBy("o_orderpriority").agg(
        F.count("*").cast("bigint").alias("n_orders"),
        F.sum(F.round(col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("revenue_cents"),
    )


bloom_prune_semijoin.__doc__ = bloom_prune_semijoin.__doc__.replace(
    "{BLOOM_BITS}", str(BLOOM_BITS)
)


# ---------------------------------------------------------------------------
# k-anonymity audit over a quasi-identifier tuple
# ---------------------------------------------------------------------------

KANON_K = 5
KANON_BAND_CENTS = 100_000  # $1000 account-balance bands


K_ANONYMITY_ORACLE = f"""
SELECT c_nationkey AS nation_key,
  c_mktsegment AS segment,
  (CAST(c_acctbal * 100 AS BIGINT) + {KANON_BAND_CENTS})
    // {KANON_BAND_CENTS} AS bal_band,
  CAST(COUNT(*) AS BIGINT) AS class_size,
  COUNT(*) < {KANON_K} AS violates_k
FROM customer
GROUP BY 1, 2, 3
"""


@register("k_anonymity_audit", oracle=K_ANONYMITY_ORACLE)
def k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Privacy-governance audit: the k-anonymity equivalence classes
    of the quasi-identifier tuple (nation, market segment,
    $1000-account-balance band) over customers, each with its class
    size and a ``violates_k`` flag (size < {KANON_K}) — the release
    gate a training-data pipeline runs before shipping records keyed
    by demographic attributes (Sweeney's k-anonymity: any QI combo
    matching fewer than k individuals re-identifies them).

    Exactness: the balance band is derived from EXACT cents
    (decimal·100 → bigint) shifted positive BEFORE the integral
    division — Spark's ``div`` truncates toward zero while DuckDB's
    ``//`` floors, so negative balances would band differently
    without the shift (the house integral-division rule applied to a
    signed domain).

    Scale shape: one map-side-combined hash aggregate on a bounded
    key space (nations × segments × ~110 bands); no joins, no
    windows — the audit costs one scan at any corpus size, and the
    violating-class report it feeds is classes-sized, not rows-sized.
    """
    cust = load_table(spark, sf_dir, "customer").select(
        "c_nationkey", "c_mktsegment", "c_acctbal"
    )
    band = F.expr(
        f"(CAST(c_acctbal * 100 AS BIGINT) + {KANON_BAND_CENTS})"
        f" div {KANON_BAND_CENTS}"
    )
    return (
        cust.select(
            col("c_nationkey").alias("nation_key"),
            col("c_mktsegment").alias("segment"),
            band.alias("bal_band"),
        )
        .groupBy("nation_key", "segment", "bal_band")
        .agg(F.count("*").cast("bigint").alias("class_size"))
        .select(
            "nation_key",
            "segment",
            "bal_band",
            "class_size",
            (col("class_size") < KANON_K).alias("violates_k"),
        )
    )


k_anonymity_audit.__doc__ = k_anonymity_audit.__doc__.replace(
    "{KANON_K}", str(KANON_K)
)


# ---------------------------------------------------------------------------
# CDC apply: replay the diff onto the old snapshot (MERGE proof)
# ---------------------------------------------------------------------------

CDC_APPLY_ORACLE = f"""
SELECT o_orderkey,
  CASE WHEN o_orderkey % {UPD_MOD} = 0
       THEN CAST(ROUND(o_totalprice * 100) AS BIGINT) + 1000
       ELSE CAST(ROUND(o_totalprice * 100) AS BIGINT) END AS price_cents
FROM orders WHERE o_orderkey % {DEL_MOD} <> 0 OR o_orderkey % {INS_MOD} = 0
"""


@register("cdc_apply_changes", oracle=CDC_APPLY_ORACLE)
def cdc_apply_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MERGE half of the CDC pair: take `snapshot_diff_orders`'s
    change feed (insert/update/delete rows) and APPLY it to the old
    snapshot — deletes anti-joined out, updates overwriting the
    price, inserts unioned in. The oracle is the NEW snapshot
    directly, so the hash proves diff ∘ apply ≡ snapshot: the
    round-trip identity every incremental-materialization pipeline
    silently depends on (ship diffs, replay downstream, trust the
    result), here made an explicit checked invariant.

    Scale shape: ONE left join of the old snapshot against the
    (change-volume-sized, typically tiny → AQE-broadcast) change
    feed on the primary key, a row-local CASE, and a union with the
    inserts — the standard MERGE plan. No full-outer join here; the
    diff query already paid it.
    """
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    cents = F.round(col("o_totalprice") * 100).cast("bigint")
    old = orders.filter(col("o_orderkey") % INS_MOD != 0).select(
        "o_orderkey", cents.alias("price_cents")
    )
    diff = snapshot_diff_orders(spark, sf_dir).select(
        "o_orderkey", "change_type", "new_price_cents"
    )
    merged = old.join(diff, "o_orderkey", "left")
    kept = merged.filter(
        col("change_type").isNull() | (col("change_type") == "update")
    ).select(
        "o_orderkey",
        F.when(col("change_type") == "update", col("new_price_cents"))
        .otherwise(col("price_cents"))
        .alias("price_cents"),
    )
    inserts = diff.filter(col("change_type") == "insert").select(
        "o_orderkey", col("new_price_cents").alias("price_cents")
    )
    return kept.unionByName(inserts)


# ---------------------------------------------------------------------------
# Zone-map data-skipping effectiveness report
# ---------------------------------------------------------------------------

ZONE_ROWS = 512  # rows per simulated row-group / file zone
ZM_HOURS = 72  # recency predicate: ts within the trailing 72 h
ZM_VALUE = 400.0  # value predicate: value >= 400


ZONEMAP_ORACLE = f"""
WITH mx AS (SELECT MAX(epoch_ms(ts)) AS max_ms FROM events),
zones AS (
  SELECT event_id // {ZONE_ROWS} AS zone,
    COUNT(*) AS n_rows,
    MIN(epoch_ms(ts)) AS min_ms, MAX(epoch_ms(ts)) AS max_ms_z,
    MIN(value) AS min_v, MAX(value) AS max_v,
    SUM(CASE WHEN epoch_ms(ts) >= (SELECT max_ms FROM mx)
                  - {ZM_HOURS} * 3600000 THEN 1 ELSE 0 END) AS rows_recent,
    SUM(CASE WHEN value >= {ZM_VALUE} THEN 1 ELSE 0 END) AS rows_hot
  FROM events GROUP BY event_id // {ZONE_ROWS}
)
SELECT CAST(zone AS BIGINT) AS zone, CAST(n_rows AS BIGINT) AS n_rows,
  min_ms, max_ms_z AS max_ms, min_v, max_v,
  max_ms_z < (SELECT max_ms FROM mx) - {ZM_HOURS} * 3600000
    AS pruned_by_ts,
  max_v < {ZM_VALUE} AS pruned_by_value,
  CAST(rows_recent AS BIGINT) AS rows_recent,
  CAST(rows_hot AS BIGINT) AS rows_hot
FROM zones
"""


@register("zonemap_skipping_report", oracle=ZONEMAP_ORACLE)
def zonemap_skipping_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ZONE-MAP (min/max data-skipping) effectiveness report — the
    stats a lakehouse keeps per parquet row-group, computed per
    {ZONE_ROWS}-row storage zone (event_id IS the fixture's storage
    order: ts is monotone in it), then each zone judged against two
    predicates: a trailing-{ZM_HOURS}h recency filter and a
    `value >= {ZM_VALUE}` filter. The report makes the skipping story
    QUANTITATIVE: ts is clustered with storage order, so its min/max
    bands are narrow and most zones prune (`pruned_by_ts`); value is
    unclustered, so every zone's [min,max] straddles the threshold
    and nothing prunes (`pruned_by_value`) — exactly why you Z-order
    or sort data before relying on row-group skipping (see
    `zorder_locality_events` for the fix). `rows_recent`/`rows_hot`
    carry the exact per-zone selectivity so pruned-zone correctness
    (pruned ⇒ 0 matching rows) is checkable from the output.

    Scale shape: one hash aggregate keyed by zone id (map-side
    combinable: each input partition touches few zones); the corpus
    max-ts is a 1-row broadcast. min/max of doubles are exact picks
    of input values, so every column hash-matches bit-for-bit.
    """
    ev = load_table(spark, sf_dir, "events").select(
        F.expr(f"event_id div {ZONE_ROWS}").cast("bigint").alias("zone"),
        F.unix_millis(col("ts")).alias("ms"),
        "value",
    )
    mx = ev.agg(F.max("ms").alias("corpus_max_ms"))
    cutoff = col("corpus_max_ms") - ZM_HOURS * 3600000
    zones = (
        ev.crossJoin(broadcast(mx))
        .groupBy("zone")
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.min("ms").alias("min_ms"),
            F.max("ms").alias("max_ms"),
            F.min("value").alias("min_v"),
            F.max("value").alias("max_v"),
            F.sum((col("ms") >= cutoff).cast("long"))
            .cast("bigint")
            .alias("rows_recent"),
            F.sum((col("value") >= ZM_VALUE).cast("long"))
            .cast("bigint")
            .alias("rows_hot"),
            F.max("corpus_max_ms").alias("corpus_max_ms"),
        )
    )
    return zones.select(
        "zone",
        "n_rows",
        "min_ms",
        "max_ms",
        "min_v",
        "max_v",
        (col("max_ms") < col("corpus_max_ms") - ZM_HOURS * 3600000).alias(
            "pruned_by_ts"
        ),
        (col("max_v") < ZM_VALUE).alias("pruned_by_value"),
        "rows_recent",
        "rows_hot",
    )


zonemap_skipping_report.__doc__ = (
    zonemap_skipping_report.__doc__.replace("{ZONE_ROWS}", str(ZONE_ROWS))
    .replace("{ZM_HOURS}", str(ZM_HOURS))
    .replace("{ZM_VALUE}", str(ZM_VALUE))
)


# ---------------------------------------------------------------------------
# Small-file compaction planner (running-sum bin packing)
# ---------------------------------------------------------------------------

COMPACT_TARGET = 500  # target rows per compacted output file

COMPACTION_ORACLE = f"""
WITH shards AS (
  SELECT event_type, CAST(ts AS DATE) AS shard_date,
    CAST(COUNT(*) AS BIGINT) AS n_rows
  FROM events GROUP BY event_type, CAST(ts AS DATE)
),
planned AS (
  SELECT event_type, shard_date, n_rows,
    CAST((SUM(n_rows) OVER (
            PARTITION BY event_type ORDER BY shard_date
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
          ) - n_rows) // {COMPACT_TARGET} AS BIGINT) AS bin_id
  FROM shards
)
SELECT event_type, bin_id,
  CAST(COUNT(*) AS BIGINT) AS n_shards,
  CAST(SUM(n_rows) AS BIGINT) AS bin_rows,
  CAST(MIN(shard_date) AS DATE) AS first_date,
  CAST(MAX(shard_date) AS DATE) AS last_date,
  CAST(SUM(n_rows) AS BIGINT) >= {COMPACT_TARGET} AS full_bin
FROM planned
GROUP BY event_type, bin_id
"""


@register("compaction_bin_packing", oracle=COMPACTION_ORACLE)
def compaction_bin_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SMALL-FILE COMPACTION PLAN: treat each (event_type, day) group
    as one data file and assign files to compacted output bins of
    ~{COMPACT_TARGET} rows by RUNNING-SUM bucketing — bin_id =
    (prefix_rows_before_this_file) // target, the deterministic,
    fully-parallel alternative to greedy first-fit (same bins as a
    sequential packer that closes a bin once it reaches target; a bin
    can overflow by at most one file, flagged by ``full_bin``). The
    report per bin — file count, total rows, covered date range — IS
    the compaction job list a lakehouse maintenance pass (cf.
    io/maintenance.py's z-order rewrite) would execute; dates stay
    contiguous per bin because the prefix sum orders by shard_date, so
    compaction preserves time-range pruning.

    All-integer plan: counts, prefix sums, and the integer division
    are exact on both engines.

    Scale shape: the shard list is METADATA-sized (one row per file —
    millions of rows at worst, not billions), rolled up map-side from
    the raw scan; the prefix sum is one window over the tiny shard
    table partitioned by event_type; the bin rollup reuses the same
    partitioning. Nothing downstream of the first rollup touches raw
    rows, which is exactly why this plan survives a 100-TB table: the
    planner's cost is O(files), not O(rows).
    """
    ev = load_table(spark, sf_dir, "events")
    shards = ev.groupBy(
        "event_type", col("ts").cast("date").alias("shard_date")
    ).agg(F.count("*").cast("bigint").alias("n_rows"))
    from pyspark.sql import Window

    w = (
        Window.partitionBy("event_type")
        .orderBy("shard_date")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    planned = shards.select(
        "event_type",
        "shard_date",
        "n_rows",
        (F.sum("n_rows").over(w) - col("n_rows")).alias("offset_rows"),
    ).select(
        "event_type",
        "shard_date",
        "n_rows",
        # bigint `div`, not `/`: double division loses exactness past
        # 2^53 prefix rows; DuckDB's `//` on BIGINT is the same exact op
        F.expr(f"offset_rows div {COMPACT_TARGET}").alias("bin_id"),
    )
    return planned.groupBy("event_type", "bin_id").agg(
        F.count("*").cast("bigint").alias("n_shards"),
        F.sum("n_rows").cast("bigint").alias("bin_rows"),
        F.min("shard_date").alias("first_date"),
        F.max("shard_date").alias("last_date"),
        (F.sum("n_rows") >= COMPACT_TARGET).alias("full_bin"),
    )


compaction_bin_packing.__doc__ = compaction_bin_packing.__doc__.replace(
    "{COMPACT_TARGET}", str(COMPACT_TARGET)
)


# ---------------------------------------------------------------------------
# Record linkage: blocked Fellegi-Sunter match scoring
# ---------------------------------------------------------------------------

#: agreement/disagreement log-likelihood weights, pre-scaled to
#: integers (production systems EM-estimate m/u per field and take
#: round(10*log2(m/u)); fixed constants keep both engines exact).
FS_BAL_AGREE, FS_BAL_DISAGREE = 8, -3  # balance within $100
FS_CENTS_AGREE, FS_CENTS_DISAGREE = 5, -2  # identical cent fraction
FS_PARITY_AGREE, FS_PARITY_DISAGREE = 2, -1  # key last-digit parity
FS_MATCH_THRESHOLD = 10

FELLEGI_SUNTER_ORACLE = f"""
WITH c AS (
  SELECT c_custkey, c_nationkey,
    CAST(ROUND(c_acctbal * 100) AS BIGINT) AS c_cents,
    CAST(FLOOR(c_acctbal / 500.0) AS BIGINT) AS blk
  FROM customer
),
s AS (
  SELECT s_suppkey, s_nationkey,
    CAST(ROUND(s_acctbal * 100) AS BIGINT) AS s_cents,
    CAST(FLOOR(s_acctbal / 500.0) AS BIGINT) AS blk
  FROM supplier
),
pairs AS (
  SELECT c_custkey, s_suppkey,
    CASE WHEN ABS(c_cents - s_cents) <= 10000
         THEN {FS_BAL_AGREE} ELSE {FS_BAL_DISAGREE} END
    + CASE WHEN c_cents % 100 = s_cents % 100
           THEN {FS_CENTS_AGREE} ELSE {FS_CENTS_DISAGREE} END
    + CASE WHEN c_custkey % 10 = s_suppkey % 10
           THEN {FS_PARITY_AGREE} ELSE {FS_PARITY_DISAGREE} END AS score
  FROM c JOIN s ON c.c_nationkey = s.s_nationkey AND c.blk = s.blk
)
SELECT c_custkey, s_suppkey, CAST(score AS BIGINT) AS score,
  score >= {FS_MATCH_THRESHOLD} AS is_match
FROM pairs
"""


@register("er_fellegi_sunter", oracle=FELLEGI_SUNTER_ORACLE)
def er_fellegi_sunter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ENTITY-RESOLUTION match scoring in the Fellegi-Sunter model:
    candidate pairs come from BLOCKING (same nation + same $500
    balance band — never the full cross product), each compared
    field contributes a fixed integer agreement/disagreement weight
    (the log-likelihood-ratio weights of the FS model, pre-scaled to
    integers so both engines sum exactly), and a pair is declared a
    match when the summed score clears the threshold. This is the
    probabilistic record-linkage pattern (customer account vs
    supplier account here) that the dedup family's deterministic
    keys/sketches cannot express — graded evidence rather than
    equality. Balances compare in exact bigint cents (ROUND once at
    ingestion); a real deployment would EM-estimate the weights, a
    fixed public-constant set keeps the oracle bit-exact.

    Scale shape: the blocked equi-join shuffles each side once on
    (nation, band) and pair count is bounded by block sizes (two
    skew-bounded attributes), the textbook ER blocking contract;
    scoring is a narrow projection. Band-boundary misses are the
    standard blocking recall trade-off (a second pass with offset
    bands would close it) — noted, not hidden.
    """
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_nationkey",
        F.round(col("c_acctbal") * 100).cast("bigint").alias("c_cents"),
        F.floor(col("c_acctbal") / 500.0).cast("bigint").alias("blk"),
    )
    supp = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey",
        "s_nationkey",
        F.round(col("s_acctbal") * 100).cast("bigint").alias("s_cents"),
        F.floor(col("s_acctbal") / 500.0).cast("bigint").alias("sblk"),
    )
    pairs = cust.join(
        supp,
        (col("c_nationkey") == col("s_nationkey")) & (col("blk") == col("sblk")),
    )
    score = (
        F.when(
            F.abs(col("c_cents") - col("s_cents")) <= 10000, F.lit(FS_BAL_AGREE)
        ).otherwise(F.lit(FS_BAL_DISAGREE))
        + F.when(
            col("c_cents") % 100 == col("s_cents") % 100, F.lit(FS_CENTS_AGREE)
        ).otherwise(F.lit(FS_CENTS_DISAGREE))
        + F.when(
            col("c_custkey") % 10 == col("s_suppkey") % 10, F.lit(FS_PARITY_AGREE)
        ).otherwise(F.lit(FS_PARITY_DISAGREE))
    )
    return pairs.select(
        "c_custkey",
        "s_suppkey",
        score.cast("bigint").alias("score"),
        (score >= FS_MATCH_THRESHOLD).alias("is_match"),
    )


# ---------------------------------------------------------------------------
# Skew diagnosis: per-type hot-key report with recommended salt factor
# ---------------------------------------------------------------------------

#: reducer count the salt recommendation is sized against — matches
#: the spark.sql.shuffle.partitions the engine runs with.
SKEW_PARTITIONS = 32
SKEW_TOP_KEYS = 5

SKEW_DIAG_ORACLE = f"""
WITH per_key AS (
  SELECT event_type, user_id, COUNT(*) AS n
  FROM events GROUP BY event_type, user_id
), t AS (
  SELECT event_type, user_id, n,
    SUM(n) OVER (PARTITION BY event_type) AS tot,
    COUNT(*) OVER (PARTITION BY event_type) AS n_keys,
    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY n DESC, user_id)
      AS rk
  FROM per_key
)
SELECT event_type, user_id,
  CAST(n AS BIGINT) AS n_rows,
  CAST(tot AS BIGINT) AS type_total,
  CAST(n_keys AS BIGINT) AS n_keys,
  CAST((n * 1000000) // tot AS BIGINT) AS share_e6,
  CAST((n * n_keys * 10000) // tot AS BIGINT) AS skew_x_e4,
  CAST((n * {SKEW_PARTITIONS} + tot - 1) // tot AS BIGINT) AS salt_factor,
  n * {SKEW_PARTITIONS} > tot AS overflows_partition
FROM t WHERE rk <= {SKEW_TOP_KEYS}
"""


@register("skew_key_diagnosis", oracle=SKEW_DIAG_ORACLE)
def skew_key_diagnosis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SKEW DIAGNOSIS for join/agg planning: per event_type, the top
    {SKEW_TOP_KEYS} heaviest user_id keys with their share of the
    type's rows, the skew ratio versus the mean key (1e4-scaled), the
    recommended SALT FACTOR — ceil(share × {SKEW_PARTITIONS}
    reducers), computed exactly as (n·P + tot − 1) div tot — and the
    boolean that actually triggers mitigation: does this one key
    outweigh an average reducer's share. This is the measurement step
    the repo's mitigation operators assume has happened:
    `salted_skew_join_events` (operators/skew.py) needs n_salts, AQE
    skew-join handles hot PARTITIONS but not hot KEYS, and the choice
    between them starts from exactly this report.

    All-integer: shares, ratios, and the ceiling division are exact
    bigints on both engines (n·n_keys·1e4 inside int64 to ~3e9 rows
    per type at a 1e6-key catalog; the oracle rides int128).

    Scale shape: ONE map-side-combined hash agg to (type, key) rows,
    then windows partitioned by type on the KEY-sized table (never
    raw events), top-{SKEW_TOP_KEYS} cut by rank. At 100 TB this is
    the cheap always-on telemetry you run BEFORE committing a join
    strategy, and its own plan is skew-immune because the per-key agg
    is the thing that spreads hot keys across reducers' combiners.
    """
    ev = load_table(spark, sf_dir, "events").select("event_type", "user_id")
    per_key = ev.groupBy("event_type", "user_id").agg(F.count("*").alias("n"))
    from pyspark.sql import Window

    wt = Window.partitionBy("event_type")
    t = per_key.select(
        "event_type",
        "user_id",
        "n",
        F.sum("n").over(wt).alias("tot"),
        F.count("*").over(wt).alias("n_keys"),
        F.row_number()
        .over(wt.orderBy(col("n").desc(), "user_id"))
        .alias("rk"),
    )
    return t.filter(col("rk") <= SKEW_TOP_KEYS).select(
        "event_type",
        "user_id",
        col("n").cast("bigint").alias("n_rows"),
        col("tot").cast("bigint").alias("type_total"),
        col("n_keys").cast("bigint").alias("n_keys"),
        F.expr("CAST((n * 1000000) div tot AS BIGINT)").alias("share_e6"),
        F.expr("CAST((n * n_keys * 10000) div tot AS BIGINT)").alias("skew_x_e4"),
        F.expr(
            f"CAST((n * {SKEW_PARTITIONS} + tot - 1) div tot AS BIGINT)"
        ).alias("salt_factor"),
        F.expr(f"n * {SKEW_PARTITIONS} > tot").alias("overflows_partition"),
    )


skew_key_diagnosis.__doc__ = (
    skew_key_diagnosis.__doc__.replace("{SKEW_TOP_KEYS}", str(SKEW_TOP_KEYS))
    .replace("{SKEW_PARTITIONS}", str(SKEW_PARTITIONS))
)
