"""Semantic invariants for the ops module (CDC snapshot diff and
FK-integrity audit) — brute-force recomputation of the expected change
sets from the modular membership rules, beyond the value-exact oracle
parity covered by test_oracle_parity."""

from __future__ import annotations

from tests.conftest import SF_DIR

from iot_sparkstreaming_spark.queries.ops import (
    DEL_MOD,
    FK_EDGES,
    INS_MOD,
    UPD_MOD,
    fk_integrity_audit,
    snapshot_diff_orders,
)
from iot_sparkstreaming_spark.tables import load_table


def test_snapshot_diff_change_sets(spark):
    keys = [
        r.o_orderkey
        for r in load_table(spark, SF_DIR, "orders").select("o_orderkey").collect()
    ]
    want_ins = {k for k in keys if k % INS_MOD == 0}
    want_del = {k for k in keys if k % DEL_MOD == 0 and k % INS_MOD != 0}
    want_upd = {
        k
        for k in keys
        if k % UPD_MOD == 0 and k % INS_MOD != 0 and k % DEL_MOD != 0
    }
    rows = snapshot_diff_orders(spark, SF_DIR).collect()
    got = {"insert": set(), "delete": set(), "update": set()}
    for r in rows:
        got[r.change_type].add(r.o_orderkey)
        if r.change_type == "insert":
            assert r.old_price_cents is None and r.new_price_cents is not None
        elif r.change_type == "delete":
            assert r.new_price_cents is None and r.old_price_cents is not None
        else:
            assert r.new_price_cents == r.old_price_cents + 1000
    assert got["insert"] == want_ins
    assert got["delete"] == want_del
    assert got["update"] == want_upd


def test_fk_audit_integral_fixture(spark):
    rows = {r.relationship: r for r in fk_integrity_audit(spark, SF_DIR).collect()}
    assert set(rows) == {name for name, *_ in FK_EDGES}
    for name, child_t, *_ in FK_EDGES:
        r = rows[name]
        assert r.orphan_rows == 0 and r.orphan_keys == 0 and r.null_fk_rows == 0
        assert r.child_rows == load_table(spark, SF_DIR, child_t).count()


def test_fk_audit_detects_planted_orphans(spark, tmp_path):
    """The audit must actually CATCH breakage: corrupt a copy of
    nation by dropping a referenced region and re-point the audit at
    the corrupted directory."""
    import shutil

    src = SF_DIR
    dst = tmp_path / "corrupt"
    dst.mkdir()
    for t in ["nation", "customer", "supplier", "part", "orders", "lineitem"]:
        shutil.copy(f"{src}/{t}.parquet", dst / f"{t}.parquet")
    # drop region 0 → every nation with n_regionkey = 0 becomes an orphan
    load_table(spark, src, "region").filter("r_regionkey <> 0").write.parquet(
        str(dst / "region.parquet")
    )
    n_orphans = (
        load_table(spark, str(dst), "nation").filter("n_regionkey = 0").count()
    )
    assert n_orphans > 0
    rows = {
        r.relationship: r for r in fk_integrity_audit(spark, str(dst)).collect()
    }
    r = rows["nation.n_regionkey->region"]
    assert r.orphan_rows == n_orphans
    assert r.orphan_keys == 1


def test_fk_audit_counts_null_fks_and_orphan_rows(spark, tmp_path):
    """Round-16 internals change: the audit's four stats now all fold
    out of ONE per-key aggregate left-joined to the parent (the child
    is scanned once, not twice). Pin the null-FK group's accounting —
    null FKs must count into child_rows and null_fk_rows but NEVER
    into orphan_rows/orphan_keys (a null key has no parent match, so
    a naive no-match test would miscount it as an orphan)."""
    import shutil

    import pyspark.sql.functions as F

    src = SF_DIR
    dst = tmp_path / "nullfk"
    dst.mkdir()
    for t in ["customer", "supplier", "part", "orders", "lineitem"]:
        shutil.copy(f"{src}/{t}.parquet", dst / f"{t}.parquet")
    nat = load_table(spark, src, "nation")
    # null out region FK for regions >= 3 AND drop region 2 from the
    # parent so the same corrupted table carries nulls and orphans
    nat.withColumn(
        "n_regionkey",
        F.when(F.col("n_regionkey") >= 3, F.lit(None)).otherwise(
            F.col("n_regionkey")
        ),
    ).write.mode("overwrite").parquet(str(dst / "nation.parquet"))
    load_table(spark, src, "region").filter("r_regionkey <> 2").write.parquet(
        str(dst / "region.parquet")
    )
    corrupted = load_table(spark, str(dst), "nation").collect()
    n_null = sum(1 for r in corrupted if r.n_regionkey is None)
    n_orphan = sum(1 for r in corrupted if r.n_regionkey == 2)
    assert n_null > 0 and n_orphan > 0
    rows = {
        r.relationship: r for r in fk_integrity_audit(spark, str(dst)).collect()
    }
    r = rows["nation.n_regionkey->region"]
    assert r.child_rows == len(corrupted)
    assert r.null_fk_rows == n_null
    assert r.orphan_rows == n_orphan
    assert r.orphan_keys == 1


def test_fk_audit_duplicate_parent_pk_matches_oracle(spark, duck, tmp_path):
    """A duplicated parent PK is the corrupted data the audit exists
    for: it must not multiply child rows through the per-key join.
    Plant duplicates in a broadcast parent (region) and in the
    shuffled one (orders); every count must equal the oracle's, which
    is immune to duplicates by construction (COUNT over the child,
    NOT IN over the parent)."""
    import shutil

    import duckdb

    from iot_sparkstreaming_spark.queries.ops import FK_AUDIT_ORACLE
    from tests.conftest import TABLES, assert_matches_oracle_exact

    dst = tmp_path / "dup_pk"
    dst.mkdir()
    for t in TABLES:
        if t not in ("region", "orders"):
            shutil.copy(f"{SF_DIR}/{t}.parquet", dst / f"{t}.parquet")
    con = duckdb.connect()
    con.execute(
        f"""COPY (SELECT * FROM '{SF_DIR}/region.parquet' UNION ALL
                  SELECT * FROM '{SF_DIR}/region.parquet' WHERE r_regionkey = 0)
            TO '{dst}/region.parquet' (FORMAT PARQUET)"""
    )
    con.execute(
        f"""COPY (SELECT * FROM '{SF_DIR}/orders.parquet' UNION ALL
                  SELECT * FROM '{SF_DIR}/orders.parquet' WHERE o_orderkey % 7 = 0)
            TO '{dst}/orders.parquet' (FORMAT PARQUET)"""
    )
    con.close()

    audit = fk_integrity_audit(spark, str(dst))
    rows = {r.relationship: r for r in audit.collect()}
    for name in ("nation.n_regionkey->region", "lineitem.l_orderkey->orders"):
        child_t = name.split(".")[0]
        assert rows[name].child_rows == load_table(spark, SF_DIR, child_t).count()
    assert_matches_oracle_exact(audit, duck(str(dst)), FK_AUDIT_ORACLE)


def test_pit_join_version_containment(spark):
    """Every purchase maps to exactly one dimension version whose
    interval contains it, the active state is never 'purchase', and
    purchases before the user's first non-purchase event are absent."""
    from collections import Counter

    from iot_sparkstreaming_spark.queries.analytics import scd2_point_in_time_join

    ev = load_table(spark, SF_DIR, "events").select(
        "user_id", "event_id", "ts", "event_type"
    ).collect()
    first_dim_ts = {}
    for r in ev:
        if r.event_type != "purchase":
            if r.user_id not in first_dim_ts or r.ts < first_dim_ts[r.user_id]:
                first_dim_ts[r.user_id] = r.ts
    eligible = {
        r.event_id
        for r in ev
        if r.event_type == "purchase"
        and r.user_id in first_dim_ts
        and r.ts >= first_dim_ts[r.user_id]
    }
    rows = scd2_point_in_time_join(spark, SF_DIR).collect()
    per_fact = Counter(r.event_id for r in rows)
    assert set(per_fact) == eligible
    assert all(n == 1 for n in per_fact.values())
    for r in rows:
        assert r.active_state != "purchase"
        assert r.version_age_ms >= 0


def test_weighted_sample_matches_bruteforce(spark):
    import hashlib

    from iot_sparkstreaming_spark.queries.mining import (
        WEIGHTED_SAMPLE_K,
        weighted_sample_per_source,
    )

    docs = load_table(spark, SF_DIR, "documents").select(
        "doc_id", "source", "n_chars"
    ).collect()
    by_source: dict[str, list] = {}
    for r in docs:
        u = int(hashlib.md5(str(r.doc_id).encode()).hexdigest()[:8], 16)
        by_source.setdefault(r.source, []).append(
            (u / (r.n_chars + 1), r.doc_id)
        )
    want = {
        (doc_id, src)
        for src, lst in by_source.items()
        for _, doc_id in sorted(lst)[:WEIGHTED_SAMPLE_K]
    }
    got = {
        (r.doc_id, r.source)
        for r in weighted_sample_per_source(spark, SF_DIR).collect()
    }
    assert got == want


def test_survival_table_consistent(spark):
    """Hazard-table accounting identities on real data, recomputed
    from raw events: the first bucket's at-risk count equals the
    signup-anchored subject population, every subject exits in
    exactly one bucket (events + censorings sum to subjects), the
    at-risk column telescopes by per-bucket exits down to zero, and
    each hazard equals its d/n."""
    from iot_sparkstreaming_spark.queries.analytics import (
        survival_signup_to_purchase,
    )

    rows = sorted(
        survival_signup_to_purchase(spark, SF_DIR).collect(),
        key=lambda r: r.day_bucket,
    )
    assert rows
    ev = load_table(spark, SF_DIR, "events").select(
        "user_id", "ts", "event_type"
    ).collect()
    per_user: dict[int, list] = {}
    for r in ev:
        per_user.setdefault(r.user_id, []).append((r.ts, r.event_type))
    n_signup = n_conv = 0
    for rows_u in per_user.values():
        t0 = min((t for t, et in rows_u if et == "signup"), default=None)
        if t0 is None:
            continue
        n_signup += 1
        if any(et == "purchase" and t > t0 for t, et in rows_u):
            n_conv += 1
    assert rows[0].n_at_risk == n_signup
    assert sum(r.n_events for r in rows) == n_conv
    assert sum(r.n_events + r.n_censored for r in rows) == n_signup
    at_risk = n_signup
    for r in rows:
        assert r.n_at_risk == at_risk
        assert abs(r.hazard - r.n_events / r.n_at_risk) < 1e-12
        at_risk -= r.n_events + r.n_censored
    assert at_risk == 0


def test_profile_matches_bruteforce(spark):
    import math

    from iot_sparkstreaming_spark.queries.ops import (
        PROFILE_COLUMNS,
        profile_orders_columns,
    )

    rows = {r.column_name: r for r in profile_orders_columns(spark, SF_DIR).collect()}
    orders = load_table(spark, SF_DIR, "orders").collect()
    assert set(rows) == {c for c, _ in PROFILE_COLUMNS}
    for c, kind in PROFILE_COLUMNS:
        vals = [getattr(r, c) for r in orders]
        nn = [v for v in vals if v is not None]
        r = rows[c]
        assert r.n_rows == len(vals)
        assert r.n_nulls == len(vals) - len(nn)
        assert r.n_distinct == len(set(nn))
        if kind == "num":
            assert math.isclose(r.min_num, min(nn)) and math.isclose(r.max_num, max(nn))
            assert r.min_str is None
        elif kind == "str":
            assert r.min_str == min(nn) and r.max_str == max(nn)
            assert r.min_num is None
        else:
            assert r.min_num == min(nn).timestamp() * 1000
            assert r.max_num == max(nn).timestamp() * 1000


def test_assortativity_matches_numpy(spark):
    import numpy as np

    from iot_sparkstreaming_spark.queries.analytics import graph_assortativity_trade

    orders = load_table(spark, SF_DIR, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, SF_DIR, "lineitem").select("l_orderkey", "l_suppkey")
    pairs = {
        (r.o_custkey * 2, r.l_suppkey * 2 + 1)
        for r in orders.join(li, orders.o_orderkey == li.l_orderkey).collect()
    }
    edges = list(pairs) + [(b, a) for a, b in pairs]
    deg: dict[int, int] = {}
    for a, _ in edges:
        deg[a] = deg.get(a, 0) + 1
    x = np.array([deg[a] for a, b in edges], dtype=float)
    y = np.array([deg[b] for a, b in edges], dtype=float)
    want = np.corrcoef(x, y)[0, 1]
    r = graph_assortativity_trade(spark, SF_DIR).collect()[0]
    assert r.n_directed_edges == len(edges)
    assert abs(r.mean_src_degree - x.mean()) < 1e-9
    assert abs(r.assortativity - want) < 1e-9
