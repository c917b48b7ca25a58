"""Registry pairing each Spark query with its DuckDB oracle SQL.

Contract (driver harness, __spark_entry__.py docstring):

* the Spark callable takes ``(spark, sf_dir)`` and returns a DataFrame;
* the oracle SQL runs on DuckDB views named after the parquet tables;
* column names must match exactly (the comparator sorts columns by
  name before hashing) — every computed column is aliased identically
  on both sides;
* numeric determinism: double sums are computed via exact decimal
  arithmetic then cast back to double, so the value is independent of
  aggregation order on both engines (a parallel double-sum is not).

Queries whose semantics are not ANSI-SQL-expressible register
``oracle=None`` and get the driver's weaker rows-only check.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, replace

from pyspark.sql import DataFrame, SparkSession

SparkQuery = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class Query:
    name: str
    spark: SparkQuery
    oracle: str | None
    doc: str


QUERIES: dict[str, Query] = {}


def register(name: str, oracle: str | None = None) -> Callable[[SparkQuery], SparkQuery]:
    """Decorator: register a Spark query (and optional oracle SQL)."""

    def deco(fn: SparkQuery) -> SparkQuery:
        if name in QUERIES:
            raise ValueError(f"duplicate query name: {name}")
        QUERIES[name] = Query(name=name, spark=fn, oracle=oracle, doc=fn.__doc__ or "")
        return fn

    return deco


# Deterministic enumeration order for the driver. Cross-module imports
# can scramble decorator-side registration order, so load_all re-orders
# explicitly. The driver's correctness check samples a 50-query prefix
# of this order, so the prefix is rotated per round to cycle every
# registered query through external verification (the round-by-round
# history is in git and the CORRECTNESS_r*.json files).
#
# STANDING ROTATION POLICY: each round's 50-slot window is (a) the 8
# reference pipeline queries, pinned; (b) every query whose CODE
# changed this round; (c) the remainder filled OLDEST EXTERNAL ROW
# FIRST, so after each round no query's latest external row is older
# than round N-5. Staleness is computed from
# CORRECTNESS_r01..r{N-1}.json (latest round each query appeared in,
# ties broken by landing order).
#
# Everything outside the prefix keeps local oracle coverage via
# tests/test_oracle_parity.py, which parametrizes the full registry.
_PRIORITY_PREFIX = [
    # ROUND 16 window: 8 reference pinned + the 7 query paths the
    # round-15 optimization session touched (r15 verdict task 1: their
    # oracle parity rested on builder-run checks; this window puts the
    # external oracle on them) + the round-16 code-changed queries +
    # the full 33-query round-10 cohort = 50 exactly.
    #
    # -- reference pipeline core (8, pinned every round)
    "warning_notification",
    "user_activity_category",
    "user_registration_latest",
    "latest_location",
    "sales_keyed_replace",
    "userhistory_pk_dedup",
    "history_by_user_join",
    "warning_streak_alerts",
    # -- code changed in round 15 (optimization round 1): the PCA
    #    power iteration's linear-plan rewrite, the four bounded_sort
    #    swaps, and the span-scrub/span-producer pair whose shared
    #    helper grew an `ordered` flag. All verified bitwise-unchanged
    #    by builder-run oracle checks in r15; these rows make that
    #    external.
    "embedding_pca_power",
    "value_histogram_events",
    "event_transition_matrix",
    "value_equidepth_bins_events",
    "vocab_coverage_curve",
    "dedup_span_scrub",
    "dup_token_spans",
    # -- code changed in round 16 (optimization round 2): the
    #    assortativity moment rewrite (edge list crosses the wire once)
    #    and the FK audit single-scan fold (per-key left join replaces
    #    the second child scan + anti join) — both bitwise-equal by
    #    exact-integer identities, A/B'd at the 10x fixture.
    "graph_assortativity_trade",
    "fk_integrity_audit",
    # -- oldest-first fill (33): the complete round-10 cohort — every
    #    query whose latest external row is r10, the oldest anywhere,
    #    in its original landing order
    "embedding_norm_stats",
    "feature_binning_histogram",
    "grouping_sets_revenue",
    "json_extract_events",
    "nation_census_outer",
    "percentile_event_values",
    "pivot_priority_by_status",
    "q2_min_cost_supplier",
    "q7_volume_shipping",
    "q8_market_share",
    "q9_product_profit",
    "q11_important_parts",
    "q13_customer_distribution",
    "q15_top_supplier",
    "q16_supplier_diversity",
    "q17_small_quantity",
    "q19_discounted_revenue",
    "q20_excess_suppliers",
    "q21_waiting_suppliers",
    "q22_idle_customers",
    "regex_part_taxonomy",
    "string_functions_customer",
    "udaf_iqr_pandas",
    "ann_incremental_assign",
    "cheapest_path_lead_time",
    "pagerank_trade_graph",
    "cms_heavy_hitters",
    "hll_union_region_suppliers",
    "funnel_analysis",
    "image_bmp_features",
    "image_bmp_thumbnail",
    "audio_wav_features",
    "winnowing_fingerprints",
]

_MODULE_ORDER = [
    "reference",
    "tpch",
    "functions",
    "analytics",
    "text",
    "similarity",
    "multimodal",
    "sql_surface",
    "pipeline",
    "dedup",
    "mining",
    "ops",
]


def load_all() -> dict[str, Query]:
    """Import every query module (side effect: registration) and return
    the full registry in deterministic priority order."""
    from iot_sparkstreaming_spark.queries import (  # noqa: F401
        analytics,
        dedup,
        functions,
        mining,
        multimodal,
        ops,
        pipeline,
        reference,
        similarity,
        sql_surface,
        text,
        tpch,
    )

    rank = {m: i for i, m in enumerate(_MODULE_ORDER)}
    prefix = {n: i for i, n in enumerate(_PRIORITY_PREFIX)}

    def key(item: tuple[str, Query]) -> tuple[int, int, int]:
        mod = item[1].spark.__module__.rsplit(".", 1)[-1]
        # prefix names first, then module priority; stable within a
        # module (registration order).
        return (
            prefix.get(item[0], len(prefix)),
            rank.get(mod, len(rank)),
            list(QUERIES).index(item[0]),
        )

    # Re-read each function's live __doc__: modules patch constants
    # into docstrings AFTER the decorator ran (the
    # ``fn.__doc__.replace("{K}", …)`` pattern), so the doc captured
    # at registration time can hold raw placeholders.
    return {
        n: replace(q, doc=q.spark.__doc__ or "")
        for n, q in sorted(QUERIES.items(), key=key)
    }
