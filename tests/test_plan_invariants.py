"""Engine-wide physical-plan invariants, asserted over EVERY
registered query (plans only — nothing executes):

* no row-at-a-time Python (`BatchEvalPython`) anywhere — the hot path
  stays in whole-stage codegen;
* Arrow-batched Python only in the two operators that are allowed to
  cross the boundary (multimodal feature extraction, the Pandas UDAF);
* no unbroadcast CartesianProduct — the all-pairs verifiers must ride
  a broadcast nested-loop, never a full shuffle cartesian;
* predicate pushdown reaches the parquet scans of the selective
  TPC-H queries.
"""

from __future__ import annotations

import pytest

from iot_sparkstreaming_spark.io.bucketing import explain_str
from iot_sparkstreaming_spark.queries.registry import load_all

from tests.conftest import SF_DIR_ORACLE

REGISTRY = load_all()
ALL = sorted(REGISTRY)

#: operators sanctioned to cross into (Arrow-batched) Python
ARROW_ALLOWED = {
    "multimodal_features",
    "udaf_iqr_pandas",
    "audio_wav_features",
    "image_bmp_features",
    "image_bmp_thumbnail",
    "image_png_features",
    "image_gif_features",
    "video_y4m_frames",
    "tar_shard_roundtrip",
    "embedding_gram_matrix",
    # bounded per-group Python recursions: Holt's level/trend fold over a
    # ≤32-sample trailing window per user, and MMR's 16-candidate greedy —
    # mmr: applyInPandas over pre-aggregated, size-capped groups;
    # the holt pair: mapInPandas over per-user window arrays
    "holt_linear_forecast_user",
    "mmr_diversified_topk",
    "holt_winters_seasonal_user",
    # codec pair: mapInPandas pack/unpack over bounded shard groups
    "zip_shard_roundtrip",
}


@pytest.fixture(scope="module")
def plans(spark):
    return {n: explain_str(REGISTRY[n].spark(spark, SF_DIR_ORACLE)) for n in ALL}


def test_no_row_python_anywhere(plans):
    offenders = [n for n, p in plans.items() if "BatchEvalPython" in p]
    assert offenders == []


def test_arrow_python_only_where_sanctioned(plans):
    offenders = [
        n
        for n, p in plans.items()
        if ("ArrowEvalPython" in p or "MapInPandas" in p or "FlatMapGroupsInPandas" in p)
        and n not in ARROW_ALLOWED
    ]
    assert offenders == []


def test_no_unbroadcast_cartesian(plans):
    offenders = [n for n, p in plans.items() if "CartesianProduct" in p]
    assert offenders == []


@pytest.mark.parametrize("name,pushed", [
    ("q1_pricing_summary", "l_shipdate"),
    ("q6_forecast_revenue", "l_discount"),
    ("q3_shipping_priority", "c_mktsegment"),
    ("q19_discounted_revenue", "p_partkey"),
])
def test_pushdown_reaches_scan(plans, name, pushed):
    plan = plans[name]
    assert "PushedFilters" in plan
    pushed_sections = [
        seg.split("]")[0] for seg in plan.split("PushedFilters: [")[1:]
    ]
    assert any(pushed in seg for seg in pushed_sections), pushed_sections


@pytest.mark.parametrize("name,max_exchanges", [
    # gaps-and-islands SCD2: hash partitioning on user_id satisfies
    # every window AND the (user_id, run_id) collapse — ONE shuffle.
    ("scd2_user_dimension", 1),
    # two-level rollup: minute agg + hour re-agg, one exchange each
    ("rollup_minute_to_hour", 2),
])
def test_single_partitioning_reused(plans, name, max_exchanges):
    plan = plans[name]
    n = plan.count("Exchange hashpartitioning")
    assert n <= max_exchanges, f"{name}: {n} exchanges\n{plan}"


def test_ngram_topk_avoids_global_sort(plans):
    """Corpus top-k must be per-partition top-k merged on the driver
    (TakeOrderedAndProject), never a full sort of the frequency table."""
    assert "TakeOrderedAndProject" in plans["ngram_topk_corpus"]


def test_oov_vocab_is_broadcast(plans):
    """The constant-size vocabulary joins as a broadcast — the
    corpus-size exploded-token side must never shuffle for the join."""
    assert "BroadcastExchange" in plans["oov_rate_per_doc"]


def test_funnel_stage_filters_push_to_scan(plans):
    """Each funnel stage reads only its event_type slice: the filter
    must reach the parquet scan, not run post-scan over all events."""
    plan = plans["funnel_analysis"]
    pushed_sections = [
        seg.split("]")[0] for seg in plan.split("PushedFilters: [")[1:]
    ]
    assert any("event_type" in seg for seg in pushed_sections), pushed_sections


def test_runtime_bloom_filter_injects_on_selective_star_join(spark):
    """The session enables runtime bloom-filter join pruning (stock
    size thresholds keep it dormant at test SFs). With the
    application-side threshold lowered, a selective dim filter over a
    shuffle join must inject bloom_filter_agg on the dim keys into
    the fact side — the 100-TB star-join shape where non-joining fact
    rows die before the exchange."""
    from pyspark.sql import functions as F

    from tests.conftest import SF_DIR

    assert spark.conf.get("spark.sql.optimizer.runtime.bloomFilter.enabled") == "true"
    saved = {
        k: spark.conf.get(k)
        for k in (
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    try:
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "0",
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        orders = spark.read.parquet(f"{SF_DIR}/orders.parquet").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "bloom_filter_agg" in plan, plan[:2000]
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_lsh_scored_pairs_artifact_shared(plans):
    """Both scored-pair consumers must read the persisted
    lsh_scored_pairs artifact (or its in-session checkpoint) instead
    of re-deriving the band join + dot products: neither plan may
    scan the embeddings table or re-hash bands once the shared
    artifact exists.

    The disk tier is fail-open by contract (artifacts.py) — on a
    store that cannot accept writes the build degrades to the
    in-session fallback, which is a legitimate posture, not a plan
    regression; skip rather than pin a plan the contract doesn't
    promise there."""
    import os

    from iot_sparkstreaming_spark.artifacts import store_root

    probe = store_root()
    while probe and not os.path.isdir(probe):
        parent = os.path.dirname(probe)
        if parent == probe:
            break
        probe = parent
    if not (probe and os.path.isdir(probe) and os.access(probe, os.W_OK)):
        pytest.skip("artifact store unwritable — fail-open fallback active")
    for name in ("dedup_embedding_cosine", "mutual_nn_pairs"):
        plan = plans[name]
        assert "embeddings" not in plan, f"{name} re-derives from embeddings:\n{plan}"
        assert "xxhash64" not in plan, f"{name} re-hashes LSH bands:\n{plan}"


def test_shuffles_start_wide_and_aqe_coalesces(spark):
    """The session sets adaptive.coalescePartitions.initialPartitionNum
    to 8x the static shuffle-partition count: shuffles START wide and
    AQE coalesces them down by measured map-output size. Pinned because
    the 100x scale measurement (docs/SCALING.md) showed the static
    count alone going spill-bound on the wedge-join groupBy (~23M
    rows/partition, 18x/decade wall-clock) while the wide-initial
    posture restored linear scaling with the small-SF plans coalescing
    straight back down."""
    import os

    from iot_sparkstreaming_spark.session import DEFAULT_CPUS

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", DEFAULT_CPUS))
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    assert (
        spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled") == "true"
    )
    assert spark.conf.get(
        "spark.sql.adaptive.coalescePartitions.initialPartitionNum"
    ) == str(cpus * 8)
    assert spark.conf.get("spark.sql.shuffle.partitions") == str(cpus)
