"""Skew mitigation: salted aggregation, salted joins, salted ranking.

AQE's skew-join splitting (on in session.py) handles most skew at
runtime by splitting oversized partitions. Salting is the explicit
fallback for the cases AQE cannot fix:

* a single hot KEY in an aggregation (one reducer gets the world —
  splitting a partition doesn't help when one key IS the partition);
* skewed keys in a shuffle join where the other side is small enough
  to replicate per salt but too big to broadcast outright;
* a window function over a hot key — a window needs every row of the
  key in one task, so it cannot be split physically at all; for
  MERGEABLE window consumers (top-k) the fix is algebraic.

``salted_sum_count`` runs sum+count aggregation in two stages:
group by (key, salt) — spreading a hot key over ``n_salts`` reducers —
then re-aggregate by key. Correct for aggregations with a merge step.

``salted_join`` salts the skewed (big) side with a random-free
deterministic salt derived from a high-cardinality column, and
explodes the small side ``n_salts``-fold so every (key, salt) pair
still matches. Row multiplicity is preserved exactly.

``salted_topk`` cascades two ranking windows: rank within (key, salt)
shards keeping k per shard, then rank the ≤ k·n_salts survivors per
key — bitwise-identical to the single-window top-k (the global top-k
is contained in the union of per-shard top-ks).

``capped_bucket_self_join`` is the LSH-specific member: candidate
pairs from a band table with hot buckets sharded so per-bucket pair
mass is linear in occupancy instead of quadratic — exact (identical
pair set) whenever no bucket exceeds the cap, so it can be wired into
the band self-join at the measured skew threshold without moving any
fixture-scale hash (see the occupancy audit in docs/ARTIFACTS.md).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import col
from pyspark.sql.window import Window

#: measured skew factor (candidate mass vs the uniform-sign model's
#: own n²/2^(bits+1) per band) at which the bucket cap gets wired into
#: the LSH band self-join: the point where real skew doubles the join
#: work the banding geometry budgets for, i.e. one full uniform-model's
#: worth of surplus pairs. CANONICAL value — the production gate
#: (queries/dedup._band_candidate_pairs) compares against it, and the
#: recorded occupancy audit (docs/ARTIFACTS.md, "Sign-LSH bucket
#: occupancy") reported its skew factor against the same constant.
SKEW_WIRE_THRESHOLD = 2.0

#: cap multiplier the wiring starts from when the threshold is
#: crossed: shard any bucket above CAP_MULT x the uniform expectation
#: n/2^bits. 4x splits the p99+ tail while leaving the bulk of buckets
#: single-shard (measured at the 2 M-vector point: −9.9% candidate
#: mass, 47.0% at-risk survival — docs/ARTIFACTS.md).
CAP_MULT = 4


def _salt_col(det_col: Column, n_salts: int) -> Column:
    """Deterministic salt in [0, n_salts) — hash of a high-cardinality
    column, not rand(): reruns and retried tasks produce identical
    results (rand() in a shuffle input breaks exactly-once retries)."""
    return F.pmod(F.hash(det_col), F.lit(n_salts))


def salted_sum_count(
    df: DataFrame,
    key_cols: list[str],
    value_col: str,
    salt_from: str,
    n_salts: int = 16,
) -> DataFrame:
    """Two-stage sum+count of ``value_col`` per key, skew-spread over
    ``n_salts`` partial groups. Returns (key..., sum_value, n_rows).

    Stage 1 shuffles on (key, salt) — a hot key occupies n_salts
    reducers instead of one; stage 2's input is n_salts rows per key,
    so its shuffle is negligible."""
    partial = (
        df.withColumn("_salt", _salt_col(col(salt_from), n_salts))
        .groupBy(*key_cols, "_salt")
        .agg(
            F.sum(col(value_col).cast("decimal(38,4)")).alias("_psum"),
            F.count("*").alias("_pcnt"),
        )
    )
    return partial.groupBy(*key_cols).agg(
        F.sum("_psum").cast("double").alias("sum_value"),
        F.sum("_pcnt").alias("n_rows"),
    )


def salted_join(
    big: DataFrame,
    small: DataFrame,
    key: str,
    salt_from: str,
    n_salts: int = 16,
) -> DataFrame:
    """Inner equi-join where ``big`` has skewed keys: big side gets a
    deterministic salt, small side is exploded n_salts-fold, and the
    join key becomes (key, salt) — the hot key's rows spread across
    n_salts tasks. Use when the small side fits replicated-n_salts
    but not broadcast; otherwise prefer plain broadcast."""
    big_s = big.withColumn("_salt", _salt_col(col(salt_from), n_salts))
    small_s = small.withColumn(
        "_salt", F.explode(F.array(*[F.lit(i) for i in range(n_salts)]))
    )
    return big_s.join(small_s, [key, "_salt"]).drop("_salt")


def bucket_shard(
    id_col: Column,
    band_col: Column,
    occ_col: Column,
    cap: int,
    probe: Column | None = None,
) -> Column:
    """Deterministic shard id in [0, ceil(occ / cap)) for a row of an
    LSH band table — the single shard expression shared by
    :func:`capped_bucket_self_join` and the recorded occupancy audit
    (docs/ARTIFACTS.md), so the audit measured the production
    sharding by construction. Hashes
    (id, band) — not id alone — so shard draws are independent across
    bands (the OR-construction recovery property). ``probe`` (an int
    column holding a multi-probe replica index ≥ 1) folds into the
    hash so each extra probe gets an independent draw; ``None`` — the
    single-probe case AND every row's first probe — keeps the original
    (id, band) hash, so p-probe sharding strictly EXTENDS the p=1
    shard set (output monotone in p) and single-probe behavior is
    bitwise unchanged by the knob's existence."""
    if cap < 1:
        # cap <= 0 would make occ/cap NULL (non-ANSI division by
        # zero), greatest(1, NULL) = 1 shard, and the join would run
        # silently uncapped — fail loudly instead (ADVICE r13).
        raise ValueError(f"bucket_shard cap must be >= 1, got {cap}")
    n_shards = F.greatest(
        F.lit(1), F.ceil(occ_col / F.lit(cap)).cast("int")
    )
    h = (
        F.hash(id_col, band_col)
        if probe is None
        else F.hash(id_col, band_col, probe)
    )
    return F.pmod(h, n_shards)


def capped_bucket_self_join(
    bands: DataFrame,
    cap: int,
    id_col: str = "vec_id",
    band_col: str = "band",
    bucket_col: str = "bucket",
    n_probes: int = 1,
) -> DataFrame:
    """Candidate pairs ``(id1 < id2)`` from an LSH band table
    ``(id, band, bucket)`` with HOT BUCKETS capped: any (band, bucket)
    whose occupancy exceeds ``cap`` is split into ``ceil(occ / cap)``
    deterministic shards and pairs are generated WITHIN shards only.
    This is the cap the measured occupancy audit names as the wiring
    point (docs/ARTIFACTS.md: the skew factor compounds ~1.2x per
    corpus decade and crosses the 2x threshold at ~1e7 vectors, in its
    "Sign-LSH bucket occupancy" section).

    Three properties make it wireable without ceremony:

    * **Exact below the cap.** Buckets at or under ``cap`` get ONE
      shard, so when no bucket is hot the output is the IDENTICAL
      pair set (and identical plan shape modulo one count join) as
      the naive ``bands ⋈ bands`` on (band, bucket) — fixture-scale
      hashes cannot move.
    * **Bounded work.** A shard holds ≤ ~cap rows, so per-bucket pair
      mass drops from C(occ, 2) to ~occ/cap · C(cap, 2) ≈ occ·cap/2 —
      linear in occupancy instead of quadratic, and no single task
      ever materializes a hot bucket's full pair block.
    * **Band-decorrelated recall loss.** The shard salt hashes
      (id, band) — NOT id alone — so a true pair split into different
      shards of one band's hot bucket gets an independent draw in
      every other band it co-occurs in. Under the standard
      OR-construction (candidate if ANY band matches), a pair sharing
      b hot buckets survives with p = 1 − (1 − 1/k)^b for shard count
      k, instead of being lost everywhere at once — the same
      independence argument the banding itself rests on. MEASURED on
      real bucket geometry (the 2 M-vector occupancy audit,
      docs/ARTIFACTS.md): at-risk survival 47.0% vs 46.9% predicted —
      the model holds to 0.1pp. The recall knob is ``n_probes``:
      each id occupies p shards per hot bucket (probe 0 = the base
      (id, band) draw, probes ≥ 1 fold the probe index into the
      hash), so a pair collides when the two p-sets intersect —
      survival and capped pair mass both scale ~p², the straight
      work-for-recall trade the recall budget picks. Measured at the
      same 2 M-vector point (docs/ARTIFACTS.md): p=2 lifts at-risk
      survival 47.0% → 85.4%, vs 85.5% predicted by the
      conditional-independence model — validated to 0.1pp, same as
      the p=1 row. Output is MONOTONE in p (probe 0 reproduces the
      p=1 shard exactly), and cold buckets skip the replication
      entirely (their single shard makes every probe land
      identically).

    Occupancy counts DISTINCT ids per (band, bucket) — duplicate
    (id, band, bucket) rows in a non-deduplicated band table must not
    inflate occupancy past the cap and shard a bucket whose true
    occupancy is at or under it (the 'exact below the cap' guarantee
    is stated over distinct ids).

    Pairs are deduped across bands (min over the contributing bands'
    keys is irrelevant — a plain ``distinct`` on (id1, id2)), matching
    the naive join's candidate-set semantics."""
    if cap < 1:
        raise ValueError(f"capped_bucket_self_join cap must be >= 1, got {cap}")
    if n_probes < 1:
        raise ValueError(f"n_probes must be >= 1, got {n_probes}")
    # Duplicate (id, band, bucket) rows would each survive the occ
    # join and explode per-probe, multiplying join input d^2-fold for
    # duplication factor d — the final pair-distinct hides that, but
    # at the extra shuffle volume (the same rationale array_distinct
    # states for coinciding probe shards below). Occupancy already
    # counts DISTINCT ids, so dropping duplicates here changes no
    # output, only the join input mass (ADVICE r14).
    bands = bands.dropDuplicates([id_col, band_col, bucket_col])
    occ = bands.groupBy(band_col, bucket_col).agg(
        F.countDistinct(col(id_col)).alias("_occ")
    )
    with_occ = bands.join(occ, [band_col, bucket_col])
    shard_cols = [
        bucket_shard(
            col(id_col),
            col(band_col),
            col("_occ"),
            cap,
            probe=None if i == 0 else F.lit(i),
        )
        for i in range(n_probes)
    ]
    sharded = with_occ.select(
        col(id_col),
        col(band_col),
        col(bucket_col),
        # distinct probe shards only: cold buckets (1 shard) collapse
        # to a single row, and coinciding probe draws don't duplicate
        # join input (the final pair-distinct would hide them, but at
        # p× the shuffle volume)
        F.explode(F.array_distinct(F.array(*shard_cols))).alias("_sh"),
    )
    left = sharded.select(
        col(id_col).alias("_id1"), band_col, bucket_col, "_sh"
    )
    right = sharded.select(
        col(id_col).alias("_id2"), band_col, bucket_col, "_sh"
    )
    return (
        left.join(right, [band_col, bucket_col, "_sh"])
        .filter(col("_id1") < col("_id2"))
        .select(col("_id1").alias("id1"), col("_id2").alias("id2"))
        .distinct()
    )


def salted_topk(
    df: DataFrame,
    part_keys: Sequence[str],
    order_by: Sequence[Column],
    k: int,
    salt_from: Column,
    n_salts: int = 16,
    rank_col: str = "rk",
) -> DataFrame:
    """Top-k rows per ``part_keys`` group under ``order_by``, computed
    as two cascaded windows so no single task ever holds a whole hot
    key. ``salt_from`` must be a deterministic column expression
    (e.g. a unique id) — NOT rand(), which would break replay/retry
    determinism.

    Exactness: for any k and any shard split, the k smallest elements
    of a multiset union are contained in the union of each shard's k
    smallest — so phase 2 sees every global top-k candidate. The
    per-shard rank is discarded; the emitted ``rank_col`` comes from
    the phase-2 window over survivors only.
    """
    salt = _salt_col(salt_from, n_salts).alias("__salt")
    w1 = Window.partitionBy(*part_keys, "__salt").orderBy(*order_by)
    survivors = (
        df.withColumn("__salt", salt)
        .withColumn("__shard_rk", F.row_number().over(w1))
        .filter(F.col("__shard_rk") <= k)
        .drop("__salt", "__shard_rk")
    )
    w2 = Window.partitionBy(*part_keys).orderBy(*order_by)
    return (
        survivors.withColumn(rank_col, F.row_number().over(w2))
        .filter(F.col(rank_col) <= k)
    )
