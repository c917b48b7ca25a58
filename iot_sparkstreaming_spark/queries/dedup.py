"""Deduplication operator family over ``documents`` / ``embeddings``:
exact, n-gram Jaccard, MinHash+LSH, SimHash, embedding-cosine.

North-star training-data-pipeline operators. Each query's Spark
implementation uses the SCALABLE plan shape (per-row signatures in
codegen, banding to avoid all-pairs, inverted-index joins); oracles
verify the *semantics* with whatever brute-force SQL is clearest —
both sides must produce identical rows, which also proves the banded
plan loses no recall versus brute force at the chosen thresholds.

Data note: the harness plants 25 near-dup document pairs (3-gram
Jaccard ≥ 0.8; the next-highest pair is < 0.15) — thresholds sit in
that gap so results are stable and non-degenerate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import col

from iot_sparkstreaming_spark.functions.text import (
    minhash_from_hashes,
    shingle_hashes,
    simhash32_from_hashes,
    token_hashes,
    tokens,
    word_shingles,
)
from iot_sparkstreaming_spark.queries.registry import register
from iot_sparkstreaming_spark.tables import load_table

#: distinct 3-gram word shingles per doc (docs with <3 tokens excluded)
SHINGLES_CTE = """
WITH sh AS (
  SELECT doc_id,
    list_distinct(list_transform(generate_series(1, len(tk)-2),
                                 i -> array_to_string(tk[i:i+2], ' '))) AS sh
  FROM (SELECT doc_id, regexp_extract_all(text, '[a-z0-9]+') AS tk FROM documents)
  WHERE len(tk) >= 3
)
"""


def _shingled(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tk = tokens(col("text"))
    return (
        docs.select("doc_id", tk.alias("tk"))
        .filter(F.size("tk") >= 3)
        .select("doc_id", F.array_distinct(word_shingles(col("tk"), 3)).alias("sh"))
    )


# ---------------------------------------------------------------------------
# Exact dedup (hash-groupBy)
# ---------------------------------------------------------------------------

EXACT_ORACLE = """
SELECT md5(text) AS text_hash,
       MIN(doc_id) AS keep_doc_id,
       COUNT(*) AS n_copies
FROM documents
GROUP BY md5(text)
"""


@register("dedup_exact", oracle=EXACT_ORACLE)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: group by content hash, keep min doc_id. At 100 TB
    the groupBy shuffles 16-byte hashes + ids, never the text — the
    canonical first dedup pass of any training-data pipeline."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy(F.md5(col("text")).alias("text_hash"))
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count("*").alias("n_copies"),
        )
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard near-dup (inverted-index join)
# ---------------------------------------------------------------------------

JACCARD_THRESHOLD = 0.5

#: stop-shingle cutoff: shingles appearing in more documents than this
#: carry no near-dup signal (boilerplate/common phrases) and create the
#: hot posting lists that sink an inverted-index join at scale. The
#: fixture's max document frequency is 7 (sf0.01) / 25 (sf0.1), so the
#: cutoff drops nothing at test scale — results equal the unfiltered
#: semantics — while the PLAN is bounded on hot keys at any scale.
STOP_SHINGLE_MAX_DF = 50

def pre_cutoff_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct ``(doc_id, s_h)`` posting rows for EVERY shingle —
    the inverted index BEFORE the stop-shingle cutoff, as the
    :func:`_posting_list` builder uses it. The document-frequency audit
    recorded in docs/SCALING.md ("dedup_ngram_jaccard: posting-list
    sizes under the DF cutoff") measured these exact expressions. See
    :func:`_posting_list` for the full construction rationale."""
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    tk = docs.select(
        "doc_id", F.posexplode(tokens(col("text"))).alias("pos", "tok")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    tri = tk.select(
        "doc_id",
        F.concat_ws(
            " ", col("tok"), F.lead("tok", 1).over(w), F.lead("tok", 2).over(w)
        ).alias("s"),
        F.lead("tok", 2).over(w).isNotNull().alias("full_width"),
    )
    return (
        tri.filter(col("full_width"))
        .select(
            "doc_id",
            F.conv(F.substring(F.md5(col("s")), 1, 15), 16, 10)
            .cast("bigint")
            .alias("s_h"),
        )
        .distinct()
    )


def _posting_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stop-shingle-filtered inverted-index posting list
    ``(doc_id, s_h, n_sh)`` — the shared substrate of
    :func:`dedup_ngram_jaccard` and :func:`dedup_containment`.

    EXPLODE-FIRST construction: tokenize once inside the Generate,
    then build 3-gram shingles from the token stream with ``lead()``
    windows. The per-row array formulation (``_shingled``, kept for
    MinHash whose signature math wants the array) gets its tokenize
    expression re-inlined by optimizer rules across the
    filter/size/explode branches — 16 copies of ``regexp_extract_all``
    in the final plan, ~6x slower measured. Here the regex runs
    exactly once per document; the doc_id window shuffle it costs is
    one the posting join needs anyway.

    ``s_h`` is the shingle HASHED to a 60-bit bigint (md5-prefix, the
    engine-shared hash family): the posting table and every downstream
    self-join then shuffle 8-byte keys instead of ~25-byte shingle
    strings — the same shuffle-bytes discipline as dedup_exact. The
    oracles replay the identical hash, so the (astronomically rare at
    ~2⁻⁶⁰·n² odds) collision would merge the same postings on both
    engines — results stay bitwise comparable by construction.

    distinct comes AFTER hashing (mirroring the oracle) so a
    within-doc collision can't double-post; docs with <3 tokens yield
    no full-width shingles (the ``len(tk)>=3`` guard). The DF window
    shares the join's partitioning key (s_h); ``n_sh`` counts
    SURVIVING shingles, so it comes after the cutoff. Materialized +
    session-memoized: the production shape is a posting-list table
    written ONCE, then self-joined by every consumer."""
    from pyspark.sql.window import Window

    from iot_sparkstreaming_spark.artifacts import artifact_memo

    def build() -> DataFrame:
        return (
            pre_cutoff_postings(spark, sf_dir)
            .withColumn("__df", F.count("*").over(Window.partitionBy("s_h")))
            .filter(col("__df") <= STOP_SHINGLE_MAX_DF)
            .drop("__df")
            .withColumn("n_sh", F.count("*").over(Window.partitionBy("doc_id")))
        )

    return artifact_memo(spark, ("shingle_postings", sf_dir), build)


#: the posting/kept derivation in DuckDB — IDENTICAL md5-prefix hash,
#: distinct after hashing, DF cutoff on the hashed key. Appended to
#: SHINGLES_CTE by the three oracles that replay the inverted index.
_KEPT_SQL = f"""
, posts AS (
  SELECT DISTINCT doc_id, ('0x' || substr(md5(s), 1, 15))::BIGINT AS s_h
  FROM (SELECT doc_id, unnest(sh) AS s FROM sh)
),
kept AS (
  SELECT doc_id, s_h FROM posts
  WHERE s_h IN (SELECT s_h FROM posts GROUP BY s_h
                HAVING COUNT(*) <= {STOP_SHINGLE_MAX_DF})
)"""


JACCARD_ORACLE = (
    SHINGLES_CTE
    + _KEPT_SQL
    + f"""
, sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM kept GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
  FROM kept a JOIN kept b ON a.s_h = b.s_h AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a, doc_b,
  CAST(n_common AS BIGINT) AS n_common,
  CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) >= {JACCARD_THRESHOLD}
"""
)


@register("dedup_ngram_jaccard", oracle=JACCARD_ORACLE)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by exact 3-gram-shingle Jaccard ≥ 0.5 over
    non-stop shingles (document frequency ≤ ``STOP_SHINGLE_MAX_DF``).

    Spark plan is the inverted-index join — explode shingles, drop
    stop-shingles, self-join on shingle, count co-occurrences — NOT
    all-pairs list_intersect: all-pairs is O(n²) and dead at scale,
    while the inverted index shuffles |doc|·|shingles| rows on the
    shingle key, and the DF cutoff bounds the hottest posting list at
    ``STOP_SHINGLE_MAX_DF²`` pair-rows per shingle. The oracle mirrors
    the cutoff; at fixture DF levels it drops nothing, so both sides
    also equal the unfiltered semantics."""
    posts = _posting_list(spark, sf_dir)
    a = posts.select(col("doc_id").alias("doc_a"), col("n_sh").alias("na"), "s_h")
    b = posts.select(col("doc_id").alias("doc_b"), col("n_sh").alias("nb"), "s_h")
    inter = (
        a.join(b, ["s_h"])
        .filter(col("doc_a") < col("doc_b"))
        .groupBy("doc_a", "doc_b", "na", "nb")
        .agg(F.count("*").alias("n_common"))
    )
    jac = col("n_common").cast("double") / (col("na") + col("nb") - col("n_common"))
    return inter.select(
        "doc_a",
        "doc_b",
        col("n_common").cast("bigint").alias("n_common"),
        jac.alias("jaccard"),
    ).filter(col("jaccard") >= JACCARD_THRESHOLD)


# ---------------------------------------------------------------------------
# MinHash + LSH (banded signatures)
# ---------------------------------------------------------------------------

MINHASH_K = 16
LSH_BANDS = 4
BAND_WIDTH = MINHASH_K // LSH_BANDS
EST_THRESHOLD = 0.5

#: one md5 per shingle, then 16 affine permutations (a*h+b) mod P —
#: identical constants to functions/text.py MINHASH_A/B.
_SIG_SQL = (
    "list_transform(generate_series(1, 16), i -> "
    "list_min(list_transform(hs, h -> "
    f"(h * ([95900256, 113555501, 490375228, 201677602, 337243379, 164995416, 95165896, 75395702, 219579532, 238587558, 249111059, 222920699, 357621430, 393847725, 170597786, 67601518])[i] + ([3984196601, 2028436687, 1672353898, 1859329920, 1956206434, 2089531152, 2923946632, 91947036, 1561014585, 475176358, 860609337, 2182530232, 3122862482, 3553197308, 2425279228, 431940825])[i]) % 4294967311)))"
)

MINHASH_ORACLE = (
    SHINGLES_CTE
    + f"""
, hashed AS (
  SELECT doc_id,
         list_transform(sh, s -> ('0x' || substr(md5(s), 1, 8))::BIGINT) AS hs
  FROM sh),
sigs AS (SELECT doc_id, {_SIG_SQL} AS sig FROM hashed),
bands AS (
  SELECT doc_id, sig, b.band_id,
         array_to_string(sig[b.band_id*{BAND_WIDTH}+1 : b.band_id*{BAND_WIDTH}+{BAND_WIDTH}], ',') AS band_key
  FROM sigs, (SELECT UNNEST(generate_series(0, {LSH_BANDS - 1})) AS band_id) b
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band_id = b.band_id AND a.band_key = b.band_key AND a.doc_id < b.doc_id
)
SELECT c.doc_a, c.doc_b,
  CAST(list_sum(list_transform(generate_series(1, {MINHASH_K}),
       i -> CASE WHEN sa.sig[i] = sb.sig[i] THEN 1 ELSE 0 END)) AS BIGINT) AS n_matching,
  CAST(list_sum(list_transform(generate_series(1, {MINHASH_K}),
       i -> CASE WHEN sa.sig[i] = sb.sig[i] THEN 1 ELSE 0 END)) AS DOUBLE) / {MINHASH_K} AS est_jaccard
FROM cand c
JOIN sigs sa ON c.doc_a = sa.doc_id
JOIN sigs sb ON c.doc_b = sb.doc_id
WHERE CAST(list_sum(list_transform(generate_series(1, {MINHASH_K}),
       i -> CASE WHEN sa.sig[i] = sb.sig[i] THEN 1 ELSE 0 END)) AS DOUBLE) / {MINHASH_K}
      >= {EST_THRESHOLD}
"""
)


def _minhash_sigs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoized MinHash signature table ``(doc_id, sig[16])`` — the
    signatures TABLE of a production MinHash pipeline, built once and
    SHARED by every consumer (`dedup_minhash_lsh`,
    `dedup_incremental_minhash`, `minhash_error_report`): one builder
    function means one artifact fingerprint, so the store holds one
    signature table instead of per-consumer near-identical twins
    evicting each other.

    Two selects on purpose: the md5 base-hash pass must not be
    inlined k-fold into the signature (see shingle_hashes
    docstring).

    Inputs derive INSIDE the builder (fingerprint discipline, round
    12): the store hashes builder code, and a closure-captured
    DataFrame is invisible to it — deriving sh here recurses the
    token through _shingled, so a shingling change can never be
    answered by stale signatures."""
    from iot_sparkstreaming_spark.artifacts import artifact_memo

    def build_sigs() -> DataFrame:
        sh = _shingled(spark, sf_dir)
        hashed = sh.select("doc_id", shingle_hashes(col("sh")).alias("hs"))
        return hashed.select(
            "doc_id", minhash_from_hashes(col("hs"), MINHASH_K).alias("sig")
        )

    return artifact_memo(spark, ("minhash_sigs", sf_dir), build_sigs)


@register("dedup_minhash_lsh", oracle=MINHASH_ORACLE)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(k=16) + LSH(4 bands × 4): the sub-quadratic near-dup
    path. Signatures are per-row array math inside codegen (NO explode
    of shingles, no shuffle); only 4 tiny (band_id, band_key) rows per
    doc shuffle for the bucket join; candidate pairs then filter on
    signature agreement ≥ 0.5 (est. Jaccard, Broder '97).

    The oracle runs the *identical* LSH construction in DuckDB, so
    this checks signature math, banding, and the estimate bit-for-bit."""
    # Materialized: both band-join branches read the 16-int signatures
    # instead of re-running the shingle+hash pass per branch (no
    # cross-branch exchange reuse).
    sigs = _minhash_sigs(spark, sf_dir)

    band_id = F.explode(F.sequence(F.lit(0), F.lit(LSH_BANDS - 1))).alias("band_id")
    bands = sigs.select(
        "doc_id",
        "sig",
        band_id,
    ).select(
        "doc_id",
        "sig",
        "band_id",
        F.concat_ws(
            ",", F.slice(col("sig"), col("band_id") * BAND_WIDTH + 1, BAND_WIDTH)
        ).alias("band_key"),
    )
    # signatures RIDE the band join (sig is functionally dependent on
    # doc_id, so distinct-on-pair+sigs == distinct-on-pair): scoring
    # needs no join back to sigs, which would recompute the k-hash
    # signature pass twice more over the corpus.
    a = bands.select(
        col("doc_id").alias("doc_a"),
        col("band_id").alias("ba"),
        col("band_key").alias("ka"),
        col("sig").alias("sig_a"),
    )
    b = bands.select(
        col("doc_id").alias("doc_b"),
        col("band_id").alias("bb"),
        col("band_key").alias("kb"),
        col("sig").alias("sig_b"),
    )
    cand = (
        a.join(b, (col("ba") == col("bb")) & (col("ka") == col("kb")))
        .filter(col("doc_a") < col("doc_b"))
        .select("doc_a", "doc_b", "sig_a", "sig_b")
        .distinct()
    )
    n_match = F.size(
        F.filter(
            F.zip_with(col("sig_a"), col("sig_b"), lambda x, y: x == y),
            lambda m: m,
        )
    )
    return cand.select(
        "doc_a",
        "doc_b",
        n_match.cast("bigint").alias("n_matching"),
        (n_match.cast("double") / MINHASH_K).alias("est_jaccard"),
    ).filter(col("est_jaccard") >= EST_THRESHOLD)


# ---------------------------------------------------------------------------
# SimHash near-dup (banded hamming search)
# ---------------------------------------------------------------------------

HAMMING_MAX = 3

SIMHASH_ORACLE = """
WITH sims AS (
  SELECT doc_id,
    CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
      list_transform(generate_series(0, 31), j ->
        CASE WHEN 2 * len(list_filter(
            list_transform(regexp_extract_all(text, '[a-z0-9]+'),
                           t -> ('0x' || substr(md5(t), 1, 8))::BIGINT),
            h -> (h >> j) & 1 = 1))
          > len(regexp_extract_all(text, '[a-z0-9]+'))
        THEN (1::BIGINT << j) ELSE 0 END)),
      (acc, x) -> acc + x) AS BIGINT) AS sim
  FROM documents
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.sim, b.sim)) AS BIGINT) AS hamming
FROM sims a JOIN sims b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.sim, b.sim)) <= 3
"""


@register("dedup_simhash", oracle=SIMHASH_ORACLE)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash(32-bit) near-dup pairs with hamming ≤ 3, found via
    4 bands of 8 bits: ≤3 flipped bits leave ≥1 band intact
    (pigeonhole), so the banded join has FULL recall versus the
    oracle's brute-force all-pairs scan — which is exactly what this
    oracle proves. Band join shuffles 4 byte-sized keys per doc."""
    # two selects on purpose: one md5 pass per doc, then 32 cheap
    # bit-terms over the hashed array (see token_hashes docstring).
    # Materialized: the 8-byte-per-doc simhashes feed both band-join
    # branches; without it the md5+bit-term pass runs twice. The doc
    # scan derives INSIDE the builder (fingerprint discipline: a
    # closure-captured frame is invisible to the store's code hash).
    from iot_sparkstreaming_spark.artifacts import artifact_memo

    def build_sims() -> DataFrame:
        docs = load_table(spark, sf_dir, "documents")
        hashed = docs.select(
            "doc_id", token_hashes(tokens(col("text"))).alias("th")
        )
        return hashed.select(
            "doc_id", simhash32_from_hashes(col("th")).alias("sim")
        )

    sims = artifact_memo(spark, ("simhash_sims", sf_dir), build_sims)

    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_id"),
                F.shiftright(col("sim"), 8 * b).bitwiseAND(F.lit(255)).alias("band_val"),
            )
            for b in range(4)
        ]
    )
    bands = sims.select("doc_id", "sim", F.explode(band_structs).alias("bv")).select(
        "doc_id", "sim", col("bv.band_id").alias("band_id"), col("bv.band_val").alias("band_val")
    )
    a = bands.select(
        col("doc_id").alias("doc_a"), col("sim").alias("sim_a"),
        col("band_id").alias("ba"), col("band_val").alias("va"),
    )
    b = bands.select(
        col("doc_id").alias("doc_b"), col("sim").alias("sim_b"),
        col("band_id").alias("bb"), col("band_val").alias("vb"),
    )
    hamming = F.bit_count(col("sim_a").bitwiseXOR(col("sim_b")))
    return (
        a.join(b, (col("ba") == col("bb")) & (col("va") == col("vb")))
        .filter(col("doc_a") < col("doc_b"))
        .select("doc_a", "doc_b", hamming.cast("bigint").alias("hamming"))
        .distinct()
        .filter(col("hamming") <= HAMMING_MAX)
    )


# ---------------------------------------------------------------------------
# Embedding-cosine near-dup
# ---------------------------------------------------------------------------

COSINE_THRESHOLD = 0.4


def _dot(u, w):
    return F.aggregate(
        F.zip_with(u, w, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _emb_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, v double[], norm) — self-norms are per-VECTOR
    quantities: compute them once per row before any pair join, not
    once per pair (3 array folds per pair → 1 fold per pair + 1 per
    row; ~3x on the pair hot loop). Same expression tree per pair, so
    cosines stay bitwise identical across formulations.

    Materialized (localCheckpoint): Spark does not reuse exchanges
    across the self-join's two branches here, so without it every
    branch re-scans parquet and re-folds the norms. In production
    this is the precomputed vectors+norms table you'd write once —
    the session memo makes that explicit: one materialization per
    session per sf_dir, shared by every vector query.
    """

    def build() -> DataFrame:
        emb = load_table(spark, sf_dir, "embeddings")
        return (
            emb.select(
                "vec_id",
                F.transform(col("embedding"), lambda x: x.cast("double")).alias("v"),
            )
            .select("vec_id", "v", F.sqrt(_dot(col("v"), col("v"))).alias("norm"))
        )

    from iot_sparkstreaming_spark.artifacts import artifact_memo

    return artifact_memo(spark, ("emb_vectors", sf_dir), build)


def _emb_neardup_oracle() -> str:
    """Oracle replaying the IDENTICAL banded sign-LSH construction
    (same literal hyperplanes as queries/similarity.py, same adaptive
    bits-from-COUNT(*) geometry — see similarity._geo_sql) in DuckDB."""
    from iot_sparkstreaming_spark.queries.similarity import (
        N_BANDS,
        _band_bucket_sql,
        _geo_sql,
    )

    band_selects = "\nUNION ALL\n".join(
        f"  SELECT vec_id, v, {b} AS band, {_band_bucket_sql('v', b)} AS bucket"
        f" FROM e, geo"
        for b in range(N_BANDS)
    )
    cos = (
        "ROUND(list_dot_product(ea.v, eb.v) / sqrt(list_dot_product(ea.v, ea.v))"
        " / sqrt(list_dot_product(eb.v, eb.v)), 6)"
    )
    return f"""
WITH geo AS (
  {_geo_sql()}
),
e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
bands AS (
{band_selects}
),
cand AS (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id
)
SELECT vec_a, vec_b, {cos} AS cosine
FROM cand
JOIN e ea ON ea.vec_id = vec_a
JOIN e eb ON eb.vec_id = vec_b
WHERE {cos} >= {COSINE_THRESHOLD}
"""


def _band_candidate_pairs(
    bands: DataFrame, *, force_cap: int | None = None, n_probes: int = 1
) -> DataFrame:
    """Candidate ``(vec_a < vec_b)`` pairs from the sign-LSH band
    index ``(vec_id, band, bucket)`` — the OCCUPANCY-GATED band
    self-join (the conditional docs/ARTIFACTS.md's skew-trend sentence
    promises, executed here rather than prose).

    The gate: ONE extra action per artifact build — the (band,
    bucket) occupancy aggregate (at most N_BANDS·2^bits rows after
    the map-side combine, a few KB at ANY corpus size) crossJoined
    with an exact countDistinct(vec_id) over the band table (O(n)
    map-side partials, one row out) — measures the skew factor =
    candidate mass Σ C(occ, 2) over the uniform-sign model's own
    N_BANDS·n²/2^(bits+1) (the identical definition the recorded
    occupancy audit in docs/ARTIFACTS.md reports, against the SAME
    ``SKEW_WIRE_THRESHOLD`` / ``CAP_MULT`` constants from
    operators/skew.py).

    * skew < SKEW_WIRE_THRESHOLD (2.0): the naive equi-join on
      (band, bucket) is optimal and runs UNCHANGED — bitwise-identical
      output and join plan, so no fixture-scale hash can move. Every
      measured point sits here today (worst 1.69x at 2 M vectors).
    * skew ≥ threshold: the join routes through
      operators/skew.capped_bucket_self_join at cap = CAP_MULT × the
      uniform expectation n/2^bits — exact below the cap, hot buckets
      sharded with band-decorrelated salts, recall price measured and
      model-validated in docs/ARTIFACTS.md (47.0% at-risk survival at
      p=1; the ``n_probes`` knob buys it back ~p²).

    ``force_cap`` bypasses the gate so the integration test
    (tests/test_skew.py) can drive a tiny cap through this EXACT
    production path — the capped branch is never dead code waiting for
    a corpus to cross the threshold. ``n_probes`` passes through to
    the capped join's multi-probe recall knob (measured at the
    2 M-vector point: p=2 lifts at-risk survival 47.0% → 85.4% for
    ~p² capped mass, docs/ARTIFACTS.md) — the parameter the wiring
    day's recall budget turns; it has no effect on the naive branch
    (which loses no recall to shard)."""
    from iot_sparkstreaming_spark.operators.skew import (
        CAP_MULT,
        SKEW_WIRE_THRESHOLD,
        capped_bucket_self_join,
    )
    from iot_sparkstreaming_spark.queries.similarity import N_BANDS, lsh_bits

    cap = force_cap
    if cap is None:
        occ = bands.groupBy("band", "bucket").agg(
            F.countDistinct("vec_id").alias("_occ")
        )
        # Corpus size n as an EXACT countDistinct(vec_id) over the
        # band table, not the old `rows // N_BANDS` (r14 verdict task
        # 5): the gate is the component future band tables get routed
        # through, and a table where ids occupy MORE than one row per
        # band — duplicated rows, or a probe-expanded index with
        # several buckets per (id, band) — would inflate a row-derived
        # n, inflate model_mass ~n²-fold, and silently understate skew
        # below the wiring threshold. The crossJoin of the two 1-row
        # aggregates keeps this ONE gate action; the countDistinct is
        # an O(n) map-side-partial aggregate paid once per artifact
        # build — noise next to the band self-join it gates.
        stats = (
            occ.agg(
                F.sum(
                    col("_occ").cast("bigint") * (col("_occ") - 1) / 2
                ).alias("mass")
            )
            .crossJoin(
                bands.agg(F.countDistinct("vec_id").alias("n_distinct"))
            )
            .first()
        )
        n = int(stats["n_distinct"] or 0)
        if n > 1:
            bits = lsh_bits(n)
            model_mass = N_BANDS * n * n / 2 ** (bits + 1)
            skew = float(stats["mass"] or 0.0) / model_mass
            if skew >= SKEW_WIRE_THRESHOLD:
                cap = max(int(CAP_MULT * n / (1 << bits)), 1)
    if cap is not None:
        return capped_bucket_self_join(
            bands, cap, id_col="vec_id", n_probes=n_probes
        ).select(col("id1").alias("vec_a"), col("id2").alias("vec_b"))
    return (
        bands.alias("a")
        .join(bands.alias("b"), ["band", "bucket"])
        .filter(col("a.vec_id") < col("b.vec_id"))
        .select(col("a.vec_id").alias("vec_a"), col("b.vec_id").alias("vec_b"))
        .distinct()
    )


def _lsh_scored_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoized ``(vec_a < vec_b, cosine)`` table over the banded
    sign-LSH candidate pairs — the exact intermediate that both
    :func:`dedup_embedding_cosine` (threshold filter) and
    :func:`mutual_nn_pairs` (reciprocal argmax) previously each
    recomputed end-to-end: band equi-join + candidate DISTINCT + one
    exact dot product per unique pair. One build now serves both
    consumers, and the artifact store persists it beside ``lsh_bands``
    so warm sessions skip the dot products entirely.

    Scale shape: the band join and the DISTINCT move only (id, band,
    bucket) — never the 512-byte vectors (shuffling payloads through a
    multiplicity-4 join + distinct measured ~2x slower); vectors join
    back per UNIQUE pair, so each candidate pays exactly one dot
    product. The materialized table holds exactly the rows every
    consumer already shuffled, so persisting it changes constant
    factors, not asymptotics.

    The asymptote is owned by the banding width, and since round 11
    the width is ADAPTIVE: ``lsh_bits(n)`` = clamp(floor(log2 n) -
    6, 4, 16) hyperplanes per band, derived from the corpus count at
    index build time and re-derived by every consumer oracle from the
    same COUNT(*) (similarity._geo_sql). Expected bucket occupancy is
    ~n/2^bits = O(2^6) under the uniform sign model, so candidates
    stay ~n * occupancy — linear — instead of the fixed-4-bit ~n²/16
    that the round-10 100x audit measured OOM-ing this build at 200k
    vectors (docs/SCALING.md; 4 bits is exactly right for fixture
    sizes n <= 2047, where the clamp floors and the original geometry
    — and every oracle hash — is unchanged).
    Cosines round to 6 dp BEFORE any consumer logic so the threshold
    test and the argmax ordering see identical values on both engines.
    """
    from iot_sparkstreaming_spark.artifacts import artifact_memo
    from iot_sparkstreaming_spark.queries.similarity import _lsh_bands

    def build() -> DataFrame:
        e = _emb_vectors(spark, sf_dir)
        bands = _lsh_bands(spark, sf_dir)
        # occupancy-gated band self-join: naive equi-join below the
        # measured skew wiring threshold (all fixtures today), the
        # capped/sharded join from operators/skew.py at or above it —
        # see _band_candidate_pairs
        cand = _band_candidate_pairs(bands)
        ea = e.select(
            col("vec_id").alias("vec_a"), col("v").alias("va"), col("norm").alias("na")
        )
        eb = e.select(
            col("vec_id").alias("vec_b"), col("v").alias("vb"), col("norm").alias("nb")
        )
        cosine = F.round(_dot(col("va"), col("vb")) / col("na") / col("nb"), 6)
        return (
            cand.join(ea, "vec_a")
            .join(eb, "vec_b")
            .select("vec_a", "vec_b", cosine.alias("cosine"))
        )

    return artifact_memo(spark, ("lsh_scored_pairs", sf_dir), build)


@register("dedup_embedding_cosine", oracle=_emb_neardup_oracle())
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs: banded sign-LSH candidate generation
    (4 bands × lsh_bits(n) adaptive hyperplane bits, the similarity.py
    construction — 4 bits at fixture sizes)
    followed by EXACT cosine rescoring at ≥ 0.4 — the two-stage shape
    that survives 100×: band buckets are a map-only pass, candidates
    come from equi-joins on (band, bucket), and only candidates pay
    the dot product. The oracle replays the identical construction
    (same literal hyperplanes), so banding + rescoring check bitwise.
    The scored candidate table is the shared :func:`_lsh_scored_pairs`
    artifact (one build serves this query and ``mutual_nn_pairs``);
    this query is the ≥-threshold filter over it.

    Measured on this fixture: candidates are ~23% of all pairs at a
    recall of 36/59 vs brute force (fixture vectors are random-ish,
    so qualifying cosines hug the 0.4 threshold — the worst case for
    any LSH; real near-dup corpora cluster far above the threshold,
    where banding recall is high). The brute-force form remains as
    :func:`dedup_embedding_cosine_exact` — the test-side verifier
    that measures exactly this recall (tests/test_similarity_ops.py).
    """
    return _lsh_scored_pairs(spark, sf_dir).filter(
        col("cosine") >= COSINE_THRESHOLD
    )


def dedup_embedding_cosine_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force all-pairs cosine ≥ 0.4 — the small-N ground truth
    the banded operator's recall is measured against. NOT registered:
    O(n²) pairs with no pruning handle would not survive 100×."""
    e = _emb_vectors(spark, sf_dir)
    a = e.select(
        col("vec_id").alias("vec_a"), col("v").alias("va"), col("norm").alias("na")
    )
    b = e.select(
        col("vec_id").alias("vec_b"), col("v").alias("vb"), col("norm").alias("nb")
    )
    cosine = F.round(_dot(col("va"), col("vb")) / col("na") / col("nb"), 6)
    return (
        a.join(b, col("vec_a") < col("vec_b"))
        .select("vec_a", "vec_b", cosine.alias("cosine"))
        .filter(col("cosine") >= COSINE_THRESHOLD)
    )


# ---------------------------------------------------------------------------
# Connected components over the near-dup graph (iterative algorithm)
# ---------------------------------------------------------------------------

# RECURSIVE applies to the whole WITH list, so it must be injected at
# the front of the shared shingles CTE. The pair derivation mirrors
# JACCARD_ORACLE exactly (inverted index + stop-shingle cutoff) so the
# component graph is built over the SAME edge semantics the Spark side
# computes via dedup_ngram_jaccard.
COMPONENTS_ORACLE = (
    SHINGLES_CTE.replace("WITH sh AS", "WITH RECURSIVE sh AS", 1)
    + _KEPT_SQL
    + f"""
, sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM kept GROUP BY doc_id),
pairs AS (
  SELECT doc_a, doc_b FROM (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
    FROM kept a JOIN kept b ON a.s_h = b.s_h AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
  ) i
  JOIN sizes sa ON sa.doc_id = i.doc_a
  JOIN sizes sb ON sb.doc_id = i.doc_b
  WHERE CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) >= {JACCARD_THRESHOLD}
),
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION SELECT doc_b, doc_a FROM pairs
),
nodes AS (SELECT DISTINCT a AS node FROM edges),
reach(node, r) AS (
  SELECT node, node FROM nodes
  UNION
  SELECT reach.node, e.b FROM reach JOIN edges e ON reach.r = e.a
)
SELECT node AS doc_id, MIN(r) AS component_id FROM reach GROUP BY node
"""
)


@register("dedup_components", oracle=COMPONENTS_ORACLE)
def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components of the near-dup pair graph — the
    clustering step that turns pairwise matches into groups so one
    canonical document per group survives. Component id = min doc_id
    in the component.

    This is the engine's ITERATIVE-algorithm shape: min-label
    propagation as a driver-controlled loop of joins/aggregations
    (control flow on the driver, every data operation distributed),
    converging in O(component diameter) rounds — near-dup clusters
    are shallow, so a handful. The oracle reaches the same fixpoint
    via a recursive CTE, making an iterative distributed algorithm
    exactly checkable.

    Scale: each round shuffles |edges| on the join key and |nodes|
    for the min-aggregate; for planet-scale graphs you'd switch to
    the large-star/small-star variant — same loop skeleton.
    """
    from iot_sparkstreaming_spark.artifacts import artifact_memo
    from iot_sparkstreaming_spark.operators.graph import connected_components

    def build() -> DataFrame:
        pairs = dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")
        return connected_components(pairs).select(
            col("node").alias("doc_id"), col("component").alias("component_id")
        )

    # Memoized like pagerank/HITS: three downstream queries (canonical,
    # weighted sampling, semdedup prune) consume this table, and the
    # min-label loop re-ran per CALL before — per action, even — since
    # nothing materialized the fixpoint.
    return artifact_memo(spark, ("dedup_components", sf_dir), build)


# ---------------------------------------------------------------------------
# Canonical-document selection (the dedup family's final output)
# ---------------------------------------------------------------------------

#: extends COMPONENTS_ORACLE: turn its final SELECT into a CTE, then
#: join every document (singletons keep their own doc_id as component)
#: and flag the canonical survivor per component — longest doc wins,
#: ties to the smallest doc_id.
CANONICAL_ORACLE = COMPONENTS_ORACLE.replace(
    "SELECT node AS doc_id, MIN(r) AS component_id FROM reach GROUP BY node",
    f""", comp AS (
  SELECT node AS doc_id, MIN(r) AS component_id FROM reach GROUP BY node
),
tok AS (
  SELECT doc_id, CAST(len(regexp_extract_all(text, '[a-z0-9]+')) AS BIGINT)
    AS n_tokens
  FROM documents
),
joined AS (
  SELECT t.doc_id, COALESCE(c.component_id, t.doc_id) AS component_id,
         t.n_tokens
  FROM tok t LEFT JOIN comp c ON c.doc_id = t.doc_id
)
SELECT doc_id, component_id, n_tokens,
  ROW_NUMBER() OVER (PARTITION BY component_id
                     ORDER BY n_tokens DESC, doc_id) = 1 AS is_canonical
FROM joined""",
)


@register("dedup_canonical_docs", oracle=CANONICAL_ORACLE)
def dedup_canonical_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-document selection — the dedup family's terminal
    step: pairs → components → ONE surviving document per near-dup
    cluster. Every document gets a row; singletons form their own
    component (component_id = doc_id) and survive trivially; within a
    cluster the longest document wins (ties to smallest doc_id).
    ``filter(is_canonical)`` is the post-dedup training corpus.

    Plan shape: the component table is tiny relative to the corpus
    (only near-dup members appear in it), so the corpus-side LEFT
    join is effectively map-side at scale (AQE broadcasts the small
    side; no hint — its size is data-dependent); the survivor pick is
    one window over a shuffle keyed by component_id carrying only
    (doc_id, n_tokens). The text column never shuffles.
    """
    docs = load_table(spark, sf_dir, "documents")
    from pyspark.sql.window import Window

    comp = dedup_components(spark, sf_dir)
    tok = docs.select(
        "doc_id", F.size(tokens(col("text"))).cast("bigint").alias("n_tokens")
    )
    joined = (
        tok.join(comp, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(col("component_id"), col("doc_id")).alias("component_id"),
            "n_tokens",
        )
    )
    w = Window.partitionBy("component_id").orderBy(col("n_tokens").desc(), "doc_id")
    return joined.select(
        "doc_id",
        "component_id",
        "n_tokens",
        (F.row_number().over(w) == 1).alias("is_canonical"),
    )


# ---------------------------------------------------------------------------
# Passage-level exact dedup (CCNet-style paragraph hashing)
# ---------------------------------------------------------------------------

PASSAGE_TOKENS = 20

PASSAGE_ORACLE = f"""
WITH tk AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
  FROM documents
),
passages AS (
  SELECT doc_id,
    md5(array_to_string(
      toks[p*{PASSAGE_TOKENS}+1 : (p+1)*{PASSAGE_TOKENS}], ' ')) AS ph
  FROM tk, (SELECT unnest(generate_series(0, 1000)) AS p)
  WHERE p*{PASSAGE_TOKENS} < len(toks)
),
freq AS (
  SELECT ph, COUNT(DISTINCT doc_id) AS n_docs FROM passages GROUP BY ph
)
SELECT p.doc_id,
  CAST(COUNT(*) AS BIGINT) AS n_passages,
  CAST(COUNT(*) FILTER (WHERE f.n_docs >= 2) AS BIGINT) AS n_shared_passages,
  CAST(COUNT(*) FILTER (WHERE f.n_docs >= 2) AS DOUBLE) / COUNT(*)
    AS shared_frac
FROM passages p JOIN freq f ON p.ph = f.ph
GROUP BY p.doc_id
"""


@register("dedup_passages", oracle=PASSAGE_ORACLE)
def dedup_passages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Passage-level exact dedup (the CCNet/paragraph-hash pass): cut
    each document into non-overlapping PASSAGE_TOKENS-token
    passages, hash each, and report per document how many of its
    passages also appear in ANOTHER document — the screen that
    catches boilerplate and partial copies that whole-document
    hashing (dedup_exact) misses.

    The harness corpus is single-line text, so "paragraph" is a fixed
    token window; on real corpora the splitter would be the newline
    variant of the same plan.

    Scale: the shuffle carries only (16-byte passage hash, doc_id)
    pairs — the text never leaves the scan stage. Passage frequency
    is one hash-keyed aggregate; the join back to per-doc accounting
    keys on the same hash, so AQE plans it as a co-located continuation
    of the frequency shuffle. This is the same posting-list skeleton
    as the Jaccard inverted index, but with O(n_tokens / passage_len)
    keys per doc instead of O(n_tokens) shingles.
    """
    docs = load_table(spark, sf_dir, "documents")
    tk = docs.select(
        "doc_id",
        F.regexp_extract_all(F.lower(col("text")), F.lit("([a-z0-9]+)"), 1).alias(
            "toks"
        ),
    ).filter(F.size("toks") > 0)
    n_passages = F.ceil(F.size("toks").cast("double") / PASSAGE_TOKENS).cast("bigint")
    passages = tk.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), n_passages - 1)).alias("p"),
        "toks",
    ).select(
        "doc_id",
        F.md5(
            F.concat_ws(
                " ", F.slice(col("toks"), col("p") * PASSAGE_TOKENS + 1, PASSAGE_TOKENS)
            )
        ).alias("ph"),
    )
    freq = passages.groupBy("ph").agg(F.countDistinct("doc_id").alias("n_docs"))
    return (
        passages.join(freq, "ph")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_passages"),
            F.count(F.when(col("n_docs") >= 2, 1)).cast("bigint").alias(
                "n_shared_passages"
            ),
            (
                F.count(F.when(col("n_docs") >= 2, 1)).cast("double") / F.count("*")
            ).alias("shared_frac"),
        )
    )


# ---------------------------------------------------------------------------
# Asymmetric containment (doc-inside-doc detection)
# ---------------------------------------------------------------------------

CONTAINMENT_MIN = 0.8

CONTAINMENT_ORACLE = (
    SHINGLES_CTE
    + _KEPT_SQL
    + f"""
, sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM kept GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
  FROM kept a JOIN kept b ON a.s_h = b.s_h AND a.doc_id <> b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a, doc_b,
  CAST(n_common AS BIGINT) AS n_common,
  CAST(n_common AS DOUBLE) / sa.n_sh AS containment
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE CAST(n_common AS DOUBLE) / sa.n_sh >= {CONTAINMENT_MIN}
"""
)


@register("dedup_containment", oracle=CONTAINMENT_ORACLE)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric shingle containment |A∩B| / |A| ≥ 0.8 — catches a
    document EMBEDDED in a larger one (quotation, concatenation,
    boilerplate wrapping), which symmetric Jaccard misses: a 50-token
    doc fully contained in a 500-token doc has Jaccard ≈ 0.1 but
    containment 1.0. Broder's original resemblance/containment pair.

    Plan: identical inverted-index skeleton to dedup_ngram_jaccard
    (explode-first shingles, stop-shingle cutoff, posting self-join)
    but emitting ORDERED pairs (a≠b, both directions) and dividing by
    the contained side's shingle count only. Same scale posture: the
    shuffle key is the shingle, pair-rows bounded by the DF cutoff.
    """
    # the posting list is byte-identical to dedup_ngram_jaccard's —
    # shared via _posting_list, so one session materializes it once
    # for both consumers
    posts = _posting_list(spark, sf_dir)
    a = posts.select(col("doc_id").alias("doc_a"), col("n_sh").alias("na"), "s_h")
    b = posts.select(col("doc_id").alias("doc_b"), "s_h")
    inter = (
        a.join(b, ["s_h"])
        .filter(col("doc_a") != col("doc_b"))
        .groupBy("doc_a", "doc_b", "na")
        .agg(F.count("*").alias("n_common"))
    )
    return inter.select(
        "doc_a",
        "doc_b",
        col("n_common").cast("bigint").alias("n_common"),
        (col("n_common").cast("double") / col("na")).alias("containment"),
    ).filter(col("containment") >= CONTAINMENT_MIN)


# ---------------------------------------------------------------------------
# SemDeDup: cluster-partitioned semantic dedup (prune within clusters)
# ---------------------------------------------------------------------------

SEMDEDUP_THRESHOLD = 0.35


def _semdedup_oracle() -> str:
    """Oracle replaying the identical centroid-assignment construction
    (same deterministic centroid subset as queries/similarity.py's
    IVF, same adaptive stride-from-COUNT(*) geometry) and the same
    within-cluster prune rule in DuckDB."""
    from iot_sparkstreaming_spark.queries.similarity import (
        CENT_OFFSET,
        _COS_SQL,
        _ivf_stride_sql,
    )

    return f"""
WITH st AS (
  {_ivf_stride_sql()}
),
e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
cent AS (
  SELECT vec_id AS cid, v AS cvec FROM e, st
  WHERE vec_id % st.stride = {CENT_OFFSET}
),
assigned AS (
  SELECT vec_id, v, cid FROM (
    SELECT e.vec_id, e.v, cent.cid,
      ROW_NUMBER() OVER (PARTITION BY e.vec_id
        ORDER BY {_COS_SQL.format(a="e.v", b="cent.cvec")} DESC, cent.cid) AS crk
    FROM e CROSS JOIN cent
  ) WHERE crk = 1
),
csize AS (SELECT cid, COUNT(*) AS cluster_n FROM assigned GROUP BY cid),
pairs AS (
  SELECT a.cid, a.vec_id AS kept_id, b.vec_id AS vec_id,
         {_COS_SQL.format(a="a.v", b="b.v")} AS cosine
  FROM assigned a JOIN assigned b
    ON a.cid = b.cid AND a.vec_id < b.vec_id
)
SELECT vec_id, cid, CAST(cluster_n AS BIGINT) AS cluster_n, kept_id, cosine
FROM (
  SELECT p.*, csize.cluster_n,
    ROW_NUMBER() OVER (PARTITION BY p.vec_id
      ORDER BY p.cosine DESC, p.kept_id) AS rk
  FROM pairs p JOIN csize ON csize.cid = p.cid
  WHERE p.cosine >= {SEMDEDUP_THRESHOLD}
)
WHERE rk = 1
"""


@register("semdedup_cluster_prune", oracle=_semdedup_oracle())
def semdedup_cluster_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup (Abbas et al. 2023): cluster the
    embedding space, then prune near-duplicates ONLY within each
    cluster — the clustering bounds the quadratic pairwise term to
    ~(n/k)² per cluster instead of n² global, which is the entire
    reason the method scales to web corpora.

    Prune rule (deterministic): a vector is dropped iff some
    SMALLER-id member of its cluster has cosine ≥ 0.35 with it; the
    emitted row names its best keeper (argmax cosine, min id on
    ties). Centroids are the same deterministic corpus subset as
    ann_ivf_cosine (``vec_id % stride == 10`` with the ADAPTIVE
    stride ~ sqrt(n), floored at 30 for fixture corpora and
    oracle-mirrored from COUNT(*)) — swapping in trained
    k-means centroids changes recall, not the plan or the rule.

    Scale shape: assignment is the IVF broadcast + hash-agg argmax
    (map-side, no sort window over corpus×k); the only corpus
    shuffle after that is the equi-join on ``cid``, where AQE
    skew-splits hot clusters. The adaptive ~sqrt(n) stride BALANCES
    the construction's two terms: assignment costs n·k and the
    within-cluster prune costs ~n·(n/k)/2 pairs, so k ~ sqrt(n) puts
    both at n^1.5 — for n past the fixture floor that beats either
    extreme (fixed cell size made assignment n²/stride; fixed k would
    make the prune n²/k), and it is the best single-knob geometry a
    deterministic centroid subset admits. Production corpora with a
    TRAINED index instead tune k for constant cell size and amortize
    assignment through the nested index (the ann_ivf_kmeans family).
    Cluster sizes ride the assigned row (window on the same cid
    partitioning — no second shuffle, no sizes join).
    """
    from pyspark.sql.window import Window

    from iot_sparkstreaming_spark.queries.similarity import (
        CENT_OFFSET,
        ivf_stride_for,
    )

    from iot_sparkstreaming_spark.artifacts import artifact_memo

    def build_assigned() -> DataFrame:
        e = _emb_vectors(spark, sf_dir)
        cent = e.filter(
            col("vec_id") % ivf_stride_for(spark, sf_dir) == CENT_OFFSET
        ).select(
            col("vec_id").alias("cid"),
            col("v").alias("cvec"),
            col("norm").alias("cn"),
        )
        ccos = F.round(_dot(col("v"), col("cvec")) / col("norm") / col("cn"), 6)
        return (
            e.crossJoin(F.broadcast(cent))
            .select("vec_id", "v", "norm", ccos.alias("ccos"), "cid")
            .groupBy("vec_id")
            .agg(
                F.any_value(col("v")).alias("v"),
                F.any_value(col("norm")).alias("norm"),
                F.max(
                    F.struct(col("ccos").alias("c"), (-col("cid")).alias("nc"))
                ).alias("m"),
            )
            .select(
                "vec_id",
                "v",
                "norm",
                (-col("m.nc")).alias("cid"),
            )
            # cluster size via window on the SAME cid clustering the pair
            # join needs — one exchange serves both
            .repartition(col("cid"))
            .withColumn("cluster_n", F.count("*").over(Window.partitionBy("cid")))
        )

    assigned = artifact_memo(spark, ("semdedup_assigned", sf_dir), build_assigned)
    a = assigned.select(
        "cid",
        col("vec_id").alias("kept_id"),
        col("v").alias("va"),
        col("norm").alias("na"),
    )
    b = assigned.select(
        "cid", "vec_id", "cluster_n", col("v").alias("vb"), col("norm").alias("nb")
    )
    cosine = F.round(_dot(col("va"), col("vb")) / col("na") / col("nb"), 6)
    pairs = (
        a.join(b, "cid")
        .filter(col("kept_id") < col("vec_id"))
        .select("vec_id", "cid", "cluster_n", "kept_id", cosine.alias("cosine"))
        .filter(col("cosine") >= SEMDEDUP_THRESHOLD)
    )
    w = Window.partitionBy("vec_id").orderBy(col("cosine").desc(), col("kept_id"))
    return (
        pairs.withColumn("rk", F.row_number().over(w))
        .filter(col("rk") == 1)
        .select(
            "vec_id",
            "cid",
            col("cluster_n").cast("bigint").alias("cluster_n"),
            "kept_id",
            "cosine",
        )
    )


# ---------------------------------------------------------------------------
# Edit-distance fuzzy dedup (record-linkage blocking + levenshtein)
# ---------------------------------------------------------------------------

EDIT_MAX = 4  # levenshtein threshold
TITLE_LEN = 40
BLOCK_LEN = 8

EDIT_DEDUP_ORACLE = f"""
WITH t AS (
  SELECT doc_id, substr(lower(text), 1, {TITLE_LEN}) AS title FROM documents
),
blocks AS (
  SELECT doc_id, title, 0 AS side, substr(title, 1, {BLOCK_LEN}) AS bkey FROM t
  UNION ALL
  SELECT doc_id, title, 1 AS side,
         substr(title, {TITLE_LEN - BLOCK_LEN + 1}, {BLOCK_LEN}) AS bkey FROM t
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                  a.title AS ta, b.title AS tb
  FROM blocks a JOIN blocks b
    ON a.side = b.side AND a.bkey = b.bkey AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b,
       CAST(levenshtein(ta, tb) AS BIGINT) AS edit_distance
FROM cand
WHERE levenshtein(ta, tb) <= {EDIT_MAX}
"""


@register("dedup_edit_distance", oracle=EDIT_DEDUP_ORACLE)
def dedup_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level fuzzy dedup — the record-linkage family the
    token/LSH variants can't express (they see word multisets; this
    sees typos): candidate pairs from TWO blocking passes (8-char
    title prefix and suffix blocks — one shared typo region can't
    hide a near-duplicate from both ends), then exact ``levenshtein``
    rescoring at ≤ 4. Both engines implement the classic DP edit
    distance, so the integer distances oracle-check exactly
    (cross-engine agreement also unit-tested on synthetic typos,
    tests/test_functions.py).

    Scale shape: blocking keys move 8-char strings, the join is an
    equi-join on (side, bkey), and only candidates pay the O(L²) DP —
    the same two-stage economics as the banded-LSH families. This
    fixture's random word-salad titles have no near-miss tail
    (distances jump 0 → 14), so qualifying pairs here are the
    25 identical-prefix ones; the typo path is proven by the unit
    test, not the corpus.
    """
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id", F.substring(F.lower(col("text")), 1, TITLE_LEN).alias("title")
    )
    blocks = t.select(
        "doc_id",
        "title",
        F.lit(0).alias("side"),
        F.substring("title", 1, BLOCK_LEN).alias("bkey"),
    ).unionAll(
        t.select(
            "doc_id",
            "title",
            F.lit(1).alias("side"),
            F.substring("title", TITLE_LEN - BLOCK_LEN + 1, BLOCK_LEN).alias("bkey"),
        )
    )
    cand = (
        blocks.alias("a")
        .join(blocks.alias("b"), ["side", "bkey"])
        .filter(col("a.doc_id") < col("b.doc_id"))
        .select(
            col("a.doc_id").alias("doc_a"),
            col("b.doc_id").alias("doc_b"),
            col("a.title").alias("ta"),
            col("b.title").alias("tb"),
        )
        .distinct()
    )
    dist = F.levenshtein(col("ta"), col("tb"))
    return cand.select(
        "doc_a", "doc_b", dist.cast("bigint").alias("edit_distance")
    ).filter(col("edit_distance") <= EDIT_MAX)


# ---------------------------------------------------------------------------
# Incremental MinHash dedup: new batch vs historical corpus index
# ---------------------------------------------------------------------------

#: batch membership: doc_id % 10 == 0 plays "today's crawl"; the rest
#: is the already-ingested corpus whose LSH index is memoized.
INCR_BATCH_MOD = 10

INCR_MINHASH_ORACLE = (
    SHINGLES_CTE
    + f"""
, hashed AS (
  SELECT doc_id,
         list_transform(sh, s -> ('0x' || substr(md5(s), 1, 8))::BIGINT) AS hs
  FROM sh),
sigs AS (SELECT doc_id, {_SIG_SQL} AS sig FROM hashed),
bands AS (
  SELECT doc_id, b.band_id,
         array_to_string(sig[b.band_id*{BAND_WIDTH}+1 : b.band_id*{BAND_WIDTH}+{BAND_WIDTH}], ',') AS band_key
  FROM sigs, (SELECT UNNEST(generate_series(0, {LSH_BANDS - 1})) AS band_id) b
),
cand AS (
  SELECT DISTINCT n.doc_id, h.doc_id AS corpus_id
  FROM bands n JOIN bands h
    ON n.band_id = h.band_id AND n.band_key = h.band_key
  WHERE n.doc_id % {INCR_BATCH_MOD} = 0 AND h.doc_id % {INCR_BATCH_MOD} <> 0
),
scored AS (
  SELECT c.doc_id, c.corpus_id,
    list_sum(list_transform(generate_series(1, {MINHASH_K}),
      i -> CASE WHEN sa.sig[i] = sb.sig[i] THEN 1 ELSE 0 END)) AS n_matching
  FROM cand c
  JOIN sigs sa ON c.doc_id = sa.doc_id
  JOIN sigs sb ON c.corpus_id = sb.doc_id
),
best AS (
  SELECT doc_id, corpus_id, n_matching,
    COUNT(*) OVER (PARTITION BY doc_id) AS ncand,
    ROW_NUMBER() OVER (PARTITION BY doc_id
                       ORDER BY n_matching DESC, corpus_id) AS rk
  FROM scored
)
SELECT nd.doc_id,
  CAST(COALESCE(b.ncand, 0) AS BIGINT) AS n_candidates,
  b.corpus_id AS best_match_id,
  CAST(b.n_matching AS BIGINT) AS best_n_matching,
  COALESCE(b.n_matching >= {MINHASH_K} * {EST_THRESHOLD}, FALSE) AS is_dup
FROM (SELECT DISTINCT doc_id FROM bands WHERE doc_id % {INCR_BATCH_MOD} = 0) nd
LEFT JOIN (SELECT * FROM best WHERE rk = 1) b USING (doc_id)
"""
)


@register("dedup_incremental_minhash", oracle=INCR_MINHASH_ORACLE)
def dedup_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup: screen TODAY'S batch (doc_id % 10 == 0)
    against the HISTORICAL corpus's persisted LSH index — the daily
    -ingest posture of a production dedup pipeline, where re-running
    the full self-join over the whole corpus every day is the classic
    quadratic-over-time mistake. Each batch doc reports its collision
    count, its best corpus match (signature agreement, ties to the
    smallest corpus id), and the keep/drop verdict at the same
    est-Jaccard ≥ 0.5 bar as ``dedup_minhash_lsh``.

    Scale shape: the corpus band index ``(band_id, band_key, doc_id,
    sig)`` is the memoized build-once artifact (in production: the
    table you APPEND each day's accepted docs to); the daily cost is
    |batch| signatures (per-row codegen, no shuffle) + a join of
    4·|batch| band rows against the index — independent of corpus
    re-processing. Signatures ride the band join so scoring needs no
    join back through the corpus. The left join keeps zero-collision
    batch docs in the report.
    """
    from pyspark.sql.window import Window

    from iot_sparkstreaming_spark.artifacts import artifact_memo

    sigs = _minhash_sigs(spark, sf_dir)

    def bands_of(df: DataFrame) -> DataFrame:
        band_id = F.explode(F.sequence(F.lit(0), F.lit(LSH_BANDS - 1))).alias(
            "band_id"
        )
        return df.select("doc_id", "sig", band_id).select(
            "doc_id",
            "sig",
            "band_id",
            F.concat_ws(
                ",", F.slice(col("sig"), col("band_id") * BAND_WIDTH + 1, BAND_WIDTH)
            ).alias("band_key"),
        )

    is_batch = col("doc_id") % INCR_BATCH_MOD == 0

    def build_index() -> DataFrame:
        # the persisted historical index: corpus-side band rows.
        # Signatures and the batch split derive INSIDE the builder
        # (fingerprint discipline: closure-captured frames/Columns are
        # invisible to the store's code hash; deriving here recurses
        # the token through _minhash_sigs and pins INCR_BATCH_MOD).
        hist_sigs = _minhash_sigs(spark, sf_dir).filter(
            ~(col("doc_id") % INCR_BATCH_MOD == 0)
        )
        return bands_of(hist_sigs)

    hist = artifact_memo(spark, ("minhash_hist_index", sf_dir), build_index)
    new_bands = bands_of(sigs.filter(is_batch))

    cand = (
        new_bands.join(
            hist.select(
                col("doc_id").alias("corpus_id"),
                col("band_id").alias("bb"),
                col("band_key").alias("kb"),
                col("sig").alias("sig_b"),
            ),
            (col("band_id") == col("bb")) & (col("band_key") == col("kb")),
        )
        .select("doc_id", "sig", "corpus_id", "sig_b")
        .distinct()
    )
    n_match = F.size(
        F.filter(F.zip_with(col("sig"), col("sig_b"), lambda x, y: x == y), lambda m: m)
    )
    scored = cand.select("doc_id", "corpus_id", n_match.alias("n_matching"))
    w_best = Window.partitionBy("doc_id").orderBy(
        col("n_matching").desc(), col("corpus_id").asc()
    )
    best = (
        scored.select(
            "doc_id",
            "corpus_id",
            "n_matching",
            F.count("*").over(Window.partitionBy("doc_id")).alias("ncand"),
            F.row_number().over(w_best).alias("rk"),
        )
        .filter(col("rk") == 1)
    )
    report = sigs.filter(is_batch).select("doc_id").join(best, "doc_id", "left")
    return report.select(
        "doc_id",
        F.coalesce(col("ncand"), F.lit(0)).cast("bigint").alias("n_candidates"),
        col("corpus_id").alias("best_match_id"),
        col("n_matching").cast("bigint").alias("best_n_matching"),
        F.coalesce(
            col("n_matching") >= F.lit(MINHASH_K * EST_THRESHOLD), F.lit(False)
        ).alias("is_dup"),
    )


# ---------------------------------------------------------------------------
# MinHash estimator accuracy report (sketch-vs-exact evaluation)
# ---------------------------------------------------------------------------

MINHASH_ERROR_ORACLE = (
    SHINGLES_CTE
    + f"""
, hashed AS (
  SELECT doc_id,
         list_transform(sh, s -> ('0x' || substr(md5(s), 1, 8))::BIGINT) AS hs
  FROM sh),
sigs AS (SELECT doc_id, {_SIG_SQL} AS sig FROM hashed),
bands AS (
  SELECT doc_id, b.band_id,
         array_to_string(sig[b.band_id*{BAND_WIDTH}+1 : b.band_id*{BAND_WIDTH}+{BAND_WIDTH}], ',') AS band_key
  FROM sigs, (SELECT UNNEST(generate_series(0, {LSH_BANDS - 1})) AS band_id) b
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band_id = b.band_id AND a.band_key = b.band_key AND a.doc_id < b.doc_id
),
hsets AS (SELECT doc_id, list_distinct(hs) AS hset FROM hashed),
scored AS (
  SELECT c.doc_a, c.doc_b,
    CAST(list_sum(list_transform(generate_series(1, {MINHASH_K}),
         i -> CASE WHEN sa.sig[i] = sb.sig[i] THEN 1 ELSE 0 END)) AS BIGINT) AS n_matching,
    CAST(len(list_intersect(ha.hset, hb.hset)) AS BIGINT) AS n_inter,
    CAST(len(list_distinct(list_concat(ha.hset, hb.hset))) AS BIGINT) AS n_union
  FROM cand c
  JOIN sigs sa ON c.doc_a = sa.doc_id
  JOIN sigs sb ON c.doc_b = sb.doc_id
  JOIN hsets ha ON c.doc_a = ha.doc_id
  JOIN hsets hb ON c.doc_b = hb.doc_id
)
SELECT doc_a, doc_b, n_matching,
  CAST(n_matching AS DOUBLE) / {MINHASH_K} AS est_jaccard,
  CAST(n_inter AS DOUBLE) / CAST(n_union AS DOUBLE) AS true_jaccard,
  ABS(CAST(n_matching AS DOUBLE) / {MINHASH_K}
      - CAST(n_inter AS DOUBLE) / CAST(n_union AS DOUBLE)) AS abs_err
FROM scored
"""
)


@register("minhash_error_report", oracle=MINHASH_ERROR_ORACLE)
def minhash_error_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-accuracy audit of the MinHash estimator: for EVERY
    LSH-banded candidate pair (no estimate threshold — including the
    pairs `dedup_minhash_lsh` would discard), the k=16 signature
    estimate beside the EXACT shingle-set Jaccard and the absolute
    error. "Measure, don't guess" for the dedup pipeline itself: this
    is the per-corpus calibration that says whether 16 permutations
    and a 0.5 cutoff are right for THIS data before a 100-TB pass
    commits to them (Broder '97 gives std ≈ √(J(1−J)/k) ≈ 0.125 at
    J=0.5 — the report shows the realized distribution).

    The exact Jaccard is computed ONLY for banded candidates — never
    all pairs — so the audit costs one extra bounded join over the
    dedup run it audits. The candidate table is near-dup-bounded
    (tiny next to the corpus), so it BROADCASTS into the shingle-set
    join and the corpus-side arrays never shuffle; at extreme
    candidate counts the same plan degrades gracefully to a hash
    join keyed on doc_id. Set sizes compare hash-distinct shingles
    (the same md5-60-bit family both engines share), so
    intersection/union counts are bitwise comparable by
    construction.
    """
    sigs = _minhash_sigs(spark, sf_dir)

    band_id = F.explode(F.sequence(F.lit(0), F.lit(LSH_BANDS - 1))).alias("band_id")
    bands = sigs.select("doc_id", "sig", band_id).select(
        "doc_id",
        "sig",
        "band_id",
        F.concat_ws(
            ",", F.slice(col("sig"), col("band_id") * BAND_WIDTH + 1, BAND_WIDTH)
        ).alias("band_key"),
    )
    a = bands.select(
        col("doc_id").alias("doc_a"),
        col("band_id").alias("ba"),
        col("band_key").alias("ka"),
        col("sig").alias("sig_a"),
    )
    b = bands.select(
        col("doc_id").alias("doc_b"),
        col("band_id").alias("bb"),
        col("band_key").alias("kb"),
        col("sig").alias("sig_b"),
    )
    cand = (
        a.join(b, (col("ba") == col("bb")) & (col("ka") == col("kb")))
        .filter(col("doc_a") < col("doc_b"))
        .select("doc_a", "doc_b", "sig_a", "sig_b")
        .distinct()
    )
    sh = _shingled(spark, sf_dir)
    hsets = sh.select(
        "doc_id", F.array_distinct(shingle_hashes(col("sh"))).alias("hset")
    )
    ha = hsets.select(col("doc_id").alias("doc_a"), col("hset").alias("hset_a"))
    hb = hsets.select(col("doc_id").alias("doc_b"), col("hset").alias("hset_b"))
    n_match = F.size(
        F.filter(
            F.zip_with(col("sig_a"), col("sig_b"), lambda x, y: x == y),
            lambda m: m,
        )
    )
    est = n_match.cast("double") / MINHASH_K
    scored = (
        ha.join(F.broadcast(cand), "doc_a")
        .join(F.broadcast(hb.join(F.broadcast(cand.select("doc_b").distinct()), "doc_b")), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            n_match.cast("bigint").alias("n_matching"),
            est.alias("est_jaccard"),
            F.size(F.array_intersect(col("hset_a"), col("hset_b")))
            .cast("bigint")
            .alias("n_inter"),
            F.size(F.array_union(col("hset_a"), col("hset_b")))
            .cast("bigint")
            .alias("n_union"),
        )
    )
    true_j = col("n_inter").cast("double") / col("n_union").cast("double")
    return scored.select(
        "doc_a",
        "doc_b",
        "n_matching",
        "est_jaccard",
        true_j.alias("true_jaccard"),
        F.abs(col("est_jaccard") - true_j).alias("abs_err"),
    )


# ---------------------------------------------------------------------------
# Cluster-size-aware sampling (Horvitz–Thompson soft dedup)
# ---------------------------------------------------------------------------

WSAMPLE_SCALE = 1_000_000  # md5 keep-key resolution

#: extends COMPONENTS_ORACLE like CANONICAL_ORACLE does: component
#: membership for every document (singletons self-componented),
#: cluster sizes, then the deterministic keep rule
#: md5_bucket(doc_id) · cluster_size < SCALE  ⇒  P(keep) ≈ 1/size.
WEIGHTED_DEDUP_ORACLE = COMPONENTS_ORACLE.replace(
    "SELECT node AS doc_id, MIN(r) AS component_id FROM reach GROUP BY node",
    f""", comp AS (
  SELECT node AS doc_id, MIN(r) AS component_id FROM reach GROUP BY node
),
alldocs AS (
  SELECT d.doc_id, COALESCE(c.component_id, d.doc_id) AS component_id
  FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id
),
wsz AS (
  SELECT component_id, CAST(COUNT(*) AS BIGINT) AS cluster_size
  FROM alldocs GROUP BY component_id
)
SELECT a.doc_id, a.component_id, s.cluster_size,
  (('0x' || substr(md5(CAST(a.doc_id AS VARCHAR)), 1, 8))::BIGINT
     % {WSAMPLE_SCALE}) * s.cluster_size < {WSAMPLE_SCALE} AS keep
FROM alldocs a JOIN wsz s ON s.component_id = a.component_id""",
)


@register("dedup_weighted_sampling", oracle=WEIGHTED_DEDUP_ORACLE)
def dedup_weighted_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SOFT dedup by cluster-size-aware sampling: instead of keeping
    one canonical document per near-dup cluster
    (`dedup_canonical_docs`), keep each member independently with
    probability ≈ 1/cluster_size — the Horvitz–Thompson estimator's
    sampling design, which preserves corpus-level expectations while
    collapsing duplicate mass (what production corpus curation does
    when hard dedup would distort the topic mix; every kept row's
    inverse-probability weight IS its cluster_size column).

    The keep decision is a PURE FUNCTION of doc_id (md5-prefix bucket
    · cluster_size < {WSAMPLE_SCALE}), the house replay-stable
    sampling trick (`crossfold_assign_docs`, `train_test_split`):
    re-running the pipeline keeps the identical subset, and both
    engines agree bit-for-bit with no RNG anywhere. Singletons have
    cluster_size 1 and are always kept.

    Scale shape: components come from the memoized near-dup pair
    graph (postings artifact); the component table holds only
    near-dup members, so the corpus-side left join is effectively
    broadcast at scale (AQE); cluster sizes aggregate the tiny
    component table; the keep predicate is map-side arithmetic. The
    text column never shuffles.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    comp = dedup_components(spark, sf_dir)
    alldocs = docs.join(comp, "doc_id", "left").select(
        "doc_id",
        F.coalesce(col("component_id"), col("doc_id")).alias("component_id"),
    )
    sizes = alldocs.groupBy("component_id").agg(
        F.count("*").cast("bigint").alias("cluster_size")
    )
    bucket = (
        F.conv(F.substring(F.md5(col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("bigint")
        % WSAMPLE_SCALE
    )
    return alldocs.join(sizes, "component_id").select(
        "doc_id",
        "component_id",
        "cluster_size",
        (bucket * col("cluster_size") < WSAMPLE_SCALE).alias("keep"),
    )


dedup_weighted_sampling.__doc__ = dedup_weighted_sampling.__doc__.replace(
    "{WSAMPLE_SCALE}", str(WSAMPLE_SCALE)
)


# ---------------------------------------------------------------------------
# Reciprocal (mutual) nearest neighbors over the LSH candidate graph
# ---------------------------------------------------------------------------


def _mutual_nn_oracle() -> str:
    """The banded sign-LSH construction (same literal hyperplanes,
    same adaptive bits-from-COUNT(*) geometry), followed by per-vector
    best-candidate selection on BOTH sides and the reciprocity join."""
    from iot_sparkstreaming_spark.queries.similarity import (
        N_BANDS,
        _band_bucket_sql,
        _geo_sql,
    )

    band_selects = "\nUNION ALL\n".join(
        f"  SELECT vec_id, v, {b} AS band, {_band_bucket_sql('v', b)} AS bucket"
        f" FROM e, geo"
        for b in range(N_BANDS)
    )
    cos = (
        "ROUND(list_dot_product(ea.v, eb.v) / sqrt(list_dot_product(ea.v, ea.v))"
        " / sqrt(list_dot_product(eb.v, eb.v)), 6)"
    )
    return f"""
WITH geo AS (
  {_geo_sql()}
),
e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
bands AS (
{band_selects}
),
cand AS (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id
),
scored AS (
  SELECT vec_a, vec_b, {cos} AS cosine
  FROM cand
  JOIN e ea ON ea.vec_id = vec_a
  JOIN e eb ON eb.vec_id = vec_b
),
sym AS (
  SELECT vec_a AS src, vec_b AS dst, cosine FROM scored
  UNION ALL
  SELECT vec_b AS src, vec_a AS dst, cosine FROM scored
),
best AS (
  SELECT src, dst, cosine FROM sym
  QUALIFY ROW_NUMBER() OVER (
    PARTITION BY src ORDER BY cosine DESC, dst
  ) = 1
)
SELECT a.src AS vec_a, a.dst AS vec_b, a.cosine
FROM best a JOIN best b ON a.dst = b.src AND b.dst = a.src AND a.src < b.src
"""


@register("mutual_nn_pairs", oracle=_mutual_nn_oracle())
def mutual_nn_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RECIPROCAL nearest-neighbor pairs over the banded sign-LSH
    candidate graph: (a, b) qualifies only when b is a's best-cosine
    candidate AND a is b's — the classic high-precision matching rule
    (Hungarian-lite) that record linkage and bitext mining use when a
    raw threshold over-merges: mutuality is a structural test no
    single cutoff provides, and it pairs each vector with at most one
    partner. Ties break to the smaller partner id on the
    6-dp-rounded cosine, so the pick is deterministic on both
    engines.

    Scale shape: everything downstream of the banded candidate join
    is candidate-bounded — the symmetric expansion doubles candidate
    rows, the per-source argmax is one rank window on the src key,
    and the reciprocity check is a self-join of the (|vectors|-row)
    best table on (src, dst). No all-pairs anywhere; the scored
    candidate table itself is the shared :func:`_lsh_scored_pairs`
    artifact (one build serves this query and
    ``dedup_embedding_cosine``), so warm sessions start from the
    persisted pair cosines.
    """
    from pyspark.sql.window import Window

    scored = _lsh_scored_pairs(spark, sf_dir)
    sym = scored.select(
        col("vec_a").alias("src"), col("vec_b").alias("dst"), "cosine"
    ).unionByName(
        scored.select(
            col("vec_b").alias("src"), col("vec_a").alias("dst"), "cosine"
        )
    )
    w = Window.partitionBy("src").orderBy(col("cosine").desc(), col("dst").asc())
    best = (
        sym.withColumn("rk", F.row_number().over(w))
        .filter(col("rk") == 1)
        .select("src", "dst", "cosine")
    )
    b2 = best.select(col("src").alias("b_src"), col("dst").alias("b_dst"))
    return (
        best.join(
            b2,
            (col("dst") == col("b_src"))
            & (col("b_dst") == col("src"))
            & (col("src") < col("b_src")),
        )
        .select(
            col("src").alias("vec_a"), col("dst").alias("vec_b"), "cosine"
        )
    )
