"""Empirical scale validation beyond sf0.1: 1x/10x/100x (round-10
judge task 3, extended a second decade).

Builds ~10x and ~100x synthetic scale-ups of sf0.1 in a gitignored
scratch dir (key-shifted N-way unions — /root/testdata stays
untouched), runs the 15 heaviest warm queries plus a structural-risk
audit set at every scale, and records the measured wall-clock and the
max per-decade exponent (t ∝ data^alpha) in a preserved section of
docs/SCALING.md. A plan that is linear in the data holds alpha <= ~1;
alpha markedly above 1 on the 10x->100x decade flags super-linear
work that a real 100 TB cluster would punish (the first decade is
often still overhead-dominated at these absolute times).

Scale-up model ("N disjoint shards of similar corpora"):

* region/nation: copied 1x (fixed dims — a bigger business has the
  same world map; FK targets stay valid because entity nationkeys are
  not shifted).
* customer/supplier/part/orders/lineitem/events: N key-shifted
  copies. Every entity key is shifted by ``copy * (max_key + 1)``
  (dense packing — nothing downstream that sizes a structure by the
  key domain inflates), and every FK is shifted by the SAME stride as
  its target PK, so referential integrity, degree distributions, and
  per-entity history shapes are exactly preserved; global counts grow
  Nx. Timestamps are unchanged: the model is "Nx the entities over
  the same period", so per-time-window densities grow Nx too.
* documents: doc_id shifted; text passed through a per-copy LETTER
  PERMUTATION (an md5-seeded Fisher-Yates bijection on [a-z], applied
  case-preserving; copy 0 identity). This preserves doc lengths,
  token boundaries, word-length and per-doc statistics, and the
  WITHIN-copy duplicate structure, while making cross-copy shingle
  sets disjoint — without it every document would be an N-way
  cross-copy near-duplicate and LSH/inverted-index candidate pairs
  would grow ~N^2, measuring a property of the synthetic data rather
  than of the plan. (A permutation, not a Caesar rotation: rotations
  collide at copy i ≡ j mod 26, silently reintroducing cross-copy
  exact duplicates once N > 26.)
* embeddings: vec_id shifted; each copy's vectors pass through a
  per-copy deterministic diagonal +-1 sign flip (an orthogonal
  transform, copy 0 identity). Norms and all WITHIN-copy angles are
  exactly preserved (cluster structure intact); cross-copy cosines
  scatter toward 0, so ANN/near-dup candidate sets scale linearly
  instead of quadratically for the same reason as documents.

The generator itself is a test fixture (N small scans of tiny
parquet), not a production path. Artifacts are content-addressed per
sf_dir (artifacts.py), so each scale dir builds and serves its own
index artifacts; the timed runs below are warm (build excluded),
matching docs/SCALING.md's steady-state methodology.

Usage: python tools/scale10_report.py   (first run ~45 min: builds
both fixtures + their artifacts and times ~100x queries; warm reruns
skip the builds). SPARK_GRAFT_SCALE_MAX=10 limits the run to the
first decade (~10 min).
"""

from __future__ import annotations

import hashlib
import math
import os
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

BASE = "/root/testdata/sf0.1"
SCALE_ROOT = os.environ.get("SPARK_GRAFT_SCALE_DIR", str(REPO / ".scale10"))
#: measured scale points (beyond 1x = sf0.1); 100x ~= sf10
SCALES = [10, 100] if os.environ.get("SPARK_GRAFT_SCALE_MAX", "100") == "100" else [10]

#: per-entity dense key strides (max observed key + 1 at sf0.1)
STRIDES = {
    "custkey": 15_000,
    "suppkey": 1_000,
    "partkey": 20_000,
    "orderkey": 150_000,
    "event_id": 100_000,
    "user_id": 1_500,
    "doc_id": 5_000,
    "vec_id": 2_000,
}

#: the 15 heaviest warm queries from the sf0.1 bench record
#: (BENCH_FULL.json, descending warm seconds)
HEAVY15 = [
    "cheapest_path_lead_time",
    "link_prediction_suppliers",
    "ann_incremental_assign",
    "dedup_ngram_jaccard",
    "winnowing_overlap_pairs",
    "ks_drift_events",
    "cusum_changepoint_events",
    "doc_novelty_ratio",
    "graph_assortativity_trade",
    "lm_bigram_likelihood",
    "dedup_edit_distance",
    "cdc_apply_changes",
    "q18_large_volume",
    "rrf_fuse_rankers",
    "mmr_diversified_topk",
]

#: the 8 reference-pipeline queries — the surface a user of the
#: reference actually runs; measured so the parity claim carries a
#: scale story, not just a correctness one
REFERENCE8 = [
    "warning_notification",
    "user_activity_category",
    "user_registration_latest",
    "latest_location",
    "sales_keyed_replace",
    "userhistory_pk_dedup",
    "history_by_user_join",
    "warning_streak_alerts",
]

#: the structural-risk audit set: queries whose candidate generation
#: partitions the corpus with a FIXED fan-out (IVF cells, sign-LSH
#: buckets, minhash bands) or screens a batch against a persisted
#: index — the shapes where a fixed-k/fraction-batch coupling can turn
#: quadratic under scale-up (exactly how ann_incremental_assign's
#: original fraction-batch was caught; see the narrative below)
AUDIT = [
    "dedup_embedding_cosine",
    "mutual_nn_pairs",
    "dedup_incremental_minhash",
    "doc_novelty_incremental",
    "kmeans_centroid_drift",
    "ann_ivf_kmeans",
    "semdedup_cluster_prune",
    "dedup_minhash_lsh",
]

MARKER = "<!-- scale10: generated by tools/scale10_report.py -->"

LOWER = "abcdefghijklmnopqrstuvwxyz"


def write_section(path: str | Path, marker: str, lines: list[str]) -> None:
    """Write one generated section of a doc. The section runs from the
    line that starts with ``marker`` up to the next ``<!-- `` marker
    line, or to the end of the file; it is replaced by ``lines`` and
    every other byte stays as it was. A doc without ``marker`` gets the
    section appended. Each tool passes only its own marker(s)."""
    path = Path(path)
    doc = path.read_text() if path.exists() else ""
    text = "\n".join(lines).rstrip("\n") + "\n"
    start = doc.find(marker)
    while start > 0 and doc[start - 1] != "\n":
        start = doc.find(marker, start + 1)
    if start < 0:
        path.write_text(doc.rstrip("\n") + "\n\n" + text if doc.strip() else text)
        return
    end = doc.find("\n<!-- ", start)
    if end < 0:
        path.write_text(doc[:start] + text)
    else:
        path.write_text(doc[:start] + text + "\n" + doc[end + 1 :])


def best_of(spark, registry: dict, name: str, sf_dir: str, runs: int) -> float:
    """Best wall-clock seconds of ``runs`` timed ``count()`` calls."""
    t = math.inf
    for _ in range(runs):
        t0 = time.perf_counter()
        registry[name].spark(spark, sf_dir).count()
        t = min(t, time.perf_counter() - t0)
    return t


def decade_alphas(pts: list[tuple[float, float]]) -> list[float]:
    """Exponent of t ∝ data^alpha between consecutive (scale, seconds)
    points, normalized by each pair's TRUE scale ratio (a pair that
    spans two decades is not read as one)."""
    return [
        math.log10(max(t2, 1e-4) / max(t1, 1e-4)) / math.log10(c2 / c1)
        for (c1, t1), (c2, t2) in zip(pts, pts[1:])
    ]


def measure(
    spark, registry: dict, names: list[str], ladder: list[tuple[str, float]], runs: int
) -> list[tuple[str, list[float], float]]:
    """Warm best-of-``runs`` seconds of each query at every ``(dir,
    scale)`` point of ``ladder``, and its max per-decade alpha."""
    # warm-up pass: codegen + artifact builds at every scale (cold
    # build cost is reported separately by bench.py / docs/ARTIFACTS.md)
    for name in names:
        for d, _scale in ladder:
            registry[name].spark(spark, d).count()
    # dir-OUTER timing: finish every query at one scale before
    # touching the next, so the small-scale readings are not taken
    # amid the block-manager/GC churn the 100x runs leave behind
    # (measured: 1x readings 3-5x inflated when interleaved)
    timed: dict[str, list[float]] = {n: [] for n in names}
    for d, _scale in ladder:
        for name in names:
            timed[name].append(best_of(spark, registry, name, d, runs))
    out = []
    for name in names:
        best = timed[name]
        alpha = max(decade_alphas([(c, t) for (_d, c), t in zip(ladder, best)]))
        out.append((name, best, alpha))
        shown = " ".join(f"{t:7.2f}s" for t in best)
        print(f"{name:32s} {shown} alpha={alpha:5.2f}")
    return out


def _letter_perm(copy: int) -> str:
    """Deterministic permutation of [a-z] per copy (md5-seeded
    Fisher-Yates); copy 0 is the identity. Distinct per copy with
    overwhelming probability (26! >> copies), so no two copies share
    a vocabulary mapping."""
    if copy == 0:
        return LOWER
    letters = list(LOWER)
    stream = hashlib.md5(f"perm:{copy}".encode()).digest()
    k = 0
    for i in range(25, 0, -1):
        if k >= len(stream):
            stream += hashlib.md5(stream).digest()
        j = stream[k] % (i + 1)
        k += 1
        letters[i], letters[j] = letters[j], letters[i]
    return "".join(letters)


def _sign(copy: int, dim: int) -> float:
    """Deterministic +-1 per (copy, dim); copy 0 is the identity."""
    if copy == 0:
        return 1.0
    h = hashlib.md5(f"{copy}:{dim}".encode()).digest()[0]
    return -1.0 if h & 1 else 1.0


def scale_dir(copies: int) -> str:
    return str(Path(SCALE_ROOT) / f"x{copies}")


def build_fixture(spark, copies: int) -> None:
    from pyspark.sql import functions as F

    out = Path(scale_dir(copies))
    marker = out / "_BUILT"
    if marker.exists():
        return
    out.mkdir(parents=True, exist_ok=True)
    t0 = time.perf_counter()

    def shifted(table: str, shifts: dict[str, int], text_col: str | None = None,
                emb_col: str | None = None):
        src = spark.read.parquet(f"{BASE}/{table}.parquet")
        parts = []
        for i in range(copies):
            cols = []
            perm = _letter_perm(i)
            for name in src.columns:
                c = F.col(name)
                if name in shifts:
                    c = c + F.lit(i * shifts[name]).cast("long")
                elif name == text_col and i:
                    c = F.translate(c, LOWER + LOWER.upper(), perm + perm.upper())
                elif name == emb_col and i:
                    signs = F.array(*[F.lit(_sign(i, d)) for d in range(64)])
                    c = F.zip_with(c, signs, lambda x, s: (x * s).cast("float"))
                cols.append(c.alias(name))
            parts.append(src.select(*cols))
        df = parts[0]
        for p in parts[1:]:
            df = df.unionByName(p)
        df.write.mode("overwrite").parquet(f"{out}/{table}.parquet")

    for t in ("region", "nation"):
        spark.read.parquet(f"{BASE}/{t}.parquet").write.mode("overwrite").parquet(
            f"{out}/{t}.parquet")
    shifted("customer", {"c_custkey": STRIDES["custkey"]})
    shifted("supplier", {"s_suppkey": STRIDES["suppkey"]})
    shifted("part", {"p_partkey": STRIDES["partkey"]})
    shifted("orders", {"o_orderkey": STRIDES["orderkey"], "o_custkey": STRIDES["custkey"]})
    shifted("lineitem", {"l_orderkey": STRIDES["orderkey"], "l_partkey": STRIDES["partkey"],
                         "l_suppkey": STRIDES["suppkey"]})
    shifted("events", {"event_id": STRIDES["event_id"], "user_id": STRIDES["user_id"]})
    shifted("documents", {"doc_id": STRIDES["doc_id"]}, text_col="text")
    shifted("embeddings", {"vec_id": STRIDES["vec_id"]}, emb_col="embedding")
    marker.write_text("ok\n")
    print(f"built {out} in {time.perf_counter() - t0:.1f}s")


def main() -> None:
    # local[32] puts all 32 executor threads inside ONE driver JVM, so
    # the bench default (8g — plenty at sf<=0.1) starves the 100x
    # decade: 32 concurrent tasks over ~60M-row shuffles need the heap
    # a real cluster would spread across executors. Size it to the
    # machine unless the caller already chose.
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "64g")

    from iot_sparkstreaming_spark.queries.registry import load_all
    from iot_sparkstreaming_spark.session import get_spark

    registry = load_all()
    spark = get_spark("scale10")
    spark.sparkContext.setLogLevel("ERROR")
    for copies in SCALES:
        build_fixture(spark, copies)

    ladder = [(BASE, 1)] + [(scale_dir(c), c) for c in SCALES]
    dirs = [d for d, _scale in ladder]
    # cheap warm-up fixture for the streaming metrics below; fall back
    # to the 1x base dir on a machine without the harness testdata so
    # the report degrades to a slower warm-up instead of crashing
    warm_dir = "/root/testdata/sf0.001"
    if not os.path.isdir(warm_dir):
        warm_dir = dirs[0]

    rows = measure(spark, registry, HEAVY15, ladder, runs=3)
    audit_rows = measure(spark, registry, AUDIT, ladder, runs=2)
    ref_rows = measure(spark, registry, REFERENCE8, ladder, runs=2)

    def recheck_flags(rws, runs: int = 5):
        """Adjudicate super-linear flags: a flagged alpha must
        REPRODUCE on a fresh isolated re-measure of its worst decade
        before it is believed. Motivation (round 14, measured): the
        assortativity 100x cell read 24.8 s (alpha 1.26, flagged)
        inside the heavy-set loop while a 6-trial isolated re-measure
        at the same 64g config gave best 12.1 s (alpha 0.88 — matching
        the prior round's 11.9 s cell): the in-context reading carries
        JVM/GC neighborhood state from the surrounding heavy queries,
        ±2x at the 100x cell, which best-of-3 cannot always see
        through. The recheck runs HERE — after the streaming loops,
        the furthest the process gets from the heavy-set churn — with
        more trials; a flag that does not reproduce is annotated, not
        silently replaced, so the table shows both draws."""
        out = []
        for name, best, alpha in rws:
            note = ""
            if alpha > 1.15:
                alphas = decade_alphas([(c, t) for (_d, c), t in zip(ladder, best)])
                i = alphas.index(max(alphas))
                (d1, c1), (d2, c2) = ladder[i], ladder[i + 1]
                t1, t2 = (best_of(spark, registry, name, d, runs) for d in (d1, d2))
                (alpha2,) = decade_alphas([(c1, t1), (c2, t2)])
                verdict = (
                    "reproduced"
                    if alpha2 > 1.15
                    else "did NOT reproduce — in-context GC/JIT state"
                )
                note = (
                    f" (recheck of the {c1}x→{c2}x decade, isolated "
                    f"best-of-{runs}: {t1:.2f}s → {t2:.2f}s, "
                    f"alpha {alpha2:.2f} — {verdict})"
                )
                print(f"recheck {name}: alpha {alpha:.2f} -> {alpha2:.2f}")
            out.append((name, best, alpha, note))
        return out

    def measure_streaming(runs: int = 2) -> list[int]:
        """Sustained input rows/s of the reference warning pipeline
        (readStream -> derive -> classify -> filter -> payload ->
        noop, availableNow run-to-completion) at every scale point —
        the streaming side of the scale story: throughput should HOLD
        or improve as the input grows (bigger inputs amortize
        micro-batch planning), never decay."""
        from iot_sparkstreaming_spark.io.sources import events_stream
        from iot_sparkstreaming_spark.queries.reference import derive_telemetry
        from iot_sparkstreaming_spark.streaming.pipelines import warning_pipeline
        from iot_sparkstreaming_spark.tables import load_table

        def run_once(d: str) -> None:
            fitbit = derive_telemetry(events_stream(spark, d)).withColumnRenamed(
                "event_ms", "machine_timestamp"
            )
            q = (
                warning_pipeline(fitbit)
                .writeStream.format("noop")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

        run_once(warm_dir)  # one-time planner/codegen warm-up
        out = []
        for d in dirs:
            n = load_table(spark, d, "events").count()
            best = math.inf
            for _ in range(runs):
                t0 = time.perf_counter()
                run_once(d)
                best = min(best, time.perf_counter() - t0)
            rps = round(n / best)
            out.append(rps)
            print(f"streaming_warning_noop {d}: {n} rows, {best:.2f}s, {rps} rows/s")
        return out

    stream_rps = measure_streaming()

    def measure_keyed_sink(runs: int = 2) -> list[int]:
        """Sustained input rows/s of the SAME pipeline through the
        transactional keyed_files upsert sink (io/keyed_sink.py) —
        the exactly-once path whose per-epoch manifest commit is the
        kind of per-batch constant that could grow with key
        cardinality; a falling rate across decades would flag that.
        Fresh sink+checkpoint per trial (the writer is transactional
        per checkpoint; reuse would make trials 2+ no-op replays)."""
        import shutil
        import tempfile

        from iot_sparkstreaming_spark.io import keyed_sink
        from iot_sparkstreaming_spark.io.sources import events_stream
        from iot_sparkstreaming_spark.queries.reference import derive_telemetry
        from iot_sparkstreaming_spark.streaming.pipelines import warning_pipeline
        from iot_sparkstreaming_spark.tables import load_table

        keyed_sink.register(spark)

        def run_once(d: str) -> None:
            tmpd = tempfile.mkdtemp(prefix="scale-keyed-sink-")
            try:
                fitbit = derive_telemetry(events_stream(spark, d)).withColumnRenamed(
                    "event_ms", "machine_timestamp"
                )
                q = (
                    warning_pipeline(fitbit)
                    .writeStream.format("keyed_files")
                    .option("path", os.path.join(tmpd, "out"))
                    .option("key", "user_id")
                    .option("version", "machine_timestamp")
                    .option("checkpointLocation", os.path.join(tmpd, "ckpt"))
                    .trigger(availableNow=True)
                    .start()
                )
                q.awaitTermination()
            finally:
                shutil.rmtree(tmpd, ignore_errors=True)

        run_once(warm_dir)  # Python-worker + plan warm-up
        out = []
        for d in dirs:
            n = load_table(spark, d, "events").count()
            best = math.inf
            for _ in range(runs):
                t0 = time.perf_counter()
                run_once(d)
                best = min(best, time.perf_counter() - t0)
            rps = round(n / best)
            out.append(rps)
            print(f"streaming_warning_keyed_sink {d}: {n} rows, {best:.2f}s, {rps} rows/s")
        return out

    sink_rps = measure_keyed_sink()

    # flag adjudication LAST: the process is now as far from the
    # heavy-set allocation churn as it gets without a restart
    rows = recheck_flags(rows)
    audit_rows = recheck_flags(audit_rows)
    ref_rows = recheck_flags(ref_rows)

    cols = ["1x (sf0.1)"] + [f"{c}x" for c in SCALES]
    header = "| query | " + " | ".join(cols) + " | alpha |"
    sep = "|---|" + "---|" * (len(cols) + 1)

    def table(rws):
        out = [header, sep]
        for name, best, alpha, note in rws:
            flag = " **super-linear**" if alpha > 1.15 else ""
            cells = " | ".join(f"{t:.2f}" for t in best)
            out.append(f"| {name} | {cells} | {alpha:.2f}{flag}{note} |")
        return out

    lines = [
        MARKER,
        "",
        "## 10x / 100x scale-up beyond sf0.1 (measured)",
        "",
        "Regenerate with `python tools/scale10_report.py`. The fixtures are",
        "key-shifted 10-way and 100-way unions of sf0.1 (~6 M and ~60 M",
        "lineitem rows — the 100x point is ~sf10, two decades past the",
        "bench SF) in a gitignored scratch dir: FK-consistent key strides,",
        "per-copy text/embedding bijections so duplicate and neighbor",
        "structure scales linearly (see the tool's docstring for the full",
        "model). Warm best-of-3 (heavy set) / best-of-2 (audit) seconds;",
        "`alpha` = max per-decade exponent of t ∝ data^alpha, 1.0 = linear.",
        "alpha > ~1.15 on a measured decade flags super-linear work.",
        "A flag triggers an END-OF-RUN isolated recheck of its worst",
        "decade (best-of-5, after the streaming loops — the furthest the",
        "process gets from the heavy-set allocation churn): round 14",
        "measured the in-context 100x cell swinging ±2x with JVM/GC",
        "neighborhood state (assortativity 24.8 s in-loop vs 12.1 s",
        "isolated, same code/data), so a flag is believed only if it",
        "reproduces; non-reproducing flags stay in the table with their",
        "recheck numbers — both draws shown, neither erased.",
        "",
        "This measurement earned its keep on its first run: it caught",
        "`ann_incremental_assign` at **20.5x** for 10x data (1.62 s ->",
        "33.2 s). Named cause: the \"daily batch\" was defined as a fixed",
        "FRACTION of the corpus (`vec_id % 10 == 0`), so the batch grew",
        "10x with the data and compounded with 10x IVF cell growth into",
        "~100x candidate pairs. Fix: the batch is now the BOUNDED trailing",
        "arrival window (the newest AIA_WINDOW ids, exactly",
        "oracle-mirrored), making the daily cost O(batch) as the docstring",
        "always claimed; the residual cell-size term stays linear and is",
        "held bounded at real scale by growing k ~ sqrt(corpus) at retrain",
        "(k is a Lloyd parameter).",
        "",
        "Third catch (config, not plan): with only the static 32 shuffle",
        "partitions, `link_prediction_suppliers`' wedge groupBy hit ~23M",
        "rows/partition at 100x and went spill-bound (73.3 s, alpha",
        "1.26). Fixed in session.py (shuffles START wide; AQE coalesces",
        "them by measured size, small-SF plans unchanged), then rewritten",
        "in round 11 onto adjacency-list wedge enumeration (now the",
        "shared operators/graph.py wedge_* trio) — current cells are in",
        "the table below, and the round-12 stage-level decomposition plus",
        "its power-law companion measurement (the linkpred-profile",
        "section above) pin the residual at-linear exponent on the",
        "fixture's near-complete shard graph, whose distinct OUTPUT pairs",
        "grow with the wedge mass itself — not on the plan.",
        "",
        "Fourth catch (plan shape): `cusum_changepoint_events` windowed over",
        "`event_type` — 5 distinct keys, so parallelism was capped at 5 no",
        "matter the cluster size (17.1 s at 100x, alpha 0.98, the slowest",
        "linear query). Rewritten as a two-level prefix scan: local prefixes",
        "per (type, monotone time-shard), broadcast per-shard offsets, and a",
        "hash-agg struct argmax instead of the final sort window. Output is",
        "bitwise identical (same oracle hash at every SF); measured 1.4 s at",
        "100x (alpha 0.32), and the shape now scales with executors instead",
        "of type cardinality. The scan is the shared operators/prefix.py",
        "two_level_prefix, which also replaced the serialized windows in",
        "value_equidepth_bins_events (10.4 -> 2.6 s at 100x) and",
        "weighted_median_value_type (12.3 -> 6.0 s) — same hashes, unit",
        "tests cover negative measures, shard-edge ties, NULL order values",
        "and NULL measures. weighted_median additionally SIZE-GATES the",
        "scan (round 11): below SHARD_MIN_BYTES the sharded form's fixed",
        "overhead exceeds the serialized sort it saves, so small inputs",
        "keep the identical-output single-window plan (reclaiming the one",
        "r10 small-SF regression) and the scale fixtures shard.",
        "",
    ] + table(rows) + [
        "",
        "### Structural-risk audit (fixed-fan-out / batch-vs-index shapes)",
        "",
        "The same coupling class as the caught bug, measured explicitly:",
        "IVF cells, sign-LSH buckets, and minhash bands partition the",
        "corpus with a fixed fan-out, and the incremental queries screen a",
        "batch against a persisted index. Content-derived buckets (minhash",
        "bands, grams) stay bounded by true duplicate structure; since",
        "round 11 BOTH space-partition parameterizations actually derive",
        "from the corpus count at build time, oracle-mirrored, instead of",
        "being a documented policy: sign-LSH bits = clamp(log2 n - 6, 4,",
        "16) and the deterministic-IVF centroid stride ~ sqrt(n) (floored",
        "at the fixture geometry; queries/similarity.py lsh_bits /",
        "ivf_stride). The IVF stride balances assignment (n*k) against",
        "the within-cluster pair term (n²/k) at n^1.5 each — the best",
        "single-knob geometry a deterministic centroid subset admits.",
        "",
        "Second measured catch (the 100x decade), FIXED in round 11:",
        "`dedup_embedding_cosine` and `mutual_nn_pairs` consume the",
        "`lsh_scored_pairs` artifact, whose fixed 4-band x 4-bit sign-LSH",
        "had only 16 buckets per band — candidates ~n^2/16 BY CONSTRUCTION,",
        "and the 100x build (200k vectors -> ~10^9 pairs) OOM-spilled. The",
        "banding width is now ADAPTIVE: lsh_bits(n) = clamp(floor(log2 n)",
        "- 6, 4, 16) hyperplanes per band (queries/similarity.py), derived",
        "from the corpus count at index build time and re-derived by every",
        "consumer's DuckDB oracle from the same COUNT(*) (_geo_sql), so the",
        "derivation is hash-checked, not just stated. Bucket occupancy is",
        "held ~2^6 rows, candidates stay linear; fixture sizes (n <= 2047)",
        "floor at the original oracle-pinned 4-bit geometry, so every",
        "sf <= 0.1 hash is unchanged. The 10x fixture selects 8 bits, the",
        "100x fixture 11 — the rows below are the first real 100x cells",
        "for these two queries (tests/test_lsh_adaptive.py pins the",
        "three-way derivation parity).",
        "",
    ] + table(audit_rows) + [
        "",
        "### Reference pipelines under scale",
        "",
        "The 8 reference-pipeline queries — the exact workload a user of",
        "the reference runs today — measured at every scale point (warm",
        "best-of-2), so the parity claim carries a scale story, not just",
        "a correctness one. All are scan/broadcast-join/window shapes that",
        "shuffle at most once on a user key.",
        "",
    ] + table(ref_rows) + [
        "",
        "### Streaming throughput under scale",
        "",
        "Sustained input rows/s of the reference warning pipeline",
        "(readStream -> derive -> classify -> filter -> payload -> noop,",
        "availableNow run-to-completion, best-of-2 after a warm-up pass).",
        "Bigger inputs amortize micro-batch planning, so the rate should",
        "hold or RISE with scale — a falling rate would flag per-batch",
        "state growing with the corpus.",
        "",
        "| query | " + " | ".join(f"{c} rows/s" for c in ["1x"] + [f"{c}x" for c in SCALES]) + " |",
        "|---|" + "---|" * (len(SCALES) + 1),
        "| streaming_warning_noop | " + " | ".join(f"{r:,}" for r in stream_rps) + " |",
        "| streaming_warning_keyed_sink | " + " | ".join(f"{r:,}" for r in sink_rps) + " |",
        "",
        "`keyed_sink` is the transactional exactly-once upsert writer",
        "(io/keyed_sink.py) — same input denominator as the noop row, so",
        "the gap between the rows is the price of the per-epoch manifest",
        "commit + keyed merge; the rate holding (or rising) across decades",
        "shows the per-batch commit constant does NOT grow with key",
        "cardinality.",
        "",
    ]

    write_section(REPO / "docs" / "SCALING.md", MARKER, lines)
    print(f"wrote scale10 section into docs/SCALING.md ({len(rows)} rows)")
    spark.stop()


if __name__ == "__main__":
    main()
