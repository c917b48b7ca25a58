"""Custom stateful streaming operators via ``applyInPandasWithState``.

The reference's only state lived in Cassandra primary keys (SURVEY.md
§2.6); cross-row SEQUENCE state (streaks, per-key running latest) has
no home there and no SQL/window equivalent in a stream. These
operators hold that state in Spark's streaming state store —
checkpointed, partitioned by key hash, recovered on restart.

Every operator is a per-key fold run by :func:`_fold_groups`, the one
place that speaks the ``applyInPandasWithState`` protocol. Spark does
not group by the key but by its bucket, ``pmod(xxhash64(key...),
BUCKETS)``: one Python call per bucket and micro-batch, and one state
row per bucket, ``(keys: array<key struct>, states: array<state>)``.
Inside the call ``_fold_groups`` groups the rows by key, sorts each key's
rows once by event time (stable, nulls last) for the order-sensitive
operators, and runs the fold per key with that key's stored state —
so results are deterministic given batch boundaries and do not depend
on ``spark.sql.execution.arrow.maxRecordsPerBatch``. Null keys form
one key, as Spark groups them.

Why buckets: PySpark's per-group protocol (state JSON, pickling, an
Arrow slice and a pandas frame per group) costs about a millisecond
per group, more than most folds do. The trade-off: a micro-batch
rewrites the whole state row of every bucket it touches, so this
layout loses when few keys out of many are active in a batch; and the
stateful stage runs at most ``BUCKETS`` groups in parallel. The
bucket of a key is part of the checkpoint: xxhash64 (seed 42) and
``BUCKETS`` must stay as they are, or restored state lands in the
wrong bucket. Changing the state layout breaks checkpoint restore —
Spark's state-schema check rejects a checkpoint written per key.

State is O(1) or bounded per key (a few scalars, at most a
fixed-length window), so the store scales with distinct keys, not
events. ``_fold_groups`` is also the one place that sets the timeout:
GroupStateTimeout.NoTimeout, which keeps per-key state forever — a
real deployment with unbounded key cardinality would need event-time
timeouts (and ``state.hasTimedOut`` handling there) to expire idle
keys.
"""

from __future__ import annotations

from collections import Counter
from collections.abc import Callable, Iterator
from typing import TYPE_CHECKING, Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

if TYPE_CHECKING:  # pragma: no cover
    import pandas as pd


#: Hash buckets every operator's keys are spread over. The state store
#: holds one row per bucket, and one Python call folds a whole bucket.
BUCKETS = 64


def _null(v: Any) -> bool:
    """None, NaN or NaT: the nulls of a pandas column's ``tolist()``."""
    return v is None or v != v


def _fold_groups(
    frame: DataFrame,
    by: str | list[str],
    fold: Callable[[tuple, tuple, dict[str, list]], tuple[tuple, list[tuple]]],
    out_schema: T.StructType,
    state_schema: T.StructType,
    init: tuple[Any, ...],
    order: tuple[str, ...] = (),
    mode: str = "append",
) -> DataFrame:
    """Group ``frame`` by ``by`` and run ``fold(key, state, cols)`` once
    per key per micro-batch. ``cols`` maps each column of ``frame`` to
    the key's values in the micro-batch, stably sorted by ``order``
    (nulls last) when given; ``state`` is the stored state tuple, or
    ``init`` for a new key (shared by every new key in a worker, so
    ``fold`` must not mutate it). ``fold`` returns ``(new_state,
    rows)``, each row a tuple in ``out_schema`` order.

    Spark groups by the key's bucket, not by the key: the state row of
    a bucket is ``(keys, states)``, two parallel arrays."""
    by = [by] if isinstance(by, str) else list(by)
    key_fields = [frame.schema[c] for c in by]
    bucket_state = T.StructType(
        [
            T.StructField(
                "keys",
                T.ArrayType(T.StructType([T.StructField(f.name, f.dataType) for f in key_fields])),
            ),
            T.StructField("states", T.ArrayType(state_schema)),
        ]
    )
    # Arrow hands a bigint column with nulls to pandas as float64
    integral = [isinstance(f.dataType, T.IntegralType) for f in key_fields]
    out_cols = [f.name for f in out_schema]

    def fn(
        bucket: tuple,
        pdfs: Iterator["pd.DataFrame"],
        state: GroupState,
    ) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        chunks = list(pdfs)  # usually one: concat would only copy it
        pdf = chunks[0] if len(chunks) == 1 else pd.concat(chunks, ignore_index=True)
        cols = {c: pdf[c].tolist() for c in pdf.columns if c != "__bucket"}
        key_cols = [
            [None if _null(v) else int(v) if i else v for v in cols[c]]
            for c, i in zip(by, integral)
        ]
        groups: dict[tuple, list[int]] = {}
        for row, key in enumerate(zip(*key_cols)):
            groups.setdefault(key, []).append(row)
        if order:  # per row, a sort key with nulls last, as pandas sorts
            rank = list(
                zip(*([(True, 0) if _null(v) else (False, v) for v in cols[c]] for c in order))
            )
        stored = {}
        if state.exists:
            keys, states = state.get
            stored = dict(zip(map(tuple, keys), map(tuple, states)))
        rows: list[tuple] = []
        for key, idx in groups.items():
            if order:
                idx.sort(key=rank.__getitem__)
            key_rows = {c: [v[i] for i in idx] for c, v in cols.items()}
            stored[key], out = fold(key, stored.get(key, init), key_rows)
            rows.extend(out)
        state.update((list(stored), list(stored.values())))
        if rows:  # PySpark skips empty frames; building one costs ~0.7 ms
            yield pd.DataFrame(rows, columns=out_cols)

    bucket = F.pmod(F.xxhash64(*by), F.lit(BUCKETS))
    return frame.withColumn("__bucket", bucket).groupBy("__bucket").applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=bucket_state,
        outputMode=mode,
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


WARN_NONE = "no-use"

STREAK_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.StringType()),
        T.StructField("streak_len", T.IntegerType()),
        T.StructField("machine_timestamp", T.StringType()),
        T.StructField("warning", T.StringType()),
    ]
)

#: state = (current consecutive-warning count,)
STREAK_STATE_SCHEMA = T.StructType([T.StructField("streak", T.IntegerType())])


def warning_streaks(
    warnings: DataFrame,
    min_streak: int = 3,
    order_cols: tuple[str, ...] = ("machine_timestamp",),
) -> DataFrame:
    """Per-user consecutive-warning streak detector.

    Input: the warning pipeline's output stream
    ``(user_id, warning, machine_timestamp, ...)`` — including
    ``no-use`` rows, which RESET the streak (so feed it the
    pre-filter stream, not the alert stream).

    Emits one row per event that extends a streak to
    ``>= min_streak``. The streak counter survives micro-batch
    boundaries and restarts via the state store — the operator the
    reference could not express at all (its per-batch lambdas saw
    one second of data; SURVEY.md §2.8 "no stateful ops").

    ``order_cols`` defines event order WITHIN a micro-batch (stable
    sort). The default millis-string order is what the payload carries;
    pass finer keys (e.g. ``("ts", "event_id")``) when the input has
    sub-millisecond ties and downstream parity needs the batch engine's
    exact tie-break — tests/test_twin_parity.py pins streaming-vs-batch
    equality this way.
    """

    def fold(key, state, cols):
        # output schema declares user_id:string; the grouping key keeps
        # the input's type (bigint for events-derived streams) — coerce.
        user_id = str(key[0])
        (streak,) = state
        rows = []
        for w, ts in zip(cols["warning"], cols["machine_timestamp"]):
            streak = 0 if w == WARN_NONE else streak + 1
            if streak >= min_streak:
                rows.append((user_id, streak, ts, w))
        return (streak,), rows

    in_cols = ["user_id", "warning", "machine_timestamp"] + [
        c for c in order_cols if c not in ("user_id", "warning", "machine_timestamp")
    ]
    return _fold_groups(
        warnings.select(*in_cols),
        "user_id",
        fold,
        STREAK_OUTPUT_SCHEMA,
        STREAK_STATE_SCHEMA,
        (0,),
        order=tuple(order_cols),
    )


LATEST_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.StringType()),
        T.StructField("event_millis", T.LongType()),
        T.StructField("lat", T.StringType()),
        T.StructField("long", T.StringType()),
    ]
)

#: state mirrors the output row (minus the key)
LATEST_STATE_SCHEMA = T.StructType(
    [
        T.StructField("event_millis", T.LongType()),
        T.StructField("lat", T.StringType()),
        T.StructField("long", T.StringType()),
    ]
)


def stateful_latest_location(located: DataFrame) -> DataFrame:
    """Event-time last-value-per-key as a STATE-STORE operator.

    The `latest_location` Cassandra table kept arrival-order last
    write per user (workingTest.scala:235-244 — a bug for late
    data). This operator keeps the max-EVENT-time row per user in
    streaming state and emits the new latest whenever it changes, so
    late rows never regress state — the stateful twin of the
    ``KeyedUpsertSink`` foreachBatch path (streaming/sinks.py), for
    consumers that want a change stream instead of a table.

    Input columns: ``user_id``, ``event_millis`` (bigint), ``lat``,
    ``long`` (strings, per reference fidelity — SURVEY.md §1.2).
    """

    def fold(key, state, cols):
        best = state
        for ms, la, lo in zip(cols["event_millis"], cols["lat"], cols["long"]):
            if ms > best[0]:
                best = (int(ms), la, lo)
        rows = [] if best is state else [(key[0], *best)]
        return best, rows

    return _fold_groups(
        located.select("user_id", "event_millis", "lat", "long"),
        "user_id",
        fold,
        LATEST_OUTPUT_SCHEMA,
        LATEST_STATE_SCHEMA,
        (-1, None, None),
    )


# ---------------------------------------------------------------------------
# Streaming EWMA
# ---------------------------------------------------------------------------

EWMA_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("event_id", T.LongType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("ewma", T.DoubleType()),
    ]
)


def streaming_ewma(events: DataFrame) -> DataFrame:
    """Per-user EWMA as a stateful streaming operator — the STREAMING
    twin of the batch ``ewma_user_value`` query (queries/analytics.py):
    identical dyadic-weight arithmetic (α = 1/2, 16-tap truncation,
    value×10⁴ bigints, one final division), with the per-user
    15-value tail held in streaming state instead of a window frame.
    Twin parity (bitwise) is pinned by tests/test_stateful.py.

    State is O(16 bigints) per user (an array column in the state
    row); partitioning is the key-bucket hash — the one shuffle the
    batch window needs too. Rows are processed in (ts, event_id) order
    WITHIN each micro-batch; cross-batch order follows arrival, the
    streaming contract (the batch twin totally orders by event time —
    parity holds when feeds are in-order, e.g. replayed logs).

    Input columns: ``user_id``, ``event_id``, ``ts``, ``value``.
    """

    def fold(key, state, cols):
        user_id = int(key[0])
        tail = list(state[0])
        rows = []
        for eid, val in zip(cols["event_id"], cols["value"]):
            vc = int(round(float(val) * 10000))
            window = (tail + [vc])[-16:]
            m = len(window)
            scaled = sum(x << (16 - m + i) for i, x in enumerate(window))
            rows.append((user_id, int(eid), vc / 10000.0, scaled / 655360000.0))
            tail = window[-15:]
        return (tail,), rows

    return _fold_groups(
        events.select("user_id", "event_id", "ts", "value"),
        "user_id",
        fold,
        EWMA_OUTPUT_SCHEMA,
        T.StructType([T.StructField("tail", T.ArrayType(T.LongType()))]),
        ([],),
        order=("ts", "event_id"),
    )


TRANSITION_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("from_type", T.StringType()),
        T.StructField("to_type", T.StringType()),
        T.StructField("event_id", T.LongType()),
    ]
)


def streaming_transitions(events: DataFrame) -> DataFrame:
    """Per-user event-type transitions as a stateful streaming
    operator — the STREAMING twin of the pair-derivation stage inside
    the batch ``event_transition_matrix`` query
    (queries/analytics.py): each arriving event emits one
    (from_type, to_type) row against the user's PREVIOUS event, with
    the previous type held in streaming state across micro-batch
    boundaries. Downstream the pairs aggregate exactly like the batch
    matrix (a trivial windowless count); parity over real events data
    is pinned by tests/test_stateful.py.

    State is O(1) per user — a single string — which is the whole
    point: the batch query needs a full per-user sort to derive
    pairs, while the stream derives them incrementally and never
    re-reads history. Rows are processed in (ts, event_id) order
    WITHIN each micro-batch; cross-batch order follows arrival (the
    in-order-feed contract, same as ``streaming_ewma``).

    ``event_id`` of the arriving (``to``) event rides along so every
    emitted pair is uniquely keyed — replay-safe joins and exact
    test comparison, not just count parity.

    Input columns: ``user_id``, ``event_id``, ``ts``, ``event_type``.
    """

    def fold(key, state, cols):
        user_id = int(key[0])
        (last,) = state
        rows = []
        for eid, et in zip(cols["event_id"], cols["event_type"]):
            if last is not None:
                rows.append((user_id, last, et, int(eid)))
            last = et
        return (last,), rows

    return _fold_groups(
        events.select("user_id", "event_id", "ts", "event_type"),
        "user_id",
        fold,
        TRANSITION_OUTPUT_SCHEMA,
        T.StructType([T.StructField("last_type", T.StringType())]),
        (None,),
        order=("ts", "event_id"),
    )


COVERAGE_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("event_id", T.LongType()),
        T.StructField("n_intervals", T.LongType()),
        T.StructField("n_segments", T.LongType()),
        T.StructField("covered_ms", T.LongType()),
    ]
)


def streaming_coverage(events: DataFrame, window_ms: int = 300 * 1000) -> DataFrame:
    """Per-user interval-union coverage as a stateful streaming
    operator — the STREAMING twin of the batch
    ``interval_coverage_user`` sweep-line (queries/analytics.py): each
    event opens a ``window_ms`` activity interval; the operator
    maintains the running union length incrementally and emits one
    row per event with the totals SO FAR (the last row per user
    equals the batch result — pinned by tests/test_stateful.py).

    State is O(1) per user — the open segment's (start, end) plus
    three running counters — which is the point: the batch twin needs
    a full per-user sort, the stream folds the same sweep as events
    arrive and never re-reads history. In-order-feed contract within
    and across micro-batches, same as ``streaming_ewma``.

    Input columns: ``user_id``, ``event_id``, ``ts``.
    """

    def fold(key, state, cols):
        user_id = int(key[0])
        cur_s, cur_e, covered, n_iv, n_seg = state
        rows = []
        for eid, ts in zip(cols["event_id"], cols["ts"]):
            s = int(ts.value // 1_000_000)  # pandas Timestamp → epoch ms
            e = s + window_ms
            if cur_e is None or s >= cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
                n_seg += 1
            else:
                cur_e = max(cur_e, e)
            n_iv += 1
            rows.append((user_id, int(eid), n_iv, n_seg, covered + (cur_e - cur_s)))
        return (cur_s, cur_e, covered, n_iv, n_seg), rows

    return _fold_groups(
        events.select("user_id", "event_id", "ts"),
        "user_id",
        fold,
        COVERAGE_OUTPUT_SCHEMA,
        T.StructType(
            [
                T.StructField("cur_s", T.LongType()),
                T.StructField("cur_e", T.LongType()),
                T.StructField("covered", T.LongType()),
                T.StructField("n_iv", T.LongType()),
                T.StructField("n_seg", T.LongType()),
            ]
        ),
        (None, None, 0, 0, 0),
        order=("ts", "event_id"),
    )


FUNNEL_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("event_id", T.LongType()),
        T.StructField("stage_depth", T.LongType()),
        T.StructField("signup_ms", T.LongType()),
        T.StructField("first_view_ms", T.LongType()),
        T.StructField("first_purchase_ms", T.LongType()),
    ]
)

_FUNNEL_STAGES = ("signup", "view", "purchase")


def streaming_funnel(events: DataFrame) -> DataFrame:
    """Per-user ORDERED funnel as a stateful streaming operator — the
    STREAMING twin of the batch ``ordered_funnel_users`` query
    (queries/mining.py): signup, then a view strictly after it, then a
    purchase strictly after that view, each stage anchoring on its
    earliest qualifying event. Emits one row per event carrying the
    user's depth SO FAR; the final row per user equals the batch
    result for in-order feeds (pinned by tests/test_stateful.py).

    The greedy min-ts anchors make the fold ORDER-ROBUST for ordered
    feeds and O(1): state is three epoch-millis slots — stage k fills
    only when empty and strictly after stage k-1 — versus the batch
    plan's three chained aggregations. This is the live-dashboard
    shape: conversion depth updates per event, no history re-read.

    Input columns: ``user_id``, ``event_id``, ``ts``, ``event_type``.
    """

    def fold(key, state, cols):
        user_id = int(key[0])
        slots = list(state)
        rows = []
        for eid, ts, et in zip(cols["event_id"], cols["ts"], cols["event_type"]):
            ms = int(ts.value // 1_000_000)
            if et == _FUNNEL_STAGES[0]:
                if slots[0] is None:
                    slots[0] = ms
            elif et == _FUNNEL_STAGES[1]:
                if slots[1] is None and slots[0] is not None and ms > slots[0]:
                    slots[1] = ms
            elif et == _FUNNEL_STAGES[2]:
                if slots[2] is None and slots[1] is not None and ms > slots[1]:
                    slots[2] = ms
            depth = sum(s is not None for s in slots)
            rows.append((user_id, int(eid), depth, *slots))
        return tuple(slots), rows

    return _fold_groups(
        events.select("user_id", "event_id", "ts", "event_type"),
        "user_id",
        fold,
        FUNNEL_OUTPUT_SCHEMA,
        T.StructType(
            [
                T.StructField("t1", T.LongType()),
                T.StructField("t2", T.LongType()),
                T.StructField("t3", T.LongType()),
            ]
        ),
        (None, None, None),
        order=("ts", "event_id"),
    )


TWAP_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("event_id", T.LongType()),
        T.StructField("n_intervals", T.LongType()),
        T.StructField("span_ms", T.LongType()),
        T.StructField("twap", T.DoubleType()),
    ]
)


def streaming_twap(events: DataFrame) -> DataFrame:
    """Per-user time-weighted average as a stateful streaming
    operator — the STREAMING twin of the batch
    ``time_weighted_avg_user`` (queries/analytics.py). The batch query
    weights each reading by the gap to its SUCCESSOR (a lead window);
    the stream can't see the future, so it folds the telescoped
    equivalent: when event i arrives, the PREVIOUS reading's value
    accrues over (ts_i − ts_{i−1}) — the same total, accumulated
    backward. Emits one row per event with the TWAP so far; the last
    row per user equals the batch row exactly (pinned by
    tests/test_stateful.py).

    State is O(1) per user: (prev_ms, prev value in 1e4 fixed point,
    running Σ value·gap in the same fixed point, Σ gap, interval
    count). The fixed-point quantization replays Spark's
    double→decimal(18,4) cast EXACTLY: HALF_UP on the SHORTEST
    decimal repr of the double (Spark's Decimal(d) routes through
    BigDecimal.valueOf → Double.toString; verified empirically
    against the cast over adversarial half-way values,
    tests/test_stateful.py) — a float multiply + round() would apply
    banker's rounding to an inexact product and break parity on
    .00005 boundaries. The quotient is reproduced bitwise against the
    batch's decimal→double path by rounding acc/10⁴ ONCE to double
    via Fraction (correctly rounded, exactly like the decimal cast)
    before the IEEE division.

    Input columns: ``user_id``, ``event_id``, ``ts``, ``value``.
    In-order-feed contract within and across micro-batches, same as
    ``streaming_ewma``.
    """

    def fold(key, state, cols):
        from decimal import ROUND_HALF_UP, Decimal
        from fractions import Fraction

        user_id = int(key[0])
        prev_ms, prev_vfp, acc, sum_dt, n_iv = state
        rows = []
        for eid, ts, value in zip(cols["event_id"], cols["ts"], cols["value"]):
            ms = int(ts.value // 1_000_000)
            vfp = int(
                Decimal(repr(float(value)))
                .scaleb(4)
                .to_integral_value(rounding=ROUND_HALF_UP)
            )
            if prev_ms is not None:
                dt = ms - prev_ms
                acc += prev_vfp * dt
                sum_dt += dt
                n_iv += 1
            prev_ms, prev_vfp = ms, vfp
            twap = float(Fraction(acc, 10000)) / float(sum_dt) if sum_dt > 0 else None
            rows.append((user_id, int(eid), n_iv, sum_dt, twap))
        return (prev_ms, prev_vfp, acc, sum_dt, n_iv), rows

    return _fold_groups(
        events.select("user_id", "event_id", "ts", "value"),
        "user_id",
        fold,
        TWAP_OUTPUT_SCHEMA,
        T.StructType(
            [
                T.StructField("prev_ms", T.LongType()),
                T.StructField("prev_vfp", T.LongType()),
                T.StructField("acc", T.LongType()),
                T.StructField("sum_dt", T.LongType()),
                T.StructField("n_iv", T.LongType()),
            ]
        ),
        (None, None, 0, 0, 0),
        order=("ts", "event_id"),
    )


THEIL_SEN_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("event_id", T.LongType()),
        T.StructField("n_seen", T.LongType()),
        T.StructField("n_pairs", T.LongType()),
        T.StructField("theil_sen_slope", T.DoubleType()),
    ]
)

THEIL_SEN_WINDOW = 16  # must match queries/analytics.py TS_WINDOW


def streaming_theil_sen(events: DataFrame) -> DataFrame:
    """Per-user Theil–Sen trend as a stateful streaming operator —
    the STREAMING twin of the batch ``theil_sen_trend_user``
    (queries/analytics.py). The batch query takes the trailing
    {W}-sample window per user; that window IS the telescoped state —
    a bounded deque of (epoch_ms, value) — so the stream holds
    exactly {W} rows per key and recomputes the ≤{W}·({W}−1)/2
    pairwise slopes on each arrival. Emits one row per event with the
    trend so far; the last row per user equals the batch row exactly
    (pinned by tests/test_stateful.py).

    Bitwise parity: each slope is the identical IEEE chain both
    engines run — (v_b − v_a) / ((ms_b − ms_a) / 3600000.0) in
    doubles — and the median is selected by POSITION ((n+1)//2 in
    ascending slope order; Python's sort and the SQL rank agree
    because ties at the median position share one value). No
    quantization is needed, unlike the TWAP twin: the batch query
    never routes through decimal.

    State is O({W}) per user (two parallel arrays + a monotone
    events-seen counter so consumers can identify the latest row
    without trusting event-id ordering), partitioned by
    the key's bucket — the same bounded-window discipline as the batch
    side, so the state store scales with distinct users only.
    In-order-feed contract within and across micro-batches, same as
    ``streaming_ewma``.
    """

    def fold(key, state, cols):
        user_id = int(key[0])
        tms, vals, n_seen = list(state[0]), list(state[1]), state[2]
        rows = []
        for eid, ts, value in zip(cols["event_id"], cols["ts"], cols["value"]):
            ms = int(ts.value // 1_000_000)
            tms.append(ms)
            vals.append(float(value))
            n_seen += 1
            if len(tms) > THEIL_SEN_WINDOW:
                tms.pop(0)
                vals.pop(0)
            slopes = []
            for i in range(len(tms)):
                for j in range(i + 1, len(tms)):
                    if tms[i] != tms[j]:
                        slopes.append(
                            (vals[j] - vals[i]) / ((tms[j] - tms[i]) / 3600000.0)
                        )
            n = len(slopes)
            if n:
                slopes.sort()
                med = slopes[(n + 1) // 2 - 1]
            else:
                med = None
            rows.append((user_id, int(eid), n_seen, n, med))
        return (tms, vals, n_seen), rows

    return _fold_groups(
        events.select("user_id", "event_id", "ts", "value"),
        "user_id",
        fold,
        THEIL_SEN_OUTPUT_SCHEMA,
        T.StructType(
            [
                T.StructField("tms", T.ArrayType(T.LongType())),
                T.StructField("vals", T.ArrayType(T.DoubleType())),
                T.StructField("n_seen", T.LongType()),
            ]
        ),
        ([], [], 0),
        order=("ts", "event_id"),
    )


streaming_theil_sen.__doc__ = streaming_theil_sen.__doc__.replace(
    "{W}", str(THEIL_SEN_WINDOW)
)


OHLC_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("event_type", T.StringType()),
        T.StructField("bar_ms", T.LongType()),
        T.StructField("open", T.DoubleType()),
        T.StructField("high", T.DoubleType()),
        T.StructField("low", T.DoubleType()),
        T.StructField("close", T.DoubleType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("volume_e4", T.LongType()),
    ]
)

#: state = the full bar plus the (ms, event_id) keys that DEFINE
#: open/close — kept so late rows can still win/lose the first/last
#: comparison exactly as the batch sort would decide it
OHLC_STATE_SCHEMA = T.StructType(
    [
        T.StructField("open_ms", T.LongType()),
        T.StructField("open_eid", T.LongType()),
        T.StructField("open_v", T.DoubleType()),
        T.StructField("close_ms", T.LongType()),
        T.StructField("close_eid", T.LongType()),
        T.StructField("close_v", T.DoubleType()),
        T.StructField("high", T.DoubleType()),
        T.StructField("low", T.DoubleType()),
        T.StructField("n", T.LongType()),
        T.StructField("vol", T.LongType()),
    ]
)


def streaming_ohlc(events: DataFrame) -> DataFrame:
    """Per-(event_type, hour) OHLC bar maintenance as a stateful
    streaming operator — the STREAMING twin of the batch
    ``ohlc_bars_type_hour`` query (queries/analytics.py): each
    micro-batch folds its rows into O(1) per-bar state and emits the
    bar's CURRENT values; the last emission per key equals the batch
    bar exactly (parity pinned in tests/test_stateful.py).

    Unlike the in-order twins (ewma, transitions), this one is
    ORDER-INDEPENDENT across batches: open/close carry their defining
    (ts-millis, event_id) key in state, so a late row re-fights the
    first/last comparison with exactly the total order the batch
    row_number uses — high/low/count/volume are commutative folds.
    Volume replays Spark's ``ROUND(value * 10000)`` bit-for-bit:
    the double multiply happens first, then half-up rounding on the
    exact binary value (``Decimal(m).quantize(..., ROUND_HALF_UP)``
    — the ``streaming_twap`` discipline).

    State per key: ten scalars. Keys per store: #types × #hours —
    time-bounded retention would need an event-time timeout, which no
    operator here sets (see the module docstring).

    Input columns: ``event_type``, ``event_id``, ``ts``, ``value``.
    """

    def fold(key, state, cols):
        from decimal import ROUND_HALF_UP, Decimal

        event_type, bar_ms = key
        o_ms, o_eid, o_v, c_ms, c_eid, c_v, hi, lo, n, vol = state
        for eid, ms, v in zip(cols["event_id"], cols["ms"], cols["value"]):
            eid, ms, v = int(eid), int(ms), float(v)
            if o_ms is None or (ms, eid) < (o_ms, o_eid):
                o_ms, o_eid, o_v = ms, eid, v
            if c_ms is None or (ms, eid) > (c_ms, c_eid):
                c_ms, c_eid, c_v = ms, eid, v
            hi = v if hi is None or v > hi else hi
            lo = v if lo is None or v < lo else lo
            n += 1
            vol += int(Decimal(v * 10000.0).quantize(Decimal(1), rounding=ROUND_HALF_UP))
        new_state = (o_ms, o_eid, o_v, c_ms, c_eid, c_v, hi, lo, n, vol)
        return new_state, [(event_type, int(bar_ms), o_v, hi, lo, c_v, n, vol)]

    return _fold_groups(
        events.select(
            "event_type",
            F.unix_millis(F.date_trunc("hour", F.col("ts"))).alias("bar_ms"),
            "event_id",
            F.unix_millis(F.col("ts")).alias("ms"),
            "value",
        ),
        ["event_type", "bar_ms"],
        fold,
        OHLC_OUTPUT_SCHEMA,
        OHLC_STATE_SCHEMA,
        (None,) * 8 + (0, 0),
        mode="update",
    )


# ---------------------------------------------------------------------------
# Portable HyperLogLog registers as streaming state (mergeable sketch twin)
# ---------------------------------------------------------------------------

HLL_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("event_type", T.StringType()),
        T.StructField("n_buckets", T.LongType()),
        T.StructField("z_num", T.LongType()),
        T.StructField("hll_estimate", T.LongType()),
    ]
)

HLL_STATE_SCHEMA = T.StructType(
    [T.StructField("registers", T.ArrayType(T.LongType()))]
)


def streaming_hll(events: DataFrame, output_mode: str = "update") -> DataFrame:
    """Portable-HLL distinct-cardinality maintenance as a stateful
    streaming operator — the STREAMING twin of the batch
    ``hll_portable_events`` query (queries/functions.py): state per
    event_type is the full 256-register vector, each micro-batch folds
    its rows in by register-wise MAX, and every emission carries the
    CURRENT (n_buckets, z_num, hll_estimate) triple. Because max-merge
    is commutative, associative, and idempotent, the final emission
    equals the batch sketch in ANY arrival order — the twin pins the
    claim every sketch docstring makes ("mergeable across
    partitions/days") as an executed property, not prose.

    The hash → (bucket, rho) projection is the SHARED Spark-side
    expression from functions/sketch.py (also used by the batch
    query), so parity here is a statement about register merging
    across micro-batch boundaries, not about replaying arithmetic in
    Python; only the trivial Z_num fold and the single bigint
    floor-division run in the Python fold (exact Python ints, the same
    formula both engines evaluate — hll_estimate_from_znum).

    State per key: 256 longs (2 KiB) — constant, never grows with
    cardinality, which is the entire reason sketches exist at 100 TB.

    Input columns: ``event_type``, ``user_id``, ``ts``.
    """
    from iot_sparkstreaming_spark.functions.sketch import (
        HLL_KEY_SQL_DEFAULT,
        HLL_M,
        hll_bucket_rho,
        hll_estimate_from_znum,
        hll_znum,
    )

    def fold(key, state, cols):
        regs = list(state[0])
        for bucket, rho in zip(cols["bucket"], cols["rho"]):
            b, r = int(bucket), int(rho)
            if r > regs[b]:
                regs[b] = r
        z = hll_znum(regs)
        n_buckets = sum(1 for m in regs if m > 0)
        return (regs,), [(key[0], n_buckets, z, hll_estimate_from_znum(z))]

    # output_mode: "update" for live dashboards (memory/console sinks);
    # "append" when the snapshots land in an append-only log (parquet) —
    # each emission is a self-contained register summary either way, and
    # the reader picks the latest by the monotone (n_buckets, -z_num).
    return _fold_groups(
        hll_bucket_rho(events, HLL_KEY_SQL_DEFAULT, "event_type"),
        "event_type",
        fold,
        HLL_OUTPUT_SCHEMA,
        HLL_STATE_SCHEMA,
        ([0] * HLL_M,),
        mode=output_mode,
    )


HW_WINDOW = 32  # must match queries/analytics.py HW_WINDOW

HW_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("event_id", T.LongType()),
        T.StructField("n_seen", T.LongType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("level", T.DoubleType()),
        T.StructField("trend", T.DoubleType()),
        T.StructField("season_next", T.DoubleType()),
        T.StructField("forecast_1", T.DoubleType()),
    ]
)

#: state = the trailing-window value deque + a monotone events-seen
#: counter (the Theil-Sen discipline: the batch query's trailing
#: window IS the telescoped state, so holding it verbatim is what
#: makes the twin exact rather than approximately-converging)
HW_STATE_SCHEMA = T.StructType(
    [
        T.StructField("vals", T.ArrayType(T.DoubleType())),
        T.StructField("n_seen", T.LongType()),
    ]
)


def _hw_fold(xs: list[float]) -> tuple[float, float, float, float] | None:
    """The Holt-Winters additive recursion over an oldest-first value
    window — the IDENTICAL float expression tree, in the identical
    order, as the batch ``holt_winters_seasonal_user`` kernel
    (queries/analytics.py) and its DuckDB RECURSIVE-CTE oracle, so
    all three agree bit-for-bit. Returns (level, trend, season_next,
    forecast_1) or None when the window holds less than one season."""
    n = len(xs)
    if n < 4:
        return None
    x1, x2, x3, x4 = xs[:4]
    l = (x1 + x2 + x3 + x4) / 4.0  # noqa: E741 — matches the batch kernel
    b = 0.0
    s = [x1 - l, x2 - l, x3 - l, x4 - l]
    for t in range(5, n + 1):
        x = xs[t - 1]
        p = (t - 1) % 4
        ln = 0.5 * (x - s[p]) + 0.5 * (l + b)
        bn = 0.25 * (ln - l) + 0.75 * b
        s[p] = 0.5 * (x - ln) + 0.5 * s[p]
        l, b = ln, bn  # noqa: E741
    season_next = s[n % 4]
    return l, b, season_next, l + b + season_next


def streaming_holt_winters(events: DataFrame) -> DataFrame:
    """Per-user Holt-Winters (level + trend + additive m=4 season) as
    a stateful streaming operator — the STREAMING twin of the batch
    ``holt_winters_seasonal_user`` query (queries/analytics.py),
    completing the forecasting ladder's streaming side (EWMA twin =
    level, this = level+trend+season).

    The batch query folds the recursion over the trailing-{W}-sample
    window per user, and the bootstrap (l₄ = mean of the window's
    first 4 values, sᵢ = xᵢ − l₄) RE-ANCHORS whenever the window
    slides — so scalar (l, b, s₀..s₃) state alone cannot stay exact.
    Instead the state IS the trailing window (the ``streaming_theil_sen``
    discipline): a bounded deque of ≤{W} raw double values. Each
    arrival appends, truncates, and re-folds the ≤{W}-step recursion
    via :func:`_hw_fold` — the same Python float ops over the same
    ordered values as the batch kernel, so the last emission per user
    equals the batch row BITWISE (pinned by tests/test_stateful.py,
    including across a micro-batch split and a kill/restart).

    Emits one row per event with the smoothed state so far; rows from
    users still inside their first season (n < 4) carry NULL smoothed
    fields (the batch side excludes those users entirely — consumers
    filter on ``n_samples >= 4`` for exact twin alignment).

    State is O({W} doubles) per user, partitioned by the key's bucket —
    the store scales with distinct users, not events. In-order-feed
    contract within and across micro-batches, same as
    ``streaming_ewma``; rows are sorted by (ts, event_id) inside each
    micro-batch.
    """

    def fold(key, state, cols):
        user_id = int(key[0])
        vals, n_seen = list(state[0]), state[1]
        rows = []
        for eid, value in zip(cols["event_id"], cols["value"]):
            vals.append(float(value))
            if len(vals) > HW_WINDOW:
                vals.pop(0)
            n_seen += 1
            smoothed = _hw_fold(vals) or (None,) * 4
            rows.append((user_id, int(eid), n_seen, len(vals), *smoothed))
        return (vals, n_seen), rows

    return _fold_groups(
        events.select("user_id", "event_id", "ts", "value"),
        "user_id",
        fold,
        HW_OUTPUT_SCHEMA,
        HW_STATE_SCHEMA,
        ([], 0),
        order=("ts", "event_id"),
    )


streaming_holt_winters.__doc__ = streaming_holt_winters.__doc__.replace(
    "{W}", str(HW_WINDOW)
)


CMS_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("j", T.LongType()),
        T.StructField("n_nonzero", T.LongType()),
        T.StructField("total_mass", T.LongType()),
        T.StructField("cells", T.ArrayType(T.LongType())),
    ]
)

#: state = one count-min grid ROW: CMS_WIDTH long counters (8 KiB)
CMS_STATE_SCHEMA = T.StructType(
    [T.StructField("cells", T.ArrayType(T.LongType()))]
)


def streaming_cms(events: DataFrame, output_mode: str = "update") -> DataFrame:
    """Count-min-sketch maintenance as a stateful streaming operator —
    the STREAMING twin of the batch ``cms_heavy_hitters`` sketch build
    (queries/functions.py), and the frequency counterpart of
    ``streaming_hll``: state per grid row ``j`` is the full
    ``CMS_WIDTH``-cell counter vector, each micro-batch folds its rows
    in by CELL-WISE ADD, and every emission carries the current row
    snapshot plus its monotone ``total_mass`` (sum of all cells — one
    increment per input occurrence per row, so the final emission per
    key is the one with the largest mass). Because cell-wise add is
    commutative and associative, the final grid equals the batch
    sketch in ANY arrival order — executing the "mergeable across
    partitions/days" claim the batch docstring makes, across
    micro-batch boundaries and restarts (tests/test_stateful.py).

    The key → (j, bucket) projection is the SHARED Spark-side
    ``cms_j_bucket`` expression from functions/sketch.py (also used by
    the batch query), so parity here is a statement about counter
    merging, not about replaying xxhash64 in Python; the fold is one
    ``Counter`` per micro-batch per row.

    State per key: ``CMS_WIDTH`` longs (8 KiB) — constant, never grows
    with key cardinality, which is the entire reason sketches exist at
    100 TB; parallelism is bounded by ``CMS_DEPTH`` rows, fine because
    ALL heavy lifting (hashing, exploding) is map-side before the
    stateful exchange and each state key absorbs pre-hashed ints.

    Input columns: ``event_type``, ``user_id`` (clicks are counted,
    matching the batch query's grain).
    """
    from iot_sparkstreaming_spark.functions.sketch import (
        CMS_WIDTH,
        cms_j_bucket,
    )

    def fold(key, state, cols):
        cells = list(state[0])
        for bucket, cnt in Counter(cols["bucket"]).items():
            cells[int(bucket)] += int(cnt)
        n_nonzero = sum(1 for c in cells if c > 0)
        return (cells,), [(key[0], n_nonzero, sum(cells), cells)]

    projected = cms_j_bucket(
        events.filter(F.col("event_type") == "click").select("user_id"),
        "user_id",
    ).select("j", "bucket")
    return _fold_groups(
        projected,
        "j",
        fold,
        CMS_OUTPUT_SCHEMA,
        CMS_STATE_SCHEMA,
        ([0] * CMS_WIDTH,),
        mode=output_mode,
    )
