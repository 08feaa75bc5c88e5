"""Custom stateful streaming operators (SURVEY.md §2.4 A1-A2, §2.5 T3).

Two reference behaviors need keyed state that outlives a micro-batch:

- **sign-flip sessionization** (module_rpi_ups_hat.c:253-258): the
  session boundary is a *predicate* on consecutive rows, which Spark's
  gap-based ``session_window`` cannot express → ``applyInPandasWithState``
  carrying (last_sign, session_id, t0, pct0) per key.
- **staleness monitor** (consumer.cpp:241-268): when a key goes quiet
  for longer than the tolerance, emit a sentinel-reset row → state
  timeout, the engine form of the reference's 6 s monitor thread.

State per key is O(1) — a handful of scalars — so 10^9 keys is a few
GB of state store spread across executors; both operators shuffle only
on the grouping key. Batch twins (operators/sessionize.py,
operators/staleness.py) are the oracle-checked source of truth; these
mirrors reuse their exact arithmetic.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from sensor_data_pipeline_spark.schemas import SENTINEL_MISSING, STALENESS_TOLERANCE_SEC

# ---------------------------------------------------------------------------
# sign-flip sessionization
# ---------------------------------------------------------------------------

SESSION_OUTPUT = StructType(
    [
        StructField("k", StringType()),
        StructField("tick_ts", TimestampType()),
        StructField("signal", DoubleType()),
        StructField("pct", DoubleType()),
        StructField("session_id", LongType()),
        StructField("use_per_sec", DoubleType()),
        StructField("eta_sec", DoubleType()),
    ]
)

#: (last_sign, session_id, t0 epoch-sec, pct0)
SESSION_STATE = StructType(
    [
        StructField("last_sign", IntegerType()),
        StructField("session_id", LongType()),
        StructField("t0", LongType()),
        StructField("pct0", DoubleType()),
    ]
)


def _batch_rows(pdfs: Iterator[pd.DataFrame], by: str | list[str]) -> pd.DataFrame:
    """All of one key's rows in this micro-batch, in ``by`` order: the
    non-empty Arrow chunks concatenated, then ONE stable sort.
    applyInPandasWithState hands a key's rows over in chunks of at most
    ``spark.sql.execution.arrow.maxRecordsPerBatch`` rows with no order
    across chunks, so sorting chunk by chunk would run a per-key
    recursion out of order whenever a later chunk holds earlier rows."""
    chunks = [pdf for pdf in pdfs if len(pdf)]
    if not chunks:
        return pd.DataFrame()
    return pd.concat(chunks, ignore_index=True).sort_values(by, kind="mergesort").reset_index(drop=True)


def _sign(v: float) -> int:
    return 1 if v > 0 else (-1 if v < 0 else 0)


def _sessionize_group(
    key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Replays the reference's per-tick logic over each micro-batch:
    ``prev * cur <= 0`` starts a new session and resets (t0, pct0);
    rate = (pct0 - pct) / (t - t0 + 1); eta = pct/rate or NA
    (module_rpi_ups_hat.c:200-219, 253-258)."""
    last_sign, session_id, t0, pct0 = state.get if state.exists else (None, 0, 0, 0.0)
    out_rows = []
    for row in _batch_rows(pdfs, "tick_ts").itertuples(index=False):
        cur = float(row.signal)
        epoch = int(pd.Timestamp(row.tick_ts).timestamp())
        pct = float(row.pct)
        if last_sign is None or last_sign * _sign(cur) <= 0:
            session_id += 1
            t0, pct0 = epoch, pct
        last_sign = _sign(cur)
        rate = (pct0 - pct) / (epoch - t0 + 1)
        eta = pct / rate if rate != 0 else None
        out_rows.append((key[0], row.tick_ts, cur, pct, session_id, rate, eta))
    yield pd.DataFrame(out_rows, columns=[f.name for f in SESSION_OUTPUT.fields])
    state.update((last_sign, session_id, t0, pct0))


def sessionize_stream(readings: DataFrame, timeout: str = "NoTimeout") -> DataFrame:
    """Streaming twin of operators/sessionize.py. Input columns:
    k (string key), tick_ts (timestamp), signal, pct (doubles)."""
    return readings.groupBy("k").applyInPandasWithState(
        _sessionize_group,
        outputStructType=SESSION_OUTPUT,
        stateStructType=SESSION_STATE,
        outputMode="append",
        timeoutConf=timeout,
    )


# ---------------------------------------------------------------------------
# staleness monitor (T3)
# ---------------------------------------------------------------------------

STALE_OUTPUT = StructType(
    [
        StructField("k", StringType()),
        StructField("event_ts", TimestampType()),
        StructField("temp_outdoor_celsius", DoubleType()),
        StructField("rh_outdoor", DoubleType()),
        StructField("is_stale", StringType()),  # "fresh" | "stale-reset"
    ]
)

#: last event-time epoch seconds seen for the key
STALE_STATE = StructType([StructField("last_epoch", LongType())])


def _make_staleness_group(tolerance_sec: int):
    def _staleness_group(
        key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        """Pass fresh readings through; when the key's state times out
        (no data within the tolerance), emit one sentinel-reset row —
        the display reset to 888.8 (consumer.cpp:251-266)."""
        cols = [f.name for f in STALE_OUTPUT.fields]
        if state.hasTimedOut:
            state.remove()
            yield pd.DataFrame(
                [(key[0], None, SENTINEL_MISSING, SENTINEL_MISSING, "stale-reset")], columns=cols
            )
            return
        last_epoch = state.get[0] if state.exists else 0
        for pdf in pdfs:
            pdf = pdf.sort_values("event_ts")
            if len(pdf):
                last_epoch = max(last_epoch, int(pd.Timestamp(pdf["event_ts"].iloc[-1]).timestamp()))
            out = pdf.assign(is_stale="fresh")[["k", "event_ts", "temp_outdoor_celsius", "rh_outdoor", "is_stale"]]
            yield out
        state.update((last_epoch,))
        # timeout fires when processing time passes this point with no
        # new data for the key — the engine form of the 6 s monitor
        # loop checking `now - update_time > 3600`.
        state.setTimeoutDuration(tolerance_sec * 1000)

    return _staleness_group


def staleness_monitor_stream(
    readings: DataFrame, tolerance_sec: int = STALENESS_TOLERANCE_SEC
) -> DataFrame:
    """Streaming twin of operators/staleness.py via processing-time
    state timeout. Input columns: k, event_ts, temp_outdoor_celsius,
    rh_outdoor.

    Note for drain-and-stop runs (availableNow): the engine keeps
    triggering state-cleanup batches until every pending timeout has
    fired, so a long tolerance makes the query run ~that long after
    the data is drained. Continuous deployments (the production shape)
    are unaffected — cleanup batches interleave with normal triggers.
    """
    return readings.groupBy("k").applyInPandasWithState(
        _make_staleness_group(tolerance_sec),
        outputStructType=STALE_OUTPUT,
        stateStructType=STALE_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )


# ---------------------------------------------------------------------------
# recursive EWMA (A1 prev-value memory, generalized to a smoother)
# ---------------------------------------------------------------------------

EWMA_OUTPUT = StructType(
    [
        StructField("k", StringType()),
        StructField("event_id", LongType()),
        StructField("ewma", DoubleType()),
    ]
)

#: (s running smoothed value, initialized flag)
EWMA_STATE = StructType(
    [StructField("s", DoubleType()), StructField("init", IntegerType())]
)


def _ewma_group(
    key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """True RECURSIVE exponential smoothing s_t = (s_{t-1} + x_t) / 2
    carried across micro-batches in keyed state. alpha = 1/2 halves
    exactly in binary, so each step costs exactly one float rounding
    (the add) in a fixed order — bit-reproducible by any engine that
    replays the same recursion (the DuckDB recursive-CTE oracle
    does). The reference analog is the prev-value memory the consumer
    keeps per topic (src/modules/dd/consumer.cpp:241-268), upgraded
    from 'remember last' to 'remember a decayed summary'."""
    if state.exists:
        s, init = state.get
    else:
        s, init = 0.0, 0
    out = []
    for row in _batch_rows(pdfs, ["tick_ts", "event_id"]).itertuples(index=False):
        x = float(row.x)
        s = x / 2 if not init else (s + x) / 2
        init = 1
        out.append((key[0], int(row.event_id), s))
    yield pd.DataFrame(out, columns=[f.name for f in EWMA_OUTPUT.fields])
    state.update((s, init))


def ewma_stream(readings: DataFrame, timeout: str = "NoTimeout") -> DataFrame:
    """Streaming recursive EWMA. Input columns: k (string key),
    tick_ts (timestamp), event_id (long), x (numeric signal)."""
    return readings.groupBy("k").applyInPandasWithState(
        _ewma_group,
        outputStructType=EWMA_OUTPUT,
        stateStructType=EWMA_STATE,
        outputMode="append",
        timeoutConf=timeout,
    )


# ---------------------------------------------------------------------------
# token-bucket rate limiter (per-key admission control)
# ---------------------------------------------------------------------------

BUCKET_OUTPUT = StructType(
    [
        StructField("k", StringType()),
        StructField("event_id", LongType()),
        StructField("tokens_after", LongType()),
        StructField("allowed", BooleanType()),
    ]
)

#: (event-time epoch-seconds of last seen event, tokens remaining, initialized)
BUCKET_STATE = StructType(
    [
        StructField("last_es", LongType()),
        StructField("tokens", LongType()),
        StructField("init", IntegerType()),
    ]
)

BUCKET_CAP = 5  # bucket capacity (burst size)
BUCKET_REFILL_SEC = 60  # one token per full minute of EVENT time


def _token_bucket_group(
    key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Per-key token bucket in EVENT time, all-integer state: refill
    floor(delta_seconds / refill) tokens (capped), spend one per
    admitted event. Integer arithmetic end to end means the decision
    sequence is a pure function of the key's (ts, event_id)-ordered
    event list — replayable by a recursive CTE, stable across
    micro-batch boundaries because the state rides GroupState.

    The reference analog is the duty-cycle guard that drops sensor
    ticks arriving faster than the display can refresh
    (src/modules/dd/consumer.cpp throttles redraws); this is the
    keyed, distributed form of that admission control."""
    if state.exists:
        last_es, tokens, init = state.get
    else:
        last_es, tokens, init = 0, BUCKET_CAP, 0
    out = []
    for row in _batch_rows(pdfs, ["tick_ts", "event_id"]).itertuples(index=False):
        es = int(row.tick_ts.value // 1_000_000_000)  # ns -> whole seconds
        if init:
            # clamp the refill delta at 0: an event arriving in a later
            # micro-batch with EARLIER event time must not make the
            # delta negative (Python floor division would then DRAIN
            # tokens); last_es stays monotone for the same reason.
            tokens = min(BUCKET_CAP, tokens + max(0, es - last_es) // BUCKET_REFILL_SEC)
            last_es = max(last_es, es)
        else:
            last_es, init = es, 1
        allowed = tokens >= 1
        if allowed:
            tokens -= 1
        out.append((key[0], int(row.event_id), int(tokens), bool(allowed)))
    yield pd.DataFrame(out, columns=[f.name for f in BUCKET_OUTPUT.fields])
    state.update((int(last_es), int(tokens), init))


def token_bucket_stream(readings: DataFrame, timeout: str = "NoTimeout") -> DataFrame:
    """Streaming per-key rate limiter. Input columns: k (string key),
    tick_ts (timestamp), event_id (long)."""
    return readings.groupBy("k").applyInPandasWithState(
        _token_bucket_group,
        outputStructType=BUCKET_OUTPUT,
        stateStructType=BUCKET_STATE,
        outputMode="append",
        timeoutConf=timeout,
    )


# ---------------------------------------------------------------------------
# prev-value delta (A1) — q260's engine
# ---------------------------------------------------------------------------

DELTA_OUTPUT = StructType(
    [
        StructField("k", StringType()),
        StructField("tick_ts", TimestampType()),
        StructField("value", DoubleType()),
        StructField("delta", DoubleType()),
    ]
)

DELTA_STATE = StructType([StructField("prev", DoubleType())])


def _delta_group(
    key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Per-key previous-value memory: each row's delta from the
    immediately preceding row of the same key (null for the key's
    first row ever), across micro-batch boundaries."""
    prev = state.get[0] if state.exists else None
    out = _batch_rows(pdfs, "tick_ts")
    if out.empty:
        return
    deltas = out["value"].diff()
    if prev is not None:
        deltas.iloc[0] = out["value"].iloc[0] - prev
    out["delta"] = deltas
    out["k"] = key[0]
    state.update((float(out["value"].iloc[-1]),))
    yield out[["k", "tick_ts", "value", "delta"]]


def delta_stream_v1(readings: DataFrame, timeout: str = "NoTimeout") -> DataFrame:
    """Streaming per-key delta over (k, tick_ts, value) rows via
    applyInPandasWithState (the Spark 3 stateful API)."""
    return readings.groupBy("k").applyInPandasWithState(
        _delta_group,
        outputStructType=DELTA_OUTPUT,
        stateStructType=DELTA_STATE,
        outputMode="append",
        timeoutConf=timeout,
    )
