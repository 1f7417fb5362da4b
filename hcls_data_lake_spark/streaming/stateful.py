"""Custom stateful streaming operators (applyInPandasWithState).

The reference's dedup registry and catalog are per-key state mutated by
each message (front_door_lambda.py:27-31,59-63); in Structured Streaming
that is keyed state managed by the engine. This module implements a
running per-key aggregate with explicit GroupState — the building block
for custom stateful logic the built-in operators can't express.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

COUNT_STATE_SCHEMA = "n bigint, total double"


def _count_output_schema(sdf: DataFrame, key: str) -> str:
    """Output schema DERIVED from the key column's actual type — a
    hardcoded `user_id bigint` silently mislabels any other key and
    crashes outright on a non-bigint one (the Arrow writer can't coerce
    a string key into the declared bigint slot)."""
    key_type = sdf.schema[key].dataType.simpleString()
    return f"{key} {key_type}, n_events bigint, sum_value double"


def running_totals(sdf: DataFrame, key: str = "user_id") -> DataFrame:
    """Per-key running (count, sum) maintained in GroupState; each
    micro-batch emits the key's updated totals. With a single
    availableNow batch the emission equals the batch aggregate, which is
    what the oracle checks; multi-batch behavior is pinned in unit tests."""

    def update(
        key_tuple: tuple,
        batches: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (n, total) = state.get if state.exists else (0, 0.0)
        for pdf in batches:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame(
            {
                key: [key_tuple[0]],
                "n_events": [n],
                "sum_value": [round(total, 2)],
            }
        )

    return sdf.groupBy(key).applyInPandasWithState(
        update,
        outputStructType=_count_output_schema(sdf, key),
        stateStructType=COUNT_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def tws_running_totals(sdf: DataFrame, key: str = "user_id") -> DataFrame:
    """The same per-key running totals on the TransformWithState API
    (Spark 4's successor to applyInPandasWithState): state lives in
    named typed handles (getValueState) instead of one opaque tuple,
    the processor is an object with init/close lifecycle, and the
    runtime requires the RocksDB state store (changelog-checkpointed,
    memory-bounded — the 100 TB state backend; the caller sets the
    provider conf). Emission contract matches running_totals, so the
    same checks verify both APIs.

    ENVIRONMENT GATE: the TransformWithState driver AND data workers
    import `google.protobuf` for the state-server protocol; without it
    the stream crashes at start
    (STREAMING_PYTHON_RUNNER_INITIALIZATION_FAILURE). Sessions built by
    hcls.session.get_spark activate the machine's vendored pure-Python
    protobuf runtime and export it to the workers
    (compat/protobuf_vendor), so this TRUE path runs here; callers on a
    foreign session should gate on
    compat.protobuf_vendor.workers_have_protobuf. Requires the RocksDB
    state store provider (TWS state uses multiple column families,
    which HDFSBackedStateStoreProvider cannot host)."""
    from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    key_field = sdf.schema[key]

    class Totals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState("totals", "n BIGINT, total DOUBLE")

        def handleInputRows(self, key_tuple, rows, timer_values):
            # ONE state-server round-trip, not two: ValueState.get()
            # returns None for an absent value (value_state_client.py),
            # so an exists() probe is a wasted RPC per key per batch.
            # At fixture scale the cut measured -0.9% (the state dialogue
            # is not the TWS floor; BASELINE.md r8), but over a real
            # socket each round-trip costs a syscall and a protobuf
            # serialize/parse per key per batch.
            got = self._state.get()
            n, total = got if got is not None else (0, 0.0)
            for pdf in rows:
                n += len(pdf)
                total += float(pdf["value"].sum())
            self._state.update((n, total))
            yield pd.DataFrame(
                {
                    key: [key_tuple[0]],
                    "n_events": [n],
                    "sum_value": [round(total, 2)],
                }
            )

        def close(self) -> None:
            pass

    # output key column/type derived from the actual grouping column
    # (same reason as _count_output_schema)
    out_schema = StructType(
        [
            StructField(key, key_field.dataType),
            StructField("n_events", LongType()),
            StructField("sum_value", DoubleType()),
        ]
    )
    return sdf.groupBy(key).transformWithStateInPandas(
        Totals(),
        outputStructType=out_schema,
        outputMode="Update",
        timeMode="None",
    )


def tws_topk(sdf: DataFrame, key: str = "user_id", k: int = 3) -> DataFrame:
    """Per-key streaming TOP-K via TransformWithState LIST state — the
    state shape the old applyInPandasWithState API cannot express
    cleanly (its single state tuple would need manual array packing;
    TWS getListState gives an appendable, independently-evolvable typed
    collection). Each batch merges the incoming (value, event_id) rows
    into the key's retained top-k list (value DESC, event_id ASC
    tie-break — fully deterministic) and emits the list as (key, rnk,
    value, event_id) rows. State per key is bounded at k rows by
    construction — the 100 TB property: no key's state grows with its
    event count. Same environment gate as tws_running_totals (vendored
    protobuf + RocksDB provider)."""
    from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle
    from pyspark.sql.types import (
        DoubleType,
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    key_field = sdf.schema[key]

    class TopK(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._top = handle.getListState(
                "topk", "value DOUBLE, event_id BIGINT"
            )

        def handleInputRows(self, key_tuple, rows, timer_values):
            cur = [(float(v), int(e)) for (v, e) in self._top.get()]
            for pdf in rows:
                cur.extend(
                    zip(
                        pdf["value"].astype(float),
                        pdf["event_id"].astype(int),
                    )
                )
            cur.sort(key=lambda t: (-t[0], t[1]))
            cur = cur[:k]
            self._top.put(cur)
            yield pd.DataFrame(
                {
                    key: [key_tuple[0]] * len(cur),
                    "rnk": list(range(1, len(cur) + 1)),
                    "value": [v for v, _ in cur],
                    "event_id": [e for _, e in cur],
                }
            )

        def close(self) -> None:
            pass

    out_schema = StructType(
        [
            StructField(key, key_field.dataType),
            StructField("rnk", IntegerType()),
            StructField("value", DoubleType()),
            StructField("event_id", LongType()),
        ]
    )
    return sdf.groupBy(key).transformWithStateInPandas(
        TopK(),
        outputStructType=out_schema,
        outputMode="Update",
        timeMode="None",
    )


def pandas_state_topk(
    sdf: DataFrame, key: str = "user_id", k: int = 3
) -> DataFrame:
    """applyInPandasWithState twin of :func:`tws_topk` for sessions
    whose workers lack protobuf: the bounded top-k list rides in two
    ARRAY-typed state fields (the old API's closest analog of TWS list
    state — one opaque row, manually packed). Identical emission
    contract and determinism (value DESC, event_id ASC)."""
    key_type = sdf.schema[key].dataType.simpleString()

    def update(
        key_tuple: tuple,
        batches: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            vals, ids = state.get
            cur = list(zip(vals, ids))
        else:
            cur = []
        for pdf in batches:
            cur.extend(
                zip(pdf["value"].astype(float), pdf["event_id"].astype(int))
            )
        cur.sort(key=lambda t: (-t[0], t[1]))
        cur = cur[:k]
        state.update(
            ([v for v, _ in cur], [int(e) for _, e in cur])
        )
        yield pd.DataFrame(
            {
                key: [key_tuple[0]] * len(cur),
                "rnk": list(range(1, len(cur) + 1)),
                "value": [v for v, _ in cur],
                "event_id": [int(e) for _, e in cur],
            }
        )

    return sdf.groupBy(key).applyInPandasWithState(
        update,
        outputStructType=(
            f"{key} {key_type}, rnk int, value double, event_id bigint"
        ),
        stateStructType="vals array<double>, ids array<bigint>",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ---------------------------------------------------------------------------
# Inactivity-closed sessions via event-time timers
# ---------------------------------------------------------------------------

SESSION_GAP_US = 1_800_000_000  # 30 min, the q_ts_sessionize gap rule
_MINUTE_US = 60_000_000
_SESSION_OUT = (
    "user_id bigint, start_us bigint, end_us bigint, "
    "n_events bigint, closed_by string"
)


def _session_emit(uid, sessions, closed_by: str) -> pd.DataFrame:
    return pd.DataFrame(
        {
            "user_id": [uid] * len(sessions),
            "start_us": [s[0] for s in sessions],
            "end_us": [s[1] for s in sessions],
            "n_events": [s[2] for s in sessions],
            "closed_by": [closed_by] * len(sessions),
        }
    )


def _session_runs(batches, prev):
    """Fold a key's incoming batches (+ the carried open session) into
    gap-separated runs [(start_us, end_us, n)]; vectorized numpy, no
    per-row Python. `prev` is (start_us, end_us, n) or None.

    Reads the JVM-computed ``us`` BIGINT column, NEVER the TIMESTAMP:
    Arrow ships TIMESTAMP to pandas as SESSION-LOCAL wall time, so
    parsing it here would shift every session bound — and every
    registered timer — by the session's UTC offset while Spark's
    event-time watermark stays UTC (the r11 hostile-sweep catch:
    under America/New_York one trailing session fired early and the
    emitted bounds were 5h off)."""
    import numpy as np

    ts = np.sort(
        np.concatenate(
            [pdf["us"].to_numpy().astype(np.int64) for pdf in batches]
            or [np.empty(0, dtype=np.int64)]
        )
    )
    if len(ts) == 0:
        # No new events for this key: the carried session stays OPEN
        # (TWS never invokes handleInputRows without rows, but the
        # contract must not close a session on silence — only the
        # TIMER may do that; property-tested in test_properties.py).
        return [], prev
    closed: list[tuple[int, int, int]] = []
    if prev is not None:
        if len(ts) and ts[0] - prev[1] <= SESSION_GAP_US:
            pass  # carried session continues into the new data
        else:
            closed.append(prev)
            prev = None
    cuts = np.nonzero(np.diff(ts) > SESSION_GAP_US)[0] + 1
    runs = [
        (int(seg[0]), int(seg[-1]), len(seg))
        for seg in np.split(ts, cuts)
        if len(seg)
    ]
    if prev is not None and runs:
        runs[0] = (prev[0], runs[0][1], prev[2] + runs[0][2])
    elif prev is not None:
        runs = [prev]
    return closed + runs[:-1], (runs[-1] if runs else None)


def session_expiry_ms(end_us: int) -> int:
    """Timer instant for an open session: end + gap, aligned UP to the
    next full minute. The alignment keeps the expiry on an exact
    integer grid every engine reproduces (no ms-vs-us truncation
    ambiguity at the firing boundary) and is the production trick that
    coalesces timer storms — at most one timer tick per key per
    minute no matter how hot the key."""
    return ((end_us + SESSION_GAP_US + _MINUTE_US - 1) // _MINUTE_US) * 60_000


def tws_session_close(sdf: DataFrame) -> DataFrame:
    """Inactivity-closed sessionization on TransformWithState EVENT-TIME
    TIMERS (timeMode="EventTime"): sessions whose closing gap is
    visible in the data emit from handleInputRows ('gap'); each key's
    trailing OPEN session arms a timer at session_expiry_ms(end), and
    handleExpiredTimer emits it ('timer') once the watermark passes.
    Timer semantics pinned by test: a timer fires when
    expiry_ms <= watermark_ms — INCLUSIVE at equality
    (tests/test_streaming.py::test_tws_timer_boundary; the same test
    also documents that timers silently never fire for near-epoch
    event times, a Spark quirk irrelevant to real data). Sessions
    still open at shutdown are never emitted, exactly like a live
    pipeline. Same environment gate as tws_running_totals (vendored
    protobuf + RocksDB provider)."""
    from pyspark.sql.streaming import StatefulProcessor

    class SessionCloser(StatefulProcessor):
        def init(self, handle) -> None:
            self._h = handle
            self._trail = handle.getValueState(
                "trail",
                "start_us BIGINT, end_us BIGINT, n BIGINT, expiry_ms BIGINT",
            )

        def handleInputRows(self, key_tuple, rows, timer_values):
            uid = key_tuple[0]
            got = self._trail.get()
            prev = None
            if got is not None:
                st, en, n0, old_exp = got
                # re-arming below; a stale timer would double-emit
                self._h.deleteTimer(old_exp)
                prev = (int(st), int(en), int(n0))
            closed, trail = _session_runs(rows, prev)
            if closed:
                yield _session_emit(uid, closed, "gap")
            if trail is not None:
                expiry = session_expiry_ms(trail[1])
                self._trail.update((trail[0], trail[1], trail[2], expiry))
                self._h.registerTimer(expiry)

        def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):
            got = self._trail.get()
            if got is not None:
                st, en, n, _exp = got
                self._trail.clear()
                yield _session_emit(key[0], [(int(st), int(en), int(n))], "timer")

        def close(self) -> None:
            pass

    from pyspark.sql import functions as F

    # tz-independent epoch micros computed JVM-side (see _session_runs)
    return sdf.withColumn("us", F.unix_micros("ts")).groupBy(
        "user_id"
    ).transformWithStateInPandas(
        SessionCloser(),
        outputStructType=_SESSION_OUT,
        outputMode="Append",
        timeMode="EventTime",
    )


def pandas_state_session_close(sdf: DataFrame) -> DataFrame:
    """The applyInPandasWithState twin of tws_session_close, on the old
    API's GroupStateTimeout.EventTimeTimeout. Boundary alignment:
    the old API times out only when the watermark advances STRICTLY
    beyond the set timestamp, while TWS timers fire INCLUSIVELY at
    expiry == watermark (both pinned by test_tws_timer_boundary) —
    so the twin arms at expiry_ms - 1, making wm > expiry-1
    equivalent to wm >= expiry and the two paths emission-identical
    (pinned by test_tws_session_close_matches_fallback)."""

    def update(key_tuple, batches, state: GroupState):
        uid = key_tuple[0]
        if state.hasTimedOut:
            st, en, n, _exp = state.get
            state.remove()
            yield _session_emit(uid, [(int(st), int(en), int(n))], "timer")
            return
        prev = None
        if state.exists:
            st, en, n0, _exp = state.get
            prev = (int(st), int(en), int(n0))
        closed, trail = _session_runs(batches, prev)
        if closed:
            yield _session_emit(uid, closed, "gap")
        if trail is not None:
            expiry = session_expiry_ms(trail[1])
            state.update((trail[0], trail[1], trail[2], expiry))
            # -1: strict old-API boundary == inclusive TWS boundary
            state.setTimeoutTimestamp(expiry - 1)
        else:
            state.remove()

    from pyspark.sql import functions as F

    # tz-independent epoch micros computed JVM-side (see _session_runs)
    return sdf.withColumn("us", F.unix_micros("ts")).groupBy(
        "user_id"
    ).applyInPandasWithState(
        update,
        outputStructType=_SESSION_OUT,
        stateStructType=(
            "start_us bigint, end_us bigint, n bigint, expiry_ms bigint"
        ),
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def tws_type_counts(sdf: DataFrame) -> DataFrame:
    """Per-user per-event-type running counts on TWS MAP state — the
    third typed state primitive (value/list/map), each a different
    state-server protocol surface: getMapState gives a per-key
    DICTIONARY whose entries update independently (updateValue) and
    enumerate lazily (iterator), so a key's state grows with its
    DISTINCT map keys (here: the bounded event-type vocabulary), never
    with its event volume, and a hot user's update touches one map
    entry, not a repacked blob — the difference from encoding the same
    dict into a ValueState tuple. Each batch merges the incoming
    (user, type) counts into the map (one RocksDB round-trip per
    UPDATED type, one iterator sweep for emission) and emits the
    key's full current map. Same environment gate as
    tws_running_totals (vendored protobuf + RocksDB provider)."""
    from pyspark.sql.streaming import StatefulProcessor

    class TypeCounts(StatefulProcessor):
        def init(self, handle) -> None:
            self._m = handle.getMapState(
                "counts", "event_type STRING", "n BIGINT"
            )

        def handleInputRows(self, key_tuple, rows, timer_values):
            import collections

            uid = key_tuple[0]
            inc: dict = collections.Counter()
            for pdf in rows:
                inc.update(pdf["event_type"].value_counts().to_dict())
            for et, n in inc.items():
                got = self._m.getValue((et,))
                cur = int(got[0]) if got is not None else 0
                self._m.updateValue((et,), (cur + int(n),))
            out = sorted(
                (k[0], int(v[0])) for k, v in self._m.iterator()
            )
            yield pd.DataFrame(
                {
                    "user_id": [uid] * len(out),
                    "event_type": [k for k, _ in out],
                    "n": [v for _, v in out],
                }
            )

        def close(self) -> None:
            pass

    return sdf.groupBy("user_id").transformWithStateInPandas(
        TypeCounts(),
        outputStructType="user_id bigint, event_type string, n bigint",
        outputMode="Update",
        timeMode="None",
    )


def pandas_state_type_counts(sdf: DataFrame) -> DataFrame:
    """applyInPandasWithState twin of tws_type_counts: the old API has
    no map primitive, so the dict is packed into parallel arrays in
    one ValueState tuple — exactly the repack-the-blob shape the TWS
    map state exists to avoid; emission contract is identical."""

    def update(key_tuple, batches, state: GroupState):
        import collections

        uid = key_tuple[0]
        cur: dict = {}
        if state.exists:
            types, counts = state.get
            cur = dict(zip(types, (int(c) for c in counts)))
        inc: dict = collections.Counter()
        for pdf in batches:
            inc.update(pdf["event_type"].value_counts().to_dict())
        for et, n in inc.items():
            cur[et] = cur.get(et, 0) + int(n)
        keys = sorted(cur)
        state.update((keys, [cur[k] for k in keys]))
        yield pd.DataFrame(
            {
                "user_id": [uid] * len(keys),
                "event_type": keys,
                "n": [cur[k] for k in keys],
            }
        )

    return sdf.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id bigint, event_type string, n bigint",
        stateStructType="types array<string>, counts array<bigint>",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def tws_bootstrap_totals(
    sdf: DataFrame, init_df: DataFrame, key: str = "user_id"
) -> DataFrame:
    """Running totals WARM-STARTED from a batch snapshot via
    TransformWithState's ``initialState`` (r9 — the state-bootstrap
    surface none of the other TWS queries touch): production stateful
    pipelines migrate by seeding the new query's state from a batch
    aggregate of history instead of replaying months of raw events,
    and ``transformWithStateInPandas(initialState=grouped_df)``
    delivers each key's seed row to ``handleInitialState`` exactly
    once, in the first batch, BEFORE any input rows. Arithmetic is
    exact integer cents end-to-end so bootstrap + incremental is
    engine-exact (no float-order ambiguity across the batch/stream
    boundary). Same environment gate and RocksDB requirement as
    tws_running_totals; ``init_df`` must carry (key, n_events,
    cents)."""
    from pyspark.sql.streaming import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )
    from pyspark.sql.types import LongType, StructField, StructType

    key_field = sdf.schema[key]

    class BootTotals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState(
                "totals", "n BIGINT, cents BIGINT"
            )

        def handleInitialState(self, key_tuple, initialState, timer_values):
            # one seed row per key (a batch groupBy output); absent keys
            # simply never get this call and start cold
            self._state.update(
                (
                    int(initialState["n_events"].iloc[0]),
                    int(initialState["cents"].iloc[0]),
                )
            )

        def handleInputRows(self, key_tuple, rows, timer_values):
            got = self._state.get()
            n, cents = got if got is not None else (0, 0)
            for pdf in rows:
                n += len(pdf)
                cents += int(pdf["cents"].sum())
            self._state.update((n, cents))
            yield pd.DataFrame(
                {key: [key_tuple[0]], "n_events": [n], "cents": [cents]}
            )

        def close(self) -> None:
            pass

    out_schema = StructType(
        [
            StructField(key, key_field.dataType),
            StructField("n_events", LongType()),
            StructField("cents", LongType()),
        ]
    )
    return sdf.groupBy(key).transformWithStateInPandas(
        BootTotals(),
        outputStructType=out_schema,
        outputMode="Update",
        timeMode="None",
        initialState=init_df.groupBy(key),
    )


def pandas_state_bootstrap_totals(
    sdf: DataFrame, init_df: DataFrame, key: str = "user_id"
) -> DataFrame:
    """applyInPandasWithState twin of tws_bootstrap_totals for
    protobuf-less foreign sessions: the old API has no initialState
    parameter, so the seed rides a driver-collected dict closed over
    by the update function — FIXTURE-ONLY emulation (the seed relation
    is key-shaped; at scale the TWS initialState path is the only
    correct one, which is exactly why the API exists). Identical
    emission contract, so the same oracle verifies either path."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    seed = {
        r[key]: (int(r["n_events"]), int(r["cents"]))
        for r in init_df.collect()
    }

    def update(key_tuple, batches, state):
        if state.exists:
            n, cents = state.get
        else:
            n, cents = seed.get(key_tuple[0], (0, 0))
        for pdf in batches:
            n += len(pdf)
            cents += int(pdf["cents"].sum())
        state.update((n, cents))
        yield pd.DataFrame(
            {key: [key_tuple[0]], "n_events": [n], "cents": [cents]}
        )

    return sdf.groupBy(key).applyInPandasWithState(
        update,
        outputStructType=f"{key} bigint, n_events bigint, cents bigint",
        stateStructType="n bigint, cents bigint",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
