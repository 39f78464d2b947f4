"""One fold per CEP pattern, two drivers over ``applyInPandasWithState``.

Each sequential CEP pattern — the turn-pair matcher (streaming/matcher.py),
the tool-transition detector (transitions.py) and the error-burst detector
(bursts.py) — is written exactly once, as a fold::

    fold(conv_id, rows, carry, closing) -> (out_rows, carry)

``rows`` are one conversation's turns in turn_idx order, each the tuple
``(turn_idx, role, tool, is_err, ts_us)``; ``carry`` is the pattern
context between calls (pending user turn / last tool / open error run),
a JSON-able dict that is empty when nothing is pending; ``closing``
asks the fold to finalize (evict the pending turn, flush the open run).
This module runs a fold two ways, both keyed by conv_id:

* **ordered driver** (``ordered_stream``) — for sources that deliver
  each conversation's turns in order. State is
  ``(max_idx, last_ts_us, carry_json)``: a forward-only turn_idx
  high-water mark (a row at or below it is a replay and drops — the
  idempotence rule), the event time of the last row folded, and the
  carry. State is removed once the carry is empty. Under
  EventTimeTimeout the key times out when the watermark passes the last
  folded row, and the timeout folds ``[]`` with ``closing=True``.
* **replay driver** (``replay_stream``) — for sources that may reorder
  files or batches. Rows buffer per conversation in state; whenever the
  watermark passes a turn_idx-ordered prefix of them (no earlier row
  can still arrive, since Spark late-drops events below the watermark)
  the prefix replays through the fold, and the conversation closes when
  the watermark passes its last buffered row. State is bounded by what
  a conversation produces within one watermark delay.

Exactness. Both drivers equal the batch operators on the same rows
under two preconditions on the input:

1. ``(conv_id, turn_idx)`` is unique. On a duplicate idx the ordered
   driver keeps the first arrival (stable idx sort within a batch; a
   later batch's copy is below the high-water mark — while the
   conversation holds state: once the carry empties, the state and its
   mark go, and a later copy is folded again), and the replay driver
   keeps the (idx, ts)-least row, because under disorder "first
   arrival" is not deterministic.
2. ts is monotone in turn_idx within a conversation. The ordered driver
   additionally needs in-order delivery; the replay driver is exact on
   ANY delivery permutation. For the replay driver a monotonicity
   violation only DELAYS finalization (the prefix stops at the first
   row the watermark has not passed, in idx order); it never replays
   out of order. Under the parity construction (PARITY_DELAY larger
   than the corpus span, closer sentinels pushing the final watermark)
   nothing finalizes mid-stream and the single terminal replay is exact
   unconditionally.

Latencies and spans divide each µs term by 1e6 before subtracting:
bit-identical to the batch ``cast(ts as double) - cast(ts as double)``
(subtract-then-divide rounds differently at µs fractions and can flip
the 6-dp oracle hash).
"""

from __future__ import annotations

import json
from collections.abc import Callable, Iterable, Iterator
from operator import itemgetter

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.group import GroupedData
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from stellar_etl_spark.config import EngineConfig

Fold = Callable[[str, list, dict, bool], tuple[list, dict]]

ORDERED_STATE_SCHEMA = T.StructType(
    [
        T.StructField("max_idx", T.IntegerType()),
        T.StructField("last_ts_us", T.LongType()),
        T.StructField("carry_json", T.StringType()),
    ]
)

# the buffered rows, one array per row field, plus the carry
REPLAY_STATE_SCHEMA = T.StructType(
    [
        T.StructField("idxs", T.ArrayType(T.IntegerType())),
        T.StructField("roles", T.ArrayType(T.StringType())),
        T.StructField("tools", T.ArrayType(T.StringType())),
        T.StructField("errs", T.ArrayType(T.BooleanType())),
        T.StructField("ts_us", T.ArrayType(T.LongType())),
        T.StructField("carry_json", T.StringType()),
    ]
)

# explicit extension dtypes: object-dtype all-NA columns trip pandas
# concat FutureWarnings inside Spark's Arrow serializer
_PD_DTYPES = {
    "integer": pd.Int32Dtype(),
    "long": pd.Int64Dtype(),
    "string": pd.StringDtype(),
    "double": pd.Float64Dtype(),
    "boolean": pd.BooleanDtype(),
}


def _prep(df: DataFrame, cfg: EngineConfig | None) -> GroupedData:
    """The one projection: is_err computed JVM-side so ``text`` never
    crosses the Python boundary; no watermark when ``cfg`` is None."""
    if cfg is not None:
        df = df.withWatermark("ts", cfg.watermark_delay)
    return df.select(
        "conv_id",
        "turn_idx",
        "role",
        "tool",
        F.coalesce(F.col("text").contains("|error|"), F.lit(False)).alias("is_err"),
        "ts",
    ).groupBy("conv_id")


def _rows(pdfs: Iterable[pd.DataFrame]) -> list[tuple]:
    """Fold rows ``(turn_idx, role, tool, is_err, ts_us)`` as Python
    scalars, pulled column-wise from each Arrow batch. Plain numpy and
    list pulls: a key's batch is often one or two rows, where pandas
    accessors cost more than the rows."""
    out: list[tuple] = []
    for pdf in pdfs:
        ts = pdf["ts"]
        if isinstance(ts.dtype, pd.DatetimeTZDtype):
            ts = ts.dt.tz_convert("UTC").dt.tz_localize(None)
        out += zip(
            pdf["turn_idx"].tolist(),
            pdf["role"].tolist(),
            [t if isinstance(t, str) else None for t in pdf["tool"].tolist()],
            pdf["is_err"].tolist(),
            ts.to_numpy().astype("datetime64[us]").astype("int64").tolist(),
        )
    return out


def frame_builder(schema: T.StructType) -> Callable[[list], pd.DataFrame]:
    """Output rows -> pandas frame with the dtypes ``schema`` maps to."""
    names = schema.fieldNames()
    dtypes = [_PD_DTYPES[f.dataType.typeName()] for f in schema.fields]
    one = pd.DataFrame({n: pd.array([None], dtype=d) for n, d in zip(names, dtypes)})

    def build(rows: list) -> pd.DataFrame:
        if len(rows) == 1:
            # copy-and-fill a 1-row template: every timed-out key emits
            # one row, and building it from arrays costs ~4x as much
            d = one.copy()
            for j, v in enumerate(rows[0]):
                if v is not None:
                    d.iat[0, j] = v
            return d
        return pd.DataFrame(
            {n: pd.array(c, dtype=d) for n, d, c in zip(names, dtypes, zip(*rows))}
        )

    return build


def ordered_fn(fold: Fold, schema: T.StructType, timeout: str):
    """The ordered driver's per-key function (see module doc)."""
    frame = frame_builder(schema)
    timed = timeout == GroupStateTimeout.EventTimeTimeout

    def fn(key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState):
        (conv_id,) = key
        if state.hasTimedOut:
            carry = json.loads(state.get[2])
            state.remove()
            out, _ = fold(conv_id, [], carry, True)
        else:
            max_idx, last_us, carry = -1, 0, {}
            if state.exists:
                max_idx, last_us, carry_json = state.get
                carry = json.loads(carry_json)
            fresh = []
            for r in sorted(_rows(pdfs), key=itemgetter(0)):
                if r[0] > max_idx:
                    fresh.append(r)
                    max_idx, last_us = r[0], r[4]
            out, carry = fold(conv_id, fresh, carry, False)
            if carry:
                state.update((max_idx, last_us, json.dumps(carry)))
                if timed:
                    # the timeout must sit strictly above the watermark
                    state.setTimeoutTimestamp(
                        max(last_us // 1000, state.getCurrentWatermarkMs() + 1)
                    )
            elif state.exists:
                # offsets and state checkpoint together, so a replayed
                # batch re-enters with the matching state version
                state.remove()
        if out:
            yield frame(out)

    return fn


def replay_fn(fold: Fold, schema: T.StructType):
    """The replay driver's per-key function (see module doc)."""
    frame = frame_builder(schema)

    def fn(key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState):
        (conv_id,) = key
        rows: list = []
        carry: dict = {}
        if state.exists:
            *cols, carry_json = state.get
            rows, carry = list(zip(*cols)), json.loads(carry_json)
        wm = state.getCurrentWatermarkMs()
        out: list = []
        if state.hasTimedOut:
            # the final prefix in idx order stops at the first row the
            # watermark has not strictly passed (ts == wm is still legal)
            k = 0
            while k < len(rows) and rows[k][4] // 1000 < wm:
                k += 1
            out, carry = fold(conv_id, rows[:k], carry, k == len(rows))
            rows = rows[k:]
        else:
            # deterministic order, one row per idx: the (idx, ts)-least
            rows = sorted(rows + _rows(pdfs), key=itemgetter(0, 4))
            rows = [r for i, r in enumerate(rows) if i == 0 or rows[i - 1][0] != r[0]]
        if rows:
            state.update((*map(list, zip(*rows)), json.dumps(carry)))
            # wake when the watermark passes the oldest buffered row
            state.setTimeoutTimestamp(max(rows[0][4] // 1000, wm + 1))
        elif state.exists:
            state.remove()
        if out:
            yield frame(out)

    return fn


def ordered_stream(
    df: DataFrame,
    fold: Fold,
    schema: T.StructType,
    timeout: str,
    cfg: EngineConfig | None = None,
) -> DataFrame:
    """Append-mode ordered driver; watermarked on ts when ``cfg`` is
    given (required for EventTimeTimeout)."""
    return _prep(df, cfg).applyInPandasWithState(
        ordered_fn(fold, schema, timeout), schema, ORDERED_STATE_SCHEMA, "append", timeout
    )


def replay_stream(
    df: DataFrame, fold: Fold, schema: T.StructType, cfg: EngineConfig
) -> DataFrame:
    """Append-mode replay driver, watermarked on ts."""
    return _prep(df, cfg).applyInPandasWithState(
        replay_fn(fold, schema),
        schema,
        REPLAY_STATE_SCHEMA,
        "append",
        GroupStateTimeout.EventTimeTimeout,
    )
