"""The CEP folds and their two drivers (streaming/cep.py), without Spark.

Each pattern is one fold; these tests pin that claim directly on seeded
random turn sequences:

* a fold run over any split of a sequence into batches, with the carry
  passed along (through JSON, as the drivers store it), equals the fold
  over the whole sequence;
* the ordered driver and the replay driver, each run per key through a
  stand-in for Spark's GroupState, emit the same rows on the same
  in-order input;
* the duplicate-idx rules of the shared exactness doc: the ordered
  driver keeps the first arrival, the replay driver the (idx, ts)-least
  row.
"""

from __future__ import annotations

import json
import random

import pandas as pd
import pytest
from pyspark.sql.streaming.state import GroupStateTimeout

from stellar_etl_spark.streaming.bursts import BURST_OUTPUT_SCHEMA, bursts_fold
from stellar_etl_spark.streaming.cep import frame_builder, ordered_fn, replay_fn
from stellar_etl_spark.streaming.matcher import OUTPUT_SCHEMA, matcher_fold
from stellar_etl_spark.streaming.transitions import (
    START,
    TRANS_OUTPUT_SCHEMA,
    transitions_fold,
)

PATTERNS = {
    "matcher": (matcher_fold, OUTPUT_SCHEMA),
    "transitions": (transitions_fold, TRANS_OUTPUT_SCHEMA),
    "bursts": (bursts_fold, BURST_OUTPUT_SCHEMA),
}
SEEDS = range(40)
BASE_US = 1_700_000_000 * 1_000_000
TOOLS = ["search", "calc", "code"]
EVENT = GroupStateTimeout.EventTimeTimeout


def _turns(rng: random.Random, n: int) -> list[tuple]:
    """One conversation's fold rows (turn_idx, role, tool, is_err, ts_us)
    in idx order, ts strictly increasing, errors clustered into runs."""
    rows, ts, err = [], BASE_US + rng.randrange(10**6), False
    for idx in range(n):
        role = rng.choice(["user", "user", "assistant", "tool"])
        tool = rng.choice(TOOLS) if role == "tool" else None
        err = rng.random() < (0.7 if err else 0.25)
        ts += rng.randrange(1, 90_000_000)
        rows.append((idx, role, tool, err, ts))
    return rows


def _splits(rng: random.Random, rows: list) -> list[list]:
    cuts = sorted(rng.sample(range(1, len(rows)), rng.randrange(min(5, len(rows)))))
    return [rows[a:b] for a, b in zip([0] + cuts, cuts + [len(rows)])]


def _pdf(rows: list) -> pd.DataFrame:
    """The projected Arrow batch the drivers receive for one key."""
    return pd.DataFrame(
        {
            "conv_id": ["c"] * len(rows),
            "turn_idx": pd.Series([r[0] for r in rows], dtype="int32"),
            "role": [r[1] for r in rows],
            "tool": pd.Series([r[2] for r in rows], dtype=object),
            "is_err": pd.Series([r[3] for r in rows], dtype=bool),
            "ts": pd.to_datetime([r[4] for r in rows], unit="us"),
        }
    )


class _State:
    """The slice of GroupState the drivers use, for one key."""

    def __init__(self, value, wm: int, timed_out: bool, timeout_ms):
        self.value, self.wm, self.timeout_ms = value, wm, timeout_ms
        self.hasTimedOut = timed_out

    @property
    def exists(self) -> bool:
        return self.value is not None

    @property
    def get(self) -> tuple:
        return tuple(self.value)

    def update(self, value: tuple) -> None:
        json.dumps(value)  # state must hold plain Python values
        self.value = tuple(value)

    def remove(self) -> None:
        self.value = self.timeout_ms = None

    def setTimeoutTimestamp(self, ms: int) -> None:
        assert ms > self.wm, "timeout must sit above the watermark"
        self.timeout_ms = ms

    def getCurrentWatermarkMs(self) -> int:
        return self.wm


class _Key:
    """Spark's per-key contract for one conversation: data calls, then
    an EventTimeTimeout call whenever the watermark passes the key's
    timeout timestamp."""

    def __init__(self, fn):
        self.fn, self.value, self.timeout_ms, self.out = fn, None, None, []

    def _call(self, pdfs: list, wm: int, timed_out: bool) -> None:
        st = _State(self.value, wm, timed_out, self.timeout_ms)
        for df in self.fn(("c",), iter(pdfs), st):
            self.out += [
                tuple(None if pd.isna(v) else v for v in r)
                for r in df.itertuples(index=False)
            ]
        self.value, self.timeout_ms = st.value, st.timeout_ms

    def batch(self, rows: list, wm: int) -> None:
        if self.timeout_ms is not None and self.timeout_ms < wm:
            self._call([], wm, True)
        if rows:
            self._call([_pdf(rows)], wm, False)

    def close(self) -> list:
        while self.value is not None and self.timeout_ms is not None:
            self._call([], 2**62, True)
        return sorted(self.out, key=repr)


def _drive(fn, batches: list[list], wms: list[int]) -> list:
    key = _Key(fn)
    for rows, wm in zip(batches, wms):
        key.batch(rows, wm)
    return key.close()


@pytest.mark.parametrize("name", PATTERNS)
def test_fold_split_equals_whole(name):
    fold, _ = PATTERNS[name]
    for seed in SEEDS:
        rng = random.Random(seed)
        rows = _turns(rng, rng.randrange(1, 40))
        whole, _ = fold("c", rows, {}, True)
        got, carry = [], {}
        for part in _splits(rng, rows):
            out, carry = fold("c", part, carry, False)
            got += out
            carry = json.loads(json.dumps(carry))
        out, carry = fold("c", [], carry, True)
        assert got + out == whole, (name, seed)
        if name != "transitions":  # closing keeps only the last tool
            assert carry == {}


@pytest.mark.parametrize("name", PATTERNS)
def test_ordered_driver_equals_replay_driver(name):
    """Random batch boundaries and watermark advances (about two
    mid-stream timeouts per sequence): the two drivers emit the same
    rows. With the watermark held until the end, both emit the fold of
    the whole sequence."""
    fold, schema = PATTERNS[name]
    for seed in SEEDS:
        rng = random.Random(seed)
        rows = _turns(rng, rng.randrange(1, 40))
        batches = _splits(rng, rows)
        wms, wm = [], 0
        for b in batches:
            # never above the batch's first event: no row is late
            wm = max(wm, b[0][4] // 1000 - rng.choice([0, 1, 60_000, 10**7]))
            wms.append(wm)
        ordered = _drive(ordered_fn(fold, schema, EVENT), batches, wms)
        replay = _drive(replay_fn(fold, schema), batches, wms)
        assert ordered == replay, (name, seed)
        # no mid-stream watermark: both equal the whole-sequence fold,
        # and so does transitions' timeout-free ordered form
        held = [0] * len(batches)
        whole = sorted(fold("c", rows, {}, True)[0], key=repr)
        assert _drive(replay_fn(fold, schema), batches, held) == whole
        assert _drive(ordered_fn(fold, schema, EVENT), batches, held) == whole
        if name == "transitions":
            no_timeout = ordered_fn(fold, schema, GroupStateTimeout.NoTimeout)
            assert _drive(no_timeout, batches, held) == whole


def test_ordered_driver_keeps_first_arrival_of_duplicate_idx():
    t = BASE_US
    key = _Key(ordered_fn(matcher_fold, OUTPUT_SCHEMA, EVENT))
    # within one batch the user copy of idx 1 arrived first: it evicts
    # user 0 and stays pending; the assistant copy is dropped
    key.batch([(0, "user", None, False, t), (1, "user", None, False, t + 1),
               (1, "assistant", None, False, t + 2)], 0)
    # a later batch's copy of idx 1 is below the high-water mark
    key.batch([(1, "assistant", None, False, t + 3)], 0)
    key.batch([(2, "tool", "code", False, t + 4)], 0)
    assert [r[:5] for r in key.close()] == [
        ("c", 0, None, None, None), ("c", 1, 2, "tool", "code")
    ]


def test_replay_driver_keeps_least_ts_of_duplicate_idx():
    fn = replay_fn(matcher_fold, OUTPUT_SCHEMA)
    t = BASE_US
    got = _drive(
        fn,
        [[(1, "assistant", None, False, t + 5_000)],
         [(0, "user", None, False, t), (1, "tool", "calc", False, t + 1_000)]],
        [0, 0],
    )
    assert [r[:5] for r in got] == [("c", 0, 1, "tool", "calc")]


def _known(roles_errs: str) -> list[tuple]:
    """Rows from a compact spec: u/a/t = user/assistant/tool turn (a
    tool turn uses tool "t<idx>"), upper case = error turn."""
    return [
        (i, {"u": "user", "a": "assistant", "t": "tool"}[c.lower()],
         f"t{i}" if c.lower() == "t" else None, c.isupper(), BASE_US + i)
        for i, c in enumerate(roles_errs)
    ]


@pytest.mark.parametrize(
    "name, spec, expected",
    [
        # user waits, next turn matches; user-over-user and closing evict
        ("matcher", "uauutu", [(0, 1, "assistant"), (2, None, None),
                               (3, 4, "tool"), (5, None, None)]),
        ("matcher", "uu", [(0, None, None), (1, None, None)]),
        # bigrams over tool turns only, START-marked
        ("transitions", "tutat", [(START, "t0", 0), ("t0", "t2", 2),
                                  ("t2", "t4", 4)]),
        # error runs >= MIN_BURST close on a non-error turn or at close
        ("bursts", "aUUUaUUaAAAA", [(1, 3, 3), (8, 11, 4)]),
        ("bursts", "UUaUU", []),
    ],
)
def test_fold_known_answer(name, spec, expected):
    fold, _ = PATTERNS[name]
    out, _ = fold("c", _known(spec), {}, True)
    assert [r[1:4] for r in out] == expected


@pytest.mark.parametrize("name", PATTERNS)
def test_frame_builder_dtypes(name):
    fold, schema = PATTERNS[name]
    rows = _turns(random.Random(3), 30)
    out, _ = fold("c", rows, {}, True)
    assert out, name
    build = frame_builder(schema)
    for part in (out[:1], out):
        df = build(part)
        assert list(df.columns) == schema.fieldNames()
        assert [str(d) for d in df.dtypes] == [
            {"integer": "Int32", "long": "Int64", "string": "string",
             "double": "Float64", "boolean": "boolean"}[f.dataType.typeName()]
            for f in schema.fields
        ]
        assert [tuple(None if pd.isna(v) else v for v in r)
                for r in df.itertuples(index=False)] == part
