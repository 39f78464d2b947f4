"""Watermark-ordered replay — delivery-order-invariant forms of the
sequential CEP patterns (VERDICT r04 "Next round" #5).

The ordered forms (streaming/matcher.py, transitions.py, bursts.py) are
forward-only: a row with turn_idx at or below the high-water mark is
dropped. That is the right idempotence rule for in-order delivery, but
it makes them delivery-order SENSITIVE — a reversed or shuffled
file-delivery order silently drops most of the input. These forms run
the SAME folds through the replay driver of streaming/cep.py instead:
rows buffer per conversation until the watermark passes them, then
replay in turn_idx order. Exactness conditions and the state bound are
in streaming/cep.py's module doc.

Reference analog: the reference assumes its captive-core feed delivers
ledgers in sequence (/root/reference/internal/input/ledgers.go) and has
no disorder story; this module is the Spark-native answer (buffer to
the watermark horizon, replay in order).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from stellar_etl_spark.config import DEFAULT, EngineConfig
from stellar_etl_spark.streaming.bursts import BURST_OUTPUT_SCHEMA, bursts_fold
from stellar_etl_spark.streaming.cep import replay_stream
from stellar_etl_spark.streaming.matcher import OUTPUT_SCHEMA, matcher_fold
from stellar_etl_spark.streaming.transitions import TRANS_OUTPUT_SCHEMA, transitions_fold


def match_pairs_stream_ooo(df: DataFrame, cfg: EngineConfig = DEFAULT) -> DataFrame:
    """Delivery-order-invariant turn-pair matcher."""
    return replay_stream(df, matcher_fold, OUTPUT_SCHEMA, cfg)


def tool_transitions_stream_ooo(
    df: DataFrame, cfg: EngineConfig = DEFAULT
) -> DataFrame:
    """Delivery-order-invariant bigram detector. Unlike the ordered
    form this one is watermark-driven, so the input must NOT be
    pre-filtered (a pushed-down filter below the watermark node would
    starve the replay timers — the snapshot_ttl lesson); null-tool
    rows are skipped inside the fold instead."""
    return replay_stream(df, transitions_fold, TRANS_OUTPUT_SCHEMA, cfg)


def error_bursts_stream_ooo(df: DataFrame, cfg: EngineConfig = DEFAULT) -> DataFrame:
    """Delivery-order-invariant quantified-CEP burst detector."""
    return replay_stream(df, bursts_fold, BURST_OUTPUT_SCHEMA, cfg)
