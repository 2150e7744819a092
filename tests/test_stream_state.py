"""Pin the streaming state-partition derivation (VERDICT r12 item 4).

``_stream_state_partitions`` is a pure function of (keyspace hint,
defaultParallelism) — no Spark session needed."""

from __future__ import annotations

import os
import sys
from types import SimpleNamespace

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from aws_insurancelake_etl_spark.queries.pipeline_ops import (
    _stream_state_partitions,
)


def _spark(parallelism: int):
    return SimpleNamespace(
        sparkContext=SimpleNamespace(defaultParallelism=parallelism)
    )


def test_small_keyspace_gets_one_store():
    assert _stream_state_partitions(_spark(32), keyspace=5) == 1


def test_keyspace_scales_by_amortization_target():
    # ceil(24000 / 8192) = 3
    assert _stream_state_partitions(_spark(32), keyspace=24_000) == 3
    # ceil(131072 / 8192) = 16
    assert _stream_state_partitions(_spark(32), keyspace=131_072) == 16


def test_huge_keyspace_clamps_to_parallelism():
    assert _stream_state_partitions(_spark(32), keyspace=10**8) == 32
    assert _stream_state_partitions(_spark(8), keyspace=10**8) == 8


def test_unknown_keyspace_tracks_parallelism():
    assert _stream_state_partitions(_spark(8), keyspace=None) == 8
    assert _stream_state_partitions(_spark(32), keyspace=None) == 32

