"""Distributed deterministic synthetic transcript corpus.

`make_transcripts` expands `spark.range(n_convs)` into turn rows via
`mapInPandas` — generation happens ON THE EXECUTORS (no driver-side list,
no collect), so the same call scales from 1e3 to 1e9 conversations.  Every
row is a pure function of (seed, conv_idx, turn_idx), so output content is
byte-identical at any parallelism — which the tests rely on.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from batukh_spark.schema import TRANSCRIPTS_SCHEMA
from batukh_spark import synth

_GEN_SCHEMA = ("conv_id string, turn_idx int, role string, text string, "
               "tool string, ts_epoch long")


def make_transcripts(spark: SparkSession, n_convs: int, seed: int = 42,
                     mega_every: int = 997, mega_turns: int = 2000,
                     partitions: int | None = None) -> DataFrame:
    """Deterministic transcripts DataFrame in the exact input_hint shape."""
    partitions = partitions or max(
        8, spark.sparkContext.defaultParallelism * 2)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for conv_idx in pdf["id"]:
                ci = int(conv_idx)
                n = synth.turns_in_conv(ci, seed=seed,
                                        mega_every=mega_every,
                                        mega_turns=mega_turns)
                for ti in range(n):
                    t = synth.make_turn(ci, ti, seed=seed)
                    t["ts_epoch"] = t.pop("ts")
                    rows.append(t)
                if len(rows) >= 2000:
                    yield pd.DataFrame(rows)
                    rows = []
            if rows:
                yield pd.DataFrame(rows)

    base = spark.range(0, n_convs, numPartitions=partitions)
    df = base.mapInPandas(gen, schema=_GEN_SCHEMA)
    return df.select(
        "conv_id", "turn_idx", "role", "text", "tool",
        F.timestamp_seconds("ts_epoch").alias("ts"),
    )


def expected_total_turns(n_convs: int, seed: int = 42,
                         mega_every: int = 997,
                         mega_turns: int = 2000) -> int:
    """Driver-side closed-form row count for validation (cheap: one pass
    over conv indices, no payload synthesis)."""
    return sum(
        synth.turns_in_conv(ci, seed=seed, mega_every=mega_every,
                            mega_turns=mega_turns)
        for ci in range(n_convs))
