"""Streaming per-event-type moment tracking for the anomaly sweep.

The streaming face of the batch ``events_anomaly`` operator: per
event_type, accumulate the SAME exact-integer moments the batch op uses
(n, S1 = Σu, S2 = Σu² over u = round(value·10⁶)) in
``applyInPandasWithState`` state, one emitted row per (micro-batch,
touched type) with the running totals.  Because the moments are exact
integers, a full replay (availableNow over the same input) finishes with
state that is BIT-IDENTICAL to the batch aggregate in any arrival order —
pinned in tests/test_streaming.py — so scoring events against the final
streaming moments reproduces the batch anomaly set row-for-row.

Parity discipline: the u column is computed SPARK-SIDE with the identical
expression the batch op uses (F.round(value·10⁶) — HALF_UP), BEFORE the
rows reach pandas; the Python side only does arbitrary-precision integer
sums, so no NumPy banker's-rounding or float-summation drift can enter.

State size: S2 reaches ~10²⁷ (and S1 ~10¹⁹) long before int64 tops out,
so both travel as decimal strings in the state store and the sink —
arbitrary precision with zero encoding tricks, the streaming analogue of
the batch op's DECIMAL(38,0) accumulators.  One state row per event_type —
a small, naturally-bounded key domain (unlike conv_id, no TTL is needed).
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

__all__ = ["EVENTS_SCHEMA", "MOMENTS_SCHEMA", "with_anomaly_units", "start_anomaly_stream"]

from ..pipeline.artifact import read_stream, start_parquet_sink
from ..pipeline.relational import _ANOM_SCALE as _SCALE  # one rounding scale, no drift

EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType(), False),
        T.StructField("ts", T.TimestampNTZType(), False),
        T.StructField("user_id", T.LongType(), False),
        T.StructField("event_type", T.StringType(), False),
        T.StructField("value", T.DoubleType(), False),
        T.StructField("props", T.StringType(), True),
    ]
)

# S1 and S2 travel as decimal strings: S2 passes int64 within ~40 rows of
# squared units and S1 passes it around 10¹⁹ accumulated units — the batch
# op holds both as DECIMAL(38,0) for the same reason.  Strings keep the
# state/sink arbitrary-precision with zero encoding tricks; consumers
# apply int(s) (or CAST AS DECIMAL(38,0)) to score against the moments.
MOMENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_type", T.StringType(), False),
        T.StructField("n", T.LongType(), False),
        T.StructField("s1", T.StringType(), False),
        T.StructField("s2", T.StringType(), False),
    ]
)

_STATE_SCHEMA = T.StructType(
    [
        T.StructField("n", T.LongType(), False),
        T.StructField("s1", T.StringType(), False),
        T.StructField("s2", T.StringType(), False),
    ]
)


def with_anomaly_units(events: DataFrame) -> DataFrame:
    """Project (event_type, u) with the batch op's exact rounding — the
    single place the double→integer conversion happens for BOTH engines'
    streaming parity (works on a batch or streaming frame)."""
    return events.select(
        "event_type",
        F.round(F.col("value") * _SCALE, 0).cast("long").alias("u"),
    )


def _update(
    key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    (event_type,) = key
    if state.exists:
        n, s1s, s2s = state.get
        s1, s2 = int(s1s), int(s2s)
    else:
        n, s1, s2 = 0, 0, 0
    for pdf in pdfs:
        u = pdf["u"]
        n += len(u)
        # Python bigints, not numpy: u² alone is ~2.5·10¹⁷ and the running
        # S2 passes int64 within ~40 rows of squared units
        ints = [int(v) for v in u]
        s1 += sum(ints)
        s2 += sum(v * v for v in ints)
    state.update((n, str(s1), str(s2)))
    yield pd.DataFrame(
        {
            "event_type": [event_type],
            "n": [n],
            "s1": [str(s1)],
            "s2": [str(s2)],
        }
    )


def start_anomaly_stream(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
):
    """readStream(events parquet) → exact-integer moment state → parquet.

    Append mode: each micro-batch emits the running (n, S1, S2) per
    touched event_type; the max-n row per type in the sink is the live
    moment set.  Scoring any event against it is the stateless z
    predicate the batch op applies — no replay needed."""
    stream = read_stream(spark, EVENTS_SCHEMA, input_dir, max_files_per_trigger)
    moments = (
        with_anomaly_units(stream)
        .groupBy("event_type")
        .applyInPandasWithState(
            _update,
            outputStructType=MOMENTS_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    return start_parquet_sink(moments, out_dir, checkpoint_dir, available_now)
