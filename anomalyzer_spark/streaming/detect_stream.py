"""Structured Streaming detection — the reference's ``Push`` path.

``Push(x)`` (reference /root/reference/anomalyze.go:134-140) appends one
point and re-evaluates. Here the same contract runs distributed and
incremental: a keyed stream of points flows into per-key bounded state
(the last ``window_size`` points, the §2.6.2 truncation spec — the
reference's unbounded ``Push`` growth is a bug we do not reproduce), and
every micro-batch emits the refreshed anomaly probability per key touched.

Implementation: ``applyInPandasWithState`` with a GroupState holding the
(ts, tiebreak, value) window. Per-key compute
is the same seeded NumPy kernel as batch ``detect`` (anomalyzer_spark.oracle)
— batch and stream agree bit-for-bit on identical input, which is the
equivalence test's assertion.

Out-of-order handling: the state window is re-sorted by (ts, tiebreak) on
every merge, so in-batch disorder and cross-batch disorder WITHIN the
retained window are corrected. Points older than the retained window are
dropped (they cannot displace already-truncated history) — a documented
deviation; the reference has no notion of event time at all.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StructField,
    StructType,
)

from .. import oracle
from ..config import AnomalyzerConf


def _merge_and_eval(conf, n_keys, key, ts, tb, val, seen):
    """Per-key merge → sort → truncate → eval of one key's window."""
    order = np.lexsort((tb, ts))[-conf.window_size:]
    ts, tb, val = ts[order], tb[order], val[order]
    kstr = "|".join(str(k) for k in key[:n_keys])
    prob = oracle.eval_prob(val, conf, kstr)
    out = pd.DataFrame({
        **{f"k{i}": [key[i]] for i in range(n_keys)},
        "n_points": [len(val)],
        "last_ts": [int(ts[-1])],
        "total_seen": [int(seen)],
        "prob": [float(prob)],
    })
    return ts, tb, val, out


def detect_stream(
    df: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    value_col: str = "value",
    conf: AnomalyzerConf | None = None,
    tiebreak_col: str | None = None,
    state_ttl_ms: int | None = None,
) -> DataFrame:
    """Streaming ``detect``: one output row per key per micro-batch.

    ``df`` must be a streaming DataFrame. Timestamps are normalized to
    int64 (epoch-µs for TimestampType, kept as-is for integer columns);
    output: (keys..., n_points, last_ts, total_seen, prob) where
    ``total_seen`` is the cumulative point count (use the max row per key
    for the final state of a drained stream).

    ``state_ttl_ms``: drop a key's window state this long after its last
    update (processing time). At unbounded key cardinality (100 TB streams:
    user ids, session ids) state must expire or the store grows forever —
    the reference never faces this because each Anomalyzer is one in-process
    series. None = keep state indefinitely.
    """
    conf = conf or AnomalyzerConf()
    from ..timeutil import epoch_us_col

    ts_expr = epoch_us_col(df, ts_col)
    tb_expr = (
        F.col(tiebreak_col).cast("long") if tiebreak_col else F.lit(0).cast("long")
    )
    prepared = df.select(
        *[F.col(k) for k in keys],
        ts_expr.alias("ts"),
        tb_expr.alias("tb"),
        F.col(value_col).cast("double").alias("value"),
    )
    out_schema = StructType(
        [StructField(f"k{i}", prepared.schema[k].dataType) for i, k in enumerate(keys)]
        + [
            StructField("n_points", LongType()),
            StructField("last_ts", LongType()),
            StructField("total_seen", LongType()),
            StructField("prob", DoubleType()),
        ]
    )
    n_keys = len(keys)

    state_schema = StructType([
        StructField("ts", ArrayType(LongType())),
        StructField("tb", ArrayType(LongType())),
        StructField("value", ArrayType(DoubleType())),
        StructField("total_seen", LongType()),
    ])

    def fn(key, pdfs: Iterator[pd.DataFrame], state) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            state.remove()
            return
        new = pd.concat(list(pdfs), ignore_index=True)
        if state.exists:
            ts0, tb0, val0, seen0 = state.get
            ts = np.concatenate([np.asarray(ts0, np.int64),
                                 new["ts"].to_numpy(np.int64)])
            tb = np.concatenate([np.asarray(tb0, np.int64),
                                 new["tb"].to_numpy(np.int64)])
            val = np.concatenate([np.asarray(val0, np.float64),
                                  new["value"].to_numpy(np.float64)])
            seen = int(seen0) + len(new)
        else:
            ts = new["ts"].to_numpy(np.int64)
            tb = new["tb"].to_numpy(np.int64)
            val = new["value"].to_numpy(np.float64)
            seen = len(new)
        ts, tb, val, out_pdf = _merge_and_eval(conf, n_keys, key, ts, tb, val, seen)
        state.update((ts.tolist(), tb.tolist(), val.tolist(), seen))
        if state_ttl_ms:
            state.setTimeoutDuration(state_ttl_ms)
        yield out_pdf

    out = prepared.groupBy(*keys).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="Update",
        timeoutConf=(GroupStateTimeout.ProcessingTimeTimeout if state_ttl_ms
                     else GroupStateTimeout.NoTimeout),
    )
    return out.select(
        *[F.col(f"k{i}").alias(k) for i, k in enumerate(keys)],
        "n_points", "last_ts", "total_seen", "prob",
    )


def run_stream_on_dir(
    spark,
    input_path: str,
    schema: StructType,
    keys: list[str],
    ts_col: str = "ts",
    value_col: str = "value",
    conf: AnomalyzerConf | None = None,
    tiebreak_col: str | None = None,
    query_name: str = "detect_stream_result",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Drain a parquet file/dir through ``detect_stream`` (availableNow) and
    return the FINAL per-key rows as a batch DataFrame.

    The memory sink keeps every update; the final state of each key is the
    row with the highest ``total_seen`` (strictly increasing per key).
    """
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(input_path)
    out = detect_stream(stream, keys, ts_col, value_col, conf, tiebreak_col)
    q = (
        out.writeStream.format("memory")
        .queryName(query_name)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    res = spark.table(query_name)
    from pyspark.sql.window import Window

    w = Window.partitionBy(*keys).orderBy(F.col("total_seen").desc())
    return (
        res.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )
