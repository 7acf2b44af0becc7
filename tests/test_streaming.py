"""Batch/stream equivalence (SURVEY.md §5.2.5): the same series fed through
the stateful streaming path must produce the same final probs — bit-exact
for Monte-Carlo confs (both sides run the seeded NumPy kernel) and within
1e-12 for deterministic confs (NumPy's 8-wide unrolled summation vs the
JVM columnar path's sequential fold differ in the last bits)."""

import os
import shutil

import numpy as np
import pytest
from pyspark.sql import functions as F

from anomalyzer_spark import AnomalyzerConf, detect
from anomalyzer_spark.sources import load_table
from anomalyzer_spark.streaming import run_stream_on_dir

DET_CONF = AnomalyzerConf(
    active_size=2, methods=("magnitude", "fence", "cdf"),
    upper_bound=500.0, lower_bound=0.0,
)
MC_CONF = AnomalyzerConf(active_size=2, perm_count=100)  # magnitude+ks seeded
# the vectorized production permutation spec must ALSO be batch/stream equal
MC_FAST_CONF = AnomalyzerConf(active_size=2, perm_count=100, perm_spec="fast")


@pytest.mark.parametrize("conf", [DET_CONF, MC_CONF, MC_FAST_CONF],
                         ids=["deterministic", "mc", "mc-fast"])
@pytest.mark.slow
def test_stream_equals_batch_multi_batch(spark, sf_dir, tmp_path, conf):
    ev = load_table(spark, sf_dir, "events")
    cols = ev.select("event_type", "ts_ns", "event_id", "value")

    stream_dir = str(tmp_path / f"stream_in_{conf.methods[0]}_{len(conf.methods)}")
    os.makedirs(stream_dir, exist_ok=True)
    pdf = cols.toPandas().sort_values("ts_ns")
    for i, chunk in enumerate(np.array_split(pdf, 4)):
        chunk.to_parquet(f"{stream_dir}/part{i}.parquet", index=False)

    res = run_stream_on_dir(
        spark, stream_dir, cols.schema, ["event_type"], "ts_ns", "value",
        conf, "event_id", query_name=f"eq_{abs(hash(conf)) % 10**8}",
        max_files_per_trigger=1,
    )
    got = {r["event_type"]: (r["prob"], r["n_points"]) for r in res.collect()}
    exp = {
        r["event_type"]: (r["prob"], r["n_points"])
        for r in detect(ev, ["event_type"], "ts_ns", "value", conf,
                        tiebreak_cols=["event_id"]).collect()
    }
    assert got.keys() == exp.keys()
    for k in exp:  # NumPy vs JVM-fold summation: equal to ~1e-16 relative
        assert got[k][1] == exp[k][1]
        assert got[k][0] == pytest.approx(exp[k][0], abs=1e-12), k


def test_stream_out_of_order_within_window(spark, tmp_path):
    """Late points that still fall inside the retained window are re-sorted
    into place — the final prob must match the batch result on sorted data."""
    import pandas as pd

    conf = AnomalyzerConf(active_size=2, methods=("magnitude", "cdf"))
    rng = np.random.default_rng(5)
    n = 14
    vals = rng.normal(10, 1, n)
    ts = np.arange(n, dtype=np.int64)
    sdir = str(tmp_path / "ooo")
    os.makedirs(sdir)
    # batch 1: all points except ts=11 (arrives late); batch 2: the straggler
    pdf = pd.DataFrame({"k": "x", "ts": ts, "eid": ts, "value": vals})
    pdf[pdf.ts != 11].to_parquet(f"{sdir}/p0.parquet", index=False)
    pdf[pdf.ts == 11].to_parquet(f"{sdir}/p1.parquet", index=False)

    df = spark.createDataFrame(pdf)
    res = run_stream_on_dir(
        spark, sdir, df.schema, ["k"], "ts", "value", conf, "eid",
        query_name="ooo_q", max_files_per_trigger=1)
    got = res.collect()[0]["prob"]
    exp = detect(df, ["k"], "ts", "value", conf,
                 tiebreak_cols=["eid"]).collect()[0]["prob"]
    assert got == pytest.approx(exp, abs=1e-12)


def test_resample_stream_matches_batch(spark, sf_dir, tmp_path):
    """Watermarked tumbling-window resample: every emitted bucket must equal
    the batch floor-div bucket (append mode withholds buckets newer than the
    final watermark — emitted ⊂ batch, values identical)."""
    from anomalyzer_spark.operators.resample import resample
    from anomalyzer_spark.streaming import resample_stream

    ev = load_table(spark, sf_dir, "events")
    cols = ev.select("event_type", "ts", "value")
    sdir = str(tmp_path / "rs_in")
    cols.coalesce(1).write.mode("overwrite").parquet(sdir)

    stream = spark.readStream.schema(cols.schema).parquet(sdir)
    out = resample_stream(stream, ["event_type"], "ts", "value",
                          every_seconds=86400, watermark="1 hour")
    q = (out.writeStream.format("memory").queryName("rs_t")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()
    got = {(r["event_type"], r["bucket"]): (r["value"], r["n_raw"])
           for r in spark.table("rs_t").collect()}
    exp = {(r["event_type"], r["bucket"]): (r["value"], r["n_raw"])
           for r in resample(ev, ["event_type"], "ts", "value",
                             every_seconds=86400).collect()}
    assert len(got) > 0.5 * len(exp)  # only the watermark tail withheld
    for key, val in got.items():
        assert val == exp[key], key


@pytest.mark.slow
def test_stream_state_ttl_drops_idle_keys(spark, tmp_path):
    """state_ttl_ms: idle keys are evicted — a fresh point after eviction
    sees an EMPTY window (n_points resets), not the old history."""
    import time

    import pandas as pd

    conf = AnomalyzerConf(active_size=2, methods=("magnitude", "cdf"))
    sdir = str(tmp_path / "ttl_in")
    os.makedirs(sdir)
    pd.DataFrame({"k": ["a"] * 8, "ts": np.arange(8, dtype=np.int64),
                  "eid": np.arange(8, dtype=np.int64),
                  "value": np.linspace(1, 8, 8)}).to_parquet(
        f"{sdir}/p0.parquet", index=False)

    from anomalyzer_spark.streaming import detect_stream
    schema = "k string, ts long, eid long, value double"
    stream = spark.readStream.schema(schema).parquet(sdir)
    out = detect_stream(stream, ["k"], "ts", "value", conf, "eid",
                        state_ttl_ms=1)
    q = (out.writeStream.format("memory").queryName("ttl_t")
         .outputMode("update").trigger(processingTime="2 seconds").start())
    try:
        # wait until batch 1 (p0) is fully processed before adding the late
        # file — a fixed sleep races slow batch startup and would merge both
        # files into one batch (no eviction in between)
        for _ in range(30):
            if any(r["last_ts"] == 7 for r in spark.table("ttl_t").collect()):
                break
            time.sleep(1)
        time.sleep(2)  # ttl (1ms) certainly expired relative to batch 1
        pd.DataFrame({"k": ["a"], "ts": [100], "eid": [100],
                      "value": [9.0]}).to_parquet(f"{sdir}/p1.parquet",
                                                  index=False)
        for _ in range(20):
            rows = spark.table("ttl_t").collect()
            if any(r["last_ts"] == 100 for r in rows):
                break
            time.sleep(1)
    finally:
        q.stop()
    rows = {r["last_ts"]: r for r in spark.table("ttl_t").collect()}
    assert rows[7]["n_points"] == 8  # first batch saw full history
    assert rows[100]["n_points"] == 1  # state was evicted in between


def test_stream_checkpoint_restart(spark, tmp_path):
    """Kill the query between micro-batches; a restart from the checkpoint
    must resume state (not reprocess or lose it) — final probs equal the
    batch result over all data."""
    import pandas as pd

    from anomalyzer_spark.streaming import detect_stream

    conf = AnomalyzerConf(active_size=2, methods=("magnitude", "cdf"))
    sdir, ckpt = str(tmp_path / "ck_in"), str(tmp_path / "ck_state")
    os.makedirs(sdir)
    rng = np.random.default_rng(11)
    pdf = pd.DataFrame({
        "k": ["a", "b"] * 20, "ts": np.arange(40, dtype=np.int64),
        "eid": np.arange(40, dtype=np.int64),
        "value": rng.normal(10, 2, 40),
    })
    pdf[pdf.ts < 20].to_parquet(f"{sdir}/p0.parquet", index=False)

    schema = "k string, ts long, eid long, value double"
    outdir = str(tmp_path / "ck_out")

    def run_once():
        stream = spark.readStream.schema(schema).parquet(sdir)
        out = detect_stream(stream, ["k"], "ts", "value", conf, "eid")
        # foreachBatch parquet append: the production-shaped recoverable sink
        q = (out.writeStream.foreachBatch(
                lambda bdf, bid: bdf.write.mode("append").parquet(outdir))
             .outputMode("update").option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination()

    run_once()
    pdf[pdf.ts >= 20].to_parquet(f"{sdir}/p1.parquet", index=False)
    run_once()  # restart from checkpoint; processes only p1

    res = spark.read.parquet(outdir).collect()
    # final state of each key = its highest cumulative count row;
    # state carried the first 20 points across the restart
    final = {}
    for r in res:
        if r["k"] not in final or r["total_seen"] > final[r["k"]][1]:
            final[r["k"]] = (r["prob"], r["total_seen"])
    got = final
    from anomalyzer_spark import detect
    exp = {r["k"]: r["prob"] for r in
           detect(spark.createDataFrame(pdf), ["k"], "ts", "value", conf,
                  tiebreak_cols=["eid"]).collect()}
    for k in ("a", "b"):
        # 20 rows per key total; run 2 alone saw only 10 — cumulative count
        # of 20 proves the state survived the restart
        assert got[k][1] == 20
        # ~1e-16 float divergence allowed: the stream kernel sums via NumPy
        # (8-wide unrolled), the batch columnar path via sequential fold
        assert got[k][0] == pytest.approx(exp[k], abs=1e-12)


def test_stream_state_truncation(spark, tmp_path):
    """State is bounded to window_size points (reference Update truncation,
    anomalyze.go:127-131) — n_points never exceeds it."""
    import pandas as pd

    conf = AnomalyzerConf(active_size=1, n_seasons=4)  # window = 5
    sdir = str(tmp_path / "trunc")
    os.makedirs(sdir)
    pdf = pd.DataFrame({
        "k": ["a"] * 50, "ts": np.arange(50, dtype=np.int64),
        "eid": np.arange(50, dtype=np.int64),
        "value": np.random.default_rng(0).normal(5, 1, 50),
    })
    pdf.to_parquet(f"{sdir}/p0.parquet", index=False)
    df = spark.createDataFrame(pdf)
    res = run_stream_on_dir(spark, sdir, df.schema, ["k"], "ts", "value",
                            conf, "eid", query_name="trunc_q")
    row = res.collect()[0]
    assert row["n_points"] == conf.window_size == 5
    assert row["total_seen"] == 50


def test_kafka_source_gated_without_connector(spark):
    """The Kafka builder must fail fast with guidance when the connector
    JAR is absent (this environment), not at stream start."""
    import pytest

    from anomalyzer_spark.sources.kafka import read_kafka_json_stream
    with pytest.raises(NotImplementedError, match="spark-sql-kafka"):
        read_kafka_json_stream(
            spark, brokers="localhost:9092", topic="events",
            value_schema="event_id long, ts timestamp, value double")


def test_session_stats_duckdb_parity(spark, sf_dir):
    """Batch sessionization (islands pattern) value-parity vs DuckDB,
    INCLUDING duration_s and the per-user session_idx ordinal — the full
    contract the retired round-9 `sessions` registry slot hashed (slot
    rotated to snapshot_diff; the stream slot hashes start/end/n_events
    for every watermark-passed session but not these two columns)."""
    import duckdb

    from anomalyzer_spark.operators.sessions import session_stats

    ev = load_table(spark, sf_dir, "events")
    out = session_stats(ev, ["user_id"], "ts", gap_seconds=1800,
                        tiebreak_cols=["event_id"])
    # no rounding on either side: both compute (end-start)/1e6 as the
    # same double division, so the floats compare bit-equal
    got = sorted(
        (r["user_id"], r["session_idx"], r["start_us"], r["end_us"],
         r["duration_s"], r["n_events"])
        for r in out.collect())
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM "
                f"read_parquet('{sf_dir}/events.parquet')")
    want = con.execute("""
WITH e AS (
  SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
flagged AS (
  SELECT user_id, us, event_id,
    CASE WHEN us - lag(us) OVER w > 1800000000 THEN 1 ELSE 0 END AS brk
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
assigned AS (
  SELECT user_id, us,
    sum(brk) OVER (PARTITION BY user_id ORDER BY us, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      AS session_idx
  FROM flagged)
SELECT user_id, session_idx::BIGINT AS session_idx,
  min(us) AS start_us, max(us) AS end_us,
  (max(us) - min(us)) / 1000000.0 AS duration_s,
  count(*) AS n_events
FROM assigned GROUP BY user_id, session_idx
ORDER BY user_id, session_idx""").fetchall()
    assert len(got) > 0
    assert got == sorted(tuple(w) for w in want)


def test_session_stream_matches_batch(spark, sf_dir, tmp_path):
    """Native session_window streaming aggregation must produce the same
    sessions as the batch islands formulation — for every session CLOSED
    by the final watermark (append withholds still-growable sessions)."""
    from anomalyzer_spark.operators.sessions import session_stats, session_stream
    from anomalyzer_spark.sources import load_table

    ev = load_table(spark, sf_dir, "events")
    cols = ev.select("user_id", "ts", "value")
    sdir = str(tmp_path / "sess_in")
    cols.coalesce(1).write.mode("overwrite").parquet(sdir)

    stream = spark.readStream.schema(cols.schema).parquet(sdir)
    out = session_stream(stream, ["user_id"], "ts", gap_seconds=1800,
                         watermark="1 hour")
    q = (out.writeStream.format("memory").queryName("sess_t")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()
    got = {(r["user_id"], r["start_us"]): (r["end_us"], r["n_events"])
           for r in spark.table("sess_t").collect()}
    exp = {(r["user_id"], r["start_us"]): (r["end_us"], r["n_events"])
           for r in session_stats(ev, ["user_id"], "ts",
                                  gap_seconds=1800).collect()}
    assert len(got) > 0.5 * len(exp)  # only the watermark tail withheld
    for key, val in got.items():
        assert val == exp[key], key


def test_dedup_stream_multi_batch_equals_batch(spark, sf_dir, tmp_path):
    """Incremental dedup state must merge across micro-batches: documents
    split into 3 files drained one file per trigger; the final per-hash
    state (count + min id) must equal batch exact_dedup's groups exactly
    even when a duplicate group spans micro-batches."""
    import pandas as pd  # noqa: F401 — used for concat below

    from anomalyzer_spark.functions import dedup
    from anomalyzer_spark.sources import load_table
    from anomalyzer_spark.streaming import run_dedup_stream_on_dir

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    sdir = str(tmp_path / "dedup_in")
    os.makedirs(sdir, exist_ok=True)
    pdf = d.toPandas().sort_values("doc_id")
    # plant duplicates with fresh ids so groups exist even at sf0.001,
    # then round-robin split so every planted group SPANS micro-batches
    base_id = int(pdf["doc_id"].max()) + 1
    dups = pdf.head(5).copy()
    dups["doc_id"] = range(base_id, base_id + 5)
    pdf = pd.concat([pdf, dups], ignore_index=True)
    for i in range(3):
        pdf.iloc[i::3].to_parquet(f"{sdir}/part{i}.parquet", index=False)

    res = run_dedup_stream_on_dir(
        spark, sdir, "text", "doc_id",
        query_name="dedup_stream_mb", max_files_per_trigger=1)
    got = {r["content_hash"]: (r["group_size"], r["canonical_id"])
           for r in res.collect()}
    full = spark.createDataFrame(pdf)
    exp = {}
    for r in dedup.exact_dedup(full, "text", "doc_id").collect():
        exp[r["content_hash"]] = (r["group_size"], r["canonical_id"])
    assert got == exp
    assert any(size > 1 for size, _ in exp.values())


def test_session_stream_multi_batch_merges_sessions(spark, sf_dir, tmp_path):
    """A session whose events span micro-batches must MERGE in the
    session_window state store: time-ordered file chunks, one per trigger;
    every emitted session equals the batch islands session."""
    import pandas as pd

    from anomalyzer_spark.operators.sessions import session_stats
    from anomalyzer_spark.sources import load_table
    from anomalyzer_spark.streaming import run_session_stream_on_dir

    ev = load_table(spark, sf_dir, "events")
    cols = ev.select("user_id", "ts", "value")
    sdir = str(tmp_path / "sess_mb_in")
    os.makedirs(sdir, exist_ok=True)
    pdf = cols.toPandas().sort_values("ts")
    # keep µs precision: pandas round-trips as datetime64[ns] and pyarrow
    # would write TIMESTAMP(NANOS), which the µs NTZ stream schema misreads
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    # cut DELIBERATELY through a multi-event session closed well before the
    # final watermark, so state merging across micro-batches is guaranteed
    # to be exercised (a random time cut rarely splits a session at this
    # event sparsity)
    sess = session_stats(ev, ["user_id"], "ts", gap_seconds=1800).toPandas()
    wm_us = int(pdf["ts"].max().value // 1000) - 2 * 3600 * 1_000_000
    target = (sess[(sess["n_events"] >= 2) & (sess["end_us"] < wm_us)
                   & (sess["end_us"] > sess["start_us"])]
              .sort_values("n_events").iloc[-1])
    cut_us = (int(target["start_us"]) + int(target["end_us"])) // 2
    cut = pd.Timestamp(cut_us, unit="us")
    chunks = [pdf[pdf["ts"] <= cut], pdf[pdf["ts"] > cut]]
    assert all(len(c) for c in chunks)
    for i, chunk in enumerate(chunks):
        chunk.to_parquet(f"{sdir}/part{i}.parquet", index=False)

    res = run_session_stream_on_dir(
        spark, sdir, ["user_id"], "ts", gap_seconds=1800,
        watermark="1 hour", query_name="sess_stream_mb",
        max_files_per_trigger=1)
    got = {(r["user_id"], r["start_us"]): (r["end_us"], r["n_events"])
           for r in res.collect()}
    exp = {(r["user_id"], r["start_us"]): (r["end_us"], r["n_events"])
           for r in session_stats(ev, ["user_id"], "ts",
                                  gap_seconds=1800).collect()}
    assert len(got) > 0.5 * len(exp)  # only the watermark tail withheld
    for key, val in got.items():
        assert val == exp[key], key
    # the deliberately-split session was reassembled across micro-batches
    tkey = (target["user_id"], int(target["start_us"]))
    assert got[tkey] == (int(target["end_us"]), int(target["n_events"]))


def test_dedup_stream_bounded_state_expires(spark, tmp_path):
    """dropDuplicatesWithinWatermark semantics: duplicates within the
    watermark horizon are suppressed; once the watermark passes a hash's
    event time + delay its state is evicted and a late duplicate is
    re-emitted as new (the bounded-state trade, exact within the horizon).
    Timing: the watermark used by batch N is computed from batch N-1's
    data, and a batch's lookups see state as of batch START (eviction runs
    at batch END) — so the late duplicate must arrive one batch AFTER the
    batch that evicted its hash, hence four files."""
    import pandas as pd

    from anomalyzer_spark.streaming.dedup_stream import dedup_stream_bounded

    t0 = pd.Timestamp("2024-01-01 00:00:00")

    def f(path, rows):
        pdf = pd.DataFrame(rows, columns=["doc_id", "text", "ts"])
        pdf["ts"] = pdf["ts"].astype("datetime64[us]")
        pdf.to_parquet(path, index=False)

    sdir = str(tmp_path / "bounded_in")
    os.makedirs(sdir, exist_ok=True)
    f(f"{sdir}/part0.parquet", [(1, "same text", t0)])
    f(f"{sdir}/part1.parquet", [
        (2, "same text", t0 + pd.Timedelta("10min")),   # within horizon
        (3, "other text", t0 + pd.Timedelta("3h")),     # advances watermark
    ])
    f(f"{sdir}/part2.parquet", [
        # watermark (t0+2h) now past "same text" expiry (t0+1h) → this
        # batch's END evicts the hash; the row itself just advances time
        (5, "third text", t0 + pd.Timedelta("3h15min")),
    ])
    f(f"{sdir}/part3.parquet", [
        (4, "same text", t0 + pd.Timedelta("3h30min")),  # state evicted
    ])

    schema = spark.read.parquet(sdir).schema
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(sdir))
    out = dedup_stream_bounded(stream, "text", "doc_id", "ts",
                               watermark="1 hour")
    q = (out.writeStream.format("memory").queryName("bounded_dedup_t")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()
    got = {r["doc_id"] for r in spark.table("bounded_dedup_t").collect()}
    assert got == {1, 3, 5, 4}  # 2 suppressed; 4 re-emitted after expiry


def test_text_profile_and_sampling_work_on_streams(spark, sf_dir, tmp_path):
    """The map-only curation operators (text_profile, hash_sample) are
    stateless projections/filters, so the SAME functions run unchanged on
    streaming frames — streamed output must equal the batch result."""
    from anomalyzer_spark.functions import sampling, text
    from anomalyzer_spark.sources import load_table
    from anomalyzer_spark.streaming._drain import drain_available_now

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    sdir = str(tmp_path / "txt_stream_in")
    d.coalesce(2).write.mode("overwrite").parquet(sdir)

    def curate(s):
        return text.text_profile(
            text.redact_pii(sampling.hash_sample(s, 0.5), "text", "doc_id"),
            "text", "doc_id")

    res = drain_available_now(
        spark, sdir, curate, "txt_stream_t", output_mode="append")
    got = {r["doc_id"]: (r["quality_score"], r["lang_pred"], r["norm_words"])
           for r in res.collect()}
    exp = {r["doc_id"]: (r["quality_score"], r["lang_pred"], r["norm_words"])
           for r in curate(d).collect()}
    assert got == exp and len(got) > 0


def test_round14_gates_work_on_streams(spark, sf_dir, tmp_path):
    """The round-14 gates (checksum-gated redact_pii, c4_clean,
    with_license_info, gopher_rules) are stateless map-only
    projections, so the SAME functions run unchanged on streaming
    frames — streamed output must equal the batch result."""
    from anomalyzer_spark.functions import code, quality, text
    from anomalyzer_spark.sources import load_table
    from anomalyzer_spark.streaming._drain import drain_available_now

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(F.lit("// SPDX-License-Identifier: MIT\n"),
                 F.col("text"),
                 F.lit(" card 4539 1488 0343 6467 iban "
                       "DE89370400440532013000.")).alias("text"))
    sdir = str(tmp_path / "gates_stream_in")
    d.coalesce(2).write.mode("overwrite").parquet(sdir)

    def gate(s):
        red = text.redact_pii(
            s, kinds=("credit_card", "iban", "ssn"), with_counts=True)
        return code.with_license_info(red, "text")

    res = drain_available_now(
        spark, sdir, gate, "gates_stream_t", output_mode="append")
    keep = ["text", "n_credit_card", "n_iban", "spdx_id",
            "license_permissive"]
    got = {r["doc_id"]: tuple(r[c] for c in keep) for r in res.collect()}
    exp = {r["doc_id"]: tuple(r[c] for c in keep)
           for r in gate(d).collect()}
    assert got == exp and len(got) > 0
    assert all(v[1] == 1 and v[2] == 1 for v in got.values())  # redacted
    # gopher_rules / c4_clean stream too (each rebuilds its own output
    # schema, so drained separately)
    for name, fn in (("gates_stream_g", quality.gopher_rules),
                     ("gates_stream_c", quality.c4_clean)):
        res2 = drain_available_now(
            spark, sdir, lambda s, f=fn: f(s), name,
            output_mode="append")
        got2 = {r["doc_id"]: tuple(r)[1:] for r in res2.collect()}
        exp2 = {r["doc_id"]: tuple(r)[1:] for r in fn(d).collect()}
        assert got2 == exp2 and len(got2) > 0, name


def test_serve_ivfpq_stream_foreachbatch(spark, sf_dir, tmp_path):
    """foreachBatch ANN serving: streamed query batches scored against the
    persisted index must equal offline search results — including ROW
    COUNTS (at-least-once replay of a batch must not duplicate output:
    the per-batch-directory overwrite is the idempotence mechanism)."""
    from anomalyzer_spark.functions import similarity
    from anomalyzer_spark.functions.ann_index import (
        build_ivfpq_index, search_ivfpq_index, serve_ivfpq_stream)
    from pyspark.sql import functions as F

    e = load_table(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>"))
    import numpy as np
    sample = np.array([r["embedding"] for r in
                       e.where(F.col("vec_id") < 64).orderBy("vec_id")
                       .collect()])
    cents = similarity.train_ivf_centroids(sample, 8)
    books = similarity.train_pq_codebooks(sample, m=4, k=8)
    idx = str(tmp_path / "serve_idx")
    build_ivfpq_index(e, idx, cents, books)

    qdir = str(tmp_path / "serve_queries")
    queries = e.where(F.col("vec_id") < 6).select("vec_id", "embedding")
    queries.coalesce(2).write.mode("overwrite").parquet(qdir)
    qstream = spark.readStream.schema(queries.schema).parquet(qdir)

    out = str(tmp_path / "serve_out")
    q = serve_ivfpq_stream(
        spark, idx, qstream, cents, books, out,
        str(tmp_path / "serve_ckpt"), k=3, n_probe=2)
    q.awaitTermination()

    served = spark.read.parquet(out)
    offline = search_ivfpq_index(spark, idx, queries, cents, books,
                                 k=3, n_probe=2)
    got = {(r["query_id"], r["rnk"]): r["neighbor_id"]
           for r in served.collect()}
    exp = {(r["query_id"], r["rnk"]): r["neighbor_id"]
           for r in offline.collect()}
    assert got == exp and len(got) > 0
    # no duplicated rows (the dict compare alone would mask duplicates)
    assert served.count() == offline.count()
    # restarting from the same checkpoint replays nothing (all batches
    # committed) and a hypothetical replay overwrites its own batch_id
    # directory — either way the output must not grow
    q2 = serve_ivfpq_stream(
        spark, idx, qstream, cents, books, out,
        str(tmp_path / "serve_ckpt"), k=3, n_probe=2)
    q2.awaitTermination()
    assert spark.read.parquet(out).count() == offline.count()


@pytest.mark.slow
def test_minhash_stream_final_state_equals_batch(spark, sf_dir, tmp_path):
    """Streaming near-dup (MinHash) dedup: documents drained through the
    foreachBatch store pipeline in MULTIPLE micro-batches must end with
    pair state exactly equal to batch minhash_lsh_pairs on the same corpus
    (same buckets, same verification, same rounding — shared code), and
    group state equal to batch duplicate_groups."""
    from anomalyzer_spark.functions import dedup
    from anomalyzer_spark.sources import load_table
    from anomalyzer_spark.streaming import (
        minhash_groups_store, run_minhash_stream_on_dir)

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    sdir = str(tmp_path / "mh_in")
    # 4 files -> 4 micro-batches with maxFilesPerTrigger=1: near-dup pairs
    # are split across batches, exercising the cross-batch store join
    d.repartition(4).write.mode("overwrite").parquet(sdir)

    store = str(tmp_path / "mh_store")
    ckpt = str(tmp_path / "mh_ckpt")
    got = run_minhash_stream_on_dir(
        spark, sdir, store, ckpt, "text", "doc_id",
        k=3, num_hashes=128, bands=32, threshold=0.5,
        max_files_per_trigger=1)

    exp = dedup.minhash_lsh_pairs(d, "text", "doc_id", k=3, num_hashes=128,
                                  bands=32, threshold=0.5)
    got_rows = {(r["id_a"], r["id_b"]): r["jaccard"] for r in got.collect()}
    exp_rows = {(r["id_a"], r["id_b"]): r["jaccard"] for r in exp.collect()}
    assert len(exp_rows) > 0, "fixture corpus must contain near-dups"
    assert got_rows == exp_rows

    exp_groups = dedup.duplicate_groups(d, exp, "doc_id").where(
        F.col("group_size") > 1)
    got_groups = minhash_groups_store(spark, store, "doc_id")
    assert ({tuple(r) for r in got_groups.collect()}
            == {tuple(r) for r in exp_groups.collect()})


@pytest.mark.slow
def test_minhash_stream_replay_idempotent(spark, sf_dir, tmp_path):
    """foreachBatch is at-least-once: a batch whose store writes landed but
    whose checkpoint commit did NOT (the crash window) is replayed with the
    SAME batch id on restart — simulated here by deleting the final commit
    file. The replayed batch joins against a store that already contains
    its own rows; batch_id-dir overwrites plus the self/mirror-pair filters
    must leave the pair state exactly unchanged."""
    import glob

    from anomalyzer_spark.sources import load_table
    from anomalyzer_spark.streaming import (
        minhash_pairs_store, run_minhash_stream_on_dir)

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    sdir = str(tmp_path / "mh_rp_in")
    d.repartition(2).write.mode("overwrite").parquet(sdir)
    store = str(tmp_path / "mh_rp_store")
    ckpt = str(tmp_path / "mh_rp_ckpt")
    before = run_minhash_stream_on_dir(
        spark, sdir, store, ckpt, max_files_per_trigger=1).collect()
    assert len(before) > 0

    # forget the last commit: the restart re-executes that batch against
    # the already-populated store (true at-least-once replay)
    commits = sorted(glob.glob(f"{ckpt}/commits/[0-9]*"))
    assert len(commits) >= 2, "need multiple batches for a replay test"
    os.remove(commits[-1])
    # the local checksum FS keeps a hidden .N.crc beside each commit; left
    # behind it blocks the re-commit rename on replay
    crc = os.path.join(os.path.dirname(commits[-1]),
                       f".{os.path.basename(commits[-1])}.crc")
    if os.path.exists(crc):
        os.remove(crc)
    after = run_minhash_stream_on_dir(
        spark, sdir, store, ckpt, max_files_per_trigger=1).collect()
    assert sorted(map(tuple, before)) == sorted(map(tuple, after))
    assert minhash_pairs_store(spark, store).count() == len(before)


@pytest.mark.slow
def test_minhash_stream_retention_and_compaction(spark, sf_dir, tmp_path):
    """Long-running-stream state bounds (SURVEY §2.7 streaming at scale):
    with ``retention_batches=H`` and ``compact_every=C`` the store must
    (a) hold NO live state older than the horizon, (b) keep a bounded
    file/directory count — at most one compacted generation plus the
    C-1 live dirs written since the last fold — and (c) still satisfy the
    exact batch contract over the surviving corpus: pairs restricted to
    in-horizon docs == minhash_lsh_pairs over those same docs."""
    import glob

    from anomalyzer_spark.functions import dedup
    from anomalyzer_spark.sources import load_table
    from anomalyzer_spark.streaming import (
        minhash_pairs_store, run_minhash_stream_on_dir)
    from anomalyzer_spark.streaming._store import (
        _latest_gen, _live_batch_ids)

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    sdir = str(tmp_path / "mh_ret_in")
    d.repartition(6).write.mode("overwrite").parquet(sdir)
    store = str(tmp_path / "mh_ret_store")
    ckpt = str(tmp_path / "mh_ret_ckpt")
    K, H, C = 6, 3, 2
    run_minhash_stream_on_dir(
        spark, sdir, store, ckpt, max_files_per_trigger=1,
        retention_batches=H, compact_every=C, materialize_groups=True)
    min_live = K - H  # last batch_id is K-1; horizon keeps ids >= K-H

    for name in ("buckets", "shingles", "pairs"):
        live = _live_batch_ids(f"{store}/{name}")
        # (a) nothing older than the horizon survives as live state
        assert all(b >= min_live for b in live), (name, live)
        # (b) bounded: compaction at batch K-1 folded everything ≤ K-1,
        #     so ≤ C-1 live dirs remain, and exactly one complete gen
        assert len(live) < C, (name, live)
        gens = glob.glob(f"{store}/compacted/{name}/gen=*")
        assert len(gens) == 1, gens
        gen_path, folded = _latest_gen(f"{store}/compacted/{name}")
        assert gen_path is not None and folded == K - 1

    # eviction actually happened: the surviving corpus is a strict subset
    surv = spark.read.parquet(f"{store}/compacted/shingles/gen={K-1}")
    surv_ids = {r["doc_id"] for r in surv.select("doc_id").collect()}
    all_ids = {r["doc_id"] for r in d.select("doc_id").collect()}
    assert 0 < len(surv_ids) < len(all_ids)

    # (c) exact contract over the in-horizon corpus
    got = minhash_pairs_store(spark, store, only_ingested_ids=True)
    in_horizon = d.where(F.col("doc_id").isin(list(surv_ids)))
    exp = dedup.minhash_lsh_pairs(in_horizon, "text", "doc_id", k=3,
                                  num_hashes=128, bands=32, threshold=0.5)
    got_rows = {(r["id_a"], r["id_b"]): r["jaccard"] for r in got.collect()}
    exp_rows = {(r["id_a"], r["id_b"]): r["jaccard"] for r in exp.collect()}
    assert len(exp_rows) > 0, "surviving corpus must still contain near-dups"
    assert got_rows == exp_rows

    # materialized groups (written at the final compaction tick) must be a
    # parquet read equal to the live connected-components computation
    from anomalyzer_spark.streaming import minhash_groups_store
    live = {tuple(r) for r in
            minhash_groups_store(spark, store).collect()}
    mat = {tuple(r) for r in
           minhash_groups_store(spark, store,
                                prefer_materialized=True).collect()}
    assert mat == live and len(mat) > 0
    import os as _os
    assert _os.path.isdir(f"{store}/compacted/groups/gen={K-1}")


@pytest.mark.slow
def test_ingest_ivfpq_stream_equals_batch_build(spark, sf_dir, tmp_path):
    """Incremental corpus ingest: vectors streamed through
    ingest_ivfpq_stream (frozen models, per-batch cell-partitioned
    overwrite) must produce an index with the same rows as a batch
    build_ivfpq_index over the same corpus, and search results over it
    must be identical. Compaction into the canonical cell=C layout must
    change neither, while cutting the file count."""
    import glob

    from anomalyzer_spark.functions import similarity
    from anomalyzer_spark.functions.ann_index import (
        build_ivfpq_index, compact_ingested_index, ingest_ivfpq_stream,
        search_ivfpq_index)
    import numpy as np

    e = load_table(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>"))
    sample = np.array([r["embedding"] for r in
                       e.where(F.col("vec_id") < 64).orderBy("vec_id")
                       .collect()])
    cents = similarity.train_ivf_centroids(sample, 8)
    books = similarity.train_pq_codebooks(sample, m=4, k=8)

    batch_idx = str(tmp_path / "ing_batch_idx")
    build_ivfpq_index(e, batch_idx, cents, books)

    cdir = str(tmp_path / "ing_corpus")
    e.select("vec_id", "embedding").repartition(3).write.mode(
        "overwrite").parquet(cdir)
    cstream = spark.readStream.schema(
        e.select("vec_id", "embedding").schema).option(
        "maxFilesPerTrigger", 1).parquet(cdir)
    stream_idx = str(tmp_path / "ing_stream_idx")
    q = ingest_ivfpq_stream(spark, cstream, stream_idx, cents, books,
                            str(tmp_path / "ing_ckpt"))
    q.awaitTermination()

    bi = spark.read.parquet(batch_idx).select("neighbor_id", "codes", "cell")
    si = spark.read.parquet(stream_idx).select("neighbor_id", "codes", "cell")
    assert bi.count() == e.count() == si.count()
    assert ({(r["neighbor_id"], tuple(r["codes"]), r["cell"])
             for r in si.collect()}
            == {(r["neighbor_id"], tuple(r["codes"]), r["cell"])
                for r in bi.collect()})

    queries = e.where(F.col("vec_id") < 6).select("vec_id", "embedding")
    exp = {(r["query_id"], r["rnk"]): r["neighbor_id"]
           for r in search_ivfpq_index(spark, batch_idx, queries, cents,
                                       books, k=3, n_probe=2).collect()}
    got = {(r["query_id"], r["rnk"]): r["neighbor_id"]
           for r in search_ivfpq_index(spark, stream_idx, queries, cents,
                                       books, k=3, n_probe=2).collect()}
    assert got == exp and len(got) > 0

    comp_idx = str(tmp_path / "ing_comp_idx")
    compact_ingested_index(spark, stream_idx, comp_idx)
    comp = {(r["query_id"], r["rnk"]): r["neighbor_id"]
            for r in search_ivfpq_index(spark, comp_idx, queries, cents,
                                        books, k=3, n_probe=2).collect()}
    assert comp == exp
    n_stream_files = len(glob.glob(f"{stream_idx}/**/*.parquet",
                                   recursive=True))
    n_comp_files = len(glob.glob(f"{comp_idx}/**/*.parquet",
                                 recursive=True))
    assert 0 < n_comp_files < n_stream_files


def test_decontaminate_stream_foreachbatch(spark, sf_dir, tmp_path):
    """Streaming ingest hygiene: each micro-batch of crawl documents is
    decontaminated against the STATIC eval set inside foreachBatch (the
    per-doc hit aggregate makes the operator batch-shaped; foreachBatch
    is the streaming adapter, as for minhash_stream). The union of batch
    outputs must equal offline decontamination of the same corpus — no
    document lost or kept differently because of how batches split."""
    from anomalyzer_spark.functions import decontam

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    ev = d.where(F.col("doc_id") % 97 == 0)
    sdir = str(tmp_path / "decon_in")
    out = str(tmp_path / "decon_out")
    d.coalesce(3).write.mode("overwrite").parquet(sdir)
    stream = (spark.readStream.schema(d.schema)
              .option("maxFilesPerTrigger", 1).parquet(sdir))

    def handle(batch_df, batch_id):
        (decontam.decontaminate(batch_df, ev, n=8)
         .write.mode("overwrite").parquet(f"{out}/batch_id={batch_id}"))

    q = (stream.writeStream.foreachBatch(handle)
         .option("checkpointLocation", str(tmp_path / "decon_ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination()

    got = {r["doc_id"] for r in
           spark.read.parquet(out).select("doc_id").collect()}
    exp = {r["doc_id"] for r in
           decontam.decontaminate(d, ev, n=8).select("doc_id").collect()}
    assert got == exp and 0 < len(got) < d.count()


def test_curation_stream_foreachbatch(spark, sf_dir, tmp_path):
    """Streaming curate(): per-row stages (normalize + min_tokens filter +
    redact + static-eval exact decontam) are batch-split-invariant, so
    the union of idempotent batch outputs equals offline curate() of the
    same corpus — and batch_union_equals_offline correctly classifies
    configs."""
    from anomalyzer_spark.pipeline import CurationConfig, curate
    from anomalyzer_spark.streaming import (batch_union_equals_offline,
                                            run_curation_stream_on_dir)

    cfg = CurationConfig(dedup=None, min_tokens=5, redact=True,
                         decontam_mode="exact")
    assert batch_union_equals_offline(cfg)
    assert not batch_union_equals_offline(CurationConfig())  # exact dedup
    assert not batch_union_equals_offline(
        CurationConfig(dedup=None, top_fraction=0.5))

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    ev = d.where(F.col("doc_id") % 97 == 0)
    sdir = str(tmp_path / "cur_in")
    out = str(tmp_path / "cur_out")
    d.coalesce(3).write.mode("overwrite").parquet(sdir)

    q = run_curation_stream_on_dir(
        spark, sdir, out, str(tmp_path / "cur_ckpt"), cfg, eval_df=ev)
    q.awaitTermination()

    got = sorted((r["doc_id"], r["text"]) for r in
                 spark.read.parquet(out).select("doc_id", "text").collect())
    exp = sorted((r["doc_id"], r["text"]) for r in
                 curate(d, cfg, eval_df=ev).output
                 .select("doc_id", "text").collect())
    assert got == exp and 0 < len(got) < d.count()


@pytest.mark.slow
def test_curation_stream_incremental_restart(spark, sf_dir, tmp_path):
    """Restart semantics: a second run over the SAME checkpoint processes
    only files that arrived since, earlier batch outputs stay untouched,
    and the union still equals offline curation of the full corpus."""
    from anomalyzer_spark.pipeline import CurationConfig, curate
    from anomalyzer_spark.streaming import run_curation_stream_on_dir

    cfg = CurationConfig(dedup=None, min_tokens=5)
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    first = d.where(F.col("doc_id") % 2 == 0)
    second = d.where(F.col("doc_id") % 2 == 1)
    sdir, out = str(tmp_path / "in"), str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    first.coalesce(2).write.mode("append").parquet(sdir)
    q = run_curation_stream_on_dir(spark, sdir, out, ckpt, cfg,
                                   schema=d.schema)
    q.awaitTermination()
    import glob
    import os
    batches_after_first = sorted(glob.glob(f"{out}/batch_id=*"))
    mtimes = {p: os.path.getmtime(p) for p in batches_after_first}
    got1 = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    assert got1 == {r["doc_id"] for r in
                    curate(first, cfg).output.select("doc_id").collect()}

    second.coalesce(2).write.mode("append").parquet(sdir)
    q2 = run_curation_stream_on_dir(spark, sdir, out, ckpt, cfg,
                                    schema=d.schema)
    q2.awaitTermination()
    # earlier batch dirs untouched (no reprocessing), new batches appended
    for p in batches_after_first:
        assert os.path.getmtime(p) == mtimes[p]
    assert len(glob.glob(f"{out}/batch_id=*")) > len(batches_after_first)
    got = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    exp = {r["doc_id"] for r in
           curate(d, cfg).output.select("doc_id").collect()}
    assert got == exp


@pytest.mark.slow
def test_curation_stream_cross_batch_dedup_exact(spark, sf_dir, tmp_path):
    """Composed streaming curation + cross-batch EXACT dedup: duplicates
    planted so their group spans micro-batches IN BOTH directions (copy
    arrives after its original AND copy arrives before a later-batch
    original), and the result must equal offline curate() with dedup —
    canonical choice is min-id, not first-arrival."""
    from anomalyzer_spark.pipeline import CurationConfig, curate
    from anomalyzer_spark.streaming import (
        run_curation_stream_with_dedup_on_dir)

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    originals = d.where(F.col("doc_id") < 400)
    late_originals = d.where(F.col("doc_id") >= 400)
    copies = originals.where(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 100_000).alias("doc_id"), "text")
    # copies of the LATE originals arrive in the FIRST file — keep-first
    # by arrival would wrongly keep these big-id copies
    early_copies = late_originals.where(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 200_000).alias("doc_id"), "text")
    corpus = originals.unionByName(late_originals) \
        .unionByName(copies).unionByName(early_copies)

    sdir = str(tmp_path / "in")
    early_copies.coalesce(1).write.mode("append").parquet(sdir)
    originals.coalesce(1).write.mode("append").parquet(sdir)
    late_originals.unionByName(copies).coalesce(1) \
        .write.mode("append").parquet(sdir)

    cfg = CurationConfig(min_tokens=5)  # dedup="exact" is the default
    got = run_curation_stream_with_dedup_on_dir(
        spark, sdir, str(tmp_path / "out"), str(tmp_path / "ckpt"), cfg,
        schema=d.schema)
    gset = sorted((r["doc_id"], r["text"]) for r in got.collect())
    eset = sorted((r["doc_id"], r["text"]) for r in
                  curate(corpus, cfg).output.collect())
    assert gset == eset and 0 < len(gset) < corpus.count()
    # every planted copy lost to its smaller-id original
    kept = {i for i, _ in gset}
    assert not any(i >= 100_000 for i in kept)


@pytest.mark.slow
def test_curation_stream_cross_batch_dedup_minhash(spark, sf_dir, tmp_path):
    """Composed streaming curation + cross-batch NEAR-dup dedup: the
    band-bucket store accumulated over 3 micro-batches must resolve the
    same keep-first survivors as offline curate(dedup='minhash') — near-
    dup pairs whose endpoints live in different batches included."""
    from anomalyzer_spark.pipeline import CurationConfig, curate
    from anomalyzer_spark.streaming import (
        run_curation_stream_with_dedup_on_dir)

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    base = d.where(F.col("doc_id") < 300)
    # near-dup copies: same text + a short suffix (high Jaccard, new hash)
    near = base.where(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 100_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" trailing marker")).alias("text"))
    corpus = base.unionByName(near)
    sdir = str(tmp_path / "in")
    # 3 files -> 3 micro-batches; near-dups split from their partners
    base.where(F.col("doc_id") < 150).coalesce(1) \
        .write.mode("append").parquet(sdir)
    base.where(F.col("doc_id") >= 150).coalesce(1) \
        .write.mode("append").parquet(sdir)
    near.coalesce(1).write.mode("append").parquet(sdir)

    cfg = CurationConfig(dedup="minhash", dedup_threshold=0.6)
    got = run_curation_stream_with_dedup_on_dir(
        spark, sdir, str(tmp_path / "out"), str(tmp_path / "ckpt"), cfg,
        schema=d.schema)
    gset = sorted((r["doc_id"], r["text"]) for r in got.collect())
    eset = sorted((r["doc_id"], r["text"]) for r in
                  curate(corpus, cfg).output.collect())
    assert gset == eset and 0 < len(gset) < corpus.count()
    # at least one cross-batch near-dup group actually resolved
    assert len(gset) < corpus.count() - 0


def test_curation_stream_with_dedup_rejects_unsupported(spark, tmp_path):
    from anomalyzer_spark.pipeline import CurationConfig
    from anomalyzer_spark.streaming import (
        run_curation_stream_with_dedup_on_dir)

    with pytest.raises(ValueError, match="requires cfg.dedup"):
        run_curation_stream_with_dedup_on_dir(
            spark, "x", "y", "z", CurationConfig(dedup=None))
    with pytest.raises(ValueError, match="not batch-split-invariant"):
        run_curation_stream_with_dedup_on_dir(
            spark, "x", "y", "z", CurationConfig(redact=True))
    with pytest.raises(ValueError, match="not batch-split-invariant"):
        run_curation_stream_with_dedup_on_dir(
            spark, "x", "y", "z",
            CurationConfig(dedup="minhash", dedup_keep="best"))
    # strip_spans no longer raises (round 10: cross-batch gram store);
    # the remaining corpus-relative gates still do
    with pytest.raises(ValueError, match="not batch-split-invariant"):
        run_curation_stream_with_dedup_on_dir(
            spark, "x", "y", "z",
            CurationConfig(strip_spans=15, top_fraction=0.5))


# ---------------------------------------------------------------------------
# streaming drift monitor
# ---------------------------------------------------------------------------

@pytest.mark.slow
def test_drift_stream_per_batch_equals_offline(spark, sf_dir, tmp_path):
    # 3 single-file micro-batches; every emitted (batch, column) PSI must
    # equal the offline psi_report of the baseline vs that file alone —
    # batch placement decides grouping, never numbers
    from anomalyzer_spark.functions.drift import (
        histogram_profile, psi_report)
    from anomalyzer_spark.streaming import run_drift_stream_on_dir

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    bounds = {"o_totalprice": (0.0, 600000.0)}
    baseline = histogram_profile(orders, ["o_totalprice"], bounds=bounds)

    sdir = str(tmp_path / "drift_in")
    splits = [orders.where(F.col("o_orderkey") % 6 < 1),
              orders.where((F.col("o_orderkey") % 6 >= 1)
                           & (F.col("o_orderkey") % 6 < 3)),
              orders.where(F.col("o_orderkey") % 6 >= 3)]
    for i, part in enumerate(splits):
        part.coalesce(1).write.mode(
            "overwrite" if i == 0 else "append").parquet(sdir)

    monitor = run_drift_stream_on_dir(
        spark, sdir, ["o_totalprice"], bounds=bounds, baseline=baseline,
        query_name="drift_mon_test").collect()
    assert len(monitor) == 3  # 3 batches x 1 column
    assert sorted(r["batch_id"] for r in monitor) == [0, 1, 2]

    # identify each batch by its row count (split sizes differ) and
    # check the psi against the offline report for that exact split
    offline = {}
    for part in splits:
        prof = histogram_profile(part, ["o_totalprice"], bounds=bounds)
        r = psi_report(baseline, prof).collect()[0]
        offline[r["new_rows"]] = (r["psi"], r["old_rows"])
    assert len(offline) == 3, "split sizes must differ for this pin"
    for r in monitor:
        psi, old_rows = offline[r["new_rows"]]
        assert r["psi"] == psi and r["old_rows"] == old_rows


def test_drift_stream_categorical_and_validation(spark, sf_dir, tmp_path):
    from anomalyzer_spark.functions.drift import (
        category_profile, top_categories)
    from anomalyzer_spark.streaming import run_drift_stream_on_dir

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    vocab = top_categories(orders, ["o_orderstatus"], top_k=3)
    cat_base = category_profile(orders, ["o_orderstatus"],
                                categories=vocab)
    sdir = str(tmp_path / "drift_cat_in")
    orders.coalesce(1).write.parquet(sdir)
    mon = run_drift_stream_on_dir(
        spark, sdir, [], bounds={}, categories=vocab,
        cat_baseline=cat_base, query_name="drift_cat_test").collect()
    # whole table in one batch vs itself-as-baseline: psi exactly 0
    assert len(mon) == 1
    assert mon[0]["psi"] == 0.0 and mon[0]["column"] == "o_orderstatus"

    with pytest.raises(ValueError):
        run_drift_stream_on_dir(spark, sdir, [], bounds={})
    with pytest.raises(ValueError):
        run_drift_stream_on_dir(spark, sdir, [], bounds={},
                                categories=vocab)  # no cat_baseline


def test_checks_stream_per_batch_equals_offline(spark, sf_dir, tmp_path):
    from anomalyzer_spark.functions import checks as C
    from anomalyzer_spark.streaming import run_checks_stream_on_dir

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    sdir = str(tmp_path / "checks_in")
    splits = [orders.where(F.col("o_orderkey") % 6 < 1),
              orders.where((F.col("o_orderkey") % 6 >= 1)
                           & (F.col("o_orderkey") % 6 < 3)),
              orders.where(F.col("o_orderkey") % 6 >= 3)]
    for i, part in enumerate(splits):
        part.coalesce(1).write.mode(
            "overwrite" if i == 0 else "append").parquet(sdir)

    spec = [C.completeness("o_custkey"),
            C.mean_between("o_totalprice", 1e5, 4e5),
            C.row_count(min_rows=300),
            # the heavy-hitters kind composes through the stream runner
            # like any other check (its extra grouped pass runs per batch)
            C.top_share("o_orderstatus", 0.9)]
    mon = run_checks_stream_on_dir(
        spark, sdir, spec, query_name="checks_mon_test").collect()
    assert len(mon) == 12  # 3 batches x 4 checks
    # row_count identifies each batch; its value keys the batch -> the
    # offline report of that exact split must match row-for-row
    by_batch = {}
    for r in mon:
        by_batch.setdefault(r["batch_id"], {})[r["check"]] = r
    sizes = {}
    for part in splits:
        rep = {r["check"]: r for r in
               C.verify_checks(part, spec).collect()}
        sizes[rep["2:row_count"]["value"]] = rep
    assert len(sizes) == 3
    for batch in by_batch.values():
        offline = sizes[batch["2:row_count"]["value"]]
        for check, r in batch.items():
            o = offline[check]
            assert r["value"] == o["value"] and r["passed"] == o["passed"]

    with pytest.raises(ValueError):
        run_checks_stream_on_dir(spark, sdir, [])


def test_apply_mixture_plan_works_on_streams(spark, sf_dir, tmp_path):
    """apply_mixture_plan is map-only (broadcast plan join + epoch
    explode + hash filter — no aggregate, no window, no state), so the
    batch-planned mixture applies unchanged to a STREAM of documents:
    the standard plan-on-snapshot / apply-to-stream split the docstring
    documents. Streamed output must equal the batch apply exactly."""
    from anomalyzer_spark.functions import sampling
    from anomalyzer_spark.sources import load_table
    from anomalyzer_spark.streaming._drain import drain_available_now

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    plan = sampling.mixture_plan(d, "lang", alpha=0.2)
    sdir = str(tmp_path / "mix_stream_in")
    d.coalesce(3).write.mode("overwrite").parquet(sdir)

    res = drain_available_now(
        spark, sdir,
        lambda s: sampling.apply_mixture_plan(s, plan, "lang"),
        "mix_stream_t", output_mode="append")
    got = sorted((r["doc_id"], r["epoch"]) for r in res.collect())
    exp = sorted((r["doc_id"], r["epoch"]) for r in
                 sampling.apply_mixture_plan(d, plan, "lang").collect())
    assert got == exp and len(got) > 0
    assert max(e for _, e in got) >= 1      # real up-sampling occurred


# ---------------------------------------------------------------------------
# streaming exact-substring (duplicate-span) dedup — cross-batch gram store
# ---------------------------------------------------------------------------

_SPAN_PASSAGE = (
    "the quick brown fox jumps over the lazy dog while seven wizards "
    "brew strong black coffee at midnight under pale northern lights"
)  # 21 words — longer than the min_len=10 grams below


def _span_planted_corpus(spark, sf_dir):
    """Fixture docs with a shared passage planted into docs 5, 12, and 700
    (distinct base texts, so exact dedup never merges them). Doc 5 holds
    the global-min canonical occurrence."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text") \
        .where(F.col("doc_id") < 40)
    rows = [(r["doc_id"], r["text"]) for r in d.collect()]
    planted = [
        (i, t + " " + _SPAN_PASSAGE) if i in (5, 12) else (i, t)
        for i, t in rows
    ]
    planted.append((700, "unique preamble words here " + _SPAN_PASSAGE))
    return spark.createDataFrame(planted, "doc_id long, text string")


@pytest.mark.slow
def test_span_gram_store_equals_batch_both_orders(spark, sf_dir, tmp_path):
    """The drained gram store's final state drives a strip identical to
    the offline one-call operator, for BOTH arrival orders of a 3-batch
    split — the canonical occurrence is the global-min (id, pos), not
    first-arrival, because every state field is an order-independent
    aggregate."""
    from anomalyzer_spark.functions.dedup import strip_duplicate_spans
    from anomalyzer_spark.streaming import (run_span_gram_stream_on_dir,
                                            strip_spans_with_store)

    corpus = _span_planted_corpus(spark, sf_dir)
    want = sorted(map(tuple, strip_duplicate_spans(
        corpus, min_len=10).collect()))
    splits = [corpus.where(F.col("doc_id") < 10),
              corpus.where((F.col("doc_id") >= 10) & (F.col("doc_id") < 40)),
              corpus.where(F.col("doc_id") >= 40)]
    for order, name in ((splits, "fwd"), (splits[::-1], "rev")):
        sdir = str(tmp_path / f"in_{name}")
        for part in order:
            part.coalesce(1).write.mode("append").parquet(sdir)
        store = run_span_gram_stream_on_dir(
            spark, sdir, min_len=10,
            query_name=f"span_store_{name}", max_files_per_trigger=1)
        got = sorted(map(tuple, strip_spans_with_store(
            spark.read.parquet(sdir), store, min_len=10).collect()))
        assert got == want, f"arrival order {name} diverged from offline"
    # the planted passage really was stripped somewhere (doc 700's copy
    # loses to doc 5's global-min canonical)
    by_id = {row[0]: row[1] for row in want}
    assert _SPAN_PASSAGE not in by_id[700]
    assert _SPAN_PASSAGE in by_id[5]


@pytest.mark.slow
def test_curation_stream_cross_batch_strip_spans(spark, sf_dir, tmp_path):
    """Composed streaming curation + cross-batch exact dedup + cross-batch
    SPAN dedup: the doc holding the global-min canonical occurrence
    arrives LAST, so a first-arrival gram policy would keep the wrong
    copy — the result must still equal offline curate() byte-for-byte."""
    from anomalyzer_spark.pipeline import CurationConfig, curate
    from anomalyzer_spark.streaming import (
        run_curation_stream_with_dedup_on_dir)

    corpus = _span_planted_corpus(spark, sf_dir)
    sdir = str(tmp_path / "in")
    # batch 1: the big-id copy; batch 2: bystanders; batch 3: docs 5 & 12
    corpus.where(F.col("doc_id") >= 40).coalesce(1) \
        .write.mode("append").parquet(sdir)
    corpus.where((F.col("doc_id") >= 10) & (F.col("doc_id") < 40)) \
        .coalesce(1).write.mode("append").parquet(sdir)
    corpus.where(F.col("doc_id") < 10).coalesce(1) \
        .write.mode("append").parquet(sdir)

    cfg = CurationConfig(min_tokens=5, strip_spans=10)  # dedup="exact"
    got = run_curation_stream_with_dedup_on_dir(
        spark, sdir, str(tmp_path / "out"), str(tmp_path / "ckpt"), cfg,
        schema=corpus.schema)
    gset = sorted((r["doc_id"], r["text"]) for r in got.collect())
    eset = sorted((r["doc_id"], r["text"]) for r in
                  curate(corpus, cfg).output.collect())
    assert gset == eset and len(gset) > 0
    by_id = dict(gset)
    assert _SPAN_PASSAGE in by_id[5] and _SPAN_PASSAGE not in by_id[700]


def test_adaptive_state_partitions_derivation(spark, tmp_path):
    """ceil(bytes / divisor) clamped to [1, session shuffle partitions]:
    kilobyte inputs get ONE state partition, the session conf is the
    production upper bound, and the divisor is conf-parameterised."""
    from anomalyzer_spark.streaming._drain import adaptive_state_partitions

    sdir = str(tmp_path / "tiny_in")
    spark.range(10).write.mode("overwrite").parquet(sdir)
    assert adaptive_state_partitions(spark, sdir) == 1
    cap = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert adaptive_state_partitions(
        spark, sdir, bytes_per_partition=1) == cap
    spark.conf.set("anomalyzer.streaming.bytesPerStatePartition", "1")
    try:
        assert adaptive_state_partitions(spark, sdir) == cap
    finally:
        spark.conf.unset("anomalyzer.streaming.bytesPerStatePartition")
    with pytest.raises(ValueError, match="positive"):
        adaptive_state_partitions(spark, sdir, bytes_per_partition=0)
    # GLOB inputs (file-stream sources accept them; getContentSummary
    # does not — r15 regression: curate_stream drains out/batch_id=*):
    # glob bytes == the summed per-dir bytes, and no matches -> 1
    for b in (0, 1):
        spark.range(5).write.mode("overwrite").parquet(
            str(tmp_path / f"batch_id={b}"))
    glob = str(tmp_path / "batch_id=*")
    assert adaptive_state_partitions(spark, glob) == 1
    assert adaptive_state_partitions(spark, glob, bytes_per_partition=1) \
        == cap
    assert adaptive_state_partitions(
        spark, str(tmp_path / "nothing=*")) == 1


def test_dedup_stream_state_partitions_invariant(spark, sf_dir, tmp_path):
    """The final dedup state is state-partition-count invariant (keyed
    aggregation), and the scoped shuffle override restores the session
    conf — the downstream batch plans must keep their partitioning."""
    from anomalyzer_spark.sources import load_table
    from anomalyzer_spark.streaming import run_dedup_stream_on_dir

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    sdir = str(tmp_path / "dedup_sp_in")
    d.repartition(3).write.mode("overwrite").parquet(sdir)
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    auto = run_dedup_stream_on_dir(
        spark, sdir, "text", "doc_id", query_name="dedup_sp_auto",
        max_files_per_trigger=1)
    pinned = run_dedup_stream_on_dir(
        spark, sdir, "text", "doc_id", query_name="dedup_sp_pin",
        max_files_per_trigger=1, state_partitions=5)

    def key(r):
        return (r["content_hash"], r["group_size"], r["canonical_id"])

    assert sorted(map(key, auto.collect())) == \
        sorted(map(key, pinned.collect()))
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev


@pytest.mark.slow
def test_dedup_stream_no_data_batch_off_same_state(spark, sf_dir,
                                                   tmp_path):
    """r16: the dedup drill drains with the trailing no-data micro-batch
    disabled (Update-mode keyed agg, no watermark — it emits nothing).
    Final state must equal a drain WITH the extra batch, and the scoped
    conf must restore (the session may run watermarked drains next)."""
    from anomalyzer_spark.sources import load_table
    from anomalyzer_spark.streaming._drain import drain_available_now
    from anomalyzer_spark.streaming.dedup_stream import (
        dedup_stream, run_dedup_stream_on_dir)

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    sdir = str(tmp_path / "dedup_nd_in")
    d.repartition(2).write.mode("overwrite").parquet(sdir)
    key_ = "spark.sql.streaming.noDataMicroBatches.enabled"
    prev = spark.conf.get(key_, None)
    # the runner's default path (no_data_batch=False inside)
    off = run_dedup_stream_on_dir(
        spark, sdir, "text", "doc_id", query_name="dedup_nd_off",
        max_files_per_trigger=1)
    assert spark.conf.get(key_, None) == prev  # scoped, restored
    # explicit drain WITH the no-data batch (Spark default)
    res = drain_available_now(
        spark, sdir, lambda s: dedup_stream(s, "text", "doc_id"),
        "dedup_nd_on", output_mode="update", max_files_per_trigger=1,
        no_data_batch=True)
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window
    w = Window.partitionBy("content_hash").orderBy(
        F.col("group_size").desc(), F.col("canonical_id").asc())
    on = (res.withColumn("_rn", F.row_number().over(w))
          .where(F.col("_rn") == 1).drop("_rn"))

    def key(r):
        return (r["content_hash"], r["group_size"], r["canonical_id"])

    assert sorted(map(key, off.collect())) == \
        sorted(map(key, on.collect()))
    assert spark.conf.get(key_, None) == prev
