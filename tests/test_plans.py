"""Plan-property regression tests (SURVEY.md §4.3 scale contract).

These pin the physical-plan shapes that make the engine viable at 100 TB:
a refactor that adds a shuffle, drops predicate pushdown, or stops
broadcasting a dimension join fails HERE, not on the cluster.
"""

import pytest
from pyspark.sql import functions as F

from anomalyzer_spark import AnomalyzerConf, detect
from anomalyzer_spark.plans import assert_plan, count_exchanges, explain_str
from anomalyzer_spark.sources import load_table

DET = AnomalyzerConf(active_size=2, methods=("magnitude", "fence", "cdf"),
                     upper_bound=500.0, lower_bound=0.0)


def test_detect_single_shuffle_with_maplocal_tail(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    df = detect(ev, ["event_type"], "ts", "value", DET,
                tiebreak_cols=["event_id"])
    plan = assert_plan(df, max_exchanges=1, requires=("WindowGroupLimit",))
    # tail-N limit must run MAP-SIDE (below the exchange): the shuffle then
    # carries O(keys·window·input_splits), never the full history
    assert plan.index("WindowGroupLimit") > plan.index("Exchange") or \
        plan.count("WindowGroupLimit") >= 2


def test_detect_plan_build_py4j_budget(spark, sf_dir, monkeypatch):
    """Building detect()'s plan on the Monte-Carlo conf (all seven tests)
    sends a few hundred py4j commands, not the ~3,080 of per-node Column
    trees: every staged projection is one SQL-text selectExpr. The bound
    is a tenth of that; py4j's garbage-collection commands for freed
    Java objects add a little noise below it, so earlier tests' garbage
    is collected first and the cycle collector paused while counting."""
    import gc

    from anomalyzer_spark.config import SUPPORTED_METHODS

    conf = AnomalyzerConf(methods=SUPPORTED_METHODS, upper_bound=120.0,
                          lower_bound=80.0)
    ev = load_table(spark, sf_dir, "events")
    detect(ev, ["event_type"], "ts", "value", conf,
           tiebreak_cols=["event_id"])  # one-time lookups stay out

    client = spark.sparkContext._gateway._gateway_client
    sent = []
    orig = client.send_command
    monkeypatch.setattr(client, "send_command",
                        lambda *a, **k: sent.append(1) or orig(*a, **k))
    gc.collect()
    sent.clear()
    gc.disable()
    try:
        detect(ev, ["event_type"], "ts", "value", conf,
               tiebreak_cols=["event_id"])
    finally:
        gc.enable()
        monkeypatch.undo()
    assert len(sent) <= 308, len(sent)


def test_detect_scan_prunes_columns(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    df = detect(ev.where(F.col("event_type") == "error"),
                ["event_type"], "ts", "value", DET,
                tiebreak_cols=["event_id"])
    plan = explain_str(df)
    assert "PushedFilters: [IsNotNull(event_type), EqualTo(event_type,error)]" in plan
    read = plan[plan.index("ReadSchema"):].splitlines()[0]
    assert "props" not in read and "user_id" not in read  # pruned


def test_top_customers_broadcasts_dims(spark, sf_dir):
    import __spark_entry__ as e
    df = e.q_top_customers(spark, sf_dir)
    assert_plan(df, min_broadcasts=3, requires=("BroadcastHashJoin",))


def test_asof_join_single_shuffle_per_side(spark, sf_dir):
    import __spark_entry__ as e
    df = e.q_asof_join(spark, sf_dir)
    plan = explain_str(df)
    # union of two scans → one exchange for the window; no join node at all
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan
    assert count_exchanges(plan) <= 2  # one per union branch pre-AQE


def test_rolling_single_window_pass(spark, sf_dir):
    from anomalyzer_spark.operators.rolling import detect_rolling
    ev = load_table(spark, sf_dir, "events")
    df = detect_rolling(ev, ["event_type"], "ts", "value", DET,
                        tiebreak_cols=["event_id"])
    assert_plan(df, max_exchanges=1)


def test_rolling_chunked_two_exchanges(spark, sf_dir):
    # hot-key chunk path: key exchange (row_number) + explicit (key, chunk)
    # repartition for the frame window — exactly two, still no joins
    from anomalyzer_spark.operators.rolling import detect_rolling
    ev = load_table(spark, sf_dir, "events")
    df = detect_rolling(ev, ["event_type"], "ts", "value", DET,
                        tiebreak_cols=["event_id"], chunk_rows=64)
    assert_plan(df, max_exchanges=2)


def test_text_ops_no_shuffle(spark, sf_dir):
    from anomalyzer_spark.functions import text
    d = load_table(spark, sf_dir, "documents")  # no repartition
    for op in (text.text_stats, text.lang_id, text.fingerprint,
               text.token_count, text.repetition_stats, text.redact_pii,
               # the merged five-operator profile must stay one map-only
               # projection — no joins, no exchanges
               text.text_profile):
        assert_plan(op(d, "text", "doc_id"), max_exchanges=0)


def test_cosine_pairs_lsh_no_cartesian(spark, sf_dir):
    """The LSH pair path must be a bucket equi-join — a CartesianProduct
    node means the O(n^2) scale-killer leaked back in."""
    from anomalyzer_spark.functions import similarity
    import pyspark.sql.functions as F
    e = load_table(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>"))
    # materialize=False keeps the FULL plan visible (the checkpoint would
    # truncate bucket generation behind an ExistingRDD scan, hiding the
    # very subtree this test polices) and keeps the build job-free
    df = similarity.cosine_pairs(
        e, id_col="vec_id", vec_col="embedding", threshold=0.35,
        use_lsh=True, n_planes=16, bands=4, dim=64, seed=7,
        materialize=False)
    assert_plan(df, forbids=("CartesianProduct",))


def test_cosine_pairs_lsh_subset_of_exact(spark, sf_dir):
    """LSH candidates verify with EXACT cosine, so every LSH pair must
    appear in the exact all-pairs result with the identical similarity
    (LSH only loses recall, never precision)."""
    from anomalyzer_spark.functions import similarity
    import pyspark.sql.functions as F
    e = load_table(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>"))
    kw = dict(id_col="vec_id", vec_col="embedding", threshold=0.35)
    lsh = {(r["id_a"], r["id_b"]): r["cos_sim"]
           for r in similarity.cosine_pairs(
               e, use_lsh=True, n_planes=16, bands=4, dim=64, seed=7,
               **kw).collect()}
    exact = {(r["id_a"], r["id_b"]): r["cos_sim"]
             for r in similarity.cosine_pairs(e, **kw).collect()}
    assert lsh, "LSH path found no pairs at all"
    assert set(lsh) <= set(exact)
    assert all(exact[p] == s for p, s in lsh.items())
    # recall floor: threshold 0.35 is a WEAK-similarity setting (~69° —
    # far below where 4-bit-band LSH concentrates); ~0.5 recall there is
    # expected, and recall rises with similarity. Precision (subset +
    # identical sims above) is the hard contract.
    assert len(lsh) >= 0.4 * len(exact)


def test_horizon_prefilter_prunes_before_exchange(spark, sf_dir):
    """With horizon set, the heavy exchange's input is filtered by the
    per-key max-ts join — old rows drop BEFORE the big shuffle."""
    import pyspark.sql.functions as F

    from anomalyzer_spark.plans import explain_str
    ev = load_table(spark, sf_dir, "events")
    df = detect(ev, ["event_type"], "ts", "value", DET,
                tiebreak_cols=["event_id"],
                horizon=F.expr("INTERVAL 7 DAYS"))
    plan = explain_str(df)
    assert "_max_ts" in plan  # the pre-filter join is in the plan
    # and results equal the unfiltered run when the horizon is generous
    wide = detect(ev, ["event_type"], "ts", "value", DET,
                  tiebreak_cols=["event_id"],
                  horizon=F.expr("INTERVAL 365 DAYS"))
    base = detect(ev, ["event_type"], "ts", "value", DET,
                  tiebreak_cols=["event_id"])
    a = {r["event_type"]: r["prob"] for r in wide.collect()}
    b = {r["event_type"]: r["prob"] for r in base.collect()}
    assert a == b


def test_composed_pipelines_no_cartesian(spark, sf_dir):
    """The composed curation chains must stay bucketed/broadcast all the
    way through — a CartesianProduct anywhere means an O(n^2) stage
    leaked into the 100 TB path."""
    import __spark_entry__ as entry
    for q in ("emb_pipeline", "data_pipeline", "cdc_dedup"):
        df = entry.queries()[q](spark, sf_dir)
        assert_plan(df, forbids=("CartesianProduct",))


def test_skewsafe_median_exact_and_spread(spark, sf_dir):
    """The counting rewrite must (a) equal the sort-based exact median
    (lower-median / quantile_disc semantics, incl. even-count groups and
    NULLs ignored) and (b) shuffle stage 1 on (key, value) so a heavy
    group's rows spread across reducers instead of one sort buffer."""
    import pyspark.sql.functions as F

    from anomalyzer_spark.operators.skew import skewsafe_median
    from anomalyzer_spark.plans import explain_str
    li = load_table(spark, sf_dir, "lineitem")
    out = skewsafe_median(li, ["l_returnflag"], "l_quantity")
    plan = explain_str(out)
    # deepest exchange partitions on (key, value), not key alone
    assert "l_quantity" in plan.split("hashpartitioning", 1)[1][:120]
    got = {r["l_returnflag"]: r["median"] for r in out.collect()}
    rows = li.select("l_returnflag", "l_quantity").collect()
    import collections
    by_key = collections.defaultdict(list)
    for r in rows:
        if r["l_quantity"] is not None:
            by_key[r["l_returnflag"]].append(r["l_quantity"])
    exp = {k: sorted(v)[(len(v) + 1) // 2 - 1] for k, v in by_key.items()}
    assert got == exp
    # hand case: even count + NULL → lower median of the non-nulls
    df = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("a", 3.0), ("a", 9.0), ("a", None)],
        "k string, v double")
    one = skewsafe_median(df, ["k"], "v").collect()
    assert one[0]["median"] == 2.0


def test_pq_topk_self_neighbor_and_code_shape(spark, sf_dir):
    """PQ sanity: codes are m small ints; a query that IS a corpus vector
    must rank itself at the very top by asymmetric distance for nearly all
    queries (quantization can only blur, not reorder its own cell much)."""
    import numpy as np
    import pyspark.sql.functions as F

    from anomalyzer_spark.functions import similarity
    e = load_table(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>"))
    sample = e.where(F.col("vec_id") < 256).select(
        "vec_id", "embedding").collect()
    sample = sorted(((r["vec_id"], r["embedding"]) for r in sample))
    books = similarity.train_pq_codebooks(
        np.asarray([v for _, v in sample]), m=8, k=16)
    codes = similarity.pq_encode(e, books).collect()
    assert all(len(r["codes"]) == 8 and all(0 <= c < 16 for c in r["codes"])
               for r in codes)
    out = similarity.pq_topk(e, e.where(F.col("vec_id") < 20), books,
                             query_id_col="vec_id", k=3).collect()
    self_top = sum(1 for r in out
                   if r["query_id"] == r["neighbor_id"] and r["rnk"] <= 3)
    assert self_top >= 16  # >=80% of the 20 queries find themselves


def test_horizon_anchor_pushes_predicate_to_scan(spark, sf_dir):
    """horizon_anchor turns the horizon into a literal ts predicate that
    reaches the parquet scan (PushedFilters) — no join, no extra exchange,
    valid at any key cardinality. Must anchor on the PHYSICAL temporal
    column (a predicate on the derived ts_ns epoch column is arithmetic
    over a projection and cannot push). Semantics: equal to unfiltered
    detect when the anchored horizon covers all data."""
    import pyspark.sql.functions as F

    from anomalyzer_spark.plans import explain_str
    ev = load_table(spark, sf_dir, "events")
    df = detect(ev, ["event_type"], "ts", "value", DET,
                tiebreak_cols=["event_id"],
                horizon=F.expr("INTERVAL 3650 DAYS"),  # covers all data
                horizon_anchor=F.expr("TIMESTAMP_NTZ'2024-02-01 00:00:00'"))
    plan = explain_str(df)
    assert "Join" not in plan  # no per-key max(ts) join on the anchor path
    assert_plan(df, max_exchanges=1)  # the single key exchange, nothing more
    # the comparison predicate itself reaches the scan (not just IsNotNull)
    pushed = plan.split("PushedFilters", 1)[1][:200]
    assert "GreaterThanOrEqual(ts" in pushed
    base = detect(ev, ["event_type"], "ts", "value", DET,
                  tiebreak_cols=["event_id"])
    assert ({(r["event_type"], r["prob"]) for r in df.collect()}
            == {(r["event_type"], r["prob"]) for r in base.collect()})


def test_detect_horizon_contract_query_pushes_ts(spark, sf_dir):
    """The detect_horizon contract query's plan shows the pushed ts
    predicate at the anchored cutoff (VERDICT r2 item 7)."""
    import __spark_entry__ as e

    from anomalyzer_spark.plans import explain_str
    plan = explain_str(e.q_detect_horizon(spark, sf_dir))
    pushed = plan.split("PushedFilters", 1)[1][:200]
    assert "GreaterThanOrEqual(ts,2024-01-24T00:00" in pushed


def test_bucketed_detect_zero_shuffle(spark, sf_dir):
    """Pre-bucketed storage removes detection's only exchange entirely."""
    from anomalyzer_spark.sources.bucketing import read_bucketed, save_bucketed
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", "ts_ns", "event_id", "value")
    save_bucketed(ev, "ev_bucketed_test", ["event_type"], 8,
                  sort_cols=["ts_ns", "event_id"])
    try:
        b = read_bucketed(spark, "ev_bucketed_test")
        df = detect(b, ["event_type"], "ts_ns", "value", DET,
                    tiebreak_cols=["event_id"])
        assert_plan(df, max_exchanges=0)
        # and it still computes the same answer as the unbucketed path
        a = {r["event_type"]: r["prob"] for r in df.collect()}
        c = {r["event_type"]: r["prob"] for r in
             detect(ev, ["event_type"], "ts_ns", "value", DET,
                    tiebreak_cols=["event_id"]).collect()}
        assert a == c
    finally:
        spark.sql("DROP TABLE IF EXISTS ev_bucketed_test")


def test_pricing_summary_pushes_filter(spark, sf_dir):
    import __spark_entry__ as e
    plan = explain_str(e.q_pricing_summary(spark, sf_dir))
    assert "PushedFilters" in plan and "LessThanOrEqual(l_shipdate" in plan

def test_ivfpq_index_scan_prunes_partitions(spark, sf_dir, tmp_path):
    """The persisted ANN index must prune unprobed cells AT SCAN TIME:
    the index is partitioned by cell and the search's probe set becomes a
    PartitionFilters entry — unprobed cells' files are never opened. The
    results must equal the in-flight ivfpq_topk on the same models."""
    import numpy as np

    from anomalyzer_spark.functions import similarity
    from anomalyzer_spark.functions.ann_index import (
        build_ivfpq_index, search_ivfpq_index)

    e = load_table(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>"))
    sample = np.array([r["embedding"] for r in
                       e.where(F.col("vec_id") < 64)
                       .orderBy("vec_id").collect()])
    cents = similarity.train_ivf_centroids(sample, 8)
    books = similarity.train_pq_codebooks(sample, m=4, k=8)
    idx_path = str(tmp_path / "ivfpq_index")
    build_ivfpq_index(e, idx_path, cents, books)

    queries = e.where(F.col("vec_id") < 5)
    out = search_ivfpq_index(spark, idx_path, queries, cents, books,
                             k=3, n_probe=2)
    plan = explain_str(out)
    # the probed-cell literal reaches the scan as a PARTITION filter —
    # assert inside the PartitionFilters bracket itself, not nearby text
    # (PushedFilters mentioning 'cell' must not satisfy this)
    pf = plan.split("PartitionFilters: [", 1)
    assert len(pf) == 2
    inside = pf[1][:pf[1].index("]")]
    assert "cell" in inside, f"no partition filter on cell: [{inside}]"
    got = {(r["query_id"], r["rnk"]): r["neighbor_id"] for r in out.collect()}
    exp = {(r["query_id"], r["rnk"]): r["neighbor_id"]
           for r in similarity.ivfpq_topk(
               e, queries, cents, books, k=3, n_probe=2).collect()}
    assert got == exp
    assert len(got) > 0
    # the staged query frame (cells + ADC LUT) is materialized ONCE per
    # call (eager localCheckpoint): the search plan's query side reads the
    # checkpointed partitions, not a second scan of the query source —
    # previously the probe collect and the join each rebuilt it
    assert "ExistingRDD" in plan
    assert "embeddings.parquet" not in plan


def test_curation_pipeline_single_scan_no_joins(spark, sf_dir):
    """The round-7 carry_cols contract: redact -> temperature-mix -> pack
    reads the corpus ONCE and re-attaches nothing — provenance rides the
    shard exchange. A refactor that reintroduces the corpus×corpus
    join-back (8 exchanges, 4 scans in the round-6 draft) fails here.
    Pinned on the CORE pipeline; the registry slot wraps it with the
    round-10 FFD attestation rider (one extra pass + doc_id join that
    exist for oracle coverage — bounded below, not zero)."""
    import __spark_entry__ as entry_mod

    df, _samp = entry_mod._curation_pipeline_core(spark, sf_dir)
    plan = assert_plan(df, max_exchanges=2)
    assert "Join" not in plan
    assert plan.count("documents.parquet") == 1
    # the full slot = core + attestation riders (FFD r10, nq_lang/split
    # r14, tf/kb/cs knobs r15). Since r15 the rider fan-out AND the pack
    # stage read ONE eager localCheckpoint of the sampled corpus instead
    # of re-deriving the redact+sample pyramid per leg (which had grown
    # to 12 corpus scans, and still re-ran the redact pyramid twice per
    # invocation — once for the checkpoint, once in the final plan). The
    # corpus parquet scan happens exactly once per invocation, at
    # checkpoint materialization; the final plan reads only ExistingRDD.
    full = explain_str(entry_mod.q_curation_pipeline(spark, sf_dir))
    assert full.count("documents.parquet") == 0
    assert "ExistingRDD" in full


def test_range_join_registry_plan_equi_not_theta(spark, sf_dir):
    """The registry range_join slot must plan as a bucket equi-join
    (broadcast or shuffled hash), never the cartesian/nested-loop Spark
    picks for the bare range predicate."""
    import __spark_entry__ as entry_mod

    plan = explain_str(entry_mod.q_range_join(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan
    assert "HashJoin" in plan


def test_plan_fingerprint_stable_across_session_history(spark, sf_dir):
    """bench.plan_fingerprint must not depend on how many plans the
    session compiled before it. The round-12 instance: an aggregate with
    TWO count-distincts (decontam) goes through Catalyst's
    RewriteDistinctAggregates, whose `gid` group ids — and with them the
    Expand column layout and the grouping-key order — are assigned in
    expression-id-allocation order, i.e. session history. The floor table
    flip-flopped between two hashes of the SAME plan for several rounds.
    Also pins that canonicalization does not conflate distinct plans."""
    import sys

    sys.path.insert(0, ".")
    import bench
    from anomalyzer_spark.functions import decontam
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    ev = docs.where(F.col("doc_id") % 97 == 0).select("doc_id", "text")

    def fp():
        return bench.plan_fingerprint(decontam.contamination(docs, ev, n=8))

    h1 = fp()
    # shift the session's expression-id counter by compiling + running an
    # unrelated plan (the bench's own execution pattern)
    docs.select(F.length("text").alias("len")).groupBy("len").count() \
        .write.mode("overwrite").format("noop").save()
    h2, h3 = fp(), fp()
    assert h1 == h2 == h3
    # distinct plans must stay distinct through the canonicalization
    other = bench.plan_fingerprint(
        docs.groupBy(F.length("text")).agg(F.count_distinct("doc_id")))
    assert other != h1


def test_plan_fingerprint_masks_sf_base_dir(spark, sf_dir, tmp_path):
    """The sf base directory is masked: the same query over the driver's
    testdata and over a relocated copy (the bench's multi-row-group
    re-materialization) must hash identically — a fixture relocation or
    parquet-layout change is not a plan change. Distinct FILES under the
    base dir must still hash differently."""
    import sys

    sys.path.insert(0, ".")
    import bench
    from pyspark.sql import functions as F

    # relocated copy under a /sf<digits.digits>/ base, different layout
    alt = str(tmp_path / "sf9.9")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    import pyarrow.parquet as pq

    t = pq.ParquetFile(f"{sf_dir}/documents.parquet").read()
    import os

    os.makedirs(alt)
    pq.write_table(t, f"{alt}/documents.parquet",
                   row_group_size=max(1, t.num_rows // 8))

    def q(d):
        return (spark.read.parquet(f"{d}/documents.parquet")
                .groupBy("lang").agg(F.avg("n_chars").alias("a")))

    assert bench.plan_fingerprint(q(sf_dir)) == bench.plan_fingerprint(q(alt))
    # the mask hides the DIRECTORY, not the file: another table differs
    other = (spark.read.parquet(f"{sf_dir}/events.parquet")
             .groupBy("event_type").agg(F.avg("value").alias("a")))
    assert bench.plan_fingerprint(other) != bench.plan_fingerprint(q(sf_dir))
    # the unmasked variant (migration tool) sees the relocation
    assert bench.plan_fingerprint(q(sf_dir), _mask_sfdir=False) \
        != bench.plan_fingerprint(q(alt), _mask_sfdir=False)


def test_round13_sketch_plans(spark, sf_dir):
    """Plan shapes of the round-13 sketch operators: kll_profile is the
    counting rewrite (one count exchange + the distinct-value window —
    never a cartesian, never a corpus-wide unpartitioned rank over
    ROWS); bottomk_profile's ranking window carries WindowGroupLimit
    (map-side k-cap before the exchange); ks_from_profiles never joins
    corpora (profile frames only)."""
    from anomalyzer_spark.functions import drift, sketch
    d = load_table(spark, sf_dir, "documents")
    kll = sketch.kll_profile(d.select("n_chars"), ["n_chars"], k=32)
    plan = assert_plan(kll, forbids=("CartesianProduct",
                                     "BroadcastNestedLoop"))
    assert "WindowGroupLimit" not in plan  # cumulative window, no top-k
    bk = sketch.bottomk_profile(d, ["lang", "source"], k=8)
    assert_plan(bk, requires=("WindowGroupLimit",),
                forbids=("CartesianProduct",))
    ks = drift.ks_from_profiles(
        sketch.kll_profile(d.select("n_chars"), ["n_chars"], k=32),
        sketch.kll_profile(d.select("n_chars"), ["n_chars"], k=32))
    assert_plan(ks, forbids=("CartesianProduct",))


@pytest.mark.slow
def test_quantile_profile_sharded_gate_plan(spark, sf_dir):
    """r13 verdict: the drift/checks gate surface must reach the
    continuous-column KLL scale path. quantile_profile(sharded=True)
    routes through kll_profile_sharded — the distinct-value window is
    partitioned by the value-hash salt (bounded ~distinct/n_shards
    per-task state), never one partition per column."""
    from anomalyzer_spark.functions import checks, drift, sketch
    d = load_table(spark, sf_dir, "documents")
    # the pre-merge stage carries the salt in the window partition key
    # (merge_kll's eager checkpoints truncate lineage, so the pin lives
    # on the seam frame the sharded build feeds into merge_kll)
    shard = sketch._kll_shard_profiles(
        d.select("n_chars"), ["n_chars"], k=64, n_shards=8,
        group_cols=None)
    plan = assert_plan(shard, forbids=("CartesianProduct",
                                       "BroadcastNestedLoop"))
    assert "_kll_salt" in plan  # the window partition key carries the salt
    # plain build for comparison: no salt anywhere in the plan
    plain = drift.quantile_profile(d.select("n_chars"), ["n_chars"], k=64)
    assert "_kll_salt" not in assert_plan(plain)
    # gate routing: quantile_profile(sharded=True) IS the sharded build
    prof = drift.quantile_profile(d.select("n_chars"), ["n_chars"],
                                  k=64, sharded=True, n_shards=8)
    want = sketch.kll_profile_sharded(d.select("n_chars"), ["n_chars"],
                                      k=64, n_shards=8)
    def _key(t):
        return tuple((x is None, x) for x in t)

    assert sorted(map(tuple, prof.collect()), key=_key) \
        == sorted(map(tuple, want.collect()), key=_key)
    # composition: the mergeable quantile gate runs off the sharded
    # profile unchanged (same frame schema and error contract)
    rep = checks.verify_quantile_profile(prof, [
        checks.quantile_between("n_chars", 0.5, 0.0, 1e9)]).collect()
    assert rep[0]["passed"] is True and rep[0]["value"] is not None


def test_decontam_dual_lane_plan(spark, sf_dir):
    """The decontam slot's two lanes (plain + bloom-prefiltered) must
    both be broadcast equi-joins — no cartesian, no nested-loop, and
    the bloom probe's block join broadcast."""
    import sys

    sys.path.insert(0, ".")
    import __spark_entry__ as entry
    df = entry.queries()["decontam"](spark, sf_dir)
    plan = assert_plan(df, forbids=("CartesianProduct",
                                    "BroadcastNestedLoop"),
                       min_broadcasts=3)
    # both lanes' per-document hit aggregates are present
    assert plan.count("count(distinct") >= 2 or \
        plan.count("count(DISTINCT") >= 2 or plan.count("gid") >= 2


def test_lsh_topk_ids_only_banding(spark, sf_dir):
    """r14 review item: the band-bucket join exchange and the
    candidate-dedup shuffle must move ids + bucket keys ONLY — the
    embedding column replicated x bands through those two exchanges is
    the corpus-scale anti-pattern cosine_pairs already avoids. Vectors
    may (must) appear only in the re-attach joins downstream."""
    import re

    import pyspark.sql.functions as F

    from anomalyzer_spark.functions import similarity
    e = load_table(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>"))
    df = similarity.lsh_topk(
        e, e.where(F.col("vec_id") < 8), id_col="vec_id",
        vec_col="embedding", query_id_col="vec_id", k=5,
        n_planes=16, bands=4, dim=64, seed=7)
    plan = explain_str(df)
    # formatted explain: every operator is a numbered block whose
    # Input/Arguments lines name the columns it moves. The band join
    # may be broadcast (small query set) or shuffled (corpus-scale
    # queries) — police BOTH: any Exchange / BroadcastExchange / join
    # node that touches the band/bucket keys must be vector-free.
    blocks = re.findall(
        r"\(\d+\) (?:Exchange|BroadcastExchange|\w*Join\w*)\n"
        r"(?:[^\n]+\n)+", plan)
    assert blocks, "no exchange/join blocks found — plan shape changed?"
    band_seen = dedup_seen = False
    for b in blocks:
        is_band = re.search(r"\bband#\d+", b) is not None
        is_dedup = re.search(
            r"hashpartitioning\([^)]*query_id#[^)]*neighbor_id#", b)
        if is_band:
            band_seen = True
        if is_dedup:
            dedup_seen = True
        if is_band or is_dedup:
            assert "embedding#" not in b and "_qv" not in b \
                and "_cv" not in b, f"vector column crosses exchange:\n{b}"
    assert band_seen, "band-bucket join not found in plan"
    assert dedup_seen, "candidate-dedup exchange not found in plan"
