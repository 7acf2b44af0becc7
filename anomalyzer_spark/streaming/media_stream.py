"""Streaming AUDIO and VIDEO near-dup matching — the last two cells of
the dedup matrix's streaming axis.

Batch ``multimodal.audio_matches`` / ``multimodal.video_matches`` find
near-duplicate clips inside one corpus; a crawl-shaped stream needs each
arriving clip matched against everything seen so far — the stream×history
shape ``minhash_stream`` pinned and ``dhash_stream`` reused (foreachBatch
against a persisted store, store written FIRST for replay idempotence,
the NEW side broadcast so history is scanned, never shuffled).

Audio store components (``audio_dedup_stream``):
  - ``fps``:   (id, n_fps, fp, pfx) — each clip's DISTINCT Haitsma-Kalker
    subfingerprints exploded one row each (``audio_fingerprint`` →
    ``array_distinct``, exactly the batch operator's join feed);
    ``pfx`` = fp low bits partitions the store so the broadcast join's
    dynamic partition pruning skips untouched files.
  - ``pairs``: (id_a, id_b, shared_fps, overlap).

Video store components (``video_dedup_stream``):
  - ``fblocks``:  ``hamming_blocks`` rows of per-frame dHash signatures,
    keyed by the packed frame id (clip_id·2³¹ + frame_idx — the
    ``video_matches`` packing, range-guarded the same way).
  - ``clipmeta``: (id, n_frames) — decodable-frame counts, the overlap
    denominator of the clip a pair's LATER member matches against.
  - ``pairs``:    (id_a, id_b, shared_frames, overlap).

Why the final state equals the batch operator over the same corpus: a
qualifying pair is discovered exactly when its LATER member arrives — at
that moment the earlier clip's FULL fingerprint/frame set is already in
the store (write-first makes same-batch pairs resolve through the store
read too), so the shared count, both matched-frame counts, and the
overlap denominator are all complete at discovery. Same-batch pairs are
found in both join directions and collapse through the
``count_distinct`` aggregation; cross-batch pairs are found in exactly
one direction and can never be rediscovered (a later batch's NEW side
contains neither member). Pinned in tests/test_media_stream.py for
multiple batch splits and both arrival orders.

State & files are bounded by ``retention_batches`` / ``compact_every``;
the store layout and crash protocol are ``_store``'s. The horizon
semantic is the shared one: a pair whose members arrive further apart
than the retention window is missed by design — retention IS the
approximation knob, not a correctness leak.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (DoubleType, LongType, StructField,
                               StructType)

from ..functions.dedup import hamming_blocks
from ..functions.multimodal import (_FRAME_ID_BITS, audio_fingerprint,
                                    dhash_image, frame_sample)
from . import _store

__all__ = ["audio_dedup_stream", "audio_pairs_store",
           "run_audio_stream_on_dir",
           "video_dedup_stream", "video_pairs_store",
           "run_video_stream_on_dir"]


def _fp_schema(id_col: str) -> StructType:
    return StructType([
        StructField(id_col, LongType()),
        StructField("n_fps", LongType()),
        StructField("fp", LongType()),
        StructField("pfx", LongType()),
    ])


def _pair_schema(shared_name: str) -> StructType:
    return StructType([
        StructField("id_a", LongType()),
        StructField("id_b", LongType()),
        StructField(shared_name, LongType()),
        StructField("overlap", DoubleType()),
    ])


def audio_dedup_stream(
    spark: SparkSession,
    clip_stream: DataFrame,
    store_dir: str,
    checkpoint_path: str,
    content_col: str = "content",
    id_col: str = "doc_id",
    *,
    min_shared: int = 5,
    trigger: dict | None = None,
    retention_batches: int | None = None,
    compact_every: int | None = None,
    **fp_kwargs,
):
    """Start the incremental audio near-dup pipeline over a binary WAV
    payload stream. Returns the started StreamingQuery; read accumulated
    pairs with ``audio_pairs_store``. Clip ids must be unique across the
    stream (the minhash_stream contract). ``fp_kwargs`` forward to
    ``audio_fingerprint`` (frame/hop/n_bands/fmin/fmax) — they are part
    of the store's identity, so use one setting per store.

    Batch ``audio_matches``'s ``max_df`` (hot-subfingerprint cap) is
    deliberately NOT offered here: document frequency is corpus-relative
    and GROWS with history, so a streaming cap would either diverge from
    the batch operator (pairs admitted while df was still low) or need
    retroactive pair retraction. Stream ≡ batch holds at the batch
    default (max_df=None); cap pathological subfingerprints upstream
    (e.g. drop silence by rms) if a corpus needs it."""
    fp_schema = _fp_schema(id_col)
    pair_schema = _pair_schema("shared_fps")
    schemas = {"fps": fp_schema, "pairs": pair_schema}

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        min_live = _store.oldest_live(batch_id, retention_batches)
        sets = (
            audio_fingerprint(
                batch_df.select(F.col(id_col), F.col(content_col)),
                content_col, id_col, **fp_kwargs)
            .where(F.col("subfps").isNotNull())
            .select(F.col(id_col),
                    F.array_distinct("subfps").alias("_fps")))
        ex = sets.select(
            F.col(id_col),
            F.size("_fps").cast("long").alias("n_fps"),
            F.explode("_fps").alias("fp"),
        ).withColumn("pfx", F.pmod(F.col("fp"), F.lit(64)))
        # 1. extend the store first (replay-idempotent overwrite; lets
        #    same-batch pairs resolve through the store read)
        _store.write_batch(ex, store_dir, "fps", batch_id, ("pfx",))
        # 2. match the (small, broadcast) batch against history: one fp
        #    equi-join, shared count + overlap complete at discovery
        store = _store.read_component(spark, store_dir, "fps", fp_schema,
                                      min_live)
        new = _store.read_batch(spark, store_dir, "fps", batch_id,
                                fp_schema)
        s, n = store.alias("s"), F.broadcast(new.alias("n"))
        pairs = (
            s.join(n, ["pfx", "fp"])
            .where(F.col(f"s.{id_col}") != F.col(f"n.{id_col}"))
            .groupBy(
                F.least(f"s.{id_col}", f"n.{id_col}").alias("id_a"),
                F.greatest(f"s.{id_col}", f"n.{id_col}").alias("id_b"))
            .agg(
                # count DISTINCT fps: a same-batch pair joins in both
                # directions and every shared fp would double-count
                F.count_distinct("fp").alias("shared_fps"),
                F.round(
                    F.count_distinct("fp")
                    / F.first(F.least("s.n_fps", "n.n_fps")), 6)
                .alias("overlap"))
            .where(F.col("shared_fps") >= min_shared))
        _store.write_batch(pairs, store_dir, "pairs", batch_id)
        _store.bound(spark, store_dir, batch_id, schemas, min_live,
                     compact_every, {"fps": ("pfx",)})

    return (
        clip_stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_path)
        .trigger(**(trigger or {"availableNow": True}))
        .start()
    )


def audio_pairs_store(spark: SparkSession, store_dir: str) -> DataFrame:
    """Accumulated (id_a, id_b, shared_fps, overlap) pairs."""
    out = _store.read_component(spark, store_dir, "pairs",
                                _pair_schema("shared_fps"))
    if out is None:
        return spark.createDataFrame(
            [], "id_a long, id_b long, shared_fps long, overlap double")
    return out.select("id_a", "id_b", "shared_fps", "overlap").distinct()


def run_audio_stream_on_dir(
    spark: SparkSession,
    input_path: str,
    store_dir: str,
    checkpoint_path: str,
    content_col: str = "content",
    id_col: str = "doc_id",
    *,
    min_shared: int = 5,
    max_files_per_trigger: int | None = None,
    retention_batches: int | None = None,
    compact_every: int | None = None,
    **fp_kwargs,
) -> DataFrame:
    """Drain a parquet file/dir through ``audio_dedup_stream``
    (availableNow) and return the accumulated pair state."""
    batch = spark.read.parquet(input_path)
    reader = spark.readStream.schema(batch.schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(input_path)
    q = audio_dedup_stream(
        spark, stream, store_dir, checkpoint_path, content_col, id_col,
        min_shared=min_shared, retention_batches=retention_batches,
        compact_every=compact_every, **fp_kwargs)
    q.awaitTermination()
    return audio_pairs_store(spark, store_dir)


def _fblock_schema() -> StructType:
    return StructType([
        StructField("fid", LongType()),
        StructField("dhash64", LongType()),
        StructField("block_id", LongType()),
        StructField("block_val", LongType()),
        StructField("pfx", LongType()),
    ])


def _clipmeta_schema(id_col: str) -> StructType:
    return StructType([
        StructField(id_col, LongType()),
        StructField("n_frames", LongType()),
    ])


def video_dedup_stream(
    spark: SparkSession,
    clip_stream: DataFrame,
    store_dir: str,
    checkpoint_path: str,
    content_col: str = "content",
    id_col: str = "doc_id",
    *,
    n_frames: int = 8,
    max_hamming: int = 3,
    min_shared: int = 2,
    trigger: dict | None = None,
    retention_batches: int | None = None,
    compact_every: int | None = None,
):
    """Start the incremental video near-dup pipeline over a binary AVI
    payload stream (``multimodal.video_matches`` semantics against
    history). Clip ids must be unique, non-negative and below 2³²
    (the packing contract — out-of-range ids raise at execution)."""
    fb_schema = _fblock_schema()
    cm_schema = _clipmeta_schema(id_col)
    pair_schema = _pair_schema("shared_frames")
    schemas = {"fblocks": fb_schema, "clipmeta": cm_schema,
               "pairs": pair_schema}
    m = 1 << _FRAME_ID_BITS

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        min_live = _store.oldest_live(batch_id, retention_batches)
        frames = frame_sample(
            batch_df.select(F.col(id_col), F.col(content_col)),
            content_col, id_col, n_frames=n_frames)
        clip_ok = (F.col("doc_id") >= 0) & (F.col("doc_id") < (1 << 32))
        fid_df = frames.where(F.col("frame_idx") < m).select(
            F.when(clip_ok, F.col("doc_id") * m + F.col("frame_idx"))
            .otherwise(F.raise_error(F.concat(
                F.lit("video_dedup_stream: clip id out of packable "
                      "range [0, 2^32): "),
                F.col("doc_id").cast("string")))).alias("fid"),
            F.col("frame").alias("content"))
        sigs = dhash_image(fid_df, "content", "fid") \
            .where(F.col("dhash64").isNotNull()).select("fid", "dhash64")
        # 1. extend the store first: frame blocks + per-clip decodable
        #    frame counts (the overlap denominators)
        bk = hamming_blocks(sigs, "dhash64", "fid",
                            bits=64, max_hamming=max_hamming) \
            .withColumn("block_id", F.col("block_id").cast("long")) \
            .withColumn("pfx", F.pmod(F.col("block_val"), F.lit(64)))
        _store.write_batch(bk, store_dir, "fblocks", batch_id, ("pfx",))
        _store.write_batch(
            sigs.select(
                F.shiftrightunsigned("fid", _FRAME_ID_BITS).alias(id_col))
            .groupBy(id_col).agg(F.count(F.lit(1)).alias("n_frames")),
            store_dir, "clipmeta", batch_id)
        # 2. frame pairs batch×history (pigeonhole blocks, bit_count
        #    verify), 3. clip-pair aggregation — video_matches verbatim
        store_b = _store.read_component(spark, store_dir, "fblocks",
                                        fb_schema, min_live)
        new_b = _store.read_batch(spark, store_dir, "fblocks", batch_id,
                                  fb_schema)
        s, n = store_b.alias("s"), F.broadcast(new_b.alias("n"))
        ham = F.bit_count(
            F.col("s.dhash64").bitwiseXOR(F.col("n.dhash64")))
        fp = (
            s.join(n, ["pfx", "block_id", "block_val"])
            .where(F.col("s.fid") != F.col("n.fid"))
            .select(F.least("s.fid", "n.fid").alias("id_a"),
                    F.greatest("s.fid", "n.fid").alias("id_b"),
                    ham.alias("_h"))
            .where(F.col("_h") <= max_hamming)
            .select("id_a", "id_b").distinct())
        clip_a = F.shiftrightunsigned(F.col("id_a"), _FRAME_ID_BITS)
        clip_b = F.shiftrightunsigned(F.col("id_b"), _FRAME_ID_BITS)
        cross = fp.select(
            F.least(clip_a, clip_b).alias("ca"),
            F.greatest(clip_a, clip_b).alias("cb"),
            F.when(clip_a <= clip_b, F.col("id_a"))
            .otherwise(F.col("id_b")).alias("fa"),
            F.when(clip_a <= clip_b, F.col("id_b"))
            .otherwise(F.col("id_a")).alias("fb"),
        ).where(F.col("ca") != F.col("cb"))
        agg = cross.groupBy("ca", "cb").agg(
            F.count_distinct(F.struct("fa", "fb")).alias("shared_frames"),
            F.count_distinct("fa").alias("_da"),
            F.count_distinct("fb").alias("_db"))
        meta = _store.read_component(spark, store_dir, "clipmeta",
                                     cm_schema, min_live)
        na, nb = meta.alias("na"), meta.alias("nb")
        pairs = (
            agg.join(na, agg["ca"] == F.col(f"na.{id_col}"))
            .join(nb, agg["cb"] == F.col(f"nb.{id_col}"))
            .select(
                F.col("ca").alias("id_a"), F.col("cb").alias("id_b"),
                F.col("shared_frames"),
                F.round(
                    F.when(F.col("na.n_frames") <= F.col("nb.n_frames"),
                           F.col("_da") / F.col("na.n_frames"))
                    .otherwise(F.col("_db") / F.col("nb.n_frames")), 6)
                .alias("overlap"))
            .where(F.col("shared_frames") >= min_shared))
        _store.write_batch(pairs, store_dir, "pairs", batch_id)
        _store.bound(spark, store_dir, batch_id, schemas, min_live,
                     compact_every, {"fblocks": ("pfx",)})

    return (
        clip_stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_path)
        .trigger(**(trigger or {"availableNow": True}))
        .start()
    )


def video_pairs_store(spark: SparkSession, store_dir: str) -> DataFrame:
    """Accumulated (id_a, id_b, shared_frames, overlap) clip pairs."""
    out = _store.read_component(spark, store_dir, "pairs",
                                _pair_schema("shared_frames"))
    if out is None:
        return spark.createDataFrame(
            [], "id_a long, id_b long, shared_frames long, overlap double")
    return out.select("id_a", "id_b", "shared_frames",
                      "overlap").distinct()


def run_video_stream_on_dir(
    spark: SparkSession,
    input_path: str,
    store_dir: str,
    checkpoint_path: str,
    content_col: str = "content",
    id_col: str = "doc_id",
    *,
    n_frames: int = 8,
    max_hamming: int = 3,
    min_shared: int = 2,
    max_files_per_trigger: int | None = None,
    retention_batches: int | None = None,
    compact_every: int | None = None,
) -> DataFrame:
    """Drain a parquet file/dir through ``video_dedup_stream``
    (availableNow) and return the accumulated pair state."""
    batch = spark.read.parquet(input_path)
    reader = spark.readStream.schema(batch.schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(input_path)
    q = video_dedup_stream(
        spark, stream, store_dir, checkpoint_path, content_col, id_col,
        n_frames=n_frames, max_hamming=max_hamming, min_shared=min_shared,
        retention_batches=retention_batches, compact_every=compact_every)
    q.awaitTermination()
    return video_pairs_store(spark, store_dir)
