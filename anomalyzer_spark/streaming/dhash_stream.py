"""Streaming perceptual IMAGE dedup — the incremental dHash store.

Closes the image row of the dedup matrix's streaming axis: batch
``multimodal.dhash_pairs`` finds near-duplicate images inside one corpus;
a crawl-shaped stream needs candidates against everything seen so far —
the stream×history shape ``minhash_stream`` pins (foreachBatch against a
persisted store, store written FIRST for replay idempotence, the NEW side
broadcast so history is scanned, never shuffled).

Simpler than MinHash by design: the dHash signature IS the verifier
(``bit_count(xor)`` needs no shingle sets), so the store has ONE data
component — the ``hamming_blocks`` rows (id, dhash64, block_id,
block_val) — plus discovered pairs. Per micro-batch:

  1. decode + sign the batch (``multimodal.dhash_image``; undecodable
     payloads drop out as NULL — corrupt bytes are data, not failures),
     explode to pigeonhole blocks, write under ``batch_id=N`` (overwrite:
     at-least-once replays rewrite identical files);
  2. join the (small, broadcast) batch blocks against the block store on
     (pfx, block_id, block_val) — candidates share ≥1 exact block;
  3. verify with bit_count(xor) ≤ max_hamming from the signatures already
     ON the joined rows, write surviving pairs under ``batch_id=N``.

Final state equals batch ``dhash_pairs`` over the same corpus: a
qualifying pair shares a block (pigeonhole), is discovered when its later
member arrives (same-batch pairs resolve through the just-written store),
and verification is the identical expression — pinned in
tests/test_dhash_stream.py for multiple batch splits and arrival orders.

State & files are bounded by ``retention_batches`` / ``compact_every``;
the store layout and crash protocol are ``_store``'s. Store rows are
blocks-per-image × in-horizon corpus; ``pfx`` (block_val low bits)
partitions the store so the broadcast join's dynamic partition pruning
skips untouched files.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from ..functions.dedup import hamming_blocks
from ..functions.multimodal import dhash_image
from . import _store

__all__ = ["dhash_dedup_stream", "dhash_pairs_store",
           "run_dhash_stream_on_dir"]


_PAIR_SCHEMA = StructType([
    StructField("id_a", LongType()),
    StructField("id_b", LongType()),
    StructField("hamming", LongType()),
])


def _block_schema(id_col: str) -> StructType:
    # Writers below cast block_id/hamming (int32 expressions) to long so
    # the on-disk parquet matches these pinned schemas exactly: Spark 4.x
    # widens int32→long on read, Spark 3.x readers of the same store throw
    # SchemaColumnConvertNotSupported.
    return StructType([
        StructField(id_col, LongType()),
        StructField("dhash64", LongType()),
        StructField("block_id", LongType()),
        StructField("block_val", LongType()),
        StructField("pfx", LongType()),
    ])


def dhash_dedup_stream(
    spark: SparkSession,
    img_stream: DataFrame,
    store_dir: str,
    checkpoint_path: str,
    content_col: str = "content",
    id_col: str = "doc_id",
    *,
    max_hamming: int = 3,
    trigger: dict | None = None,
    retention_batches: int | None = None,
    compact_every: int | None = None,
):
    """Start the incremental image near-dup pipeline over a binary-payload
    stream. Returns the started StreamingQuery; read accumulated pairs
    with ``dhash_pairs_store``. Image ids must be unique across the
    stream (the minhash_stream contract)."""
    block_schema = _block_schema(id_col)
    schemas = {"blocks": block_schema, "pairs": _PAIR_SCHEMA}

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        min_live = _store.oldest_live(batch_id, retention_batches)
        sigs = (
            dhash_image(batch_df.select(F.col(id_col), F.col(content_col)),
                        content_col, id_col)
            .where(F.col("dhash64").isNotNull())
            .select(id_col, "dhash64"))
        bk = hamming_blocks(sigs, "dhash64", id_col,
                            bits=64, max_hamming=max_hamming) \
            .withColumn("block_id", F.col("block_id").cast("long")) \
            .withColumn("pfx", F.pmod(F.col("block_val"), F.lit(64)))
        # 1. extend the store first (replay-idempotent overwrite; lets
        #    same-batch pairs resolve through the store read)
        _store.write_batch(bk, store_dir, "blocks", batch_id, ("pfx",))
        # 2. candidates + 3. verify in one join: both sides carry their
        #    signature, so bit_count(xor) rides the joined row
        store_b = _store.read_component(
            spark, store_dir, "blocks", block_schema, min_live)
        new_b = _store.read_batch(
            spark, store_dir, "blocks", batch_id, block_schema)
        s, n = store_b.alias("s"), F.broadcast(new_b.alias("n"))
        ham = F.bit_count(
            F.col("s.dhash64").bitwiseXOR(F.col("n.dhash64")))
        pairs = (
            s.join(n, ["pfx", "block_id", "block_val"])
            .where(F.col(f"s.{id_col}") != F.col(f"n.{id_col}"))
            .select(
                F.least(f"s.{id_col}", f"n.{id_col}").alias("id_a"),
                F.greatest(f"s.{id_col}", f"n.{id_col}").alias("id_b"),
                ham.cast("long").alias("hamming"))
            .where(F.col("hamming") <= max_hamming)
            .distinct())
        _store.write_batch(pairs, store_dir, "pairs", batch_id)
        # 4. bound state: horizon eviction + generational folding
        _store.bound(spark, store_dir, batch_id, schemas, min_live,
                     compact_every, {"blocks": ("pfx",)})

    return (
        img_stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_path)
        .trigger(**(trigger or {"availableNow": True}))
        .start()
    )


def dhash_pairs_store(spark: SparkSession, store_dir: str,
                      id_col: str = "doc_id") -> DataFrame:
    """Accumulated distinct (id_a, id_b, hamming) pairs — compacted
    generation ∪ live batch dirs (pairs can be rediscovered only across a
    replay, which overwrote in place, so DISTINCT is belt-and-braces for
    the cross-generation seam)."""
    out = _store.read_component(spark, store_dir, "pairs", _PAIR_SCHEMA)
    if out is None:
        return spark.createDataFrame(
            [], "id_a long, id_b long, hamming long")
    return out.select("id_a", "id_b", "hamming").distinct()


def run_dhash_stream_on_dir(
    spark: SparkSession,
    input_path: str,
    store_dir: str,
    checkpoint_path: str,
    content_col: str = "content",
    id_col: str = "doc_id",
    *,
    max_hamming: int = 3,
    max_files_per_trigger: int | None = None,
    retention_batches: int | None = None,
    compact_every: int | None = None,
) -> DataFrame:
    """Drain a parquet file/dir through ``dhash_dedup_stream``
    (availableNow) and return the accumulated pair state."""
    batch = spark.read.parquet(input_path)
    reader = spark.readStream.schema(batch.schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(input_path)
    q = dhash_dedup_stream(
        spark, stream, store_dir, checkpoint_path, content_col, id_col,
        max_hamming=max_hamming, retention_batches=retention_batches,
        compact_every=compact_every)
    q.awaitTermination()
    return dhash_pairs_store(spark, store_dir, id_col)
