"""The on-disk store protocol of the incremental streaming stores
(``minhash_stream``, ``sketch_stream``, ``dhash_stream``,
``semantic_stream``, ``media_stream``). This is the only module that
knows the store layout and its crash protocol; each family keeps only its
own candidate and verify logic.

Layout, per store component ``<name>``::

    <store>/<name>/batch_id=N/                  live state of batch N
    <store>/compacted/<name>/gen=N/             state folded up to batch N
    <store>/compacted/<name>/gen=N/_SUCCESS
    <store>/compacted/<name>/gen=N/_folded.json {"max_folded": N}

Delivery: foreachBatch is AT-LEAST-ONCE; every live write overwrites its
own ``batch_id=N`` directory, so a replayed batch rewrites identical files
instead of appending duplicates — effectively-once by idempotence. The
families write their store components BEFORE reading the store back, so
a replay reads the same store contents the crashed attempt saw.

State is BOUNDED, not append-forever:

* ``retention_batches=H`` evicts state older than the horizon after every
  batch: live directories with ``batch_id < current - H + 1`` are dropped
  for every component. Row-preserving generations carry ``batch_id`` as a
  data column, so retention keeps filtering compacted rows, and
  out-of-horizon rows are physically dropped at the next rewrite.
* ``compact_every=C`` folds the surviving live directories into a single
  ``compacted/<name>/gen=N`` generation every C batches, so the file count
  stays O(C + 1 generation) instead of one directory (and its task-count
  many files) per micro-batch forever.

Compaction is crash-safe without atomic directory rename: the new
generation is written first, then its ``_folded.json`` manifest records
the highest live ``batch_id`` it absorbed. The manifest is written under a
temporary name and renamed into place, so it is either absent or whole.
Readers take the newest COMPLETE generation (``_SUCCESS`` + manifest) and
only read live directories NEWER than its fold point — a crash between the
generation write and the cleanup double-stores but never double-reads. A
replayed batch finds its generation complete, skips the rewrite and
finishes the cleanup.

Reads pin an explicit schema where the caller has one: partition type
inference would type an all-digit prefix partition as int and silently
drift a join key type.

Directory deletes use local-filesystem calls — on a real cluster the store
lives on an object store / DFS and the same deletes would go through that
FS client; the layout and manifest protocol are FS-agnostic.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType


def batch_path(store_dir: str, name: str, batch_id: int) -> str:
    return f"{store_dir}/{name}/batch_id={batch_id}"


def _comp_dir(store_dir: str, name: str) -> str:
    return f"{store_dir}/compacted/{name}"


def write_batch(df: DataFrame, store_dir: str, name: str, batch_id: int,
                partition_cols: tuple[str, ...] = ()) -> None:
    """Write one batch of a component to its live directory. Overwrite
    makes a replay of the same ``batch_id`` rewrite identical files."""
    w = df.write.mode("overwrite")
    if partition_cols:
        w = w.partitionBy(*partition_cols)
    w.parquet(batch_path(store_dir, name, batch_id))


def read_batch(spark: SparkSession, store_dir: str, name: str,
               batch_id: int, schema: StructType) -> DataFrame:
    return spark.read.schema(schema).parquet(
        batch_path(store_dir, name, batch_id))


def write_json(path: str, obj: dict) -> None:
    """Write ``obj`` as JSON to ``path`` by renaming a finished temporary
    file into place: a crash leaves the old file or none, never a torn
    one."""
    tmp = f"{path}.tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f)
    os.replace(tmp, path)


def _live_batch_ids(live_dir: str) -> list[int]:
    return sorted(
        int(os.path.basename(p).split("=", 1)[1])
        for p in glob.glob(f"{live_dir}/batch_id=*") if os.path.isdir(p))


def _gens(comp_dir: str) -> list[tuple[int, str]]:
    return sorted(
        (int(os.path.basename(p).split("=", 1)[1]), p)
        for p in glob.glob(f"{comp_dir}/gen=*") if os.path.isdir(p))


def _complete(gen_path: str) -> bool:
    return (os.path.isfile(f"{gen_path}/_SUCCESS")
            and os.path.isfile(f"{gen_path}/_folded.json"))


def _latest_gen(comp_dir: str) -> tuple[str | None, int]:
    """Newest COMPLETE compacted generation (``_SUCCESS`` + manifest) and
    the highest live batch_id folded into it; (None, -1) when none."""
    for _, path in reversed(_gens(comp_dir)):
        if _complete(path):
            with open(f"{path}/_folded.json") as f:
                return path, int(json.load(f)["max_folded"])
    return None, -1


def _drop_live(store_dir: str, name: str, cut: int) -> None:
    live_dir = f"{store_dir}/{name}"
    for b in _live_batch_ids(live_dir):
        if b <= cut:
            shutil.rmtree(f"{live_dir}/batch_id={b}", ignore_errors=True)


def oldest_live(batch_id: int, retention_batches: int | None) -> int | None:
    """Lowest batch_id inside the retention horizon after ``batch_id``;
    None keeps everything."""
    if retention_batches is None:
        return None
    return batch_id - retention_batches + 1


def compaction_due(batch_id: int, compact_every: int | None) -> bool:
    return compact_every is not None and (batch_id + 1) % compact_every == 0


def next_batch_id(store_dir: str, names: tuple[str, ...]) -> int:
    """One past the highest batch ingested into any of ``names`` (live
    directories and compacted fold points both count)."""
    last = -1
    for name in names:
        last = max([last, *_live_batch_ids(f"{store_dir}/{name}"),
                    _latest_gen(_comp_dir(store_dir, name))[1]])
    return last + 1


def read_component(
    spark: SparkSession,
    store_dir: str,
    name: str,
    schema: StructType | None = None,
    min_live: int | None = None,
) -> DataFrame | None:
    """Current state of one store component: newest complete generation
    ∪ live ``batch_id=N`` dirs newer than its fold point, rows older than
    ``min_live`` filtered out. ``schema`` (data columns; ``batch_id`` is
    appended here) is pinned on every read; a generation holding a merged
    fold carries no ``batch_id`` and reads it as NULL. Returns None when
    the component holds nothing yet."""
    gen_path, folded = _latest_gen(_comp_dir(store_dir, name))
    full = (StructType(list(schema.fields)
                       + [StructField("batch_id", LongType())])
            if schema is not None else None)

    def reader():
        return spark.read.schema(full) if full is not None else spark.read

    parts: list[DataFrame] = []
    if gen_path is not None:
        parts.append(reader().parquet(gen_path))
    live_dir = f"{store_dir}/{name}"
    if any(b > folded for b in _live_batch_ids(live_dir)):
        live = reader().parquet(live_dir).where(F.col("batch_id") > folded)
        if full is None:
            live = live.withColumn(
                "batch_id", F.col("batch_id").cast("long"))
        parts.append(live)
    if not parts:
        return None
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    if min_live is not None:
        out = out.where(F.col("batch_id") >= min_live)
    return out


def write_generation(
    store_dir: str,
    name: str,
    upto: int,
    build: Callable[[], DataFrame | None],
    partition_cols: tuple[str, ...] = (),
) -> None:
    """Fold one component into ``compacted/<name>/gen=<upto>``: write the
    frame ``build()`` returns, stamp the manifest, then drop the live dirs
    it absorbed and every older generation. A generation that is already
    complete (a replayed batch) is not rewritten, only cleaned up after;
    ``build`` returning None writes nothing."""
    comp_dir = _comp_dir(store_dir, name)
    gen_path = f"{comp_dir}/gen={upto}"
    if not _complete(gen_path):
        df = build()
        if df is None:
            return
        w = df.write.mode("overwrite")
        if partition_cols:
            w = w.partitionBy(*partition_cols)
        w.parquet(gen_path)
        write_json(f"{gen_path}/_folded.json", {"max_folded": upto})
    _drop_live(store_dir, name, upto)
    for gen, path in _gens(comp_dir):
        if gen < upto:
            shutil.rmtree(path, ignore_errors=True)


def _compact(spark: SparkSession, store_dir: str, name: str,
             schema: StructType, min_live: int | None, upto: int,
             partition_cols: tuple[str, ...]) -> None:
    def build() -> DataFrame | None:
        cur = read_component(spark, store_dir, name, schema, min_live)
        if cur is None:
            return None
        # repartition, never coalesce(1): the generation holds the WHOLE
        # in-horizon component, and funnelling it through one task would
        # stall the stream (and hotspot one executor) exactly on the
        # long-running corpora compaction exists for — defaultParallelism
        # writers bound the file count to one generation's worth while
        # staying parallel
        if partition_cols:
            return cur.repartition(*partition_cols)
        return cur.repartition(spark.sparkContext.defaultParallelism)

    write_generation(store_dir, name, upto, build, partition_cols)


def bound(
    spark: SparkSession,
    store_dir: str,
    batch_id: int,
    schemas: dict[str, StructType],
    min_live: int | None,
    compact_every: int | None,
    partition_cols: dict[str, tuple[str, ...]] | None = None,
) -> None:
    """Bound a row-preserving store after ``batch_id``: evict the live dirs
    of every component in ``schemas`` that are out of the horizon or
    already folded, then, on a compaction tick, fold each component into
    a new generation (partitioned by its ``partition_cols`` entry)."""
    if min_live is not None:
        for name in schemas:
            folded = _latest_gen(_comp_dir(store_dir, name))[1]
            _drop_live(store_dir, name, max(min_live - 1, folded))
    if compaction_due(batch_id, compact_every):
        for name, schema in schemas.items():
            _compact(spark, store_dir, name, schema, min_live, batch_id,
                     (partition_cols or {}).get(name, ()))
