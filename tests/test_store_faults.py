"""Crash-and-replay matrix for the shared streaming store protocol
(streaming/_store.py).

Each case raises at one protocol step of a batch that both sweeps the
retention horizon and compacts, replays the same ``batch_id``, and
asserts (a) the store's readers return exactly what an uninterrupted run
returns and (b) no absorbed live dir is left at or below any component's
fold point once the replay's bound step has run.

The protocol-level cases drive ``_store`` over tiny frames (fast tier);
the family-level cases drive ``minhash_increment``, ``sketch_ingest`` and
a dhash stream restarted from its checkpoint (slow tier).
"""

from __future__ import annotations

import json
import shutil

import numpy as np
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from anomalyzer_spark.streaming import _store
from anomalyzer_spark.streaming._store import _latest_gen, _live_batch_ids


class Crash(RuntimeError):
    """The injected fault."""


def _after_write(monkeypatch, target):
    orig = _store.write_batch

    def hooked(df, store_dir, name, batch_id, *a, **kw):
        orig(df, store_dir, name, batch_id, *a, **kw)
        if name == target:
            monkeypatch.setattr(_store, "write_batch", orig)
            raise Crash(f"after the {name} live write")

    monkeypatch.setattr(_store, "write_batch", hooked)


def _before_manifest(monkeypatch):
    orig = _store.write_json

    def hooked(path, obj):
        monkeypatch.setattr(_store, "write_json", orig)
        raise Crash("after the generation write, before its manifest")

    monkeypatch.setattr(_store, "write_json", hooked)


def _during_manifest(monkeypatch):
    # a torn write: part of the manifest reaches the file, then the crash
    orig = json.dump

    def hooked(obj, f, *a, **kw):
        if "_folded.json" not in getattr(f, "name", ""):
            return orig(obj, f, *a, **kw)
        monkeypatch.setattr(json, "dump", orig)
        f.write(json.dumps(obj)[:5])
        f.flush()
        raise Crash("during the manifest write")

    monkeypatch.setattr(json, "dump", hooked)


def _after_manifest(monkeypatch):
    orig = _store.write_json

    def hooked(path, obj):
        orig(path, obj)
        if path.endswith("/_folded.json"):
            monkeypatch.setattr(_store, "write_json", orig)
            raise Crash("after the manifest, before cleanup")

    monkeypatch.setattr(_store, "write_json", hooked)


def _mid_sweep(monkeypatch):
    orig = shutil.rmtree
    calls = []

    def hooked(path, *a, **kw):
        calls.append(path)
        if len(calls) == 2:
            monkeypatch.setattr(shutil, "rmtree", orig)
            raise Crash("in the middle of the sweep")
        return orig(path, *a, **kw)

    monkeypatch.setattr(shutil, "rmtree", hooked)


#: fault name -> injector(monkeypatch, component, pairs); ``component`` and
#: ``pairs`` name the first and the last live write of the batch
FAULTS = {
    "after_component_write":
        lambda mp, comp, pairs: _after_write(mp, comp),
    "after_pairs_write": lambda mp, comp, pairs: _after_write(mp, pairs),
    "before_manifest": lambda mp, comp, pairs: _before_manifest(mp),
    "during_manifest": lambda mp, comp, pairs: _during_manifest(mp),
    "after_manifest": lambda mp, comp, pairs: _after_manifest(mp),
    "mid_sweep": lambda mp, comp, pairs: _mid_sweep(mp),
}


def _assert_no_absorbed_live(store, names):
    for name in names:
        gen_path, folded = _latest_gen(f"{store}/compacted/{name}")
        assert gen_path is not None, name
        live = _live_batch_ids(f"{store}/{name}")
        assert all(b > folded for b in live), (name, folded, live)


def _rows(df):
    return sorted(map(tuple, df.collect()),
                  key=lambda t: tuple((x is None, x) for x in t))


def _crash_and_replay(monkeypatch, fault, comp, pairs, run):
    FAULTS[fault](monkeypatch, comp, pairs)
    with pytest.raises(Crash):
        run()
    monkeypatch.undo()
    run()


# -- protocol level: a two-component store over tiny frames -----------------

_ITEMS = StructType([StructField("id", LongType()),
                     StructField("v", LongType())])
_PAIRS = StructType([StructField("id_a", LongType()),
                     StructField("id_b", LongType())])
# H=2, C=3: batch 2 evicts batch 0 (sweep) and folds batches 1-2 (gen=2)
_H, _C = 2, 3
_BATCHES = [[(i, i % 3) for i in range(b * 4, b * 4 + 4)] for b in range(3)]


def _ingest(spark, store, batch_id):
    """One batch of a minimal family: items whose ``v`` matches pair up."""
    min_live = _store.oldest_live(batch_id, _H)
    _store.write_batch(spark.createDataFrame(_BATCHES[batch_id], _ITEMS),
                       store, "items", batch_id)
    cur = _store.read_component(spark, store, "items", _ITEMS, min_live)
    new = _store.read_batch(spark, store, "items", batch_id, _ITEMS)
    found = (cur.alias("s").join(new.alias("n"), "v")
             .where(F.col("s.id") != F.col("n.id"))
             .select(F.least("s.id", "n.id").alias("id_a"),
                     F.greatest("s.id", "n.id").alias("id_b"))
             .distinct())
    _store.write_batch(found, store, "pairs", batch_id)
    _store.bound(spark, store, batch_id, {"items": _ITEMS, "pairs": _PAIRS},
                 min_live, _C)


def _state(spark, store):
    min_live = _store.oldest_live(len(_BATCHES) - 1, _H)
    return {name: _rows(_store.read_component(
                spark, store, name, schema, min_live))
            for name, schema in (("items", _ITEMS), ("pairs", _PAIRS))}


@pytest.fixture(scope="module")
def protocol_base(spark, tmp_path_factory):
    """A store holding batches 0-1, and the uninterrupted state after 2."""
    root = tmp_path_factory.mktemp("protocol")
    base = str(root / "base")
    for b in range(2):
        _ingest(spark, base, b)
    ref = str(root / "ref")
    shutil.copytree(base, ref)
    _ingest(spark, ref, 2)
    return base, _state(spark, ref)


@pytest.mark.parametrize("fault", list(FAULTS))
def test_protocol_crash_and_replay(spark, protocol_base, tmp_path,
                                   monkeypatch, fault):
    base, want = protocol_base
    store = str(tmp_path / "store")
    shutil.copytree(base, store)
    _crash_and_replay(monkeypatch, fault, "items", "pairs",
                      lambda: _ingest(spark, store, 2))
    assert _state(spark, store) == want
    assert want["pairs"], "fixture must pair items across batches"
    _assert_no_absorbed_live(store, ("items", "pairs"))


def test_manifest_is_whole_or_absent(tmp_path, monkeypatch):
    """A crash inside the manifest write leaves no torn manifest: the
    generation stays incomplete and readers fall back to the older one."""
    old, new = tmp_path / "compacted/c/gen=1", tmp_path / "compacted/c/gen=3"
    for gen in (old, new):
        gen.mkdir(parents=True)
        (gen / "_SUCCESS").touch()
    _store.write_json(f"{old}/_folded.json", {"max_folded": 1})
    _during_manifest(monkeypatch)
    with pytest.raises(Crash):
        _store.write_json(f"{new}/_folded.json", {"max_folded": 3})
    assert _latest_gen(str(tmp_path / "compacted/c")) == (str(old), 1)


# -- family level ------------------------------------------------------------

_MH = dict(k=3, num_hashes=128, bands=32, threshold=0.5,
           retention_batches=_H, compact_every=_C)


@pytest.fixture(scope="module")
def minhash_base(spark, sf_dir, tmp_path_factory):
    from anomalyzer_spark.sources import load_table
    from anomalyzer_spark.streaming import (minhash_increment,
                                            minhash_pairs_store)

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    incs = [d.where(F.col("doc_id") % 3 == i) for i in range(3)]
    root = tmp_path_factory.mktemp("minhash")
    base = str(root / "base")
    for i in range(2):
        minhash_increment(spark, incs[i], base, batch_id=i, **_MH)
    ref = str(root / "ref")
    shutil.copytree(base, ref)
    minhash_increment(spark, incs[2], ref, batch_id=2, **_MH)
    want = _rows(minhash_pairs_store(spark, ref, only_ingested_ids=True))
    assert want, "fixture corpus must keep near-dups in the horizon"
    return base, incs[2], want


@pytest.mark.slow
@pytest.mark.parametrize("fault", list(FAULTS))
def test_minhash_increment_crash_and_replay(spark, minhash_base, tmp_path,
                                            monkeypatch, fault):
    from anomalyzer_spark.streaming import (minhash_increment,
                                            minhash_pairs_store)

    base, inc, want = minhash_base
    store = str(tmp_path / "store")
    shutil.copytree(base, store)
    _crash_and_replay(
        monkeypatch, fault, "buckets", "pairs",
        lambda: minhash_increment(spark, inc, store, batch_id=2, **_MH))
    got = _rows(minhash_pairs_store(spark, store, only_ingested_ids=True))
    assert got == want
    _assert_no_absorbed_live(store, ("buckets", "shingles", "pairs"))


_SK = dict(p=10, mg_k=8, compact_every=_C)
_SK_COLS = ["lang", "source"]


def _sketch_state(spark, store):
    from anomalyzer_spark.streaming import hll_sketch_store, mg_sketch_store

    return (_rows(hll_sketch_store(spark, store)),
            _rows(mg_sketch_store(spark, store)))


@pytest.fixture(scope="module")
def sketch_base(spark, sf_dir, tmp_path_factory):
    from anomalyzer_spark.streaming import sketch_ingest

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    incs = [docs.where(F.col("doc_id") % 3 == i) for i in range(3)]
    root = tmp_path_factory.mktemp("sketch")
    base = str(root / "base")
    for i in range(2):
        sketch_ingest(spark, incs[i], base, _SK_COLS, batch_id=i, **_SK)
    ref = str(root / "ref")
    shutil.copytree(base, ref)
    sketch_ingest(spark, incs[2], ref, _SK_COLS, batch_id=2, **_SK)
    return base, incs[2], _sketch_state(spark, ref)


@pytest.mark.slow
@pytest.mark.parametrize("fault", list(FAULTS))
def test_sketch_ingest_crash_and_replay(spark, sketch_base, tmp_path,
                                        monkeypatch, fault):
    from anomalyzer_spark.streaming import sketch_ingest

    base, inc, want = sketch_base
    store = str(tmp_path / "store")
    shutil.copytree(base, store)
    # sketch batches write hll then mg; its sweep is the generation cleanup
    _crash_and_replay(
        monkeypatch, fault, "hll", "mg",
        lambda: sketch_ingest(spark, inc, store, _SK_COLS, batch_id=2,
                              **_SK))
    assert _sketch_state(spark, store) == want
    _assert_no_absorbed_live(store, ("hll", "mg"))


def _images(spark, path):
    """Three single-file batches of PGM payloads with planted
    near-duplicates across batches."""
    rng = np.random.default_rng(5)
    imgs = {i: rng.integers(0, 256, size=(8, 9), dtype=np.uint8)
            for i in range(12)}
    for src, dst in ((0, 100), (4, 101), (9, 102)):
        imgs[dst] = imgs[src].copy()
        imgs[dst][0, 0] = 255 - imgs[dst][0, 0]
    order = [[0, 1, 2, 3, 100], [4, 5, 6, 7, 101], [8, 9, 10, 11, 102]]
    for bi, ids in enumerate(order):
        rows = [(i, bytearray(b"P5\n9 8\n255\n" + imgs[i].tobytes()))
                for i in ids]
        (spark.createDataFrame(rows, "doc_id long, content binary")
         .coalesce(1).write.mode("overwrite" if bi == 0 else "append")
         .parquet(path))


@pytest.mark.slow
def test_dhash_stream_restart_after_torn_manifest(spark, tmp_path,
                                                  monkeypatch):
    """The third micro-batch crashes inside a manifest write; restarting
    the stream from its checkpoint replays it to the uninterrupted state."""
    from anomalyzer_spark.streaming.dhash_stream import (
        dhash_pairs_store, run_dhash_stream_on_dir)

    src = str(tmp_path / "in")
    _images(spark, src)
    kw = dict(max_files_per_trigger=1, retention_batches=_H,
              compact_every=_C)
    ref = run_dhash_stream_on_dir(spark, src, str(tmp_path / "ref"),
                                  str(tmp_path / "ref_ckpt"), **kw)
    want = _rows(ref)
    assert want, "fixture must plant pairs inside the horizon"

    store, ckpt = str(tmp_path / "store"), str(tmp_path / "ckpt")
    _during_manifest(monkeypatch)
    with pytest.raises(Exception, match="during the manifest write"):
        run_dhash_stream_on_dir(spark, src, store, ckpt, **kw)
    monkeypatch.undo()
    assert _live_batch_ids(f"{store}/blocks") == [1, 2]
    got = run_dhash_stream_on_dir(spark, src, store, ckpt, **kw)
    assert _rows(got) == want
    assert _rows(dhash_pairs_store(spark, store)) == want
    _assert_no_absorbed_live(store, ("blocks", "pairs"))
