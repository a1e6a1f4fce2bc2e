"""Merge-on-read equality deletes (storage.delete_from_snapshot):
Iceberg-v2-style delete files subtracted at scan time, sequence-number
scoping (later appends survive), and their composition with time
travel, data skipping, COW MERGE, compaction, vacuum, MV and CDF."""

import json
import os
import tempfile

import pytest
from pyspark.sql import functions as F

from lcmap_blackmagic_spark import storage
from lcmap_blackmagic_spark.mv import mv_read, mv_refresh, mv_watermark

from .test_snapshots import _rival_at_commit_ts


def _batch(spark, rows):
    return spark.createDataFrame(rows, "k long, v string")


def _keys(spark, ks):
    return spark.createDataFrame([(k,) for k in ks], "k long")


def _rows(spark, t, **kw):
    return sorted((r["k"], r["v"]) for r in
                  storage.read_snapshot(spark, t, **kw).collect())


def test_delete_subtracts_without_touching_data(spark):
    t = tempfile.mkdtemp(prefix="sdel_")
    storage.write_snapshot(_batch(spark, [(1, "a"), (2, "b"), (3, "c")]), t)
    v = storage.delete_from_snapshot(spark, t, _keys(spark, [2]), "k")
    assert v == 2
    assert _rows(spark, t) == [(1, "a"), (3, "c")]
    # time travel: v1 still sees the deleted row
    assert _rows(spark, t, version=1) == [(1, "a"), (2, "b"), (3, "c")]
    with open(os.path.join(t, storage.SNAP_MANIFESTS, "v2.json")) as fh:
        man = json.load(fh)
    # zero data files were rewritten: dirs and stats identical to v1
    with open(os.path.join(t, storage.SNAP_MANIFESTS, "v1.json")) as fh:
        m1 = json.load(fh)
    assert man["mode"] == "delete" and man["dirs"] == m1["dirs"]
    assert man["stats"] == m1["stats"]
    assert len(man["deletes"]) == 1 and man["deletes"][0]["seq"] == 2


def test_delete_rebases_onto_rival_append(spark, monkeypatch):
    """A rival append publishes inside the delete's publish window.
    The delete rebases onto the append instead of clobbering it and,
    meaning "delete these keys as of commit time", also removes the
    matching rows the append brought in."""
    t = tempfile.mkdtemp(prefix="sdel_")
    storage.write_snapshot(_batch(spark, [(1, "a"), (2, "b")]), t)
    _rival_at_commit_ts(monkeypatch, lambda: storage.write_snapshot(
        _batch(spark, [(2, "B2"), (3, "c")]), t, mode="append"))
    assert storage.delete_from_snapshot(spark, t, _keys(spark, [2]),
                                        "k") == 3
    assert _rows(spark, t, version=2) == \
        [(1, "a"), (2, "B2"), (2, "b"), (3, "c")]
    assert _rows(spark, t) == [(1, "a"), (3, "c")]


def test_reinserted_key_survives_older_delete(spark):
    """Sequence-number scoping: a delete applies only to data dirs
    committed BEFORE it; an append that re-introduces the key wins."""
    t = tempfile.mkdtemp(prefix="sdel_")
    storage.write_snapshot(_batch(spark, [(1, "a"), (2, "b")]), t)
    storage.delete_from_snapshot(spark, t, _keys(spark, [2]), "k")
    storage.write_snapshot(_batch(spark, [(2, "B2"), (4, "d")]), t,
                           mode="append")
    assert _rows(spark, t) == [(1, "a"), (2, "B2"), (4, "d")]
    # a SECOND delete of the same key now removes the re-insert too
    storage.delete_from_snapshot(spark, t, _keys(spark, [2]), "k")
    assert _rows(spark, t) == [(1, "a"), (4, "d")]
    # and every intermediate state remains time-travelable
    assert _rows(spark, t, version=2) == [(1, "a")]
    assert _rows(spark, t, version=3) == [(1, "a"), (2, "B2"), (4, "d")]


def test_delete_composes_with_data_skipping(spark):
    t = tempfile.mkdtemp(prefix="sdel_")
    storage.write_snapshot(_batch(spark, [(i, f"a{i}") for i in (1, 2, 3)]),
                           t)
    storage.write_snapshot(
        _batch(spark, [(i, f"b{i}") for i in (100, 101)]), t, mode="append")
    storage.delete_from_snapshot(spark, t, _keys(spark, [2, 100]), "k")
    got = _rows(spark, t, where=("k", ">=", 100))
    assert got == [(101, "b101")]
    # pruned read ≡ unpruned read + filter, deletes applied in both
    want = [(k, v) for k, v in _rows(spark, t) if k >= 100]
    assert got == want


def test_delete_null_keys_rejected_and_tag_idempotent(spark):
    t = tempfile.mkdtemp(prefix="sdel_")
    storage.write_snapshot(_batch(spark, [(1, "a")]), t)
    with pytest.raises(ValueError, match="NULL"):
        storage.delete_from_snapshot(
            spark, t, spark.createDataFrame([(None,)], "k long"), "k")
    assert storage.delete_from_snapshot(
        spark, t, _keys(spark, [1]), "k", tag="b1") == 2
    assert storage.delete_from_snapshot(
        spark, t, _keys(spark, [1]), "k", tag="b1") is None
    assert storage.latest_version(t) == 2


def test_compaction_materializes_deletes_away(spark):
    t = tempfile.mkdtemp(prefix="sdel_")
    storage.write_snapshot(_batch(spark, [(1, "a"), (2, "b")]), t)
    storage.write_snapshot(_batch(spark, [(3, "c")]), t, mode="append")
    storage.delete_from_snapshot(spark, t, _keys(spark, [2]), "k")
    before = _rows(spark, t)
    v = storage.compact_snapshot(spark, t)
    assert v == 4 and _rows(spark, t) == before == [(1, "a"), (3, "c")]
    with open(os.path.join(t, storage.SNAP_MANIFESTS, "v4.json")) as fh:
        man = json.load(fh)
    assert "deletes" not in man and len(man["dirs"]) == 1
    # a single-dir table with outstanding deletes must still compact
    storage.delete_from_snapshot(spark, t, _keys(spark, [1]), "k")
    assert storage.compact_snapshot(spark, t) == 6
    assert _rows(spark, t) == [(3, "c")]


def test_merge_does_not_resurrect_deleted_rows(spark):
    """COW MERGE rewrites dirs into a commit whose sequence number
    exceeds every delete's — the rewrite read must therefore apply
    outstanding deletes, or they silently un-delete."""
    t = tempfile.mkdtemp(prefix="sdel_")
    storage.write_snapshot(_batch(spark, [(1, "a"), (2, "b"), (3, "c")]), t)
    storage.delete_from_snapshot(spark, t, _keys(spark, [2]), "k")
    storage.merge_into_snapshot(
        spark, t,
        spark.createDataFrame([(3, "C", "U"), (4, "d", "I")],
                              "k long, v string, op string"), "k")
    assert _rows(spark, t) == [(1, "a"), (3, "C"), (4, "d")]


def test_vacuum_keeps_referenced_delete_files(spark):
    t = tempfile.mkdtemp(prefix="sdel_")
    storage.write_snapshot(_batch(spark, [(1, "a"), (2, "b")]), t)
    storage.delete_from_snapshot(spark, t, _keys(spark, [1]), "k")
    storage.write_snapshot(_batch(spark, [(3, "c")]), t, mode="append")
    removed = storage.vacuum_snapshots(t, keep=2, min_age_s=0.0)
    assert removed == 0          # every dir is still referenced
    assert _rows(spark, t) == [(2, "b"), (3, "c")]


def test_mv_full_rebuild_after_delete(spark):
    keys, spec = ["v"], [("count", "*", "n"), ("sum", "k", "sk")]
    src = tempfile.mkdtemp(prefix="sdelsrc_")
    mv = tempfile.mkdtemp(prefix="sdelmv_")
    storage.write_snapshot(_batch(spark, [(1, "x"), (2, "x"), (3, "y")]),
                           src)
    mv_refresh(spark, src, mv, keys, spec)
    storage.delete_from_snapshot(spark, src, _keys(spark, [2]), "k")
    mv_refresh(spark, src, mv, keys, spec)
    got = {r["v"]: (r["n"], r["sk"])
           for r in mv_read(spark, mv, keys, spec).collect()}
    assert got == {"x": (1, 1), "y": (1, 3)}
    assert mv_watermark(mv) == storage.latest_version(src)
    # unchanged deletes + a fresh append keeps the incremental path
    storage.write_snapshot(_batch(spark, [(2, "x")]), src, mode="append")
    mv_refresh(spark, src, mv, keys, spec)
    got = {r["v"]: (r["n"], r["sk"])
           for r in mv_read(spark, mv, keys, spec).collect()}
    assert got == {"x": (2, 3), "y": (1, 3)}


def test_cdf_shows_mor_delete_on_both_paths(spark):
    """A pure-delete range takes the DELETE FAST PATH (one pinned
    MOR read + broadcast semi-join); forcing the general path (mixed
    range: the delete plus an append) must agree on the delete rows."""
    t = tempfile.mkdtemp(prefix="sdel_")
    storage.write_snapshot(_batch(spark, [(1, "a"), (2, "b")]), t)
    storage.delete_from_snapshot(spark, t, _keys(spark, [2]), "k")
    ch = storage.snapshot_changes(spark, t, 1, 2)
    assert sorted((r["k"], r["v"], r["_change_type"], r["_n"])
                  for r in ch.collect()) == [(2, "b", "delete", 1)]
    # two stacked deletes in one range, fast path
    storage.delete_from_snapshot(spark, t, _keys(spark, [1]), "k")
    ch2 = storage.snapshot_changes(spark, t, 1, 3)
    assert sorted((r["k"], r["v"], r["_change_type"], r["_n"])
                  for r in ch2.collect()) == \
        [(1, "a", "delete", 1), (2, "b", "delete", 1)]
    # a re-delete of an already-gone key is a no-op in the feed
    storage.delete_from_snapshot(spark, t, _keys(spark, [2]), "k")
    assert storage.snapshot_changes(spark, t, 3, 4).collect() == []
    # mixed range (delete + append) falls to the general path and
    # agrees with fast-path deletes plus the appended inserts
    storage.write_snapshot(_batch(spark, [(9, "z")]), t, mode="append")
    mixed = storage.snapshot_changes(spark, t, 1, 5)
    assert sorted((r["k"], r["v"], r["_change_type"], r["_n"])
                  for r in mixed.collect()) == \
        [(1, "a", "delete", 1), (2, "b", "delete", 1),
         (9, "z", "insert", 1)]


def test_stream_emits_nothing_for_delete_commit(spark, tmp_path):
    """A delete commit adds no data dirs: the snapshot stream's
    no-retraction contract — nothing is emitted, the offset still
    advances past the version."""
    t = tempfile.mkdtemp(prefix="sdel_")
    storage.write_snapshot(_batch(spark, [(1, "a"), (2, "b")]), t)
    storage.delete_from_snapshot(spark, t, _keys(spark, [1]), "k")
    from lcmap_blackmagic_spark.sources.snapshotstream import (
        read_snapshot_stream)
    out = (read_snapshot_stream(spark, t)
           .writeStream.format("memory").queryName("sdel_stream")
           .option("checkpointLocation", str(tmp_path / "ck"))
           .trigger(availableNow=True).start())
    assert out.awaitTermination(300)
    got = sorted((r["k"], r["v"]) for r in
                 spark.sql("SELECT * FROM sdel_stream").collect())
    assert got == [(1, "a"), (2, "b")]   # v1 snapshot, no retraction


def test_gdpr_delete_stream_applies_and_replays_idempotently(spark):
    """Streaming deletion requests -> tagged MOR delete commits: the
    drained stream removes exactly the requested keys, and a full
    REPLAY from a fresh checkpoint publishes zero new versions (the
    batch-id tags suppress every re-delivered request)."""
    from lcmap_blackmagic_spark.streaming.jobs import gdpr_delete_stream

    t = tempfile.mkdtemp(prefix="sdel_")
    storage.write_snapshot(
        _batch(spark, [(i, f"v{i}") for i in range(1, 11)]), t)
    req = tempfile.mkdtemp(prefix="sdel_req_")
    _keys(spark, [2, 3]).coalesce(1).write.mode("append").parquet(req)
    _keys(spark, [5]).coalesce(1).write.mode("append").parquet(req)

    def drain(ckpt):
        q = gdpr_delete_stream(spark, req, t, ckpt, key="k")
        assert q.awaitTermination(300)

    drain(tempfile.mkdtemp(prefix="sdel_ck_"))
    want = [(i, f"v{i}") for i in range(1, 11) if i not in (2, 3, 5)]
    assert _rows(spark, t) == want
    v_after = storage.latest_version(t)
    assert v_after == 3                     # one commit per request file
    # replay: fresh checkpoint re-delivers both batches
    drain(tempfile.mkdtemp(prefix="sdel_ck_"))
    assert storage.latest_version(t) == v_after
    assert _rows(spark, t) == want


def test_dead_deletes_pruned_at_commit_time(spark):
    """Once every dir a delete could apply to has been rewritten
    (its seq >= the delete's), the entry is dead weight for the
    read-side anti-join list — the next commit drops it; a PARTIAL
    rewrite keeps it."""
    t = tempfile.mkdtemp(prefix="sdel_")
    storage.write_snapshot(_batch(spark, [(1, "a"), (2, "b"), (3, "c")]), t)
    storage.delete_from_snapshot(spark, t, _keys(spark, [2]), "k")
    # full-coverage merge (keys bracket the only dir): rewrite
    # materializes the delete, so the new manifest must carry none
    storage.merge_into_snapshot(
        spark, t,
        spark.createDataFrame([(1, "A", "U"), (3, None, "D")],
                              "k long, v string, op string"), "k")
    with open(os.path.join(t, storage.SNAP_MANIFESTS, "v3.json")) as fh:
        assert "deletes" not in json.load(fh)
    assert _rows(spark, t) == [(1, "A")]
    # partial coverage: two disjoint dirs, delete hits both ranges,
    # merge rewrites only one -> the delete must SURVIVE the commit
    t2 = tempfile.mkdtemp(prefix="sdel_")
    storage.write_snapshot(_batch(spark, [(1, "a"), (2, "b")]), t2)
    storage.write_snapshot(_batch(spark, [(100, "x"), (101, "y")]), t2,
                           mode="append")
    storage.delete_from_snapshot(spark, t2, _keys(spark, [2, 100]), "k")
    storage.merge_into_snapshot(
        spark, t2,
        spark.createDataFrame([(101, "Y", "U")],
                              "k long, v string, op string"), "k")
    with open(os.path.join(t2, storage.SNAP_MANIFESTS, "v4.json")) as fh:
        m4 = json.load(fh)
    assert len(m4.get("deletes", [])) == 1
    assert _rows(spark, t2) == [(1, "a"), (101, "Y")]
    # an append after full coverage also drops the dead entry
    storage.write_snapshot(_batch(spark, [(7, "q")]), t, mode="append")
    with open(os.path.join(t, storage.SNAP_MANIFESTS, "v4.json")) as fh:
        assert "deletes" not in json.load(fh)


def test_gdpr_delete_stream_starts_on_empty_inbox(spark):
    """The erasure-request inbox is usually EMPTY when the stream
    starts — the stream must come up anyway (schema typed from the
    target table, no eager inference), drain zero batches, and then
    apply requests that arrive before a later drain."""
    from lcmap_blackmagic_spark.streaming.jobs import gdpr_delete_stream

    t = tempfile.mkdtemp(prefix="sdel_")
    storage.write_snapshot(
        _batch(spark, [(i, f"v{i}") for i in range(1, 6)]), t)
    req = os.path.join(tempfile.mkdtemp(prefix="sdel_req_"), "inbox")
    assert not os.path.exists(req)        # not even created yet
    ckpt = tempfile.mkdtemp(prefix="sdel_ck_")
    q = gdpr_delete_stream(spark, req, t, ckpt, key="k")
    assert q.awaitTermination(300)
    assert storage.latest_version(t) == 1  # nothing to delete yet
    # a request lands; the next drain (same checkpoint) applies it
    _keys(spark, [4]).coalesce(1).write.mode("append").parquet(req)
    q = gdpr_delete_stream(spark, req, t, ckpt, key="k")
    assert q.awaitTermination(300)
    assert _rows(spark, t) == [(i, f"v{i}") for i in (1, 2, 3, 5)]


def test_gdpr_delete_stream_explicit_schema(spark):
    """A caller-pinned schema bypasses inference entirely."""
    from pyspark.sql import types as T

    from lcmap_blackmagic_spark.streaming.jobs import gdpr_delete_stream

    t = tempfile.mkdtemp(prefix="sdel_")
    storage.write_snapshot(_batch(spark, [(1, "a"), (2, "b")]), t)
    req = tempfile.mkdtemp(prefix="sdel_req_")
    _keys(spark, [1]).coalesce(1).write.mode("append").parquet(req)
    q = gdpr_delete_stream(
        spark, req, t, tempfile.mkdtemp(prefix="sdel_ck_"), key="k",
        schema=T.StructType([T.StructField("k", T.LongType())]))
    assert q.awaitTermination(300)
    assert _rows(spark, t) == [(2, "b")]
