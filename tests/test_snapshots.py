"""Versioned snapshot store: manifest-committed writes, time travel,
append lineage, and optimistic-concurrency commit races."""

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from lcmap_blackmagic_spark import storage


def _vals(df):
    return sorted(r["v"] for r in df.collect())


def test_overwrite_versions_and_time_travel(spark):
    t = tempfile.mkdtemp(prefix="snap_")
    v1 = storage.write_snapshot(
        spark.range(5).select(F.col("id").alias("v")), t)
    v2 = storage.write_snapshot(
        spark.range(10, 13).select(F.col("id").alias("v")), t)
    assert (v1, v2) == (1, 2)
    assert storage.latest_version(t) == 2
    # latest sees only the overwrite; the PINNED v1 still reads the
    # original rows — its commit dir was never touched
    assert _vals(storage.read_snapshot(spark, t)) == [10, 11, 12]
    assert _vals(storage.read_snapshot(spark, t, version=1)) == \
        [0, 1, 2, 3, 4]


def test_append_carries_prior_commits(spark):
    t = tempfile.mkdtemp(prefix="snap_")
    storage.write_snapshot(
        spark.range(3).select(F.col("id").alias("v")), t)
    storage.write_snapshot(
        spark.range(100, 102).select(F.col("id").alias("v")), t,
        mode="append")
    assert _vals(storage.read_snapshot(spark, t)) == [0, 1, 2, 100, 101]
    # and the append itself is time-travelable past
    storage.write_snapshot(
        spark.range(7, 8).select(F.col("id").alias("v")), t)
    assert _vals(storage.read_snapshot(spark, t)) == [7]
    assert _vals(storage.read_snapshot(spark, t, version=2)) == \
        [0, 1, 2, 100, 101]


def test_commit_race_retries_to_next_version(spark):
    """If another writer claims the version first (simulated by
    pre-creating its manifest), the commit must NOT clobber it — the
    loser lands on the next version with its own data intact."""
    import json

    t = tempfile.mkdtemp(prefix="snap_")
    storage.write_snapshot(
        spark.range(2).select(F.col("id").alias("v")), t)
    # a rival writer publishes v2 out from under us
    mdir = os.path.join(t, storage.SNAP_MANIFESTS)
    rival_dir = os.path.join(t, "data", "c-rival")
    spark.range(50, 52).select(F.col("id").alias("v")) \
        .write.parquet(rival_dir)
    with open(os.path.join(mdir, "v2.json"), "x") as fh:
        fh.write(json.dumps({"version": 2, "mode": "overwrite",
                             "dirs": ["c-rival"]}))
    v = storage.write_snapshot(
        spark.range(9).select(F.col("id").alias("v")), t)
    assert v == 3
    assert _vals(storage.read_snapshot(spark, t, version=2)) == [50, 51]
    assert _vals(storage.read_snapshot(spark, t, version=3)) == \
        list(range(9))


def test_tagged_commit_is_replay_idempotent(spark):
    """A re-delivered micro-batch (same tag) must not publish a
    second version — the streaming exactly-once contract at
    table-commit granularity."""
    t = tempfile.mkdtemp(prefix="snap_")
    v1 = storage.write_snapshot_tagged(
        spark.range(3).select(F.col("id").alias("v")), t, "batch-0")
    again = storage.write_snapshot_tagged(
        spark.range(3).select(F.col("id").alias("v")), t, "batch-0")
    v2 = storage.write_snapshot_tagged(
        spark.range(10, 12).select(F.col("id").alias("v")), t,
        "batch-1")
    assert (v1, again, v2) == (1, None, 2)
    assert storage.latest_version(t) == 2
    assert _vals(storage.read_snapshot(spark, t)) == [0, 1, 2, 10, 11]


def test_tagged_commit_race_rechecks_inside_publish_loop(spark):
    """Two concurrent writers with the same tag can BOTH pass the
    precheck in write_snapshot_tagged (check-then-commit).  The fix
    re-checks the tag inside write_snapshot's publish-retry loop:
    a writer that staged its data AFTER the rival's tag landed must
    abort (return None), publish nothing, and clean up its staged
    commit dir.  Simulated by entering write_snapshot directly with
    dedupe_tag=True — i.e. a writer past the precheck — against a
    log where the tag already exists."""
    t = tempfile.mkdtemp(prefix="snap_")
    df = spark.range(4).select(F.col("id").alias("v"))
    assert storage.write_snapshot_tagged(df, t, "batch-7") == 1
    # rival writer, already past its (stale) precheck:
    lost = storage.write_snapshot(
        spark.range(100, 104).select(F.col("id").alias("v")), t,
        mode="append", tag="batch-7", dedupe_tag=True)
    assert lost is None
    assert storage.latest_version(t) == 1          # no double publish
    assert _vals(storage.read_snapshot(spark, t)) == [0, 1, 2, 3]
    # the loser's staged commit dir is reaped — only v1's dir remains
    assert len(os.listdir(os.path.join(t, "data"))) == 1


def _rival_at_commit_ts(monkeypatch, rival):
    """Run ``rival()`` once, from inside the next commit's publish
    window: the commit timestamp is stamped after the writer read the
    log and before it links its manifest, so the rival wins that
    version and the writer loses a real publish race."""
    real_ts = storage._commit_ts
    fired = []

    def hook():
        if not fired:
            fired.append(True)
            rival()
        return real_ts()

    monkeypatch.setattr(storage, "_commit_ts", hook)


def test_restore_race_lands_on_next_version(spark, monkeypatch):
    """RESTORE that loses the publish race must not clobber the
    winner: it rebuilds and lands on the next version, and the
    winner's version stays readable."""
    t = tempfile.mkdtemp(prefix="srstr_")
    storage.write_snapshot(spark.createDataFrame([(1,)], "v long"), t)
    storage.write_snapshot(spark.createDataFrame([(2,)], "v long"), t,
                           mode="append")
    _rival_at_commit_ts(monkeypatch, lambda: storage.write_snapshot(
        spark.createDataFrame([(3,)], "v long"), t, mode="append"))
    assert storage.restore_snapshot(t, 1) == 4
    assert _vals(storage.read_snapshot(spark, t, version=3)) == [1, 2, 3]
    assert _vals(storage.read_snapshot(spark, t)) == [1]


def test_clone_race_onto_occupied_target_raises(spark, monkeypatch):
    """A clone target that gains a v1 while the clone publishes is
    no longer a NEW table: the clone refuses with ValueError and the
    rival's v1 is left as it was."""
    import json

    src = tempfile.mkdtemp(prefix="clnsrc_")
    storage.write_snapshot(
        spark.range(3).select(F.col("id").alias("v")), src)
    dst = os.path.join(tempfile.mkdtemp(prefix="clndst_"), "t")
    mdir = os.path.join(dst, storage.SNAP_MANIFESTS)

    def rival():
        os.makedirs(mdir, exist_ok=True)
        with open(os.path.join(mdir, "v1.json"), "x") as fh:
            json.dump({"version": 1, "mode": "rival", "dirs": []}, fh)

    _rival_at_commit_ts(monkeypatch, rival)
    with pytest.raises(ValueError, match="already has"):
        storage.clone_snapshot(src, dst)
    with open(os.path.join(mdir, "v1.json")) as fh:
        assert json.load(fh)["mode"] == "rival"
    assert storage.latest_version(dst) == 1


def test_data_skipping_prunes_commit_dirs(spark):
    """Delta-style file skipping on the store's own manifest: a
    point lookup on a table written in sorted key ranges must scan
    exactly ONE of the N commit dirs — provable from inputFiles() —
    and still return byte-identical rows to the unpruned read plus
    the same filter."""
    t = tempfile.mkdtemp(prefix="snap_")
    for lo in (0, 100, 200, 300):
        storage.write_snapshot(
            spark.range(lo, lo + 100).select(F.col("id").alias("v")),
            t, mode="append" if lo else "overwrite")
    assert storage._snap_versions(t)[-1] == 4
    pruned = storage.read_snapshot(spark, t, where=("v", "=", 250))
    scanned = {f.split("/data/")[1].split("/")[0]
               for f in pruned.inputFiles()}
    assert len(scanned) == 1                    # 1 of 4 commit dirs
    unpruned = storage.read_snapshot(spark, t).filter(F.col("v") == 250)
    assert sorted(r["v"] for r in pruned.collect()) == \
        sorted(r["v"] for r in unpruned.collect()) == [250]
    # range predicate: only the 0-99 dir is provably excluded
    rng = storage.read_snapshot(spark, t, where=("v", ">=", 180))
    scanned = {f.split("/data/")[1].split("/")[0]
               for f in rng.inputFiles()}
    assert len(scanned) == 3
    assert sorted(r["v"] for r in rng.collect()) == list(range(180, 400))


def test_data_skipping_is_conservative(spark):
    """Skipping must never change answers: an all-NULL commit is
    prunable under any comparison; a dir with no stats for the
    column (pre-stats manifest, simulated by stripping) is kept;
    every-dir-excluded returns an empty frame with the right
    schema."""
    import json

    t = tempfile.mkdtemp(prefix="snap_")
    storage.write_snapshot(
        spark.range(10).select(F.col("id").alias("v")), t)
    storage.write_snapshot(
        spark.range(1).select(F.lit(None).cast("bigint").alias("v")),
        t, mode="append")
    # all-NULL commit pruned for any comparison (NULL matches none)
    got = storage.read_snapshot(spark, t, where=("v", "<", 5))
    scanned = {f.split("/data/")[1].split("/")[0]
               for f in got.inputFiles()}
    assert len(scanned) == 1
    assert sorted(r["v"] for r in got.collect()) == [0, 1, 2, 3, 4]
    # strip stats from the manifest → dir must be KEPT (conservative)
    mpath = os.path.join(t, storage.SNAP_MANIFESTS, "v2.json")
    with open(mpath) as fh:
        man = json.load(fh)
    man["stats"] = {}
    os.remove(mpath)
    with open(mpath, "w") as fh:
        json.dump(man, fh)
    got = storage.read_snapshot(spark, t, where=("v", "=", 3))
    assert len(got.inputFiles()) >= 2   # nothing pruned, still exact
    assert [r["v"] for r in got.collect()] == [3]
    # a predicate excluding every dir: empty result, schema intact
    t2 = tempfile.mkdtemp(prefix="snap_")
    storage.write_snapshot(
        spark.range(10).select(F.col("id").alias("v")), t2)
    none = storage.read_snapshot(spark, t2, where=("v", ">", 99))
    assert none.collect() == [] and none.columns == ["v"]


def test_vacuum_keeps_recent_versions_only(spark):
    t = tempfile.mkdtemp(prefix="snap_")
    for lo in (0, 10, 20, 30):
        storage.write_snapshot(
            spark.range(lo, lo + 2).select(F.col("id").alias("v")), t)
    # an unreferenced YOUNG dir (an in-flight commit staging its
    # data before publishing) must survive the default horizon
    inflight = os.path.join(t, "data", "c-inflight")
    os.makedirs(inflight)
    assert storage.vacuum_snapshots(t, keep=4) == 0
    assert os.path.isdir(inflight)
    removed = storage.vacuum_snapshots(t, keep=2, min_age_s=0)
    assert removed == 3                # v1, v2 commit dirs + inflight
    # survivors read fine; vacuumed versions are gone from the log
    assert _vals(storage.read_snapshot(spark, t, version=4)) == [30, 31]
    assert _vals(storage.read_snapshot(spark, t, version=3)) == [20, 21]
    assert storage._snap_versions(t) == [3, 4]
    import pytest as _pt
    with _pt.raises(FileNotFoundError):
        storage.read_snapshot(spark, t, version=1)


def test_vacuum_tombstones_keep_suppressing_replays(spark):
    """A vacuumed version's tag must still suppress a replayed
    commit — otherwise a stream re-run after retention would append
    its old batches again and double-count."""
    t = tempfile.mkdtemp(prefix="snap_")
    for b in range(3):
        storage.write_snapshot_tagged(
            spark.range(b * 10, b * 10 + 2)
            .select(F.col("id").alias("v")), t, f"batch-{b}")
    storage.vacuum_snapshots(t, keep=1, min_age_s=0)
    assert storage._snap_versions(t) == [3]
    # replaying every batch: all suppressed, log unchanged
    for b in range(3):
        assert storage.write_snapshot_tagged(
            spark.range(b * 10, b * 10 + 2)
            .select(F.col("id").alias("v")), t, f"batch-{b}") is None
    assert storage.latest_version(t) == 3
    assert _vals(storage.read_snapshot(spark, t)) == \
        [0, 1, 10, 11, 20, 21]


def test_append_with_added_column_schema_evolution(spark):
    """Additive schema evolution: an appended commit introduces a
    column; merge_schema reads the union schema with NULLs for the
    old commits' rows."""
    t = tempfile.mkdtemp(prefix="snap_")
    storage.write_snapshot(
        spark.range(2).select(F.col("id").alias("v")), t)
    storage.write_snapshot(
        spark.range(5, 7).select(F.col("id").alias("v"),
                                 (F.col("id") * 10).alias("extra")),
        t, mode="append")
    df = storage.read_snapshot(spark, t, merge_schema=True)
    rows = {(r["v"], r["extra"]) for r in df.collect()}
    assert rows == {(0, None), (1, None), (5, 50), (6, 60)}


# ---- property test: random op sequences vs a model ----------------

def test_random_op_sequences_match_model(spark):
    """Hypothesis drives random write/tagged/vacuum sequences and a
    pure-Python model tracks what every surviving version must
    contain — the protocol invariants (append lineage, overwrite
    reset, tag suppression incl. tombstones, vacuum survivorship)
    hold on every path, not just the handcrafted ones."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    op = st.one_of(
        st.tuples(st.just("write"), st.sampled_from(["overwrite",
                                                     "append"]),
                  st.integers(0, 5)),
        st.tuples(st.just("tagged"), st.just("append"),
                  st.integers(0, 3)),          # tag id (collisions!)
        st.tuples(st.just("delete"), st.integers(0, 2), st.just(0)),
        st.tuples(st.just("vacuum"), st.integers(1, 3), st.just(0)))

    @settings(max_examples=6, deadline=None,
              suppress_health_check=list(HealthCheck))
    @given(st.lists(op, min_size=3, max_size=8))
    def run(ops):
        t = tempfile.mkdtemp(prefix="snap_prop_")
        model: dict[int, list[int]] = {}       # version -> values
        seen_tags: set[str] = set()
        nxt = 0
        for kind, a, b in ops:
            if kind == "write":
                vals = list(range(nxt, nxt + 2))
                nxt += 2
                df = spark.createDataFrame([(v,) for v in vals],
                                           "v long")
                ver = storage.write_snapshot(df, t, mode=a)
                prev = model.get(ver - 1, []) if a == "append" else []
                model[ver] = prev + vals
            elif kind == "tagged":
                tag = f"t{b}"
                vals = list(range(nxt, nxt + 2))
                df = spark.createDataFrame([(v,) for v in vals],
                                           "v long")
                ver = storage.write_snapshot_tagged(df, t, tag)
                if tag in seen_tags:
                    assert ver is None          # replay suppressed
                else:
                    assert ver is not None
                    nxt += 2
                    seen_tags.add(tag)
                    model[ver] = model.get(ver - 1, []) + vals
            elif kind == "delete":
                if not model:
                    continue
                cur = model[max(model)]
                # residue-class keys from the live state PLUS the next
                # two FUTURE values: the commit must remove only rows
                # already present — later appends of those very values
                # must survive (equality-delete sequence scoping)
                keys = [v for v in cur if v % 3 == a] + [nxt, nxt + 1]
                ver = storage.delete_from_snapshot(
                    spark, t,
                    spark.createDataFrame([(k,) for k in keys],
                                          "v long"), "v")
                model[ver] = [v for v in cur if v % 3 != a]
            else:                               # vacuum keep=a
                if not model:
                    continue
                storage.vacuum_snapshots(t, keep=a, min_age_s=0)
                survivors = sorted(model)[-a:]
                model = {v: model[v] for v in survivors}
        # every surviving version reads exactly its model contents
        for ver, vals in model.items():
            assert _vals(storage.read_snapshot(spark, t, ver)) == \
                sorted(vals), f"version {ver}"
        if model:
            assert storage.latest_version(t) == max(model)

    run()


def test_data_skipping_nan_stats_are_conservative(spark):
    """A double column containing NaN poisons its min/max (Spark's
    max() propagates NaN, and every Python comparison against NaN is
    False) — the pruner must treat any NaN bound as 'may match', or
    a point lookup silently loses rows that are really there."""
    t = tempfile.mkdtemp(prefix="snap_")
    storage.write_snapshot(
        spark.createDataFrame(
            [(1.0,), (2.0,), (float("nan"),)], "v double"), t)
    storage.write_snapshot(
        spark.createDataFrame([(100.0,), (200.0,)], "v double"),
        t, mode="append")
    got = storage.read_snapshot(spark, t, where=("v", "=", 2.0))
    assert [r["v"] for r in got.collect()] == [2.0]
    # the NaN-stats dir is KEPT; the clean [100, 200] dir still prunes
    scanned = {f.split("/data/")[1].split("/")[0]
               for f in got.inputFiles()}
    assert len(scanned) == 1
    # range predicate through the NaN dir too
    gt = storage.read_snapshot(spark, t, where=("v", ">", 1.5))
    assert sorted(r["v"] for r in gt.collect()
                  if r["v"] == r["v"]) == [2.0, 100.0, 200.0]


def test_data_skipping_under_schema_evolution(spark):
    """Pruning must not change the result SCHEMA: when an appended
    commit both adds a column and is the one pruned away, the
    surviving dirs alone would lose the column (or fail to resolve
    a residual filter on it).  The pruned read must equal the
    unpruned merged read plus the same filter — columns included."""
    t = tempfile.mkdtemp(prefix="snap_")
    storage.write_snapshot(
        spark.createDataFrame([(1, 10), (2, 20)], "k int, v int"), t)
    storage.write_snapshot(
        spark.createDataFrame([(3, 300, 7), (4, 400, 8)],
                              "k int, v int, w int"),
        t, mode="append")

    # filter on v prunes the NEW dir → w must still be in the schema
    got = storage.read_snapshot(spark, t, merge_schema=True,
                                where=("v", "<=", 20))
    want = (storage.read_snapshot(spark, t, merge_schema=True)
            .filter(F.col("v") <= 20))
    assert sorted(got.columns) == sorted(want.columns)
    assert sorted(map(tuple, got.select(*sorted(got.columns))
                      .collect())) == \
        sorted(map(tuple, want.select(*sorted(want.columns)).collect()))

    # filter on w: the OLD dir (no w stats) is conservatively kept
    # and has no physical w column — the residual filter must still
    # resolve, and the result must equal the unpruned filtered read
    got_w = storage.read_snapshot(spark, t, merge_schema=True,
                                  where=("w", ">=", 8))
    want_w = (storage.read_snapshot(spark, t, merge_schema=True)
              .filter(F.col("w") >= 8))
    assert sorted(map(tuple, got_w.select(*sorted(got_w.columns))
                      .collect())) == \
        sorted(map(tuple, want_w.select(*sorted(want_w.columns))
                   .collect())) == [(4, 400, 8)]


def test_data_skipping_random_commits_and_predicates(spark):
    """Property: for random commit layouts (sorted ranges, overlaps,
    all-NULL commits, NaN poison, evolved columns) and random
    predicates, the pruned read ALWAYS equals the unpruned read plus
    the same filter — rows and schema.  25 seeded scenarios."""
    import math
    import random

    for seed in range(25):
        rng = random.Random(seed)
        t = tempfile.mkdtemp(prefix="snap_prop_")
        n_commits = rng.randint(1, 4)
        evolved = rng.random() < 0.3
        for c in range(n_commits):
            lo = rng.randint(-50, 50)
            n = rng.randint(1, 40)
            rows = []
            for i in range(n):
                v = lo + i
                if rng.random() < 0.1:
                    v = None
                f = float(v) if v is not None else None
                if f is not None and rng.random() < 0.05:
                    f = float("nan")
                rows.append((v, f, rng.randint(0, 9)))
            if evolved and c == n_commits - 1:
                df = spark.createDataFrame(
                    [(a, b, g, g * 10) for a, b, g in rows],
                    "v int, d double, g int, w int")
            else:
                df = spark.createDataFrame(rows,
                                           "v int, d double, g int")
            storage.write_snapshot(
                df, t, mode="overwrite" if c == 0 else "append")
        col = rng.choice(["v", "d", "w"] if evolved else ["v", "d"])
        op = rng.choice(["=", "<", "<=", ">", ">="])
        value = (rng.randint(-60, 110) if col in ("v", "w")
                 else float(rng.randint(-60, 110)))
        pruned = storage.read_snapshot(spark, t, merge_schema=True,
                                       where=(col, op, value))
        unpruned = storage.read_snapshot(spark, t, merge_schema=True)
        pred = {"=": F.col(col) == value, "<": F.col(col) < value,
                "<=": F.col(col) <= value, ">": F.col(col) > value,
                ">=": F.col(col) >= value}[op]
        want_df = unpruned.filter(pred)
        assert sorted(pruned.columns) == sorted(want_df.columns), \
            f"seed {seed}: schema drift"
        cols = sorted(pruned.columns)

        def norm(rows_):
            out = []
            for r in rows_:
                out.append(tuple(
                    ("nan" if isinstance(x, float) and math.isnan(x)
                     else x) for x in r))
            return sorted(out, key=repr)

        got = norm(tuple(r) for r in pruned.select(*cols).collect())
        want = norm(tuple(r) for r in want_df.select(*cols).collect())
        assert got == want, f"seed {seed}: {col} {op} {value}"


def test_timestamp_as_of_travel(spark):
    """TIMESTAMP AS OF: commits are wall-clock stamped in their
    manifests; read_snapshot(as_of=) pins the latest version at or
    before the instant, across every write path (overwrite, append,
    MOR delete), and is loud when the instant predates the table."""
    import datetime
    import time

    import pytest

    t = tempfile.mkdtemp(prefix="snap_asof_")
    df = lambda vals: spark.createDataFrame([(v,) for v in vals],
                                            "v long")
    before_any = time.time()
    time.sleep(0.05)
    storage.write_snapshot(df([1, 2]), t)                      # v1
    time.sleep(0.05)
    t1 = time.time()
    time.sleep(0.05)
    storage.write_snapshot(df([3]), t, mode="append")          # v2
    time.sleep(0.05)
    t2 = time.time()
    time.sleep(0.05)
    storage.delete_from_snapshot(spark, t, df([1]), "v")       # v3
    time.sleep(0.05)

    assert _vals(storage.read_snapshot(spark, t, as_of=t1)) == [1, 2]
    assert _vals(storage.read_snapshot(spark, t, as_of=t2)) == [1, 2, 3]
    assert _vals(storage.read_snapshot(spark, t,
                                       as_of=time.time())) == [2, 3]
    # datetime and ISO spellings resolve identically
    assert storage.version_as_of(
        t, datetime.datetime.fromtimestamp(t2)) == 2
    assert storage.version_as_of(
        t, datetime.datetime.fromtimestamp(t2).isoformat()) == 2
    with pytest.raises(ValueError, match="at or before"):
        storage.read_snapshot(spark, t, as_of=before_any)
    with pytest.raises(ValueError, match="not both"):
        storage.read_snapshot(spark, t, version=1, as_of=t1)
    # a pre-feature manifest (no ts) counts as arbitrarily old
    import json
    import os
    p = os.path.join(t, storage.SNAP_MANIFESTS, "v1.json")
    man = json.load(open(p))
    del man["ts"]
    json.dump(man, open(p, "w"))
    assert storage.version_as_of(t, before_any) == 1


def test_restore_snapshot_is_metadata_only(spark):
    """RESTORE commits a new version whose content is the target's —
    without writing ANY new data files (the new manifest re-references
    the old commit dirs verbatim, Delta/Iceberg RESTORE's O(manifest)
    shape)."""
    t = tempfile.mkdtemp(prefix="srst_")
    df1 = spark.createDataFrame([(1,)], "v long")
    df2 = spark.createDataFrame([(2,)], "v long")
    v1 = storage.write_snapshot(df1, t, mode="overwrite")
    v2 = storage.write_snapshot(df2, t, mode="append")
    data = os.path.join(t, "data")
    dirs_before = set(os.listdir(data))
    v3 = storage.restore_snapshot(t, v1)
    assert v3 == v2 + 1
    assert set(os.listdir(data)) == dirs_before      # zero data moves
    assert [r.v for r in storage.read_snapshot(spark, t).collect()] \
        == [1]
    # history preserved: the restored-over version still reads
    assert sorted(r.v for r in storage.read_snapshot(
        spark, t, version=v2).collect()) == [1, 2]
    # the log continues normally after a restore
    v4 = storage.write_snapshot(df2, t, mode="append")
    assert sorted(r.v for r in storage.read_snapshot(
        spark, t, version=v4).collect()) == [1, 2]
    import json
    man = json.load(open(os.path.join(
        t, storage.SNAP_MANIFESTS, f"v{v3}.json")))
    assert man["mode"] == "restore" and man["restored_from"] == v1


def test_restore_snapshot_composes_with_vacuum(spark):
    """Vacuum keeps every data dir a SURVIVING manifest references —
    including a restore manifest pointing at old dirs — and restoring
    TO a vacuumed version fails loudly."""
    import pytest as _pt
    t = tempfile.mkdtemp(prefix="srstv_")
    df = spark.createDataFrame([(1,)], "v long")
    v1 = storage.write_snapshot(df, t, mode="overwrite")
    for i in range(3):
        storage.write_snapshot(
            spark.createDataFrame([(10 + i,)], "v long"), t,
            mode="append")
    v_restore = storage.restore_snapshot(t, v1)
    storage.vacuum_snapshots(t, keep=2, min_age_s=0.0)
    # the restore survives and its referenced v1 data is still live
    assert [r.v for r in storage.read_snapshot(
        spark, t, version=v_restore).collect()] == [1]
    with _pt.raises(ValueError, match="vacuumed or absent"):
        storage.restore_snapshot(t, 2)          # vacuumed target


def test_tag_time_travel(spark):
    """read_snapshot(tag=) resolves a commit tag to its pinned
    version (Iceberg-style named ref); a vacuumed or never-committed
    tag raises loudly."""
    import pytest as _pt
    t = tempfile.mkdtemp(prefix="stag_")
    storage.write_snapshot_tagged(
        spark.createDataFrame([(1,)], "v long"), t, tag="r1",
        mode="overwrite")
    storage.write_snapshot_tagged(
        spark.createDataFrame([(2,)], "v long"), t, tag="r2")
    assert [r.v for r in storage.read_snapshot(spark, t,
                                               tag="r1").collect()] == [1]
    assert sorted(r.v for r in storage.read_snapshot(
        spark, t, tag="r2").collect()) == [1, 2]
    assert storage.version_of_tag(t, "r2") == 2
    with _pt.raises(ValueError, match="carries tag"):
        storage.version_of_tag(t, "never")
    with _pt.raises(ValueError, match="not both"):
        storage.read_snapshot(spark, t, version=1, tag="r1")
    # vacuumed tag: replay still suppressed, resolution raises
    storage.write_snapshot_tagged(
        spark.createDataFrame([(3,)], "v long"), t, tag="r3")
    storage.vacuum_snapshots(t, keep=1, min_age_s=0.0)
    with _pt.raises(ValueError, match="carries tag"):
        storage.version_of_tag(t, "r1")
    assert storage.write_snapshot_tagged(
        spark.createDataFrame([(9,)], "v long"), t, tag="r1") is None


def test_snapshot_history_reflects_log(spark):
    """DESCRIBE HISTORY: one row per live version, version-ascending,
    with mode / dir count / delete count / tag / lineage annotations
    — and vacuumed versions drop out."""
    import tempfile as _tf

    t = _tf.mkdtemp(prefix="hist_")
    storage.write_snapshot(
        spark.createDataFrame([(1,)], "v long"), t)
    storage.write_snapshot_tagged(
        spark.createDataFrame([(2,)], "v long"), t, tag="b1")
    storage.delete_from_snapshot(
        spark, t, spark.createDataFrame([(1,)], "v long"), "v")
    storage.restore_snapshot(t, 2)
    h = storage.snapshot_history(spark, t).collect()
    assert [r.version for r in h] == [1, 2, 3, 4]
    assert [r.mode for r in h] == ["overwrite", "append",
                                   "delete", "restore"]
    assert [r.n_dirs for r in h] == [1, 2, 2, 2]
    assert [r.n_deletes for r in h] == [0, 0, 1, 0]
    assert h[1].tag == "b1" and h[0].tag is None
    assert h[3].restored_from == 2
    # clone lineage annotation
    import os as _os
    dst = _os.path.join(_tf.mkdtemp(prefix="histc_"), "t")
    storage.clone_snapshot(t, dst, version=2)
    hc = storage.snapshot_history(spark, dst).collect()
    assert [(r.version, r.mode) for r in hc] == [(1, "clone")]
    assert hc[0].cloned_from == _os.path.abspath(t)
    # vacuum drops doomed versions from history
    storage.vacuum_snapshots(t, keep=1, min_age_s=0.0)
    assert [r.version for r in
            storage.snapshot_history(spark, t).collect()] == [4]
