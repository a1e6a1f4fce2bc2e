"""Byte-parity object sink (sources.objectsink): one gzip JSON object
per chip under {entity}/{x}-{y}.json, matching the reference's Ceph
layout (ceph.py:338-351) — gzip body, .json key, a list of record
dicts per chip, deterministic bytes, plus a commit manifest."""

import gzip
import json
import os

import pytest

from lcmap_blackmagic_spark import storage
from lcmap_blackmagic_spark.sources.objectsink import write_objects


@pytest.fixture(scope="module")
def segs(spark):
    rows = [(-2061585 + 3000 * (i % 2), 1922805, 100 + i, 200,
             "1999-01-01", "2000-01-01", [0.5, float(i)])
            for i in range(6)]
    return spark.createDataFrame(
        rows, "cx long, cy long, px long, py long, sday string, "
              "eday string, blcoef array<double>")


def test_layout_and_roundtrip(segs, tmp_path):
    write_objects(segs, str(tmp_path), "segment")
    names = sorted(f for f in os.listdir(tmp_path / "segment")
                   if not f.startswith("_"))
    assert names == ["-2058585-1922805.json", "-2061585-1922805.json"]
    # the commit manifest lists every object: two chips -> two objects
    man = json.loads((tmp_path / "segment" / "_manifest.json").read_text())
    assert man["n_objects"] == 2
    assert {tuple(k[:2]) for k in man["objects"]} == \
        {(-2061585, 1922805), (-2058585, 1922805)}

    got = storage.read_chip_json(str(tmp_path), "segment", -2061585, 1922805)
    assert len(got) == 3
    assert {r["px"] for r in got} == {100, 102, 104}
    assert got[0]["blcoef"] == [0.5, 0.0]
    assert all(set(r) == {"cx", "cy", "px", "py", "sday", "eday", "blcoef"}
               for r in got)


def test_bytes_are_gzip_json_and_deterministic(segs, tmp_path):
    a, b = tmp_path / "a", tmp_path / "b"
    write_objects(segs, str(a), "segment")
    write_objects(segs.repartition(7), str(b), "segment")
    for name in os.listdir(a / "segment"):
        if name.startswith("_"):
            continue
        raw_a = (a / "segment" / name).read_bytes()
        raw_b = (b / "segment" / name).read_bytes()
        # the reference stores gzip bodies under the .json key
        payload = json.loads(gzip.decompress(raw_a))
        assert isinstance(payload, list)
        # RAW bytes, not just payloads: gzip runs with mtime=0, so
        # no wall-clock timestamp leaks into the header
        assert raw_a == raw_b


# ---- commit protocol ------------------------------------------------

def test_datasource_writer_overwrite_and_abort_safety(segs, tmp_path):
    """Overwrite mode removes committed objects absent from the job
    (directory equals the manifest); abort of a new job deletes only
    its OWN staged temps — a previously committed object survives a
    failed successor job untouched."""
    from pyspark.sql import functions as FF

    from lcmap_blackmagic_spark.sources.objectsink import (
        ObjectsCommit, _ObjectsWriter)

    root = str(tmp_path / "store")
    write_objects(segs, root, "segment")
    base = tmp_path / "store" / "segment"
    assert len([f for f in os.listdir(base)
                if f.endswith(".json") and not f.startswith("_")]) == 2
    # overwrite with only one chip's rows: the other object goes
    one = segs.filter(FF.col("cx") == -2061585)
    write_objects(one, root, "segment", mode="overwrite")
    names = [f for f in os.listdir(base)
             if f.endswith(".json") and not f.startswith("_")]
    assert names == ["-2061585-1922805.json"]
    man = json.loads((base / "_manifest.json").read_text())
    assert man["n_objects"] == 1

    # abort safety: a failed successor job must not touch the
    # committed object — only its own temp
    before = (base / "-2061585-1922805.json").read_bytes()
    w = _ObjectsWriter({"root": root, "entity": "segment"},
                       overwrite=False)
    att = f"{42:020d}"
    staged = w._tmp(-2061585, 1922805, att)
    with open(staged, "wb") as f:
        f.write(b"partial")
    w.abort([ObjectsCommit(keys=[(-2061585, 1922805, 3, att)])])
    assert not os.path.exists(staged)
    assert (base / "-2061585-1922805.json").read_bytes() == before


def test_datasource_commit_dedupes_split_keys(tmp_path):
    """A chip key staged by TWO task attempts (split chip, or a
    zombie attempt racing its retry) must commit exactly one object
    — the latest attempt wins deterministically, the loser temp is
    cleaned up, and no FileNotFoundError strands a partial commit.
    Attempt-unique temp names are what make the two stagings
    non-interfering in the first place."""
    from lcmap_blackmagic_spark.sources.objectsink import (
        ObjectsCommit, _ObjectsWriter)

    root = str(tmp_path)
    w = _ObjectsWriter({"root": root, "entity": "segment"},
                       overwrite=False)
    os.makedirs(tmp_path / "segment", exist_ok=True)
    a1, a2 = f"{7:020d}", f"{9:020d}"
    assert w._tmp(1, 2, a1) != w._tmp(1, 2, a2)  # attempts never collide
    with open(w._tmp(1, 2, a1), "wb") as f:
        f.write(b"old-attempt")
    with open(w._tmp(1, 2, a2), "wb") as f:
        f.write(b"new-attempt")
    w.commit([ObjectsCommit(keys=[(1, 2, 3, a1)]),
              ObjectsCommit(keys=[(1, 2, 3, a2)])])
    base = tmp_path / "segment"
    assert (base / "1-2.json").read_bytes() == b"new-attempt"
    assert not os.path.exists(w._tmp(1, 2, a1))
    assert not os.path.exists(w._tmp(1, 2, a2))
    man = json.loads((base / "_manifest.json").read_text())
    assert man["n_objects"] == 1 and man["objects"] == [[1, 2, 3]]


def test_datasource_sweeps_orphan_temps_of_dead_attempts(tmp_path):
    """A task attempt that dies before reporting a commit message
    leaves staged temps no message ever names — commit() and abort()
    must sweep every temp carrying THIS job's token, while another
    job's staged files stay untouched."""
    from lcmap_blackmagic_spark.sources.objectsink import (
        ObjectsCommit, _ObjectsWriter)

    root = str(tmp_path)
    w = _ObjectsWriter({"root": root, "entity": "segment"},
                       overwrite=False)
    other = _ObjectsWriter({"root": root, "entity": "segment"},
                           overwrite=False)
    os.makedirs(tmp_path / "segment", exist_ok=True)
    live, dead = f"{9:020d}", f"{3:020d}"
    with open(w._tmp(1, 2, live), "wb") as f:
        f.write(b"live")
    with open(w._tmp(5, 6, dead), "wb") as f:      # never reported
        f.write(b"zombie")
    with open(other._tmp(7, 8, live), "wb") as f:  # other job's stage
        f.write(b"other-job")
    w.commit([ObjectsCommit(keys=[(1, 2, 1, live)])])
    base = tmp_path / "segment"
    assert (base / "1-2.json").read_bytes() == b"live"
    assert not os.path.exists(w._tmp(5, 6, dead))   # orphan swept
    assert os.path.exists(other._tmp(7, 8, live))   # other job intact

    # abort() sweeps unreported orphans too
    with open(w._tmp(3, 4, dead), "wb") as f:
        f.write(b"zombie2")
    w.abort([])
    assert not os.path.exists(w._tmp(3, 4, dead))
    assert os.path.exists(other._tmp(7, 8, live))
