"""API layer parity (P8 validation, UD5 stage errors, §5's
no-partial-writes contract) plus the gzip-JSON byte-parity sink."""

import os

import pytest

from lcmap_blackmagic_spark import storage
from lcmap_blackmagic_spark.api import (StageError, ValidationError,
                                        respond, run_segment_job, stage,
                                        validate_prediction_params,
                                        validate_segment_params,
                                        validate_tile_params)
from lcmap_blackmagic_spark.plans.segment import stub_detector

GOOD_SEG = {"cx": 100, "cy": 200, "acquired": "1980/2019"}


# ------------------------------------------------------ validation --

def test_segment_params_ok():
    assert validate_segment_params(GOOD_SEG) == {
        "cx": 100, "cy": 200, "acquired": "1980/2019"}


@pytest.mark.parametrize("bad", [
    {},
    {"cx": 1, "cy": 2},
    {"cx": "x", "cy": 2, "acquired": "1980/2019"},
    {"cx": 1, "cy": 2, "acquired": "not-a-range"},
])
def test_segment_params_400(bad):
    with pytest.raises(ValidationError):
        validate_segment_params(bad)


def test_tile_params():
    p = validate_tile_params({"tx": 0, "ty": 0, "acquired": "1980/2019",
                              "date": "2001-07-01",
                              "chips": [(0, 0), (3000, 0)]})
    assert p["chips"] == [(0, 0), (3000, 0)]
    with pytest.raises(ValidationError):
        validate_tile_params({"tx": 0, "ty": 0, "acquired": "1980/2019",
                              "date": "bad", "chips": [(0, 0)]})
    # malformed chips entries are a 400, not a raw ValueError/TypeError
    for chips in ([(0,)], [("a", 0)], [5]):
        with pytest.raises(ValidationError):
            validate_tile_params({"tx": 0, "ty": 0, "acquired": "1980/2019",
                                  "date": "2001-07-01", "chips": chips})


def test_prediction_params_range():
    base = {"tx": 0, "ty": 0, "cx": 0, "cy": 0, "acquired": "1980/2019",
            "month": 7, "day": 1}
    assert validate_prediction_params(base)["month"] == 7
    with pytest.raises(ValidationError):
        validate_prediction_params(base | {"month": 13})
    # a (month, day) no year has is a 400, not a 500 in 'save'
    for month, day in ((4, 31), (2, 30), (0, 1), (1, 0), (1, 32)):
        with pytest.raises(ValidationError):
            validate_prediction_params(base | {"month": month, "day": day})
    leap_day = validate_prediction_params(base | {"month": 2, "day": 29})
    assert leap_day["day"] == 29


# ---------------------------------------------------- stage errors --

def test_stage_wraps_and_names_stage():
    ran = []
    with pytest.raises(StageError) as ei:
        with stage("ok"):
            ran.append("ok")
        with stage("explode"):
            raise RuntimeError("kaput")
        with stage("never"):
            ran.append("never")
    assert ei.value.stage == "explode"
    assert ei.value.http_status == 500
    assert ran == ["ok"]
    # fault injection skips the body; a 400 passes through unwrapped
    with pytest.raises(StageError) as ei:
        with stage("load", test_exception="load"):
            ran.append("load")
    assert ei.value.stage == "load" and ran == ["ok"]
    with pytest.raises(ValidationError):
        with stage("load"):
            raise ValidationError("bad")


def test_respond_shapes():
    assert respond(GOOD_SEG)["status"] == 200
    err = StageError("save", RuntimeError("x"))
    r = respond(GOOD_SEG, err)
    assert r["status"] == 500 and "save" in r["message"]


# --------------------------------------- end-to-end + atomicity ----

@pytest.mark.parametrize("counted", [False, True],
                         ids=["stub", "counting"])
def test_segment_job_writes_all_entities(spark, tmp_path, counted):
    calls = spark.sparkContext.accumulator(0)

    def counting_detector(dates, bands, qas):
        calls.add(1)
        return stub_detector(dates, bands, qas)

    root = str(tmp_path / "store")
    r = run_segment_job(spark, GOOD_SEG, root, side=5,
                        detector=counting_detector if counted else None)
    assert r["status"] == 200
    assert storage.read(spark, root, "segment").count() == 25
    assert storage.read(spark, root, "pixel").count() == 25
    assert storage.read(spark, root, "chip").count() == 1
    # UD4: the Observation rode the detection plan — populated by the
    # save action itself, no extra pass over the data
    assert r["metrics"]["n_detections"] == 25
    assert r["metrics"]["first_sday"] <= r["metrics"]["last_eday"]
    if counted:
        # the time series and the segments are each computed once, so
        # detection runs once per pixel
        assert calls.value == 25


@pytest.mark.parametrize("stage", ["timeseries", "detection", "save"])
def test_segment_job_failure_leaves_no_partial_writes(spark, tmp_path,
                                                      stage):
    root = str(tmp_path / "store")
    r = run_segment_job(spark, GOOD_SEG, root, side=5,
                        test_exception=stage)
    assert r["status"] == 500 and stage in r["message"]
    # §5 contract: zero rows persisted after any stage failure
    for entity in ("segment", "pixel", "chip"):
        assert not os.path.exists(os.path.join(root, entity))


def test_tile_then_prediction_jobs(spark, tmp_path):
    """The /tile → /prediction composition: model persisted as a hex
    1-row tile record, then loaded, broadcast, and applied."""
    from lcmap_blackmagic_spark.api import (health, run_prediction_job,
                                            run_tile_job)
    root = str(tmp_path / "store")
    tp = {"tx": -9000, "ty": 9000, "acquired": "1980/2019",
          "date": "2001-07-01", "chips": [(0, 0)]}
    r = run_tile_job(spark, tp, root)
    assert r["status"] == 200
    assert storage.read(spark, root, "tile").count() == 1

    pp = {"tx": -9000, "ty": 9000, "cx": 0, "cy": 0,
          "acquired": "1980/2019", "month": 7, "day": 1}
    r2 = run_prediction_job(spark, pp, root)
    assert r2["status"] == 200
    preds = storage.read(spark, root, "prediction")
    assert preds.count() > 0
    # default segments carry empty prob arrays; predicted carry 9
    from pyspark.sql import functions as F
    sizes = {r[0] for r in
             preds.select(F.size("prob")).distinct().collect()}
    assert sizes <= {0, 9} and 9 in sizes

    assert health() == {"status": 200}


def test_tile_job_reads_segment_sink(spark, tmp_path):
    """/segment then /tile on the segment sink read back through
    storage.read, which infers the cx/cy partition columns as INT."""
    from lcmap_blackmagic_spark.api import run_tile_job
    from lcmap_blackmagic_spark.sources.fixtures import synth_aux
    root = str(tmp_path / "store")
    assert run_segment_job(spark, GOOD_SEG, root, side=5)["status"] == 200
    tp = {"tx": 0, "ty": 300, "acquired": "1980/2019",
          "date": "2001-07-01", "chips": [(100, 200)]}
    r = run_tile_job(spark, tp, root,
                     segments=storage.read(spark, root, "segment"),
                     aux=synth_aux(spark, cx=100, cy=200, side=5))
    assert r["status"] == 200, r.get("message")
    assert storage.read(spark, root, "tile").count() == 1


def test_prediction_job_without_model_500(spark, tmp_path):
    from lcmap_blackmagic_spark.api import run_prediction_job
    root = str(tmp_path / "empty")
    os.makedirs(os.path.join(root, "tile"))
    pp = {"tx": 1, "ty": 2, "cx": 0, "cy": 0,
          "acquired": "1980/2019", "month": 7, "day": 1}
    r = run_prediction_job(spark, pp, root)
    assert r["status"] == 500 and "load_model" in r["message"]
    assert not os.path.exists(os.path.join(root, "prediction"))


# ------------------------------------------------------- gzip sink --

def test_write_json_gzip_roundtrip(spark, tmp_path):
    out = str(tmp_path / "gz")
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, s string")
    storage.write_json_gzip(df, out)
    files = [f for f in os.listdir(out) if f.endswith(".json.gz")]
    assert files, "expected gzip-compressed JSON part files"
    back = spark.read.json(out)
    assert {tuple(r) for r in back.select("id", "s").collect()} \
        == {(1, "a"), (2, "b")}
