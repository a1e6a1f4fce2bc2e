"""Job-level API mirroring the reference's three request shapes.

The reference is an HTTP server: parameter validation returns 400
(P8 — segment.py:146-163, tile.py:151-170, prediction.py:246-281),
any stage failure returns 500 naming the stage, and a failed request
must leave NO partial writes (UD5 — the skip_on_exception /
raise_on / exception_handler decorators at __init__.py:33-68; the
test contract at test_A_segment.py:159-194).

Here a "request" is a job: validation raises ``ValidationError``
(→ 400), and each stage runs in a ``with stage(name)`` block that
wraps its failure in ``StageError`` (→ 500, stage named) and skips
the stages after it. No-partial-writes holds structurally: no stage
before ``save`` writes anything (``nodata`` runs an action, but only
reads), and each entity write in the save stage is one
dynamic-partition-overwrite job that Spark commits atomically via
the output committer. A save stage touching several entities is
per-entity atomic + idempotent-on-retry (the same partitions are
rewritten), with side entities committed before the authoritative
one so a mid-stage failure never publishes an authoritative
partition whose side outputs are stale. The reference needed
explicit deletes + ordered puts for the same guarantee.

``test_exception`` reproduces the reference's fault-injection
parameter (segment.py:151-153): name a stage to force it to raise.
"""

from __future__ import annotations

import datetime
import re
from collections.abc import Iterator
from contextlib import contextmanager

RESPONSE_OK = 200
RESPONSE_BAD_REQUEST = 400
RESPONSE_SERVER_ERROR = 500

_ACQUIRED_RE = re.compile(r"^\d{4}(-\d{2}-\d{2})?/\d{4}(-\d{2}-\d{2})?$")


class ValidationError(Exception):
    """Bad request parameters — HTTP 400 in the reference."""
    http_status = RESPONSE_BAD_REQUEST


class StageError(Exception):
    """A pipeline stage failed — HTTP 500, stage named (UD5)."""
    http_status = RESPONSE_SERVER_ERROR

    def __init__(self, stage: str, cause: Exception):
        super().__init__(f"stage {stage!r} failed: {cause}")
        self.stage = stage
        self.cause = cause


def _require_int(params: dict, key: str) -> int:
    if key not in params:
        raise ValidationError(f"missing parameter: {key}")
    try:
        return int(params[key])
    except (TypeError, ValueError):
        raise ValidationError(f"parameter {key} must be an integer")


def _require_acquired(params: dict) -> str:
    v = params.get("acquired")
    if not isinstance(v, str) or not _ACQUIRED_RE.match(v):
        raise ValidationError(
            "parameter acquired must be 'YYYY[-MM-DD]/YYYY[-MM-DD]'")
    return v


def validate_segment_params(params: dict) -> dict:
    """P8 for /segment: cx, cy, acquired (segment.py:146-163)."""
    return {"cx": _require_int(params, "cx"),
            "cy": _require_int(params, "cy"),
            "acquired": _require_acquired(params)}


def validate_tile_params(params: dict) -> dict:
    """P8 for /tile: tx, ty, acquired, date, chips (tile.py:151-170)."""
    out = {"tx": _require_int(params, "tx"),
           "ty": _require_int(params, "ty"),
           "acquired": _require_acquired(params)}
    date = params.get("date")
    if not isinstance(date, str) or not re.match(r"^\d{4}-\d{2}-\d{2}$", date):
        raise ValidationError("parameter date must be 'YYYY-MM-DD'")
    out["date"] = date
    chips = params.get("chips")
    if chips is None:
        # tile-only request: expand (tx, ty) to its 2500 chips (the
        # reference gets this list from Chipmunk's grid service;
        # functions/grid.py does the same math locally)
        from .functions.grid import chips_for_tile
        try:
            out["chips"] = chips_for_tile(out["tx"], out["ty"])
        except ValueError as e:
            raise ValidationError(str(e))
        return out
    if not isinstance(chips, (list, tuple)) or not chips:
        raise ValidationError("parameter chips must be a non-empty list")
    try:
        out["chips"] = [(int(x), int(y)) for x, y in chips]
    except (TypeError, ValueError):
        raise ValidationError("parameter chips must be a list of (cx, cy)")
    return out


def validate_prediction_params(params: dict) -> dict:
    """P8 for /prediction (prediction.py:246-281)."""
    out = {k: _require_int(params, k) for k in ("tx", "ty", "cx", "cy")}
    out["acquired"] = _require_acquired(params)
    out["month"] = _require_int(params, "month")
    out["day"] = _require_int(params, "day")
    try:
        # a leap year, so that 2-29 is accepted
        datetime.date(2000, out["month"], out["day"])
    except ValueError:
        raise ValidationError("month/day is not a calendar day")
    return out


@contextmanager
def stage(name: str, test_exception: str | None = None) -> Iterator[None]:
    """One named stage of a job: a failure inside the block becomes
    ``StageError(name)``, which skips the stages after it, like
    skip_on_exception poisoning the reference's ctx."""
    if test_exception == name:
        raise StageError(name, RuntimeError("test_exception"))
    try:
        yield
    except (ValidationError, StageError):
        raise
    except Exception as e:
        raise StageError(name, e) from e


def run_segment_job(spark, params: dict, storage_root: str,
                    ard=None, side: int = 10, detector=None,
                    test_exception: str | None = None) -> dict:
    """/segment as a job (segment.py:253-264 stage order): validate →
    timeseries → nodata guard → detection → save (chip + pixel +
    segment partitions, dynamic overwrite). ``ard`` defaults to the
    chip's synthetic fixture; pass a real scan in production.
    ``detector`` swaps the science core (default stub; pass
    ``plans.pyccd.pyccd_detector`` where lcmap-pyccd is installed)."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from . import storage
    from .plans.segment import segment_pipeline, stub_detector
    from .sources.fixtures import synth_ard

    p = validate_segment_params(params)
    # UD4 telemetry: the Observation rides the segment sink's frame, so
    # the save action fills the per-job metrics with no extra pass
    # (cluster-level metrics stay with the Spark UI, COVERAGE.md)
    obs = Observation("segment_metrics")
    try:
        with stage("load", test_exception):
            if ard is None:
                ard = synth_ard(spark, cx=p["cx"], cy=p["cy"], side=side)
        with stage("timeseries", test_exception):
            segments, chips, pixels = segment_pipeline(
                ard, side, detector or stub_detector)
        with stage("nodata", test_exception):
            # P2: the reference 500s when merlin returns nothing
            # (segment.py:178-184)
            if pixels.isEmpty():
                raise ValueError("no timeseries data")
        with stage("detection", test_exception):
            segments = segments.observe(
                obs, F.count(F.lit(1)).alias("n_detections"),
                F.min("sday").alias("first_sday"),
                F.max("eday").alias("last_eday"))
        with stage("save", test_exception):
            # side entities (chip, pixel) commit FIRST, so a mid-stage
            # failure never leaves the authoritative segment
            # partitions newer than their side outputs
            storage.overwrite_partitions(chips, storage_root, "chip")
            storage.overwrite_partitions(pixels, storage_root, "pixel")
            storage.overwrite_partitions(segments, storage_root, "segment")
    except StageError as e:
        return respond(p, e)
    return respond(p) | {"metrics": dict(obs.get)}


def run_tile_job(spark, params: dict, storage_root: str,
                 segments=None, aux=None,
                 target_samples: int = 200, class_min: int = 5,
                 class_max: int = 100,
                 test_exception: str | None = None) -> dict:
    """/tile as a job (tile.py:391-404): validate → training data ⋈
    stats → stratified sample → split → fit → model sink (1-row tile
    record, hex model — ceph.py:137-148). Sampling budgets default to
    fixture scale; production passes the reference's 2e7/6e5/8e6."""
    from . import storage
    from .plans.tile import tile_pipeline
    from .sources.fixtures import synth_aux, synth_segments

    p = validate_tile_params(params)
    echo = p | {"chips": len(p["chips"])}
    try:
        with stage("load", test_exception):
            cx, cy = p["chips"][0]
            if segments is None:
                segments = synth_segments(spark, cx=cx, cy=cy, side=8)
            if aux is None:
                aux = synth_aux(spark, cx=cx, cy=cy, side=8)
        with stage("train", test_exception):
            model, *_ = tile_pipeline(
                segments, aux, p["date"], chips=p["chips"],
                target_samples=target_samples, class_min=class_min,
                class_max=class_max)
        with stage("save", test_exception):
            row = spark.createDataFrame([(p["tx"], p["ty"], model.hex())],
                                        "tx long, ty long, model string")
            storage.overwrite_partitions(row, storage_root, "tile")
    except StageError as e:
        return respond(echo, e)
    return respond(echo)


def run_prediction_job(spark, params: dict, storage_root: str,
                       segments=None, aux=None,
                       test_exception: str | None = None) -> dict:
    """/prediction as a job (prediction.py:331-345): validate → load
    model (hex→bytes, S4) → join/explode/infer → union defaults →
    prediction sink (overwrite, S10/S11)."""
    from . import storage
    from .plans.prediction import prediction_pipeline
    from .sources.fixtures import synth_aux, synth_segments

    p = validate_prediction_params(params)
    try:
        with stage("load_model", test_exception):
            row = (storage.read_partition(spark, storage_root, "tile",
                                          tx=p["tx"], ty=p["ty"])
                   .select("model").first())
            if row is None:
                raise ValueError(f"no model for tile ({p['tx']}, {p['ty']})")
            model = bytes.fromhex(row["model"])
        with stage("load_data", test_exception):
            if segments is None:
                segments = synth_segments(spark, cx=p["cx"], cy=p["cy"],
                                          side=8)
            if aux is None:
                aux = synth_aux(spark, cx=p["cx"], cy=p["cy"], side=8)
        with stage("predict", test_exception):
            preds = prediction_pipeline(segments, aux, model,
                                        p["month"], p["day"])
        with stage("save", test_exception):
            storage.overwrite_partitions(preds, storage_root, "prediction")
    except StageError as e:
        return respond(p, e)
    return respond(p)


def health() -> dict:
    """GET /health parity (blueprints/health.py:6-8)."""
    return {"status": RESPONSE_OK}


def respond(params: dict, error: Exception | None = None) -> dict:
    """Response shape parity: echo of params + status (+message)."""
    if error is None:
        return {"status": RESPONSE_OK, **params}
    return {"status": getattr(error, "http_status", RESPONSE_SERVER_ERROR),
            "message": str(error), **params}
