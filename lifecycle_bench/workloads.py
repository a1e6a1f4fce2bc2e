"""Workloads of the lifecycle benchmark.

Each workload generates its inputs from the seed with the package's own
fixtures (``sources.fixtures``), writes them as Parquet with the
declared schemas, and then drives the api jobs in a closed loop: one
client, each request issued after the previous one returned.  A pass is
the workload's requests once.  ``compose`` runs the same public
functions ``api.py`` composes, in the same order, one span per layer,
each layer's output materialized so the span owns its work.

Why each workload exists, and which end-to-end metric each layer metric
should move, is in WORKLOADS.md next to this file.
"""

from __future__ import annotations

import datetime
import math
import os
import pickle
import time
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from lcmap_blackmagic_spark import api, storage
from lcmap_blackmagic_spark.functions.grid import tile_ul
from lcmap_blackmagic_spark.ml.predict import predict_probabilities
from lcmap_blackmagic_spark.ml.train import TEST_SIZE, train_model
from lcmap_blackmagic_spark.operators.sampling import (stratified_sample,
                                                       train_test_split)
from lcmap_blackmagic_spark.operators.unions import (default_predictions,
                                                     group_data)
from lcmap_blackmagic_spark.plans.prediction import prediction_inputs
from lcmap_blackmagic_spark.plans.segment import (chip_record, detect,
                                                  pixel_records,
                                                  pixel_timeseries)
from lcmap_blackmagic_spark.plans.tile import (CLASS_MAX, CLASS_MIN,
                                               TARGET_SAMPLES)
from lcmap_blackmagic_spark.plans.training import training_data
from lcmap_blackmagic_spark.schemas import (ARD, AUX, DEFAULT_DAY,
                                            PREDICTIONS, SEGMENTS)
from lcmap_blackmagic_spark.sources.fixtures import (synth_ard, synth_aux,
                                                     synth_segments)

# Chips are the upper-left SIDE × SIDE pixels of 100 × 100-pixel grid
# chips: a request's cost is mostly per-job overhead, and small chips
# keep the benchmark's many runs inside their time budget on a shared
# 4-core host (WORKLOADS.md).
SIDE = 20
CHIP_M = 3000         # grid chip pitch in metres (100 pixels × 30 m)
N_ACQ = 40            # acquisitions per chip for the segment request
ACQUIRED = "1980/2020"
TRAIN_DATE = "2001-07-01"
MONTH, DAY = 7, 1     # annual prediction date
SAMPLE_SEED = 42      # plans.tile.tile_pipeline's default seed
KEYS = ["cx", "cy", "px", "py"]


def budgets(n_chips: int, side: int) -> dict:
    """The reference's tile sampling budgets (2e7 / 6e5 / 8e6 for a
    tile of 2500 chips of 100 × 100 pixels), scaled by the request's
    pixel count."""
    f = n_chips * side * side / (2500 * 100 * 100)
    return {"target_samples": round(TARGET_SAMPLES * f),
            "class_min": round(CLASS_MIN * f),
            "class_max": round(CLASS_MAX * f)}


@dataclass
class Request:
    kind: str          # api function name
    seconds: float
    status: int
    message: str = ""


@dataclass
class Pass:
    requests: list[Request] = field(default_factory=list)
    seconds: float = 0.0
    chips: int = 0     # distinct chips the pass's requests cover


@dataclass
class Check:
    name: str
    ok: bool
    detail: str = ""


def table_hash(df) -> tuple[int, str]:
    """Order-independent (row count, sum of row hashes) of a table."""
    cols = sorted(df.columns)
    r = df.agg(F.count(F.lit(1)).alias("n"),
               F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("h")
               ).first()
    return r["n"], str(r["h"])


def annual_dates(sday: str, eday: str, month: int, day: int) -> int:
    """Prediction rows one segment yields: 1 for a default segment,
    else the number of (year, month, day) dates inside [sday, eday]."""
    if sday == DEFAULT_DAY and eday == DEFAULT_DAY:
        return 1
    s = datetime.date.fromisoformat(sday)
    e = datetime.date.fromisoformat(eday)
    return sum(1 for y in range(s.year, e.year + 1)
               if s <= datetime.date(y, month, day) <= e)


def expected_class_counts(seg_pdf, aux_pdf, chips, budget: dict) -> dict:
    """Per-class stratified-sample sizes computed in pandas from the
    inputs: segments spanning TRAIN_DATE joined to labelled aux pixels,
    each class capped at ceil(target × share) clipped to
    [class_min, class_max] (the same double arithmetic Spark does)."""
    chip_set = set(chips)

    def in_chips(pdf):
        return [(x, y) in chip_set for x, y in zip(pdf["cx"], pdf["cy"])]

    seg = seg_pdf[in_chips(seg_pdf)]
    seg = seg[(seg["sday"] <= TRAIN_DATE) & (seg["eday"] >= TRAIN_DATE)]
    aux = aux_pdf[in_chips(aux_pdf)]
    aux = aux[aux["nlcdtrn"] != 0]
    counts = seg.merge(aux, on=KEYS)["nlcdtrn"].value_counts()
    total = int(counts.sum())
    out = {}
    for label, n in counts.items():
        cap = min(max(math.ceil(budget["target_samples"] * (n / total)),
                      budget["class_min"]), budget["class_max"])
        out[int(label)] = min(int(n), cap)
    return out


def model_seen(model_hex: str) -> set[int] | None:
    """Classes a centroid model saw; None for an xgboost model.
    The bytes are the model this run's api call just stored."""
    b = bytes.fromhex(model_hex)
    if b[:1] != b"\x80":
        return None
    return {int(i) for i in np.flatnonzero(pickle.loads(b)["seen"])}


def collected_rows(model: bytes, train, test) -> int:
    """Rows ``ml.train.train_model`` collected to the driver: the
    centroid trainer collects one (label, slot) mean per seen class and
    feature slot; the xgboost trainer collects the train and test
    matrices."""
    if model[:1] == b"\x80":
        m = pickle.loads(model)
        return int(m["seen"].sum()) * m["centroids"].shape[1]
    return train.count() + test.count()


def materialize(df, span: dict):
    """Run one layer's output to completion inside its span."""
    out = df.localCheckpoint(eager=True)
    span["rows_out"] = out.count()
    return out


class FrameCollector:
    """Stands in for the session the ``sources.fixtures`` generators
    take: each builds one chip as a pandas frame and passes it to
    ``createDataFrame``.  Keeping the frames lets chips be generated in
    worker processes and a whole chip grid become one DataFrame and
    one write instead of one per chip."""

    def __init__(self):
        self.frames = []

    def createDataFrame(self, pdf, schema=None):
        self.frames.append(pdf)
        return pdf


FIXTURES = {"ard": synth_ard, "aux": synth_aux, "segments": synth_segments}


def make_frame(job: tuple[str, dict]):
    """One chip's fixture as a pandas frame: ``job`` is (fixture name,
    keyword arguments).  Pure Python, so it runs in a worker process
    while the Spark session starts."""
    kind, kwargs = job
    out = FrameCollector()
    FIXTURES[kind](out, **kwargs)
    return out.frames[0]


class Workload:
    """Shared plumbing: input paths, sink roots, timed api calls.

    The constructor draws the workload's chips and fixture seeds from
    the seed; ``jobs`` lists the fixture frames to generate (with
    ``make_frame``), and ``setup`` writes those frames as the inputs."""

    name = ""

    def __init__(self, seed: int, side: int = SIDE):
        self.side = side
        self.rng = np.random.RandomState(seed)
        self._seed_pool = iter(self.rng.randint(0, 2 ** 31 - 1, size=64))
        self.jobs: list[tuple[str, dict]] = self.plan()

    def plan(self) -> list[tuple[str, dict]]:
        raise NotImplementedError

    def attach(self, spark, work: str) -> None:
        self.spark = spark
        self.inputs = os.path.join(work, "in")
        self.api_root = os.path.join(work, "api")      # the timed chain
        self.trace_root = os.path.join(work, "trace")  # compose() sinks

    def next_seed(self) -> int:
        return int(next(self._seed_pool))

    def write_input(self, df, name: str, schema, partitioned: bool):
        path = os.path.join(self.inputs, name)
        w = df.write.mode("overwrite")
        if partitioned:
            w = w.partitionBy("cx", "cy")
        w.parquet(path)
        return self.spark.read.schema(schema).parquet(path)

    def read_sink(self, root: str, entity: str, schema):
        """A sink read back with its declared schema — the api's
        documented input contract (``storage.read`` infers the
        partition columns as INT instead; see store_roundtrip)."""
        return self.spark.read.schema(schema).parquet(
            storage.path(root, entity))

    @staticmethod
    def call(kind: str, fn, tracer=None) -> Request:
        t = time.perf_counter()
        if tracer is None:
            r = fn()
        else:
            with tracer.span(f"api.{kind}"):
                r = fn()
        return Request(kind, time.perf_counter() - t, r["status"],
                       r.get("message", ""))

    def tile_model(self, root: str, tx: int, ty: int):
        rows = (storage.read_partition(self.spark, root, "tile", tx=tx, ty=ty)
                .select("model").collect())
        return rows[0]["model"] if len(rows) == 1 else None

    def probes(self) -> list[Check]:
        return []

    # -- the tile request, shared by both workloads ---------------------

    def compose_tile(self, tracer, segments, aux, chips, tx, ty) -> dict:
        """/tile composed layer by layer (api.run_tile_job →
        plans.tile.tile_pipeline → model sink).  Returns the per-class
        sample counts and the classes the model saw."""
        budget = budgets(len(chips), self.side)
        with tracer.span("compose.run_tile_job"):
            with tracer.span("plans.training.training_data") as s:
                data = materialize(
                    training_data(segments, aux, TRAIN_DATE, chips), s)
            with tracer.span("operators.sampling.stratified_sample") as s:
                sample = materialize(
                    stratified_sample(data, "label", seed=SAMPLE_SEED,
                                      **budget), s)
                train, test = train_test_split(sample, TEST_SIZE,
                                               seed=SAMPLE_SEED)
                train = train.localCheckpoint(eager=True)
            with tracer.span("ml.train.train_model") as s:
                model = train_model(train, test)
            s["rows_out"] = collected_rows(model, train, test)
            with tracer.span("storage.overwrite_partitions.tile"):
                row = self.spark.createDataFrame(
                    [(tx, ty, model.hex())], "tx long, ty long, model string")
                storage.overwrite_partitions(row, self.trace_root, "tile")
        counts = {int(r["label"]): r["count"] for r in
                  sample.groupBy("label").count().collect()}
        return {"counts": counts, "seen": model_seen(model.hex())}


class ChipLifecycle(Workload):
    """One chip through /segment → /tile → /prediction."""

    name = "chip_lifecycle"

    def plan(self) -> list[tuple[str, dict]]:
        h, v = self.rng.randint(0, 30), self.rng.randint(0, 20)
        i, j = self.rng.randint(0, 50, size=2)
        self.tx, self.ty = tile_ul(h, v)
        self.chip = (self.tx + int(i) * CHIP_M, self.ty - int(j) * CHIP_M)
        cx, cy = self.chip
        self.budget = budgets(1, self.side)
        return [("ard", {"cx": cx, "cy": cy, "side": self.side,
                         "n_acq": N_ACQ, "seed": self.next_seed()}),
                ("aux", {"cx": cx, "cy": cy, "side": self.side,
                         "seed": self.next_seed()})]

    def setup(self, frames) -> None:
        ard, aux = frames
        self.ard = self.write_input(
            self.spark.createDataFrame(ard, schema=ARD), "ard", ARD, False)
        self.aux = self.write_input(
            self.spark.createDataFrame(aux, schema=AUX), "aux", AUX, False)

    def segments(self):
        return self.read_sink(self.api_root, "segment", SEGMENTS)

    def warm_up(self) -> tuple[Pass, list[Check]]:
        """An untimed lifecycle of the same chip: the timed passes then
        reuse the plans it compiled."""
        p = self.run_pass()
        return p, self.check_pass(p)

    def tile_params(self) -> dict:
        return {"tx": self.tx, "ty": self.ty, "acquired": ACQUIRED,
                "date": TRAIN_DATE, "chips": [self.chip]}

    def run_pass(self, tracer=None) -> Pass:
        spark, root = self.spark, self.api_root
        cx, cy = self.chip
        p = Pass(chips=1)
        t = time.perf_counter()
        p.requests.append(self.call("run_segment_job", lambda: (
            api.run_segment_job(spark, {"cx": cx, "cy": cy,
                                        "acquired": ACQUIRED},
                                root, ard=self.ard, side=self.side)), tracer))
        segs = self.segments()
        p.requests.append(self.call("run_tile_job", lambda: (
            api.run_tile_job(spark, self.tile_params(), root,
                             segments=segs, aux=self.aux, **self.budget)),
            tracer))
        p.requests.append(self.call("run_prediction_job", lambda: (
            api.run_prediction_job(
                spark, {"tx": self.tx, "ty": self.ty, "cx": cx, "cy": cy,
                        "acquired": ACQUIRED, "month": MONTH, "day": DAY},
                root, segments=segs, aux=self.aux)), tracer))
        p.seconds = time.perf_counter() - t
        return p

    def check_pass(self, p: Pass) -> list[Check]:
        checks = [Check(f"status.{r.kind}", r.status == api.RESPONSE_OK,
                        f"{r.status} {r.message[:160]}") for r in p.requests]
        segs = self.segments()
        r = segs.agg(F.count(F.lit(1)).alias("n"),
                     F.countDistinct("px", "py").alias("px")).first()
        checks.append(Check("segment_one_row_per_pixel",
                            r["n"] == r["px"] == self.side * self.side,
                            f"rows={r['n']} pixels={r['px']}"))
        seg_pdf = segs.select(*KEYS, "sday", "eday").toPandas()
        want = sum(annual_dates(s, e, MONTH, DAY)
                   for s, e in zip(seg_pdf["sday"], seg_pdf["eday"]))
        preds = self.read_sink(self.api_root, "prediction", PREDICTIONS)
        default = (F.col("sday") == DEFAULT_DAY) & (F.col("eday") == DEFAULT_DAY)
        psum = F.aggregate("prob", F.lit(0.0).cast("double"),
                           lambda acc, x: acc + x.cast("double"))
        good = F.when(default, F.size("prob") == 0).otherwise(
            (F.size("prob") == 9) & (F.abs(psum - 1.0) <= 1e-5))
        r = preds.agg(F.count(F.lit(1)).alias("n"),
                      F.sum((~good).cast("int")).alias("bad")).first()
        checks.append(Check("prediction_rows", r["n"] == want,
                            f"rows={r['n']} expected={want}"))
        checks.append(Check("prob_9_sum_1", (r["bad"] or 0) == 0,
                            f"bad rows={r['bad']}"))
        aux_pdf = self.aux.select(*KEYS, "nlcdtrn").toPandas()
        self.expected = expected_class_counts(seg_pdf, aux_pdf, [self.chip],
                                              self.budget)
        model = self.tile_model(self.api_root, self.tx, self.ty)
        seen = None if model is None else model_seen(model)
        checks.append(Check(
            "tile_model_classes", model is not None and
            seen in (None, set(self.expected)),
            f"seen={sorted(seen or [])} expected={sorted(self.expected)}"))
        return checks

    def compose(self, tracer) -> None:
        spark, troot = self.spark, self.trace_root
        cx, cy = self.chip
        with tracer.span("compose.run_segment_job"):
            with tracer.span("plans.segment.pixel_timeseries") as s:
                ts = materialize(pixel_timeseries(self.ard, side=self.side), s)
            if ts.isEmpty():
                raise RuntimeError("no timeseries data")
            with tracer.span("plans.segment.detect") as s:
                det = materialize(detect(ts), s)
            with tracer.span("storage.overwrite_partitions.chip"):
                storage.overwrite_partitions(chip_record(det), troot, "chip")
            with tracer.span("storage.overwrite_partitions.pixel"):
                storage.overwrite_partitions(pixel_records(ts), troot, "pixel")
            with tracer.span("storage.overwrite_partitions.segment"):
                storage.overwrite_partitions(det, troot, "segment")
        # the tile and prediction requests take the api chain's segment
        # sink as input, as the timed chain does, so outputs compare
        segs = self.segments()
        self.composed_tile = self.compose_tile(
            tracer, segs, self.aux, [self.chip], self.tx, self.ty)
        with tracer.span("compose.run_prediction_job"):
            # the api chain's stored model, so predictions compare bit
            # for bit (the composed model matches by class counts)
            with tracer.span("storage.read_partition.tile") as s:
                row = (storage.read_partition(spark, self.api_root, "tile",
                                              tx=self.tx, ty=self.ty)
                       .select("model").first())
                model = bytes.fromhex(row["model"])
                s["rows_out"] = 1
            with tracer.span("plans.prediction.prediction_inputs") as s:
                inputs = materialize(
                    prediction_inputs(segs, self.aux, MONTH, DAY), s)
            defaults, data = group_data(inputs)
            with tracer.span("ml.predict.predict_probabilities") as s:
                predicted = materialize(
                    predict_probabilities(data, model, "independent")
                    .drop("independent"), s)
            with tracer.span("operators.unions.default_predictions") as s:
                preds = materialize(default_predictions(
                    defaults.drop("independent"), predicted), s)
            with tracer.span("storage.overwrite_partitions.prediction"):
                storage.overwrite_partitions(preds, troot, "prediction")

    def check_compose(self) -> list[Check]:
        checks = []
        for entity, schema in (("segment", SEGMENTS),
                               ("prediction", PREDICTIONS)):
            a = table_hash(self.read_sink(self.api_root, entity, schema))
            b = table_hash(self.read_sink(self.trace_root, entity, schema))
            checks.append(Check(f"compose_matches_api.{entity}", a == b,
                                f"api={a} composed={b}"))
        checks.append(tile_match(self.composed_tile, self.expected))
        return checks

    def probes(self) -> list[Check]:
        """The segment sink read back through ``storage.read`` and fed
        to the tile request (untimed; a known defect at the time this
        benchmark was written — reported, not counted in ``failed``)."""
        r = api.run_tile_job(
            self.spark, self.tile_params(), self.api_root,
            segments=storage.read(self.spark, self.api_root, "segment"),
            aux=self.aux, **self.budget)
        return [Check("store_roundtrip", r["status"] == api.RESPONSE_OK,
                      f"{r['status']} {r.get('message', '')[:200]}")]


def tile_match(composed: dict, expected: dict) -> Check:
    ok = (composed["counts"] == expected
          and composed["seen"] in (None, set(expected)))
    return Check("compose_matches_api.tile", ok,
                 f"sample={sorted(composed['counts'].items())} "
                 f"expected={sorted(expected.items())}")


class PoolTrain(Workload):
    """/tile over each 3×3 window of a 4×4 chip grid."""

    name = "pool_train"
    GRID = 4
    WINDOW = 3

    def plan(self) -> list[tuple[str, dict]]:
        h, v = self.rng.randint(0, 30), self.rng.randint(0, 20)
        i0, j0 = self.rng.randint(0, 50 - self.GRID, size=2)
        self.tx, self.ty = tile_ul(h, v)
        grid = [[(self.tx + int(i0 + i) * CHIP_M,
                  self.ty - int(j0 + j) * CHIP_M)
                 for i in range(self.GRID)] for j in range(self.GRID)]
        span = range(self.GRID - self.WINDOW + 1)
        self.windows = [[grid[j][i] for j in range(b, b + self.WINDOW)
                         for i in range(a, a + self.WINDOW)]
                        for b in span for a in span]
        self.n_chips = self.GRID * self.GRID
        self.budget = budgets(self.WINDOW * self.WINDOW, self.side)
        self.expected = None
        # per chip: its segments, then its aux
        return [(kind, {"cx": cx, "cy": cy, "side": self.side,
                        "seed": self.next_seed()})
                for row in grid for cx, cy in row
                for kind in ("segments", "aux")]

    def setup(self, frames) -> None:
        self.seg_pdf = pd.concat(frames[0::2], ignore_index=True)
        self.aux_pdf = pd.concat(frames[1::2], ignore_index=True)
        self.segs = self.write_input(
            self.spark.createDataFrame(self.seg_pdf, schema=SEGMENTS),
            "segments", SEGMENTS, True)
        self.aux = self.write_input(
            self.spark.createDataFrame(self.aux_pdf, schema=AUX),
            "aux", AUX, True)

    def params(self, window) -> dict:
        return {"tx": self.tx, "ty": self.ty, "acquired": ACQUIRED,
                "date": TRAIN_DATE, "chips": window}

    def warm_up(self) -> tuple[Pass, list[Check]]:
        """Two untimed tile requests, on the first two windows."""
        p = self.run_pass(windows=2)
        return p, self.check_pass(p)

    def run_pass(self, tracer=None, windows: int = 4) -> Pass:
        p = Pass(chips=self.n_chips)
        self.last = windows - 1   # the window whose model the store holds
        t = time.perf_counter()
        for w in self.windows[:windows]:
            p.requests.append(self.call("run_tile_job", lambda w=w: (
                api.run_tile_job(self.spark, self.params(w), self.api_root,
                                 segments=self.segs, aux=self.aux,
                                 **self.budget)), tracer))
        p.seconds = time.perf_counter() - t
        return p

    def expected_counts(self) -> list[dict]:
        if self.expected is None:
            self.expected = [expected_class_counts(
                self.seg_pdf, self.aux_pdf, w, self.budget)
                for w in self.windows]
        return self.expected

    def check_pass(self, p: Pass) -> list[Check]:
        checks = [Check(f"status.{r.kind}", r.status == api.RESPONSE_OK,
                        f"{r.status} {r.message[:160]}") for r in p.requests]
        # windows share the tile, so the store holds the last window's model
        last = self.expected_counts()[self.last]
        model = self.tile_model(self.api_root, self.tx, self.ty)
        seen = None if model is None else model_seen(model)
        checks.append(Check(
            "tile_model_classes", model is not None and
            seen in (None, set(last)),
            f"seen={sorted(seen or [])} expected={sorted(last)}"))
        return checks

    def compose(self, tracer) -> None:
        self.composed = [self.compose_tile(tracer, self.segs, self.aux, w,
                                           self.tx, self.ty)
                         for w in self.windows]

    def check_compose(self) -> list[Check]:
        return [tile_match(c, e)
                for c, e in zip(self.composed, self.expected_counts())]


WORKLOADS = {w.name: w for w in (ChipLifecycle, PoolTrain)}
