"""The /tile pipeline tail (blackmagic/blueprints/tile.py:391-404):
training-data query → statistics → stratified sample → holdout split
→ model fit.

Everything before the fit is one distributed plan; the fit consumes
the bounded sample (ml.train). The sample order and the holdout coin
are md5 functions of each row, so the model depends on the rows only,
never on how they are partitioned. Defaults from
blackmagic/__init__.py: target_samples 2e7, class_min 6e5, class_max
8e6, test_size 0.2.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..ml.train import TEST_SIZE, train_model
from ..operators.sampling import stratified_sample, train_test_split_hash
from ..operators.stats import label_statistics
from .training import training_data

TARGET_SAMPLES = 20_000_000
CLASS_MIN = 600_000
CLASS_MAX = 8_000_000


def _sample_order() -> Column:
    """Total order of training rows: md5('ord:px:py')'s 48-bit prefix,
    then the feature vector, which separates two rows of one pixel."""
    key = F.concat_ws(":", F.lit("ord"), F.col("px").cast("string"),
                      F.col("py").cast("string"))
    h = F.conv(F.substring(F.md5(key), 1, 12), 16, 10).cast("bigint")
    return F.struct(h.alias("h"), F.col("features"))


def tile_pipeline(segments: DataFrame, aux: DataFrame, date: str,
                  chips: Sequence[tuple[int, int]] | None = None,
                  target_samples: int = TARGET_SAMPLES,
                  class_min: int = CLASS_MIN, class_max: int = CLASS_MAX,
                  trainer: str = "auto"
                  ) -> tuple[bytes, DataFrame, DataFrame, DataFrame]:
    """Returns (model_bytes, stats, train, test): the fitted model and
    the lazy label statistics and holdout split it was fitted from.
    ``trainer='spark_ml'`` selects the fully distributed pyspark.ml
    fit (no driver-side matrix)."""
    data = (training_data(segments, aux, date, chips, keep_keys=True)
            .localCheckpoint(eager=False))
    stats = label_statistics(data, "label")
    ordered = data.withColumn("__ord", _sample_order())
    sample = stratified_sample(ordered, "label", target_samples, class_min,
                               class_max, order_col="__ord").drop("__ord")
    train, test = train_test_split_hash(sample, ["px", "py"], TEST_SIZE)
    model = train_model(train, test, trainer=trainer)
    return model, stats, train, test
