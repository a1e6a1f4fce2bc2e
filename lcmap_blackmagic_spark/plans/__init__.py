"""The lcmap request plans: /segment, /tile, /prediction.

Reuse rule: a frame that two or more consumers of one request read
gets one ``localCheckpoint(eager=False)``, here in ``plans/`` and
nowhere else. The first action that reaches it materializes it; the
other consumers read its blocks instead of re-running its plan.
"""

from .training import training_data
from .prediction import prediction_inputs, prediction_pipeline
from .tile import tile_pipeline
from .segment import segment_pipeline, pixel_timeseries, detect

__all__ = ["training_data", "prediction_inputs", "prediction_pipeline",
           "tile_pipeline", "segment_pipeline", "pixel_timeseries",
           "detect"]
