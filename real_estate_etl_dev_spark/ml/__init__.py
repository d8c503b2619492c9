"""ML layer: the TF-IDF + RandomForest region classifier (pyspark.ml)."""

from .region import (
    build_region_pipeline,
    predict_regions,
    train_region_model,
)

__all__ = [
    "build_region_pipeline",
    "predict_regions",
    "train_region_model",
]
