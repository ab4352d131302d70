"""eventstreamml_spark — a PySpark-native event-stream analytics engine.

A from-scratch Spark implementation of the query / data-processing
capabilities of the reference event-stream library (single-process
pandas), re-expressed as lazy Catalyst DataFrame plans:

- canonical event/measurement/subject data model (``config`` /
  ``dataset``)
- sources & sinks (``sources``)
- relational operator library: filters, joins, aggregations, windows,
  set ops (``operators``)
- vocabulary induction (``vocabulary``)
- numeric preprocessing estimators: outlier detection, normalization,
  value-type inference (``preprocessing``)
- LLM-data-pipeline operators: dedup, similarity search, text analysis,
  multimodal plumbing (``operators.dedup`` / ``.similarity`` / ``.text``
  / ``.multimodal``)
- structured-streaming ingestion (``streaming``)

Design stance (SURVEY.md §7): Estimator/Transformer over DataFrames;
fit stages emit small model-state DataFrames, transform stages are pure
Column expressions + broadcast joins. No RDDs; ``applyInPandas`` only
where per-group model fitting requires it.
"""

from eventstreamml_spark.session import get_spark

__version__ = "0.1.0"


def __getattr__(name):
    """Lazy top-level API: the heavyweight classes import on first use
    so `import eventstreamml_spark` stays cheap on executors."""
    lazy = {
        "EventStreamDataset": ("eventstreamml_spark.dataset", "EventStreamDataset"),
        "DatasetConfig": ("eventstreamml_spark.config", "DatasetConfig"),
        "MeasurementConfig": ("eventstreamml_spark.config", "MeasurementConfig"),
        "EventStreamPreprocessor": (
            "eventstreamml_spark.preprocessing.orchestrate",
            "EventStreamPreprocessor",
        ),
        "tensorize": ("eventstreamml_spark.export", "tensorize"),
        "pad_sequences": ("eventstreamml_spark.export", "pad_sequences"),
        "assign_splits": ("eventstreamml_spark.operators.setops", "assign_splits"),
        "assign_splits_exact": (
            "eventstreamml_spark.operators.setops",
            "assign_splits_exact",
        ),
        "write_bucketed_table": (
            "eventstreamml_spark.sources.sinks",
            "write_bucketed_table",
        ),
    }
    if name in lazy:
        import importlib

        mod, attr = lazy[name]
        return getattr(importlib.import_module(mod), attr)
    raise AttributeError(f"module {__name__!r} has no attribute {name!r}")


__all__ = [
    "get_spark",
    "EventStreamDataset",
    "DatasetConfig",
    "MeasurementConfig",
    "EventStreamPreprocessor",
    "tensorize",
    "pad_sequences",
    "assign_splits",
    "assign_splits_exact",
    "write_bucketed_table",
    "__version__",
]
