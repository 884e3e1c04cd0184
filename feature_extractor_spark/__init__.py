"""feature_extractor_spark — a PySpark-native feature-engineering engine.

From-scratch re-expression of the capabilities of harveybc/feature-extractor
(reference studied at /root/reference, read-only) on idiomatic Spark:

- point-in-time / as-of joins with LOCF backfill (reference alignment
  semantics, /root/reference/app/data_processor.py:18-38,102)
- sliding-window feature building (W1), lag/lead (W3), sessionization (W6)
- cyclical datetime conditioning features (P4,
  /root/reference/app/data_processor.py:41-65)
- batched Arrow encoder forward pass (mapInPandas, no per-row Python)
- dedup / similarity / text-quality operators for training-data pipelines
- per-stage lineage + checkpoint/resume, salted skew handling

Everything is DataFrame/SQL-first so Catalyst handles pushdown, pruning and
join planning; pandas UDFs appear only where built-ins cannot express the
semantics (model forward pass).
"""

__version__ = "0.1.0"

from feature_extractor_spark.session import get_spark  # noqa: F401
