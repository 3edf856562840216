"""Training-data pipeline operators beyond the reference's validator.

The north-star engine validates pre-tokenized training corpora; these
modules add the data-processing operators a large-scale training pipeline
needs around validation — deduplication (exact, MinHash-LSH, SimHash,
n-gram Jaccard), text analysis (language id, quality scoring, token
counting, fingerprinting), line cleaning, PII redaction, event joins,
sequence packing and data selection. All are Spark-first: built-in
functions and broadcast/bucket joins in the hot path.
"""

from . import dedup, text  # noqa: F401
