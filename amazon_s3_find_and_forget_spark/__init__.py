"""PySpark-native find-and-forget analytics engine.

A from-scratch re-expression of the capabilities of
awslabs/amazon-s3-find-and-forget (GDPR row-erasure over data lakes) as an
idiomatic PySpark engine, plus the large-scale training-data-pipeline
operators (dedup, similarity search, text analysis, multimodal plumbing)
such an engine needs at 100 TB scale.

Layout
------
- ``schema``      identifier-column validation + match-id casting over StructType
- ``matches``     deletion-queue normalization, match routing, manifest build
- ``data_mappers``  data-mapper config + validation
- ``jobs``        event-sourced job log: stats fold + status state machine
- ``plans.find``  Find phase: predicate/semi-join plan -> affected files
- ``plans.forget``  Forget phase: anti-join table rewrite + per-file surgical rewrite
- ``sources``     per-file parquet / raw-line JSONL IO used by the Forget phase
- ``operators``   dedup / similarity / text-analysis / multimodal operators
"""

__version__ = "0.1.0"

COMPOSITE_JOIN_TOKEN = "_S3F2COMP_"  # reference: generate_queries.py:27
