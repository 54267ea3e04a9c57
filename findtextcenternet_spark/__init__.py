"""findtextcenternet_spark — a PySpark-native main-content extraction engine.

A from-scratch, Spark-first re-expression of the capabilities of
``lithium0003/findtextCenterNet`` (reference at /root/reference, read-only):
a detect → group → decode → assemble OCR/extraction pipeline plus
HTML boilerplate stripping, re-architected for a 10^12-document
Common-Crawl-style corpus on a multi-executor Spark cluster.

Design (see SURVEY.md):
- All per-page state is document-local → extraction is one url-hash
  spread feeding one Arrow-batched, kind-dispatching ``mapInPandas``
  kernel: one ``url`` shuffle end-to-end.
- Every relational shape (filter/agg/window/join/dedup) uses native
  Catalyst operators so the optimizer can push down, prune, and broadcast.
- No per-row Python anywhere; all numeric kernels are NumPy over Arrow
  batches, shared verbatim with the single-process golden reference
  (``golden.py``) so Spark output is byte-identical by construction.
"""

__version__ = "0.1.0"
