"""PySpark-native log-analytics engine.

A from-scratch re-expression of the query/data-processing surface of
BetterWorks/ai-incident-analyst (reference at /root/reference, read-only)
as idiomatic Spark DataFrame/SQL operators, designed for 100 TB scale.

Layout:
    sources/    table readers, schema normalization, sinks
    functions/  scalar column functions (redaction, text, vectors)
    operators/  relational + ML operators (dedup, knn, text analysis, rag)
    plans/      NRQL string frontend planned onto DataFrame filters
    streaming/  Structured Streaming variants of the batch pipeline
"""

__version__ = "0.1.0"
