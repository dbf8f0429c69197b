"""name_matching_spark — a PySpark-native entity-resolution engine.

A from-scratch reimplementation of the query/data-processing capabilities of
the reference R pipeline (m-cahana/name_matching): blocking + pairwise
scoring + transitive clustering for company/person-name record linkage,
re-expressed Spark-first (DataFrame/SQL + vectorized pandas/Arrow UDFs).

Layout
------
- ``session``     SparkSession factory (AQE, Arrow, deterministic configs),
                  and the zip-import guard every UDF worker installs
- ``constants``   stoplists / regexes / dictionaries (semantics parity with
                  the reference's word lists, reference: code/functions/match_names.R:36-88)
- ``datagen``     deterministic synthetic `documents(doc_id, spans)` corpus +
                  ground-truth clusters + label fixtures (no external data)
- ``functions``   column-level building blocks: normalization (pure SQL
                  expressions), phonetics, vectorized string similarity
- ``operators``   dataflow stages: span extraction, blocking, pair
                  generation/scoring, tf-idf cosine, human-name channel,
                  pre-screen rules, connected components, grouping, dedup,
                  text stats, ANN similarity search
- ``checkpoint``  per-stage lineage/metrics checkpoint tables + resume
- ``pipeline``    end-to-end name-matching pipeline
"""

from .session import guard_zip_invalidation

__version__ = "0.1.0"

# Every UDF the package ships reaches a Python worker through an import of
# this package, so each worker installs the guard with its first such task.
guard_zip_invalidation()
