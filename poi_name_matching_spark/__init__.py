"""poi_name_matching_spark — a PySpark-native record-linkage engine.

A from-scratch re-creation of the query/data-processing capabilities of the
reference study ``tovesolve/POI_name_matching`` (see /root/reference), built
Spark-first: blocking + pairwise scoring + transitive clustering over tables
of multi-turn conversation transcripts, with the reference's similarity math
(tokenizer, Jaro-Winkler, Levenshtein, Jaccard, TF-IDF, soft-TFIDF families,
embedding cosine) as the vectorized scoring kernel.

Layout:
    functions/  pure-Python + numpy kernels and their pandas-UDF wrappers
    operators/  DataFrame-level pipeline stages (signatures, blocking,
                scoring, clustering, evaluation)
    sources/    readers & checkpointed sinks (parquet manifests)
    plans/      end-to-end resumable pipeline driver
    streaming/  full-pipeline Structured Streaming over transcript drops
    data/       deterministic synthetic-data generators (test fixtures)
"""

__version__ = "0.1.0"
