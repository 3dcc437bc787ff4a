"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship query at sf0.001; ``queries()``
exposes every implemented operator from SURVEY.md §2 as
``(spark, sf_dir) -> DataFrame``; ``oracle_sql()`` gives the DuckDB
equivalent for the correctness gate. Column aliases match exactly on
both sides (the driver sorts columns by name before value-hashing).
Both registries are discovered from ``parquet_generator_spark.plans``.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from parquet_generator_spark import plans
from parquet_generator_spark.plans import analytics as A

QueryFn = Callable[[SparkSession, str], DataFrame]

# The correctness gate samples the first 50 entries of
# queries(), so these lead: the keys added or re-rendered most
# recently, then re-verification slots. Rotation history lives in
# git and CORRECTNESS_r*.json.
FRONT_KEYS = [
    "dsl_match_analyzer_fi",
    "dsl_match_analyzer_hu",
    "dsl_match_analyzer_ar",
    "dsl_rrf_weighted",
    "esql_fuse_docs",
    "esql_fuse_linear",
    "dsl_tsds_downsample_served",
    "dsl_rate_served",
    "esql_rate_served",
    "esql_rate_week_served",
    "esql_row",
    "esql_show",
    "dsl_retriever_linear",
    "dsl_match_analyzer_de",
    "dsl_match_analyzer_fr",
    "dsl_match_analyzer_es",
    "dsl_match_analyzer_it",
    "dsl_match_analyzer_pt",
    "dsl_match_analyzer_nl",
    "dsl_match_analyzer_ro",
    "dsl_match_analyzer_ru",
    "dsl_match_analyzer_sv",
    "dsl_match_analyzer_da",
    "dsl_match_analyzer_no",
    "dsl_match_phrase_analyzer_de",
    "dsl_match_lang_routed",
    "dsl_match_analyzer_stored",
    "dsl_match_phrase_analyzer_stored",
    "esql_knn",
    "esql_fuse",
    "dsl_rrf",
    "dsl_hybrid_score",
    "dsl_retriever_pipeline",
    "dsl_multi_knn",
    "ann_int8_rescore",
    "matryoshka_overlap",
    "hash_sample",
    "context_window_fill",
    "esql_rate",
    "dedup_index_appended",
    "dsl_scripted_metric_while",
    "chat_template_pack",
    "dsl_script_score_painless",
    "dsl_sort_script",
    "ann_ivfpq_served",
    "esql_pipeline_ts",
    "esql_mv_expand",
    "esql_dissect",
    "dsl_scripted_metric_loop",
    "esql_enrich",
]


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return A.q1_pricing_summary(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, QueryFn]:
    found = plans.discover()[0]
    return {**{k: found[k] for k in FRONT_KEYS}, **found}


def oracle_sql() -> dict[str, str]:
    return plans.discover()[1]
