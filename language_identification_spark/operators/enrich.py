"""Fused per-document enrichment: stats + langid + perplexity in ONE Arrow pass.

The pipeline's Python stages are all narrow maps over the same text column;
running them as separate pandas UDFs pays the JVM->Python Arrow round trip
(and per-batch dispatch) once PER STAGE — measured at sf0.1 x10 (50k docs,
local[32]): separate stats+lid = 4.15 s vs fused = ~2.5 s. This operator
computes everything in one iterator UDF:

    enrich(text) -> struct(stats: struct(...), lang, conf, ppl)

Stats call oracle/quality.py:doc_stats row-wise; langid scores the batch
with oracle/langid.py:NgramNBModel.detect_batch (one numpy matrix pass);
perplexity groups the batch's scored docs by predicted language and makes
one operators/perplexity.py:KNBatchScorer call per language — bit-identical
to oracle/kneser_ney.py:KNModel.perplexity, without its per-character
Python recursion. Fusing and batching cannot change results; parity stays
byte-identical (tests).

Models ride a single broadcast; the NB model's dense numpy form, the
scorers' key tables and the reference-style lru caches build once per Python
worker and persist across Arrow batches (SURVEY.md §4.1).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StringType, StructField, StructType

from language_identification_spark.operators.perplexity import (
    KNBatchScorer,
    perplexity_by_lang,
)
from language_identification_spark.operators.quality import STATS_SCHEMA
from language_identification_spark.oracle.quality import STAT_FIELDS, doc_stats

ENRICH_SCHEMA = StructType(
    [
        StructField("stats", STATS_SCHEMA),
        StructField("lang", StringType()),
        StructField("conf", DoubleType()),
        StructField("ppl", DoubleType()),
    ]
)


def enrich_udf(
    spark_or_sc,
    model,
    kn_models: dict | None = None,
    fasttext_model_path: str | None = None,
):
    """One fused UDF over the extracted text column. ``model`` is the NB
    langid model; ``kn_models`` an optional {lang: KNModel} for perplexity
    (null ppl when absent or when the predicted lang has no LM).

    ``fasttext_model_path``: when set, language ID comes from the fastText
    model at that path instead of the NB model — loaded LAZILY once per
    Python worker (the spark-submit --files pattern of the north_star: the
    path string is the only thing in the closure; the model object is never
    pickled or broadcast), scored by the native package when installed or
    the from-scratch numpy engine otherwise (operators/fasttext_np.py).
    The pass stays fused: still ONE ArrowEvalPython node."""
    sc = getattr(spark_or_sc, "sparkContext", spark_or_sc)
    bc = sc.broadcast(
        (model, {lang: KNBatchScorer(m) for lang, m in (kn_models or {}).items()})
    )

    @F.pandas_udf(ENRICH_SCHEMA)
    def _enrich(batches: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
        m, scorers = bc.value
        ft = None
        if fasttext_model_path is not None:
            from language_identification_spark.operators.lid import (
                _load_fasttext,
            )

            ft = _load_fasttext(fasttext_model_path)
        for series in batches:
            texts = series.tolist()
            if ft is not None:
                # fasttext_wrapper.py:39-45 semantics: predict k=1, strip
                # the __label__ prefix, newlines folded to spaces
                fl, fp = ft.predict(
                    [(t or "").replace("\n", " ") for t in texts], k=1
                )
                lid = [
                    (
                        l[0].removeprefix("__label__") if l else None,
                        float(p[0]) if len(p) else 0.0,
                    )
                    for l, p in zip(fl, fp)
                ]
            else:
                # langid vectorized: one numpy matrix pass per Arrow batch
                lid = m.detect_batch(texts)
            langs = [r[0] for r in lid]
            ppls = perplexity_by_lang(scorers, [t or None for t in texts], langs)
            yield pd.DataFrame(
                {
                    "stats": [doc_stats(t) for t in texts],
                    "lang": langs,
                    "conf": pd.Series([r[1] for r in lid], dtype="float64"),
                    "ppl": pd.Series(ppls, dtype="float64"),
                }
            )

    return _enrich


def with_enrichment(
    df,
    spark,
    model,
    kn_models=None,
    text_col="extracted_text",
    fasttext_model_path=None,
):
    """Attach stats/lid/ppl columns in the shape the rule engine expects."""
    enriched = df.withColumn(
        "_e",
        enrich_udf(spark, model, kn_models, fasttext_model_path)(
            F.col(text_col)
        ),
    )
    return (
        enriched.withColumn("stats", F.col("_e.stats"))
        .withColumn(
            "lid",
            F.struct(
                F.col("_e.lang").alias("lang"), F.col("_e.conf").alias("conf")
            ),
        )
        .withColumn("ppl", F.col("_e.ppl"))
        .drop("_e")
    )


__all__ = ["ENRICH_SCHEMA", "enrich_udf", "with_enrichment", "STAT_FIELDS"]
