"""The benchmark's workloads, driven through the flagship's public entry
points (``quality_filter_plan``, ``run_resumable``, ``metrics_plan``,
``langdist_plan``).

Each workload is one :class:`Spec`. A timed *pass* is what a user runs once:
plan construction (model broadcast included) plus execution. The noop
workloads materialise every result column through the ``noop`` sink, because
``count()`` would prune the Python stages out of the plan.
"""

from __future__ import annotations

import contextlib
import os
import shutil
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from language_identification_spark.fixtures import training_corpus
from language_identification_spark.oracle.kneser_ney import train_kn_per_lang
from language_identification_spark.oracle.langid import NgramNBModel
from language_identification_spark.oracle.quality import QualityConfig
from language_identification_spark.plans.pipeline import (
    RESULT_COLUMNS,
    langdist_plan,
    metrics_plan,
    read_manifest,
    read_results,
    run_resumable,
)
from language_identification_spark.plans.pipeline import (
    quality_filter_plan as _quality_filter_plan,
)

# half the usable cores, at most 2: the JVM's own threads, the second Python
# worker of each html task (extract and enrich run in separate workers) and
# the planning process need the rest
CORES = max(1, min(4, len(os.sched_getaffinity(0))) // 2)
# fixed task count above the core count, as bench.py's scaling job does
PARTITIONS = 2 * CORES
INPUT_FILES = 2 * CORES
BUCKETS = 8
CRASH_AFTER_BUCKET = 3


@dataclass(frozen=True)
class Spec:
    name: str
    rows: int  # generated input rows at --scale 1
    config: QualityConfig
    text_col: str | None  # None: the html path with extract_text_udf
    kn: bool = False
    sink: bool = False  # run_resumable into parquet instead of the noop sink
    respread: bool = False  # quality_filter_plan(repartition_to=PARTITIONS)


# Why each declared workload exists is recorded in BENCHMARK.json. docs_text
# is run by ``--workload all`` but not declared there (a run costs as much as
# the others, and three workloads' runs exceed the time budget): on its
# text_col path with a noop sink the enrich kernels (doc_stats, NB
# detect_batch) and the Arrow boundary do most of the work.
SPECS = {
    s.name: s
    for s in (
        Spec(
            "docs_text",
            rows=8000,
            config=QualityConfig(),
            text_col="text",
            respread=True,
        ),
        Spec(
            "pages_html_kn",
            rows=2000,
            config=QualityConfig(max_ppl=40.0).production(),
            text_col=None,
            kn=True,
            respread=True,
        ),
        Spec(
            "resume_write",
            rows=12000,
            config=QualityConfig(),
            text_col="text",
            sink=True,
        ),
    )
}


@dataclass(frozen=True)
class Models:
    nb: NgramNBModel
    kn: dict | None


def train_models(spec: Spec) -> Models:
    corpus = training_corpus()
    return Models(NgramNBModel.train(corpus), train_kn_per_lang(corpus) if spec.kn else None)


def stage(rows: list[dict], path: str) -> str:
    """Write generated pages (``fixtures.build_pages``) as INPUT_FILES
    parquet files, one input split each; skipped when this checkout
    already staged them."""
    done = os.path.join(path, "_STAGED")
    if os.path.exists(done):
        return path
    os.makedirs(path, exist_ok=True)
    table = pa.Table.from_pylist(rows)
    step = -(-len(rows) // INPUT_FILES)
    for k in range(INPUT_FILES):
        pq.write_table(table.slice(k * step, step), os.path.join(path, f"part-{k:03d}.parquet"))
    open(done, "w").close()
    return path


def quality_filter_plan(spark: SparkSession, spec: Spec, path: str, models: Models) -> DataFrame:
    return _quality_filter_plan(
        spark.read.parquet(path),
        models.nb,
        config=spec.config,
        text_col=spec.text_col,
        kn_models=models.kn,
        repartition_to=PARTITIONS if spec.respread else None,
    )


def noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def _resumable(spark, spec, path, models, out_dir, **kw):
    return run_resumable(
        spark,
        spark.read.parquet(path),
        models.nb,
        out_dir,
        buckets=BUCKETS,
        config=spec.config,
        text_col=spec.text_col,
        kn_models=models.kn,
        **kw,
    )


def run_pass(spark, spec: Spec, path: str, models: Models, out_dir: str, span=None) -> None:
    """One timed pass. ``resume_write``: a crashing run_resumable, the
    resume, then the metrics and langdist tables as ``__main__`` writes
    them. ``span(name)`` wraps each call when the run is traced."""
    span = span or (lambda name: contextlib.nullcontext())
    if not spec.sink:
        with span("full"):
            noop(quality_filter_plan(spark, spec, path, models))
        return
    shutil.rmtree(out_dir, ignore_errors=True)
    with span("sink.crash"):
        try:
            _resumable(spark, spec, path, models, out_dir, fail_after_bucket=CRASH_AFTER_BUCKET)
        except RuntimeError as e:
            if "injected failure" not in str(e):
                raise
        else:
            raise RuntimeError("the injected crash did not fire")
    with span("sink.resume"):
        _resumable(spark, spec, path, models, out_dir)
    with span("report"):
        results = read_results(spark, out_dir)
        metrics_plan(results).write.mode("overwrite").parquet(f"{out_dir}/_metrics")
        langdist_plan(results).write.mode("overwrite").parquet(f"{out_dir}/_langdist")


def stages(spec: Spec) -> list[str]:
    """The pipeline's layers in plan order; extract only on the html path."""
    return ["scan", *(["extract"] if spec.text_col is None else []), "enrich", "rules_scrub"]


# the columns each plan prefix keeps; Spark prunes the Python stages and rule
# expressions whose output a prefix drops
PREFIX_COLUMNS = {
    "extract": ["url", "warc_ts", "extracted_text"],
    "enrich": ["url", "warc_ts", "extracted_text", "lang_pred", "lang_conf", "ppl"],
    "rules_scrub": RESULT_COLUMNS,
}


def prefix(spark, spec: Spec, path: str, models: Models, upto: str) -> DataFrame:
    """The pipeline up to and including layer ``upto``: a column selection
    of ``quality_filter_plan`` itself, except the scan (the read and the
    url re-spread). Timing each prefix with the noop sink, plan
    construction included (enrich broadcasts its models), gives every
    layer's seconds as a difference of prefixes."""
    if upto != "scan":
        return quality_filter_plan(spark, spec, path, models).select(PREFIX_COLUMNS[upto])
    df = spark.read.parquet(path)
    if spec.respread:
        df = df.repartition(PARTITIONS, F.crc32(F.col("url")))
    return df.select("url", "warc_ts", spec.text_col or "html")


@dataclass
class Outputs:
    """What the output check reads, collected outside every timed window."""

    rows: list[dict]
    metrics: dict  # rule (None = kept) -> n, from metrics_plan
    langdist: dict  # lang_pred -> n, from langdist_plan
    manifest: dict | None = None


def collect_outputs(spark, spec: Spec, path: str, models: Models, out_dir: str) -> Outputs:
    if spec.sink:
        results = read_results(spark, out_dir)
        metrics = spark.read.parquet(f"{out_dir}/_metrics")
        langdist = spark.read.parquet(f"{out_dir}/_langdist")
        manifest = read_manifest(out_dir)
    else:
        results = quality_filter_plan(spark, spec, path, models).persist()
        metrics, langdist, manifest = metrics_plan(results), langdist_plan(results), None
    try:
        rows = results.select(RESULT_COLUMNS).toArrow().to_pylist()
        return Outputs(
            rows,
            {r["rule"]: r["n"] for r in metrics.collect()},
            {r["lang_pred"]: r["n"] for r in langdist.collect()},
            manifest,
        )
    finally:
        if not spec.sink:
            results.unpersist()
