"""Extraction operators: html binary -> extracted_text, as Arrow-batched UDFs.

The UDF bodies call the oracle functions (oracle/extract.py) element-wise over
each Arrow batch — regex-heavy unicode work has no vectorized Spark-native
equivalent with matching semantics (SURVEY.md §2.2 P1-P5: Java regex differs
from Python ``re`` on unicode classes, and byte-identical parity is the
contract). The Iterator form keeps one Python worker hot across batches so
module-level compiled regexes amortize (reference precompiles its mega-regex
at import for the same reason, remove_html_tags.py:145-157).

At 100 TB scale this stage is embarrassingly parallel (no shuffle); throughput
scales linearly with cores as long as Arrow batches are bounded
(session.py sets maxRecordsPerBatch so a batch of 10 MiB pages stays in memory).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

from language_identification_spark.oracle.extract import extract_text


def _extract_batches(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
    """html binary/string -> cleaned extracted text (None when empty)."""
    for series in batches:
        yield series.map(extract_text)


def extract_udf():
    """A new extraction pandas UDF. Plans take a fresh one each, as
    ``enrich_udf`` does: a UDF object caches its JVM function together with
    the accumulator of the SparkContext it first ran in, so a shared one
    fails every task's accumulator update once that context has stopped."""
    return F.pandas_udf(_extract_batches, StringType())


# the UDF body as a module-level name (``.func`` runs it in-process);
# plans call extract_udf() instead
extract_text_udf = extract_udf()


def with_extracted_text(df, html_col: str = "html", out_col: str = "extracted_text"):
    """Project the extraction chain onto ``df``.

    The 10 MiB byte cap (BYTE_LENGTH_LIMIT) is enforced INSIDE the UDF,
    immediately after decode and before the regex stages (oracle/extract.py:
    extract_text) — a native pre-UDF binary truncation would cut at a byte
    boundary and break the byte-identical-extraction invariant on pages near
    the limit. Column pruning still reaches the scan: only ``html_col``
    enters the Python worker.
    """
    return df.withColumn(out_col, extract_udf()(F.col(html_col)))


def clean_text_expr(col: Column) -> Column:
    """Spark-native approximation of oracle clean_text (preprocessing.py:16-27)
    for paths where full Unicode parity is not required: strip standalone
    digit runs (EMPTY replacement, like the reference's re.sub(..., '')),
    collapse whitespace, empty -> null. Stays in whole-stage codegen.

    Documented divergence from the Python port (oracle/extract.py:169-185,
    the byte-exact path): Java's default ``\\d``/``\\b``/``\\s`` are ASCII
    classes while the port's are Unicode — Arabic-Indic digits and NBSP-class
    whitespace pass through here untouched. Java ``\\s`` equals the literal
    class [ \\t\\n\\x0b\\f\\r], which is also what the DuckDB oracles spell
    out (RE2's \\s lacks \\x0b)."""
    cleaned = F.trim(
        F.regexp_replace(F.regexp_replace(col, r"\b\d+\b", ""), r"\s+", " ")
    )
    return F.when(F.length(cleaned) > 0, cleaned)
