"""Distributed Kneser-Ney LM training + broadcast perplexity scoring.

Training is the Spark realization of SURVEY.md §2.4 A5-A8 (the reference's
modified_kneser_ney.py:158-201 count jobs, :644-664 continuation counts,
:684-727 normalization):

    corpus(lang, text)
      -> padded char n-grams (Arrow UDF)          # casefold: Python semantics
      -> groupBy(lang, gram).count()              # THE data-sized shuffle
      -> suffix rollups per lower order           # groupBy over the (small)
                                                  # distinct-gram table
      -> collect tiny integer tables -> assemble_model (shared float math)

Only the top-order counting touches corpus-sized data; everything below it
aggregates the distinct-gram table (|alphabet|^order bounded — KBs for char
LMs even at 100 TB corpus scale, because the gram space saturates). The float
assembly is oracle/kneser_ney.py:assemble_model on both paths, so the Spark
trainer is bit-identical to the in-memory trainer (tested).

Scoring broadcasts {lang: KNBatchScorer} (each wraps a KNModel of plain
dicts, ~100s of KB) and runs an Iterator-of-Series pandas UDF. Each Python
worker turns a model into sorted integer-key arrays the first time it scores
that language, then scores one language group of an Arrow batch per call:
the per-character backoff recursion of ``KNModel.prob`` becomes one numpy
pass per order over the whole group, bit-identical to
``KNModel.perplexity`` (the row-wise oracle, unchanged). Documents whose
language has no model score null, which no rule fires on (null-safe
comparison) — mirroring the oracle's ppl=None path.
"""

from __future__ import annotations

import math
import operator
from collections.abc import Iterator, Sequence
from functools import reduce
from itertools import islice

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DoubleType, StringType

from language_identification_spark.oracle.kneser_ney import (
    BOS,
    EOS,
    KNModel,
    assemble_model,
    padded_chars,
)

from language_identification_spark.oracle.tokenize import PY_WHITESPACE

# PY_WHITESPACE as a Java-regex class (raw chars are legal inside [...]);
# the shared tokenization contract with the Python-side encoder/scorer and
# the DuckDB oracle (oracle/kn_sql.py) lives in oracle/tokenize.py
PY_WS_SPLIT_RE = "[" + PY_WHITESPACE + "]+"


def _top_grams_udf(order: int):
    @F.pandas_udf(ArrayType(StringType()))
    def _grams(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        def grams(text: str | None) -> list[str]:
            if text is None:
                return []
            chars = padded_chars(text, order)
            return [
                "".join(chars[i : i + order])
                for i in range(len(chars) - order + 1)
            ]

        for series in batches:
            yield series.map(grams)

    return _grams


def train_kn_spark(
    corpus: DataFrame, order: int = 3, lang_col: str = "lang", text_col: str = "text"
) -> dict[str, KNModel]:
    """Per-language modified-KN models from corpus(lang, text) via Spark aggs.

    Returns {lang: KNModel}, bit-identical to
    oracle.kneser_ney.train_kn_per_lang on the same rows.
    """
    top = (
        corpus.select(
            F.col(lang_col).alias("lang"),
            F.explode(_top_grams_udf(order)(F.col(text_col))).alias("gram"),
        )
        .groupBy("lang", "gram")
        .agg(F.count("*").alias("c"))
    )
    tables: dict[str, dict[int, dict[str, int]]] = {}

    def fold_in(k: int, rows) -> None:
        for r in rows:
            tables.setdefault(r["lang"], {}).setdefault(k, {})[r["gram"]] = r["c"]

    fold_in(order, top.collect())
    # lower orders: continuation counts = one row per distinct suffix-extension
    # in the next-higher table. The higher table is already distinct grams, so
    # a row count per suffix IS the distinct-left-extension count.
    level = top
    for k in range(order - 1, 0, -1):
        level = (
            level.select("lang", F.expr("substring(gram, 2)").alias("gram"))
            .groupBy("lang", "gram")
            .agg(F.count("*").alias("c"))
        )
        fold_in(k, level.collect())
    return {
        lang: assemble_model(counts, order) for lang, counts in sorted(tables.items())
    }


def kn_model_table_df(spark: SparkSession, models: dict[str, KNModel]) -> DataFrame:
    """Top-order counts as a flat (lang, gram, c) DataFrame — the persistable
    dimension-table form of the model (SURVEY.md §2.8 L8). The top-order
    table fully determines the model: lower orders and all float parameters
    re-derive deterministically in assemble_model."""
    rows = [
        (lang, gram, c)
        for lang, m in sorted(models.items())
        for gram, c in sorted(m.counts[m.order].items())
    ]
    return spark.createDataFrame(rows, schema="lang string, gram string, c long")


def save_kn_models(
    spark: SparkSession, models: dict[str, KNModel], path: str
) -> None:
    """Persist as a parquet dimension table next to the corpus (on a real
    cluster: an Iceberg table) — versionable, inspectable, joinable."""
    kn_model_table_df(spark, models).write.mode("overwrite").parquet(path)


def load_kn_models(spark: SparkSession, path: str, order: int = 3) -> dict[str, KNModel]:
    """Rebuild bit-identical models from the persisted top-order table:
    integer counts -> deterministic float assembly (tested round-trip)."""
    tables: dict[str, dict[int, dict[str, int]]] = {}
    for r in spark.read.parquet(path).collect():
        tables.setdefault(r["lang"], {}).setdefault(order, {})[r["gram"]] = r["c"]
    out: dict[str, KNModel] = {}
    for lang, counts in sorted(tables.items()):
        top = counts[order]
        for k in range(order - 1, 0, -1):
            cont: dict[str, int] = {}
            for gram in counts[k + 1]:
                cont[gram[1:]] = cont.get(gram[1:], 0) + 1
            counts[k] = cont
        out[lang] = assemble_model(counts, order)
    return out


def train_word_kn_spark(
    corpus: DataFrame,
    order: int = 3,
    lang_col: str = "lang",
    text_col: str = "text",
    min_count: int = 1,
    max_vocab: int | None = None,
) -> dict:
    """Per-language WORD-level KN models (the reference's scoring unit,
    modified_kneser_ney.py:744-758) trained distributively:

    1. per-language casefolded word counts (explode -> Arrow casefold ->
       groupBy) with the SHARED prune rule (min_count floor + top-max_vocab
       by (count desc, word asc), oracle/kneser_ney.py:prune_vocab) applied
       IN SPARK — the driver collect is bounded to max_vocab rows per
       language no matter how large the corpus vocabulary is (web-scale
       10^7+ distinct tokens prune distributively; everything else is OOV,
       priced by the model's UNK bucket)
    2. deterministic word->codepoint maps (oracle/kneser_ney.py:_sym_for)
    3. encode the corpus to symbol strings in an Arrow UDF (broadcast maps)
    4. reuse train_kn_spark verbatim on the encoded corpus

    Bit-identical to oracle WordKNModel.train with the same min_count /
    max_vocab on the same rows (tested)."""
    from pyspark.sql import Window
    from pyspark.sql.types import StringType

    from language_identification_spark.functions.text import casefold_udf
    from language_identification_spark.oracle.kneser_ney import (
        MAX_WORD_VOCAB,
        WordKNModel,
        _sym_for,
    )

    if max_vocab is None:
        max_vocab = MAX_WORD_VOCAB
    spark = corpus.sparkSession
    # split on the PYTHON str.split() whitespace set, not Java \s+ (which is
    # ASCII-only): vocab counting here must tokenize identically to the
    # Python-side encoder below and the word_ppl scorer, or a \x0b/\xa0-
    # bearing corpus trains a different vocabulary than it scores with
    counts = (
        corpus.select(
            F.col(lang_col).alias("lang"),
            F.explode(
                F.filter(
                    F.split(F.col(text_col), PY_WS_SPLIT_RE),
                    lambda w: w != "",
                )
            ).alias("raw_word"),
        )
        .select("lang", casefold_udf(F.col("raw_word")).alias("word"))
        .groupBy("lang", "word")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") >= min_count)
    )
    rk = Window.partitionBy("lang").orderBy(F.desc("n"), F.asc("word"))
    vocab_rows = (
        counts.withColumn("rk", F.row_number().over(rk))
        .filter(F.col("rk") <= max_vocab)
        .select("lang", "word")
        .collect()  # bounded: <= max_vocab rows per language
    )
    by_lang_vocab: dict[str, set[str]] = {}
    for r in vocab_rows:
        by_lang_vocab.setdefault(r["lang"], set()).add(r["word"])
    maps = {
        lang: {w: _sym_for(i) for i, w in enumerate(sorted(vocab))}
        for lang, vocab in sorted(by_lang_vocab.items())
    }
    bc = spark.sparkContext.broadcast(maps)

    @F.pandas_udf(StringType())
    def _encode(
        batches: Iterator[tuple[pd.Series, pd.Series]],
    ) -> Iterator[pd.Series]:
        ms = bc.value
        for langs, texts in batches:
            out = []
            for lang, text in zip(langs, texts):
                m = ms.get(lang, {})
                out.append(
                    "".join(
                        m.get(w.casefold(), "\x00")
                        for w in (text or "").split()
                    )
                )
            yield pd.Series(out)

    encoded = corpus.select(
        F.col(lang_col).alias("lang"),
        _encode(F.col(lang_col), F.col(text_col)).alias("text"),
    )
    char_models = train_kn_spark(encoded, order=order)
    return {
        lang: WordKNModel(char_models[lang], maps[lang])
        for lang in sorted(char_models)
    }


# code points scored per numpy pass: bounds the working set (about ten
# int64/float64 arrays of this length) however large an Arrow batch is
_CHUNK_CODEPOINTS = 1 << 18
# above every rank key: keys stay below |prefix strings| * alphabet size
_KEY_SENTINEL = np.iinfo(np.int64).max
# above every code point (U+10FFFF is the last)
_CODEPOINT_SENTINEL = 0x110000


def _codepoints(s: str) -> np.ndarray:
    return np.frombuffer(
        s.encode("utf-32-le", "surrogatepass"), dtype="<u4"
    ).astype(np.int64)


def _lookup(keys: np.ndarray, q: np.ndarray) -> np.ndarray:
    """Index of each query in ``keys`` (sorted, unique, ending in a sentinel
    above every query); a query not in ``keys`` gets the sentinel's index."""
    idx = np.searchsorted(keys, q)
    return np.where(keys[idx] == q, idx, len(keys) - 1)


class KNBatchScorer:
    """``KNModel.perplexity`` over a whole batch of documents at once.

    Constructing one only wraps the model, and only the model is pickled:
    the lookup tables are built by the first ``perplexity_batch`` call in
    each process and reused by every later call there.

    Tables. Characters get ids 0..A-1 by code point over the model's
    alphabet; id A stands for every character outside it (M = A+1 ids). For
    each length L ≥ 2, every string of length L that begins some k-gram of
    the model (k ≥ L) gets a rank: its index in the sorted keys
    ``rank(s[:-1]) * M + id(s[-1])`` (rank of a single char = its id).
    Keys built from ranks stay below ``|strings| * M`` at any order, where
    ``M**order`` would overflow int64 for word models (~10^5 symbols). Over
    those ranks sit the unigram ``p1`` per id, λ per order-k context and
    ``max(c-D, 0)/total`` per order-k gram, each computed with the
    expression ``KNModel.prob`` uses; absent strings rank at a sentinel
    index whose λ is unseen and whose term is 0.

    Scoring. Docs are casefolded and padded as ``padded_chars`` does,
    concatenated into one UTF-32 stream and mapped to ids. One pass per
    order k then ranks the k-string ending at every position and applies
    ``p_k = where(ctx_seen, term + λ·p_{k-1}, p_{k-1})`` — the recursion of
    ``KNModel.prob`` unrolled bottom-up (an unseen gram's term is 0.0 there
    too). Logs are taken with ``math.log2`` and summed left to right per
    doc as ``KNModel.logprob2`` does (numpy's log2 and pairwise sums round
    differently), so each perplexity is bit-identical to the oracle's and
    independent of which documents share the batch.
    """

    def __init__(self, model: KNModel) -> None:
        self.model = model
        self._tables = None

    def __getstate__(self) -> dict:
        return {"model": self.model}

    def __setstate__(self, state: dict) -> None:
        self.__init__(state["model"])

    def _build(self) -> tuple:
        m = self.model
        n = m.order
        alphabet = sorted(set("".join(g for c in m.counts.values() for g in c)))
        alpha = np.append(_codepoints("".join(alphabet)), _CODEPOINT_SENTINEL)
        n_ids = len(alpha)  # the alphabet plus the id of unseen characters

        d1, d2, d3 = m.discounts[1]
        _, n1, n2, n3p = m.ctx_stats[1][""]
        lam1 = (d1 * n1 + d2 * n2 + d3 * n3p) / m.uni_total
        p1 = np.array(
            [
                max(c - m._discount(1, c), 0.0) / m.uni_total
                + lam1 / (m.vocab_size + 1)
                for c in [m.counts[1].get(ch, 0) for ch in alphabet] + [0]
            ]
        )

        grams = {
            k: _lookup(alpha, _codepoints("".join(m.counts[k]))).reshape(-1, k)
            for k in range(2, n + 1)
        }
        rank = {k: g[:, 0] for k, g in grams.items()}  # of each gram's prefix
        keys, term, lam, seen = {}, {}, {}, {}
        prev_size = n_ids
        for k in range(2, n + 1):
            q = {j: rank[j] * n_ids + g[:, k - 1] for j, g in grams.items() if j >= k}
            keys[k] = np.append(
                np.unique(np.concatenate(list(q.values()))), _KEY_SENTINEL
            )
            ctx_rank = rank[k]  # of each order-k gram's context, length k-1
            for j, qj in q.items():
                rank[j] = _lookup(keys[k], qj)

            d1, d2, d3 = m.discounts[k]
            stats = m.ctx_stats[k]
            lam_of = {
                ctx: (d1 * n1 + d2 * n2 + d3 * n3p) / total
                for ctx, (total, n1, n2, n3p) in stats.items()
            }
            term[k] = np.zeros(len(keys[k]))
            term[k][rank[k]] = [
                max(c - m._discount(k, c), 0.0) / stats[g[:-1]][0]
                for g, c in m.counts[k].items()
            ]
            lam[k] = np.zeros(prev_size)
            lam[k][ctx_rank] = [lam_of[g[:-1]] for g in m.counts[k]]
            seen[k] = np.zeros(prev_size, dtype=bool)
            seen[k][ctx_rank] = True
            prev_size = len(keys[k])
        return alpha, n_ids, p1, keys, term, lam, seen

    def perplexity_batch(self, texts: Sequence[str | None]) -> list[float]:
        """``[self.model.perplexity(t) for t in texts]``, bit for bit."""
        if self._tables is None:
            self._tables = self._build()
        out = [math.inf] * len(texts)
        chunk: list[int] = []
        size = 0
        for i, text in enumerate(texts):
            if text:
                chunk.append(i)
                size += len(text)
            if chunk and (size >= _CHUNK_CODEPOINTS or i == len(texts) - 1):
                for j, p in zip(chunk, self._score([texts[j] for j in chunk])):
                    out[j] = p
                chunk, size = [], 0
        return out

    def _score(self, docs: list[str]) -> list[float]:
        alpha, n_ids, p1, keys, term, lam, seen = self._tables
        n = self.model.order
        folded = [d.casefold() for d in docs]
        pad = BOS * (n - 1)
        ids = _lookup(alpha, _codepoints("".join(pad + f + EOS for f in folded)))
        p = p1[ids]
        r = ids  # rank of the k-string ending at each position
        for k in range(2, n + 1):
            ctx = np.empty_like(r)
            ctx[0] = len(lam[k]) - 1  # nothing precedes the stream
            ctx[1:] = r[:-1]
            r = _lookup(keys[k], ctx * n_ids + ids)
            p = np.where(seen[k][ctx], term[k][r] + lam[k][ctx] * p, p)
        # every doc's context windows stay inside its own BOS padding; the
        # padding positions themselves predict nothing
        n_pred = [len(f) + 1 for f in folded]
        if n > 1:
            padded = np.array(n_pred) + (n - 1)
            starts = np.cumsum(padded) - padded
            keep = np.ones(len(p), dtype=bool)
            keep[(starts[:, None] + np.arange(n - 1)).ravel()] = False
            p = p[keep]
        logs = map(math.log2, p.tolist())
        return [
            2.0 ** (-reduce(operator.add, islice(logs, c), 0.0) / c)
            for c in n_pred
        ]


def perplexity_by_lang(
    scorers: dict[str, KNBatchScorer],
    texts: Sequence[str | None],
    langs: Sequence[str | None],
) -> list[float | None]:
    """Row-aligned perplexities with one ``perplexity_batch`` call per
    language present; None where the text is None or its language has no
    scorer."""
    groups: dict[str, list[int]] = {}
    for i, (text, lang) in enumerate(zip(texts, langs)):
        if text is not None and lang in scorers:
            groups.setdefault(lang, []).append(i)
    out: list[float | None] = [None] * len(texts)
    for lang, rows in groups.items():
        ppls = scorers[lang].perplexity_batch([texts[i] for i in rows])
        for i, p in zip(rows, ppls):
            out[i] = p
    return out


def ppl_udf(spark_or_sc, models: dict[str, KNModel]):
    """(text, lang) -> perplexity double; null when lang has no model or the
    text is empty (the rule engine's null-safe comparisons then skip the ppl
    gate, matching the oracle's ppl=None behavior)."""
    sc = getattr(spark_or_sc, "sparkContext", spark_or_sc)
    bc = sc.broadcast({lang: KNBatchScorer(m) for lang, m in models.items()})

    @F.pandas_udf(DoubleType())
    def _ppl(
        batches: Iterator[tuple[pd.Series, pd.Series]],
    ) -> Iterator[pd.Series]:
        scorers = bc.value
        for texts, langs in batches:
            ppls = perplexity_by_lang(
                scorers, [t or None for t in texts], langs.tolist()
            )
            yield pd.Series(ppls, dtype="float64")

    return _ppl
