"""KNBatchScorer (operators/perplexity.py) against the row-wise oracle
KNModel.perplexity: bit-identical on generated Unicode text at orders 2-5,
independent of how documents are split into batches, exact on a model whose
alphabet is large enough that ``alphabet**order`` keys would overflow int64,
and — through the fused enrich UDF — independent of the Arrow batch size.
"""

import random

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from language_identification_spark.fixtures import build_pages, training_corpus
from language_identification_spark.operators import perplexity as kn_ops
from language_identification_spark.operators.perplexity import KNBatchScorer
from language_identification_spark.oracle.kneser_ney import (
    BOS,
    EOS,
    OOV_SYM,
    train_kn,
    train_kn_per_lang,
)

# casefold-expanding (ß -> ss, ﬁ -> fi, İ -> i̇), final and medial sigma,
# astral characters, and the padding / OOV symbols themselves
EDGE_CHARS = ["ß", "ﬁ", "İ", "Σ", "σ", "ς", "😀", "𝔘", BOS, EOS, OOV_SYM]

# the English fixture text plus one line of every edge character, so
# some of them are in the alphabet and occur inside seen contexts
_CORPUS = [t for lang, t in training_corpus() if lang == "en"] + [
    "straße ﬁne İstanbul ΟΔΟΣ σοφός 😀 𝔘 " + BOS + EOS + OOV_SYM
]
MODELS = {order: train_kn(_CORPUS, order) for order in (2, 3, 4, 5)}

_chars = st.one_of(
    st.sampled_from(EDGE_CHARS + list("the quick brown fox ")),
    st.characters(),  # anything else, mostly outside the alphabet
)
_docs = st.lists(st.one_of(st.none(), st.text(_chars, max_size=40)), max_size=10)


@settings(max_examples=60, deadline=None)
@given(order=st.sampled_from(sorted(MODELS)), docs=_docs, split=st.integers(1, 11))
def test_batch_scorer_equals_oracle(order, docs, split):
    m = MODELS[order]
    expected = [m.perplexity(d) for d in docs]
    scorer = KNBatchScorer(m)
    assert scorer.perplexity_batch(docs) == expected
    # a doc's score does not depend on which docs share its batch
    pieces = [
        p
        for i in range(0, len(docs), split)
        for p in scorer.perplexity_batch(docs[i : i + split])
    ]
    assert pieces == expected


def test_chunked_batch_equals_oracle(monkeypatch):
    """A batch larger than one scoring chunk is scored chunk by chunk with
    the same result."""
    monkeypatch.setattr(kn_ops, "_CHUNK_CODEPOINTS", 64)
    models = train_kn_per_lang(training_corpus(), order=3)
    rows = [r for r in build_pages(80, seed=3) if r["lang"] in models]
    for lang in {r["lang"] for r in rows}:
        texts = [r["text"] for r in rows if r["lang"] == lang]
        got = KNBatchScorer(models[lang]).perplexity_batch(texts)
        assert got == [models[lang].perplexity(t) for t in texts], lang


def test_large_alphabet_order4_keys_do_not_overflow():
    """60k symbols at order 4: 60002**4 > 2**63, so keys must be built from
    context ranks, not from powers of the alphabet size."""
    n_sym = 60_000
    syms = [chr(0xF0000 + i) for i in range(n_sym)]
    rng = random.Random(0)
    corpus = ["".join(syms[i : i + 40]) for i in range(0, n_sym, 40)]
    corpus += ["".join(rng.choices(syms, k=40)) for _ in range(400)]
    m = train_kn(corpus, order=4)
    assert len(m.counts[1]) ** 4 > 2**63
    docs = [corpus[-1][:30], corpus[7], "".join(rng.choices(syms, k=50))]
    docs += [syms[-1] + "x" + syms[0] + OOV_SYM + syms[-2]]
    assert KNBatchScorer(m).perplexity_batch(docs) == [m.perplexity(d) for d in docs]


def test_pipeline_ppl_invariant_to_arrow_batch_size(spark):
    """quality_filter_plan with KN models gives identical rows — the float
    ppl included — at 1, 7 and 1024 records per Arrow batch."""
    from language_identification_spark.fixtures import pages_df
    from language_identification_spark.oracle.langid import NgramNBModel
    from language_identification_spark.oracle.quality import QualityConfig
    from language_identification_spark.plans.pipeline import quality_filter_plan

    corpus = training_corpus()
    model = NgramNBModel.train(corpus)
    kn = train_kn_per_lang(corpus, order=3)
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    before = spark.conf.get(key)
    results = {}
    try:
        for n in (1, 7, 1024):
            spark.conf.set(key, str(n))
            results[n] = sorted(
                quality_filter_plan(
                    pages_df(spark, 120),
                    model,
                    config=QualityConfig(max_ppl=40.0),
                    kn_models=kn,
                ).collect()
            )
    finally:
        spark.conf.set(key, before)
    assert any(r["ppl"] is not None for r in results[1])
    assert results[1] == results[7] == results[1024]


@pytest.mark.parametrize("order", [2, 3])
def test_word_model_char_scorer_equals_oracle(order):
    """Word models score their encoded symbol strings through the same
    scorer (the word-KN gates' path)."""
    from language_identification_spark.oracle.kneser_ney import WordKNModel

    sents = [t.split() for lang, t in training_corpus() if lang in ("en", "id")]
    wm = WordKNModel.train(sents, order=order, max_vocab=200)
    probes = sents[:20] + [["zyzzyva", "The", "cat"], []]
    got = KNBatchScorer(wm.char_model).perplexity_batch(
        [wm.encode(t) for t in probes]
    )
    assert got == [wm.perplexity(t) for t in probes]
