"""Output check: replay the row-wise oracle chain and compare per url.

The chain is ``oracle.extract.extract_text`` -> ``oracle.quality.doc_stats``
-> ``NgramNBModel.detect`` -> ``KNModel.perplexity`` -> ``apply_rules`` ->
``oracle.scrub.scrub_text``, the same one tests/test_parity.py replays. Its
results are cached per (workload, seed, size) as JSON under the work dir.

Structural checks fail the run: every url exactly once, kept + dropped =
docs in, the ``metrics_plan`` histogram equal to the per-doc drop reasons,
``langdist_plan`` equal to the kept docs per language and, after a resume,
manifest rows summing to the input rows. Agreement with the oracle is
measured, not gated: ``keep_f1``, ``text_exact_frac``, ``score_agree_frac``.
"""

from __future__ import annotations

import json
import math
import multiprocessing
import os
from collections import Counter

from language_identification_spark.oracle.extract import extract_text
from language_identification_spark.oracle.quality import apply_rules, doc_stats
from language_identification_spark.oracle.scrub import scrub_text
from workloads import BUCKETS


def _oracle_doc(text, models, config) -> dict:
    lang, conf = models.nb.detect(text)
    ppl = None
    kn = models.kn.get(lang) if models.kn and lang is not None else None
    if kn is not None and text:
        p = kn.perplexity(text)
        ppl = None if math.isinf(p) else p
    reasons = apply_rules(
        doc_stats(text), config, lang_conf=conf, ppl=ppl, empty=text is None, lang=lang
    )
    return {
        "extracted_text": text,
        "scrubbed_text": scrub_text(text),
        "lang_pred": lang,
        "lang_conf": conf,
        "ppl": ppl,
        "keep": not reasons,
        "drop_reasons": reasons,
    }


# (spec, rows, models) of the oracle being computed; the forked workers
# inherit it instead of receiving the pages pickled
_JOB = None


def _oracle_part(k: int, procs: int) -> dict[str, dict]:
    spec, rows, models = _JOB
    out = {}
    for r in rows[k::procs]:
        text = r[spec.text_col] if spec.text_col else extract_text(r["html"])
        out[r["url"]] = _oracle_doc(text, models, spec.config)
    return out


def oracle(spec, rows: list[dict], models, cache_path: str, procs: int = 1) -> dict[str, dict]:
    """Oracle result per url, computed on ``procs`` forked processes."""
    global _JOB
    if os.path.exists(cache_path):
        with open(cache_path) as f:
            return json.load(f)
    _JOB = (spec, rows, models)
    try:
        pool = multiprocessing.get_context("fork").Pool(procs)
        try:
            parts = pool.starmap(_oracle_part, [(k, procs) for k in range(procs)])
        finally:
            pool.close()
            pool.join()
    finally:
        _JOB = None
    out = {url: doc for part in parts for url, doc in part.items()}
    os.makedirs(os.path.dirname(cache_path), exist_ok=True)
    with open(cache_path + ".tmp", "w") as f:
        json.dump(out, f)
    os.replace(cache_path + ".tmp", cache_path)
    return out


def _f1(tp: int, fp: int, fn: int) -> float:
    return 1.0 if tp + fp + fn == 0 else 2 * tp / (2 * tp + fp + fn)


def _same6(a, b) -> bool:
    if a is None or b is None:
        return a is b
    return round(a, 6) == round(b, 6)


def check(rows: list[dict], outputs, truth: dict[str, dict]) -> dict:
    """Compare collected outputs with the oracle. Returns the agreement
    metrics, the structural ``violations`` and the count of ``bad_docs``
    (missing or duplicated urls)."""
    violations = []
    want = [r["url"] for r in rows]
    want_set = set(want)
    got = Counter(r["url"] for r in outputs.rows)
    missing = sum(1 for u in want if u not in got)
    dup = sum(n - 1 for n in got.values() if n > 1)
    extra = sum(n for u, n in got.items() if u not in want_set)
    if missing or dup or extra:
        violations.append(f"urls: {missing} missing, {dup} duplicated, {extra} unexpected")

    kept = sum(1 for r in outputs.rows if r["keep"])
    dropped = sum(1 for r in outputs.rows if not r["keep"])
    if kept + dropped != len(want):
        violations.append(f"kept {kept} + dropped {dropped} != docs in {len(want)}")
    if any(r["keep"] != (not r["drop_reasons"]) for r in outputs.rows):
        violations.append("keep disagrees with an empty drop_reasons")

    reasons = Counter(rule for r in outputs.rows for rule in r["drop_reasons"] or [None])
    if dict(reasons) != outputs.metrics:
        violations.append(f"metrics_plan {outputs.metrics} != per-doc reasons {dict(reasons)}")
    langs = Counter(r["lang_pred"] for r in outputs.rows if r["keep"])
    if dict(langs) != outputs.langdist:
        violations.append(f"langdist_plan {outputs.langdist} != kept per lang {dict(langs)}")
    if outputs.manifest is not None:
        m = outputs.manifest
        rows_done = sum(h["rows"] for h in m["run_history"])
        if sorted(m["buckets_done"]) != list(range(BUCKETS)) or rows_done != len(want):
            violations.append(
                f"manifest: buckets {m['buckets_done']}, rows {rows_done} != {len(want)}"
            )

    tp = fp = fn = text_ok = score_ok = reasons_ok = 0
    for r in outputs.rows:
        o = truth.get(r["url"])
        if o is None:
            continue
        tp += r["keep"] and o["keep"]
        fp += r["keep"] and not o["keep"]
        fn += (not r["keep"]) and o["keep"]
        text_ok += (
            r["extracted_text"] == o["extracted_text"] and r["scrubbed_text"] == o["scrubbed_text"]
        )
        score_ok += (
            r["lang_pred"] == o["lang_pred"]
            and _same6(r["lang_conf"], o["lang_conf"])
            and _same6(r["ppl"], o["ppl"])
        )
        reasons_ok += list(r["drop_reasons"] or []) == o["drop_reasons"]
    n = max(len(want), 1)
    return {
        "keep_f1": _f1(tp, fp, fn),
        "text_exact_frac": text_ok / n,
        "score_agree_frac": score_ok / n,
        "reasons_agree_frac": reasons_ok / n,
        "violations": violations,
        "bad_docs": missing + dup + extra,
    }
