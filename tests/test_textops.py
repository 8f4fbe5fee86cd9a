"""Text builders in functions/text.py: the SQL-string scorers, tokenizer,
fingerprint and shingles must equal an independent pure-Python spec, and
the scan stages of the queries using them must stay free of
CodegenFallback higher-order functions."""

from __future__ import annotations

import hashlib
import re
from decimal import ROUND_HALF_UP, Decimal

from pyspark.sql import functions as F

import matrixone_spark.functions.text as T
from matrixone_spark.obs import executed_plan, final_plan
from matrixone_spark.queries import load_all
from tests.conftest import SF_DIR

# unicode, empties, digits, consecutive stopwords, boundary punctuation,
# null, case-folding expansions (İ lowers to i + combining dot)
NASTY = [
    "", "the the the", "a", "and123 and 123and the-a.of,is",
    "der die und ein ist", "el la de y es", "le la et un est",
    "The A OF And IS", "  punct!!! ###  ", "mixé café naïve",
    "İstanbul DER Üben", "word " * 30, "supercalifragilistic " * 25,
    "a1b2c3 x y z the of and is a", "la la la", None,
    "0 1 2 3 4 5 6 7 8 9 the", "...is...", "is", "thèse the",
    "of is", "is is", "a a a and", "est--est", "y\ty\ny",
]


def _tokens(s):
    return re.findall("[a-z0-9]+", s.lower())


def _spark_round6(x: float) -> float:
    # Spark's round(double, 6): HALF_UP over the double's shortest decimal
    # form, not Python's round-half-even over its binary value
    return float(Decimal(repr(x)).quantize(Decimal("1e-6"), rounding=ROUND_HALF_UP))


def _spec(s, n_shingle=3):
    """Pure-Python reference for the text scorers: tokens are the maximal
    [a-z0-9]+ runs of str.lower(); counts are -1 on NULL (legacy size of
    NULL); language is argmax over stopword hits, alphabetical tie-break."""
    langs = sorted(T.DEFAULT_STOPWORDS)
    if s is None:
        n, total, scores, toks, shingles, fp = -1, None, {g: -1 for g in langs}, None, [], None
        pr = 0.0
    else:
        toks = _tokens(s)
        n, total = len(toks), sum(len(t) for t in toks)
        scores = {g: sum(t in T.DEFAULT_STOPWORDS[g] for t in toks) for g in langs}
        grams = [" ".join(toks[i : i + n_shingle]) for i in range(max(n - n_shingle, 0) + 1)]
        shingles = list(dict.fromkeys(grams)) if n >= n_shingle else []
        fp = hashlib.md5(" ".join(sorted(set(toks))).encode()).hexdigest()
        kept = re.sub("[A-Za-z0-9 ]", "", s)
        pr = len(kept) / len(s) if len(s) > 0 else 0.0
    avg = total / n if n > 0 else 0.0
    best = max(scores.values())
    guess = next(g for g in langs if scores[g] == best) if best > 0 else "und"
    len_ok = 1.0 if 20 <= n <= 1000 else 0.4
    shape_ok = 1.0 if 3 <= avg <= 10 else 0.5
    clean = 1.0 - min(pr * 5, 1.0)
    quality = _spark_round6(((len_ok + shape_ok) + clean) / 3)
    return {
        "toks": toks, "n": n, "sum": total, "avg": avg, "pr": pr, "guess": guess,
        "q": quality, "fp": fp, "sh": shingles,
        **{f"lang_{g}": scores[g] for g in langs},
    }


def test_text_builders_match_python_spec(spark):
    from matrixone_spark.operators.dedup import word_shingles_sql

    df = spark.createDataFrame([(t,) for t in NASTY], "text string")
    langs = sorted(T.DEFAULT_STOPWORDS)
    exprs = {
        "toks": T.tokenize_sql("text"),
        "n": T.token_count_rx_sql("text"),
        "sum": T.sum_token_len_rx_sql("text"),
        "avg": T.avg_token_len_rx_sql("text"),
        "pr": T.punct_ratio_sql("text"),
        "guess": T.lang_guess_rx_sql("text"),
        "q": T.quality_score_rx_sql("text"),
        "fp": T.fingerprint_sql("text"),
        "sh": word_shingles_sql("text", 3),
        **{f"lang_{g}": T.lang_score_rx_sql("text", g) for g in langs},
    }
    rows = df.select("text", *[F.expr(e).alias(k) for k, e in exprs.items()]).collect()
    assert len(rows) == len(NASTY)
    for r in rows:
        want = _spec(r.text)
        for k in exprs:
            assert r[k] == want[k], (k, r.text, r[k], want[k])


def test_pipeline_scan_stage_codegen(spark):
    """The one-row generator that evaluates the regex primitives and the
    quality/langid gate Filter above it must both sit inside whole-stage
    codegen (`*(n)`) and hold no lambdafunction (CodegenFallback) — the
    only higher-order expressions left in the plan are the survivors-only
    fingerprint projection."""
    final = final_plan(load_all()["pipeline_clean_corpus"].fn(spark, SF_DIR))
    ops = {}
    for line in final.splitlines():
        op = line.lstrip().lstrip("+-: ")
        # regexp_count desugars to size(regexp_extract_all)
        if "Generate inline(" in op and "regexp_extract_all" in op:
            ops["primitives"] = op
        # the gate reads the staged English stopword score
        if re.match(r"(\*\(\d+\) )?Filter ", op) and "_sw_en" in op:
            ops["gate"] = op
    assert set(ops) == {"primitives", "gate"}, final[:3000]
    for what, op in ops.items():
        assert op.startswith("*("), (what, op[:300])
        assert "lambdafunction" not in op, (what, op[:300])


def test_token_stats_no_higher_order_functions(spark):
    plan = executed_plan(load_all()["text_token_stats"].fn(spark, SF_DIR))
    assert "lambdafunction" not in plan, plan[:2000]
