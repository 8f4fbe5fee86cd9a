"""Text analysis functions for LLM-data pipelines — all JVM-side expressions.

Beyond the reference's own surface (north-star LLM-pipeline ops): language ID
heuristic, quality scoring, token counting, document fingerprinting. Designed
for 100 TB document tables: every function is a pure column expression
(split/regexp/aggregate) — no Python in the hot path.

Tokenizer parity note: the reference's default fulltext tokenizer lowercases
and splits on non-alphanumerics (pkg/fulltext/ tokenizer; jieba only for CJK).

One form per function: each ``*_sql(col_sql, ...)`` builder renders its
expression as one SQL string over a column name (or any SQL expression
producing the text). Callers put the strings into ``selectExpr``/``F.expr``,
so a plan build costs one JVM parse call per projection instead of a py4j
round-trip per Column-API node. The scorers (token count, token length,
stopword hits, quality) are regex/string expressions directly on the text —
codegen-able, no per-row token array; see the equivalence note above
``token_count_rx_sql``. Queries that need several scorers over the same text
stage the shared primitives in their own projection and compose over the
columns (``quality_score_sql``, ``lang_guess_sql``).
"""

from __future__ import annotations

import unicodedata
from typing import Iterator

from pyspark.sql import Column
from pyspark.sql import functions as F

_TOKEN_SPLIT = r"[^a-z0-9]+"


def _sql_str(s: str) -> str:
    """``s`` as a Spark SQL string literal (the parser unescapes backslashes)."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def tokenize(col_sql: str, mode: str = "simple") -> Column:
    """``mode='simple'``: lower + split on non-alphanumerics, drop empties
    (fulltext tokenizer parity, pkg/fulltext/ — the ASCII fast path).
    ``mode='mixed'``: the reference SimpleTokenizer's full CJK behavior
    (see tokenize_mixed_sql). ``mode='dict'``: dictionary-mode Chinese word
    segmentation — the reference's jieba tokenizer path
    (pkg/monlp/tokenizer, jieba_test.go) re-done as a clean-room
    max-probability segmenter (functions/cjk_dict.py)."""
    if mode == "dict":
        from matrixone_spark.functions.cjk_dict import tokenize_dict

        return tokenize_dict(col_sql)
    return F.expr(tokenize_mixed_sql(col_sql) if mode == "mixed" else tokenize_sql(col_sql))


def tokenize_sql(col_sql: str) -> str:
    """Simple-mode tokenize: non-empty pieces of lower(text) split on
    non-alphanumerics."""
    return f"filter(split(lower({col_sql}), '{_TOKEN_SPLIT}'), t -> t != '')"


# Breakers, reference monlp/tokenizer/simple.go isBreakerRune: ASCII
# non-alphanumerics; above ASCII, punctuation/space (we add \p{C} controls —
# harmless widening). Latin class = token chars < U+0800 (1-2 byte UTF-8,
# simple.go isLatin); CJK class = token chars >= U+0800.
_MIXED_BREAKER = r"[\x00-\x2f\x3a-\x40\x5b-\x60\x7b-\x7f\p{P}\p{Z}\p{C}]"
_CJK_CLASS = r"[\u0800-\uffff]"
_LATIN_CLASS = r"[0-9a-z\u0080-\u07ff]"


def tokenize_mixed_sql(col_sql: str) -> str:
    """CJK-aware tokenizer — clean-room implementation of the reference's
    default (non-jieba) SimpleTokenizer (pkg/monlp/tokenizer/simple.go:
    beginToken/latinToken/cjkToken state machine; used by the fulltext
    index build and ParsePatternInNLMode, pkg/fulltext/fulltext.go:919):

    - text splits into runs at breaker chars and at latin<->CJK script
      boundaries;
    - latin runs (runes < U+0800) emit one lowercased token;
    - CJK runs emit OVERLAPPING RUNE TRIGRAMS (simple.go outputCJK slides a
      3-rune window by 1) INCLUDING the shrinking tail windows — a run of n
      runes yields n tokens, the last two of length 2 and 1 (outputCJK's
      loop keeps emitting while ia < id as the window collapses at the run
      end) — so Chinese fulltext/dedup work without a dictionary.

    Pure Catalyst: two boundary regexp passes + split + a transform/flatten
    over runs; no Python in the hot path, safe to fuse into a 100 TB scan.
    Supplementary-plane codepoints (outside the BMP) ride through as
    surrogate pairs and may split mid-pair inside a trigram — a documented
    divergence (the reference BVT corpus is BMP)."""
    s = f"regexp_replace(lower({col_sql}), {_sql_str(_MIXED_BREAKER)}, ' ')"
    s = f"regexp_replace({s}, {_sql_str(f'(?<={_LATIN_CLASS})(?={_CJK_CLASS})')}, ' ')"
    s = f"regexp_replace({s}, {_sql_str(f'(?<={_CJK_CLASS})(?={_LATIN_CLASS})')}, ' ')"
    # substring clips each trigram window at the run end
    tri = "transform(sequence(1, length(run)), i -> substring(run, i, 3))"
    return (
        f"flatten(transform(filter(split({s}, ' +'), t -> t != ''),"
        f" run -> CASE WHEN run RLIKE {_sql_str('^' + _CJK_CLASS)} THEN {tri}"
        f" ELSE array(run) END))"
    )


def _klass(ch: str) -> int:
    """0 breaker, 1 latin, 2 cjk — the driver-side mirror of the classes
    above."""
    o = ord(ch)
    if o < 128:
        return 1 if ch.isalnum() else 0
    if unicodedata.category(ch)[0] in ("P", "Z", "C"):
        return 0
    return 1 if o < 0x800 else 2


def _runs(text: str) -> "Iterator[tuple[int, str, int]]":
    """(class, run, rune offset) for each maximal latin or CJK run of
    lower(text); breakers separate runs and yield nothing."""
    run_k, run_start = 0, 0
    low = text.lower()
    for pos, ch in enumerate(low):
        k = _klass(ch)
        if k != run_k:
            if run_k:
                yield run_k, low[run_start:pos], run_start
            run_k, run_start = k, pos
    if run_k:
        yield run_k, low[run_start:], run_start


def tokenize_mixed_py(text: str) -> "list[str]":
    """Driver-side mirror of tokenize_mixed_sql for QUERY strings (the
    analogue of ParsePatternInNLMode's tokenize-the-pattern step): tiny
    inputs, so a character-walk keeps the two sides in lockstep — gated
    against the Spark form in tests."""
    return [tok for tok, _ in tokenize_mixed_pos_py(text)]


def tokenize_mixed_pos_py(text: str) -> "list[tuple[str, int]]":
    """Index-side positional mixed tokenization: (token, RUNE offset) pairs,
    INCLUDING the shrinking CJK tail windows — mirrors simple.go outputCJK
    exactly (BytePos there; rune offsets here: deltas agree because every
    BMP CJK rune is 3 bytes and every breaker is one rune, so both schemes
    scale the same span)."""
    out: "list[tuple[str, int]]" = []
    for k, w, start in _runs(text):
        if k == 2:
            out.extend((w[i : i + 3], start + i) for i in range(len(w)))
        else:
            out.append((w, start))
    return out


def nl_query_leaves_py(pattern: str) -> "list[tuple[str, str, int]]":
    """Query-side NATURAL LANGUAGE tokenization (ParsePatternInNLMode,
    fulltext.go:919): (kind, token, rune_offset) — CJK runs contribute FULL
    trigrams only (no tail windows; the reference's overlap handling folds
    them away), runs/words shorter than the 3-rune ngram floor become
    prefix STAR leaves. Offsets are rune offsets so phrase-adjacency deltas
    agree with the index side."""
    out: "list[tuple[str, str, int]]" = []
    for k, w, start in _runs(pattern):
        if k == 2 and len(w) >= 3:
            out.extend(("eq", w[i : i + 3], start + i) for i in range(len(w) - 2))
        elif len(w) < 3:
            out.append(("star", w, start))
        else:
            out.append(("eq", w, start))
    return out


def tokenize_positions_sql(col_sql: str) -> str:
    """Tokens with their char offsets: array<struct<token,pos>>.

    Pure Catalyst (no Python UDF): every non-alphanumeric char is replaced
    1:1 by a space (offsets preserved), split on single spaces keeps empty
    elements for runs of separators, and an aggregate fold assigns each
    element its cumulative start offset, keeping only non-empty tokens.
    The offset is the reference fulltext index's BytePos analogue
    (fulltext_index_tokenize) — identical for ASCII text; SqlPhrase-style
    phrase matching anchors on it."""
    parts = f"split(regexp_replace(lower({col_sql}), '[^a-z0-9]', ' '), ' ', -1)"
    zero = "struct(0 AS off, CAST(array() AS array<struct<token:string,pos:int>>) AS acc)"
    step = (
        "(acc, x) -> struct((acc.off + length(x)) + 1 AS off,"
        " CASE WHEN x != '' THEN concat(acc.acc,"
        " array(struct(x AS token, CAST(acc.off AS INT) AS pos)))"
        " ELSE acc.acc END AS acc)"
    )
    return f"aggregate({parts}, {zero}, {step}, acc -> acc.acc)"


def char_count_sql(col_sql: str) -> str:
    return f"length({col_sql})"


def punct_ratio_sql(col_sql: str) -> str:
    """Fraction of characters that are not alphanumeric/space."""
    return (
        f"CASE WHEN length({col_sql}) > 0"
        f" THEN length(regexp_replace({col_sql}, '[A-Za-z0-9 ]', ''))"
        f" / length({col_sql}) ELSE 0.0D END"
    )


# Tiny per-language stopword signatures (deterministic heuristic; the driver
# data's langs: en es fr de zh with pseudo-words — signatures configurable).
DEFAULT_STOPWORDS: dict = {
    "en": ("the", "a", "of", "and", "is"),
    "es": ("el", "la", "de", "y", "es"),
    "fr": ("le", "la", "et", "un", "est"),
    "de": ("der", "die", "und", "ein", "ist"),
}


# ---------------------------------------------------------------------------
# Regex-count scorers (guide §1.2 "per-task work").
#
# Token-array forms of these scorers desugar to higher-order functions
# (ArrayFilter / ArrayAggregate / lambdafunction), which are CodegenFallback
# in Spark — ONE such expression kicks the whole Filter/Project operator out
# of whole-stage codegen, so a scan-stage quality/langid gate over a document
# corpus would run interpreted AND materialize a full token array per metric
# per row. The builders below compute the same values as plain regex/string
# expressions directly on the text column: codegen-able end to end, no
# per-row array allocation.
#
# Equivalence argument (pinned against a pure-Python token spec in
# tests/test_textops.py):
# tokenize() = non-empty pieces of split(lower(text), '[^a-z0-9]+') — i.e.
# the maximal [a-z0-9]+ runs of lower(text). Therefore
#   * token count        == regexp_count(lower, '[a-z0-9]+')
#   * sum of token chars == length(regexp_replace(lower, '[^a-z0-9]+', ''))
#     (an aggregate() fold adding integer lengths into a double one token at
#     a time has every partial sum an integer < 2^53, so it equals the
#     integer total exactly, in any order)
#   * count of tokens equal to a stopword == regexp_count with lookaround
#     boundaries (?<![a-z0-9])word(?![a-z0-9]): a match must cover a whole
#     maximal run, so there is at most one per token and every matching
#     token is counted; stopwords are [a-z]+ so no match spans a separator.
# Null text: size() of a NULL token array is -1 under legacy (non-ANSI)
# semantics; coalesce(.., -1) preserves that exactly.
#
# The strings spell double literals with a `D` suffix — bare `0.4` parses
# as DECIMAL in Spark SQL.
# ---------------------------------------------------------------------------


def token_count_rx_sql(col_sql: str) -> str:
    return f"coalesce(regexp_count(lower({col_sql}), '[a-z0-9]+'), -1)"


def sum_token_len_rx_sql(col_sql: str) -> str:
    """Total alphanumeric chars of lower(col) == sum of token lengths."""
    return f"length(regexp_replace(lower({col_sql}), '[^a-z0-9]+', ''))"


def _avg_token_len_sql(n_sql: str, sum_sql: str) -> str:
    return (
        f"CASE WHEN {n_sql} > 0 THEN CAST({sum_sql} AS DOUBLE)"
        f" / CAST({n_sql} AS DOUBLE) ELSE 0.0D END"
    )


def avg_token_len_rx_sql(col_sql: str) -> str:
    return _avg_token_len_sql(token_count_rx_sql(col_sql), sum_token_len_rx_sql(col_sql))


def _stopword_patt(lang: str, stopwords: "dict | None") -> str:
    sw = (stopwords or DEFAULT_STOPWORDS)[lang]
    return (
        "(?<![a-z0-9])(?:"
        + "|".join(sorted(sw, key=len, reverse=True))
        + ")(?![a-z0-9])"
    )


def lang_score_rx_sql(col_sql: str, lang: str, stopwords: "dict | None" = None) -> str:
    """Stopword-token count via one lookaround-bounded alternation pass
    (longest-first so e.g. 'and' is not shadowed by 'a' before the boundary
    check backtracks)."""
    return (
        f"coalesce(regexp_count(lower({col_sql}),"
        f" '{_stopword_patt(lang, stopwords)}'), -1)"
    )


def lang_guess_sql(scores: dict) -> str:
    """Argmax language over its stopword-hit counts, given as a
    ``{lang: SQL operand}`` map; 'und' when no signature fires. The first
    language (alphabetical) wins ties — mirrored in the oracle SQL. Like
    ``quality_score_sql``, each operand is referenced several times, so
    callers that can keep the scores in a separate projection should pass
    their column NAMES."""
    langs = sorted(scores)
    best = "greatest(" + ", ".join(scores[lang] for lang in langs) + ")"
    expr = "'und'"
    for lang in reversed(langs):
        expr = (
            f"CASE WHEN (({scores[lang]}) = {best}) AND ({best} > 0)"
            f" THEN '{lang}' ELSE {expr} END"
        )
    return expr


def lang_guess_rx_sql(col_sql: str, stopwords: "dict | None" = None) -> str:
    sw = stopwords or DEFAULT_STOPWORDS
    return lang_guess_sql({lang: lang_score_rx_sql(col_sql, lang, sw) for lang in sw})


def quality_score_sql(n_sql: str, sum_sql: str, pr_sql: str) -> str:
    """Composite [0,1] quality heuristic: length band + word shape + low
    punct, over its three primitives (token count, total token chars, punct
    ratio) given as SQL operands. Callers that can keep the primitives in a
    separate projection should, passing the column NAMES: referencing them
    as columns instead of inlining the regex subtrees avoids re-evaluation
    where codegen subexpression elimination cannot hoist them out of CASE
    branches (measured −34% executor time on text_quality_filter;
    CollapseProject keeps the split because the aliases are non-cheap and
    multi-referenced). A projection does not keep the split under a Filter
    on the score: predicate pushdown substitutes the aliases back into the
    predicate, and a FilterExec has no subexpression elimination, so every
    reference re-runs its regex. Gated callers stage the primitives in an
    operator the predicate cannot move below — a one-row
    ``inline(array(struct(...)))`` generator (pipeline_clean_corpus)."""
    atl = _avg_token_len_sql(n_sql, sum_sql)
    len_ok = f"CASE WHEN ({n_sql} >= 20) AND ({n_sql} <= 1000) THEN 1.0D ELSE 0.4D END"
    shape_ok = (
        f"CASE WHEN (({atl}) >= 3) AND (({atl}) <= 10) THEN 1.0D ELSE 0.5D END"
    )
    clean = f"(1.0D - least(({pr_sql}) * 5, 1.0D))"
    return f"round((({len_ok} + {shape_ok}) + {clean}) / 3, 6)"


def quality_score_rx_sql(col_sql: str) -> str:
    return quality_score_sql(
        token_count_rx_sql(col_sql), sum_token_len_rx_sql(col_sql), punct_ratio_sql(col_sql)
    )


def fingerprint_sql(col_sql: str) -> str:
    """Order-insensitive content fingerprint: md5 over sorted distinct tokens
    (document fingerprinting for near-dup bucketing)."""
    return (
        f"md5(array_join(array_sort(array_distinct({tokenize_sql(col_sql)})), ' '))"
    )
