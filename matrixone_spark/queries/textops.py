"""Text analysis + full-text search coverage over the documents table.

Reference: fulltext MATCH...AGAINST (parser tree/expr.go:1920, scoring
pkg/fulltext/fulltext.go:208-232, BM25 constants types.go:19-20, planner
rewrite plan/apply_indices_fulltext.go); LLM-pipeline text ops are north-star
additions (language-ID, quality scoring, token stats, fingerprinting).

Oracle notes: tokenization = lower + split non-alphanumerics, identical in
DuckDB (string_split_regex) and Spark (F.split) → exact token parity; BM25
scores rounded to 6dp on both sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from matrixone_spark.catalog import Catalog
from matrixone_spark.functions import text as T
from matrixone_spark.operators.fulltext import FullTextIndex
from matrixone_spark.queries import register

_TOKS_SQL = "list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')"


@register(
    "text_token_stats",
    oracle=f"""
SELECT doc_id,
       CAST(len({_TOKS_SQL}) AS INT) AS n_tokens,
       LENGTH(text) AS n_chars_calc,
       ROUND(CASE WHEN len({_TOKS_SQL}) > 0
             THEN list_sum(list_transform({_TOKS_SQL}, x -> CAST(LENGTH(x) AS DOUBLE))) / len({_TOKS_SQL})
             ELSE 0.0 END, 6) AS avg_tok_len,
       ROUND(CASE WHEN LENGTH(text) > 0
             THEN CAST(LENGTH(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g')) AS DOUBLE) / LENGTH(text)
             ELSE 0.0 END, 6) AS punct_ratio
FROM documents
""",
    tags=("text", "bench"),
    doc="Token counting + quality inputs (LLM-pipeline text analysis): token count, char count, avg token length, punctuation ratio — all JVM-side expressions.",
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = Catalog(spark, sf_dir).table("documents")
    # regex-count scorers (functions/text.py): no token-array
    # materialization, whole-stage codegen kept
    return d.selectExpr(
        "doc_id",
        f"{T.token_count_rx_sql('text')} AS n_tokens",
        f"{T.char_count_sql('text')} AS n_chars_calc",
        f"round({T.avg_token_len_rx_sql('text')}, 6) AS avg_tok_len",
        f"round({T.punct_ratio_sql('text')}, 6) AS punct_ratio",
    )


_LANGS = ("de", "en", "es", "fr")
_SW_SQL = {
    "en": "['the','a','of','and','is']",
    "es": "['el','la','de','y','es']",
    "fr": "['le','la','et','un','est']",
    "de": "['der','die','und','ein','ist']",
}
_SCORE_SQL = {
    lang: f"len(list_filter({_TOKS_SQL}, x -> list_contains({_SW_SQL[lang]}, x)))"
    for lang in _LANGS
}
_BEST_SQL = "GREATEST(" + ",".join(_SCORE_SQL[lang] for lang in _LANGS) + ")"


@register(
    "text_lang_guess",
    oracle=f"""
SELECT lang AS actual_lang,
       CASE
         {' '.join(f"WHEN {_SCORE_SQL[lang]} = {_BEST_SQL} AND {_BEST_SQL} > 0 THEN '{lang}'" for lang in _LANGS)}
         ELSE 'und' END AS guessed,
       COUNT(*) AS n
FROM documents
GROUP BY 1, 2
""",
    tags=("text",),
    doc="Language-ID heuristic (stopword-signature argmax, deterministic tie-break) — confusion matrix vs the labeled lang column.",
)
def text_lang_guess(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = Catalog(spark, sf_dir).table("documents")
    # lookaround-bounded regex stopword counts (see functions/text.py),
    # staged in their own projection; the guess composes over the columns
    scores = d.selectExpr(
        "lang AS actual_lang", *[f"{T.lang_score_rx_sql('text', g)} AS _sw_{g}" for g in _LANGS]
    )
    return (
        scores.selectExpr(
            "actual_lang", f"{T.lang_guess_sql({g: f'_sw_{g}' for g in _LANGS})} AS guessed"
        )
        .groupBy("actual_lang", "guessed")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "text_quality_filter",
    oracle=f"""
WITH scored AS (
  SELECT doc_id, source,
         ROUND((
           (CASE WHEN len({_TOKS_SQL}) BETWEEN 20 AND 1000 THEN 1.0 ELSE 0.4 END)
         + (CASE WHEN (CASE WHEN len({_TOKS_SQL}) > 0
                       THEN list_sum(list_transform({_TOKS_SQL}, x -> CAST(LENGTH(x) AS DOUBLE))) / len({_TOKS_SQL})
                       ELSE 0.0 END) BETWEEN 3 AND 10 THEN 1.0 ELSE 0.5 END)
         + (1.0 - LEAST((CASE WHEN LENGTH(text) > 0
                         THEN CAST(LENGTH(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g')) AS DOUBLE) / LENGTH(text)
                         ELSE 0.0 END) * 5, 1.0))
         ) / 3, 6) AS quality
  FROM documents)
SELECT source, COUNT(*) AS n_docs,
       COUNT(*) FILTER (WHERE quality >= 0.8) AS n_good,
       ROUND(CAST(SUM(CAST(quality AS DECIMAL(10,6))) AS DOUBLE) / COUNT(*), 6) AS mean_quality
FROM scored GROUP BY source
""",
    tags=("text",),
    doc="Quality scoring + filter rates per source (LLM-pipeline quality gate).",
)
def text_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = Catalog(spark, sf_dir).table("documents")
    # regex-count primitives staged in their own projection, composite
    # over the COLUMNS (quality_score_sql docstring has the why: CASE
    # branches defeat codegen subexpr elimination on inlined regex subtrees)
    prim = d.selectExpr(
        "source",
        f"{T.token_count_rx_sql('text')} AS _n",
        f"{T.sum_token_len_rx_sql('text')} AS _s",
        f"{T.punct_ratio_sql('text')} AS _pr",
    )
    scored = prim.selectExpr(
        "source", f"{T.quality_score_sql('_n', '_s', '_pr')} AS quality"
    )
    return scored.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_if(F.col("quality") >= 0.8).alias("n_good"),
        F.round(
            F.sum(F.col("quality").cast("decimal(10,6)")).cast("double") / F.count(F.lit(1)), 6
        ).alias("mean_quality"),
    )


@register(
    "text_fingerprint",
    oracle=f"""
SELECT doc_id,
       md5(array_to_string(list_sort(list_distinct({_TOKS_SQL})), ' ')) AS fp
FROM documents WHERE doc_id < 200
""",
    tags=("text",),
    doc="Order-insensitive document fingerprint (md5 over sorted distinct tokens) for dedup bucketing.",
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = Catalog(spark, sf_dir).table("documents").filter(F.col("doc_id") < 200)
    return d.selectExpr("doc_id", f"{T.fingerprint_sql('text')} AS fp")


_FT_QUERY_TERMS = ["table", "query", "spark"]
_FT_ORACLE = """
WITH postings AS (
  SELECT doc_id, t.token, COUNT(*) AS tf
  FROM (SELECT doc_id, unnest({toks}) AS token FROM documents) t(doc_id, token)
  WHERE t.token IN ({terms})
  GROUP BY doc_id, t.token
), doc_stats AS (
  SELECT doc_id, len({toks}) AS dl FROM documents
), corpus AS (
  SELECT COUNT(*) AS n, AVG(CAST(len({toks}) AS DOUBLE)) AS avg_dl FROM documents
), term_df AS (
  SELECT token, COUNT(DISTINCT doc_id) AS df FROM postings GROUP BY token
)
SELECT p.doc_id,
       ROUND(SUM({score_expr}), 6) AS score
FROM postings p
JOIN term_df d USING (token)
JOIN doc_stats s USING (doc_id)
CROSS JOIN corpus c
GROUP BY p.doc_id
"""


def _ft_oracle(algo: str) -> str:
    toks = _TOKS_SQL
    terms = ",".join(f"'{t}'" for t in _FT_QUERY_TERMS)
    idf = "log10(CAST(c.n AS DOUBLE) / d.df)"
    if algo == "tfidf":
        score = f"p.tf * {idf} * {idf}"
    else:
        score = (
            f"{idf} * {idf} * p.tf * (1.5 + 1) / "
            f"(p.tf + 1.5 * (1.0 - 0.75 + 0.75 * (s.dl / c.avg_dl)))"
        )
    return _FT_ORACLE.format(toks=toks, terms=terms, score_expr=score)


@register(
    "fulltext_natural_bm25",
    oracle=_ft_oracle("bm25"),
    tags=("text", "fulltext", "bench"),
    doc="MATCH(text) AGAINST('table query spark' IN NATURAL LANGUAGE MODE), BM25 scoring (fulltext.go:215-223: score = log10(N/df)² · tf·(k1+1)/(tf + k1·(1−b+b·dl/avgdl)), k1=1.5 b=0.75).",
)
def fulltext_natural_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = Catalog(spark, sf_dir).table("documents")
    idx = FullTextIndex.build_cached(d, "doc_id", "text")
    return idx.match_natural(_FT_QUERY_TERMS, algo="bm25")


@register(
    "fulltext_natural_tfidf",
    oracle=_ft_oracle("tfidf"),
    tags=("text", "fulltext"),
    doc="Same pattern, TF-IDF scoring (fulltext.go:207-213: score = tf · log10(N/df)²).",
)
def fulltext_natural_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = Catalog(spark, sf_dir).table("documents")
    idx = FullTextIndex.build_cached(d, "doc_id", "text")
    return idx.match_natural(_FT_QUERY_TERMS, algo="tfidf")


@register(
    "fulltext_boolean",
    oracle=f"""
WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents)
SELECT doc_id FROM toks
WHERE list_contains(t, 'table') AND list_contains(t, 'query')
  AND NOT list_contains(t, 'slow')
""",
    tags=("text", "fulltext"),
    doc="BOOLEAN MODE '+table +query -slow' (fulltext.go EvalPlusPlus/minus pattern): required → semi-joins, forbidden → anti-join. Doc set only (scores covered by the natural-mode queries).",
)
def fulltext_boolean(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = Catalog(spark, sf_dir).table("documents")
    idx = FullTextIndex.build_cached(d, "doc_id", "text")
    return idx.match_boolean(["table", "query"], ["slow"], [], algo="bm25").select("doc_id")


# --- boolean-mode grammar tail: phrase / wildcard / weights / groups --------
# (reference pattern ops pkg/fulltext/types.go:128-135, eval
# fulltext.go:381-510, SQL lowering sql.go SqlPhrase/GenSql; boolean mode
# scores every leaf with tf=1 — sql.go "in boolean mode, we ignore the word
# occurrence")

_FT_N_SQL = "(SELECT COUNT(*) AS n FROM documents)"


@register(
    "fulltext_boolean_phrase",
    oracle="""
WITH m AS (
  SELECT doc_id FROM documents
  WHERE regexp_matches(lower(text), '(^|[^a-z0-9])data[^a-z0-9]line([^a-z0-9]|$)')
), s AS (SELECT COUNT(*) AS df FROM m), c AS (SELECT COUNT(*) AS n FROM documents)
SELECT m.doc_id,
       ROUND(2 * LOG10(CAST(c.n AS DOUBLE) / s.df) * LOG10(CAST(c.n AS DOUBLE) / s.df), 6) AS score
FROM m, s, c
""",
    tags=("text", "fulltext"),
    doc='MATCH...AGAINST(\'"data line"\' IN BOOLEAN MODE): phrase = anchor-grouped positional match (sql.go SqlPhrase; positions are fulltext_index_tokenize BytePos). Oracle: exact one-separator adjacency regex (pattern offsets data@0 line@5 → separator run of exactly 1 char), df = phrase-matching docs (TVF fulltext.go:805-828 dummy docvec), score = 2·idf².',
)
def fulltext_boolean_phrase(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = Catalog(spark, sf_dir).table("documents")
    idx = FullTextIndex.build_cached(d, "doc_id", "text")
    return idx.match_pattern('"data line"', algo="tfidf")


@register(
    "fulltext_boolean_wildcard",
    oracle=f"""
WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents),
c AS (SELECT COUNT(*) AS n, AVG(CAST(len(t) AS DOUBLE)) AS avg_dl FROM toks),
m AS (SELECT doc_id, CAST(len(t) AS DOUBLE) AS dl,
             len(list_filter(t, x -> x LIKE 'quer%')) > 0 AS m0,
             list_contains(t, 'slow') AS m1,
             len(list_filter(t, x -> x LIKE 'str%')) > 0 AS m2
      FROM toks),
d AS (SELECT SUM(CASE WHEN m0 THEN 1 ELSE 0 END) AS df0,
             SUM(CASE WHEN m2 THEN 1 ELSE 0 END) AS df2 FROM m)
SELECT doc_id,
       ROUND(LOG10(CAST(c.n AS DOUBLE)/d.df0) * LOG10(CAST(c.n AS DOUBLE)/d.df0)
               * (1.5 + 1) / (1 + 1.5 * (1.0 - 0.75 + 0.75 * (m.dl / c.avg_dl)))
           + CASE WHEN m2 THEN
               LOG10(CAST(c.n AS DOUBLE)/d.df2) * LOG10(CAST(c.n AS DOUBLE)/d.df2)
               * (1.5 + 1) / (1 + 1.5 * (1.0 - 0.75 + 0.75 * (m.dl / c.avg_dl)))
             ELSE 0.0 END, 6) AS score
FROM m, d, c WHERE m0 AND NOT m1
""",
    tags=("text", "fulltext"),
    doc="MATCH...AGAINST('+quer* -slow str*' IN BOOLEAN MODE): prefix wildcard probe (sql.go:222 prefix_eq), required/forbidden/optional fold (Eval PlusPlus/Minus/PlusOR), BM25 with tf=1.",
)
def fulltext_boolean_wildcard(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = Catalog(spark, sf_dir).table("documents")
    idx = FullTextIndex.build_cached(d, "doc_id", "text")
    return idx.match_pattern("+quer* -slow str*", algo="bm25")


@register(
    "fulltext_boolean_weights",
    oracle=f"""
WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents),
c AS (SELECT COUNT(*) AS n FROM documents),
m AS (SELECT doc_id,
             list_contains(t, 'table') AS m0,
             list_contains(t, 'query') AS m1,
             list_contains(t, 'spark') AS m2,
             list_contains(t, 'slow')  AS m3
      FROM toks),
d AS (SELECT SUM(CASE WHEN m0 THEN 1 ELSE 0 END) AS df0,
             SUM(CASE WHEN m1 THEN 1 ELSE 0 END) AS df1,
             SUM(CASE WHEN m2 THEN 1 ELSE 0 END) AS df2,
             SUM(CASE WHEN m3 THEN 1 ELSE 0 END) AS df3 FROM m)
SELECT doc_id,
       ROUND(CASE WHEN m0 THEN LOG10(CAST(c.n AS DOUBLE)/d.df0) * LOG10(CAST(c.n AS DOUBLE)/d.df0) ELSE 0.0 END
           + CASE WHEN m1 THEN 0.9 * LOG10(CAST(c.n AS DOUBLE)/d.df1) * LOG10(CAST(c.n AS DOUBLE)/d.df1) ELSE 0.0 END
           + CASE WHEN m2 THEN 1.1 * LOG10(CAST(c.n AS DOUBLE)/d.df2) * LOG10(CAST(c.n AS DOUBLE)/d.df2) ELSE 0.0 END
           + CASE WHEN m3 THEN -1.0 * LOG10(CAST(c.n AS DOUBLE)/d.df3) * LOG10(CAST(c.n AS DOUBLE)/d.df3) ELSE 0.0 END, 6) AS score
FROM m, d, c WHERE m0 OR m1 OR m2 OR m3
""",
    tags=("text", "fulltext"),
    doc="MATCH...AGAINST('table <query >spark ~slow' IN BOOLEAN MODE): weight modifiers 0.9/1.1/−1.0 (fulltext.go GetWeight:343-357), OR-merged (EvalOR), TF-IDF tf=1.",
)
def fulltext_boolean_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = Catalog(spark, sf_dir).table("documents")
    idx = FullTextIndex.build_cached(d, "doc_id", "text")
    return idx.match_pattern("table <query >spark ~slow", algo="tfidf")


@register(
    "fulltext_boolean_group",
    oracle=f"""
WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents),
c AS (SELECT COUNT(*) AS n FROM documents),
m AS (SELECT doc_id,
             list_contains(t, 'table') AS m0,
             list_contains(t, 'query') AS m1,
             list_contains(t, 'spark') AS m2
      FROM toks),
d AS (SELECT SUM(CASE WHEN m0 THEN 1 ELSE 0 END) AS df0,
             SUM(CASE WHEN m1 THEN 1 ELSE 0 END) AS df1,
             SUM(CASE WHEN m2 THEN 1 ELSE 0 END) AS df2 FROM m)
SELECT doc_id,
       ROUND(LOG10(CAST(c.n AS DOUBLE)/d.df0) * LOG10(CAST(c.n AS DOUBLE)/d.df0)
           + CASE
               WHEN m1 AND m2 THEN GREATEST(
                 LOG10(CAST(c.n AS DOUBLE)/d.df1) * LOG10(CAST(c.n AS DOUBLE)/d.df1),
                 LOG10(CAST(c.n AS DOUBLE)/d.df2) * LOG10(CAST(c.n AS DOUBLE)/d.df2))
               WHEN m1 THEN LOG10(CAST(c.n AS DOUBLE)/d.df1) * LOG10(CAST(c.n AS DOUBLE)/d.df1)
               ELSE LOG10(CAST(c.n AS DOUBLE)/d.df2) * LOG10(CAST(c.n AS DOUBLE)/d.df2)
             END, 6) AS score
FROM m, d, c WHERE m0 AND (m1 OR m2)
""",
    tags=("text", "fulltext"),
    doc="MATCH...AGAINST('+table +(query spark)' IN BOOLEAN MODE): group children combine with per-doc MAX (Pattern.Combine fulltext.go:360-377), '+' AND-folds (EvalPlusPlus), TF-IDF tf=1.",
)
def fulltext_boolean_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = Catalog(spark, sf_dir).table("documents")
    idx = FullTextIndex.build_cached(d, "doc_id", "text")
    return idx.match_pattern("+table +(query spark)", algo="tfidf")


# Deterministic Chinese corpus: three 2-char words picked by key arithmetic,
# concatenated WITHOUT separators (real CJK text has none) + a latin tail to
# exercise the script-boundary split. Same expression on both engines.
_CJK_WORDS = ["北京", "大学", "数据", "查询", "分析", "系统", "引擎", "中文"]
_CJK_WORDS_SQL = "[" + ",".join(f"'{w}'" for w in _CJK_WORDS) + "]"


@register(
    "fulltext_cjk",
    oracle=f"""
WITH corpus AS (
  SELECT c_custkey AS doc_id,
         ({_CJK_WORDS_SQL})[(c_custkey % 8) + 1]
      || ({_CJK_WORDS_SQL})[((c_custkey // 8) % 8) + 1]
      || ({_CJK_WORDS_SQL})[((c_custkey // 64) % 8) + 1] AS ctext
  FROM customer WHERE c_custkey <= 800),
posts AS (
  SELECT doc_id, tok, COUNT(*) AS tf
  FROM (SELECT doc_id,
               unnest(list_transform(range(1, 5), i -> substr(ctext, CAST(i AS INT), 3))) AS tok
        FROM corpus) t(doc_id, tok)
  WHERE tok IN ('北京大', '京大学')
  GROUP BY doc_id, tok),
tdf AS (SELECT tok, COUNT(DISTINCT doc_id) AS df FROM posts GROUP BY tok),
nn AS (SELECT COUNT(*) AS n FROM corpus)
SELECT p.doc_id,
       ROUND(SUM(p.tf * LOG10(CAST(nn.n AS DOUBLE)/tdf.df) * LOG10(CAST(nn.n AS DOUBLE)/tdf.df)), 6) AS score
FROM posts p JOIN tdf USING (tok) CROSS JOIN nn
GROUP BY p.doc_id
""",
    tags=("text", "fulltext", "cjk"),
    doc=(
        "Chinese fulltext MATCH...AGAINST in NATURAL LANGUAGE MODE over a "
        "mixed-script corpus: the index builds with the CJK-aware "
        "SimpleTokenizer parity path (overlapping rune trigrams, reference "
        "monlp/tokenizer/simple.go outputCJK; NL-mode query tokenization "
        "fulltext.go:919 ParsePatternInNLMode), query '北京大学' → trigram "
        "terms scored TF-IDF (tf·idf², fulltext.go:208). The oracle "
        "recomputes the trigram postings and scores in DuckDB SQL — a "
        "missed or spurious trigram fails the hash gate. The latin tail in "
        "each doc proves script-boundary splitting contributes no false "
        "trigrams."
    ),
)
def fulltext_cjk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from matrixone_spark.functions.text import tokenize_mixed_py

    c = Catalog(spark, sf_dir).table("customer").filter(F.col("c_custkey") <= 800)
    k = F.col("c_custkey")
    w = F.array(*[F.lit(x) for x in _CJK_WORDS])
    docs = c.select(
        k.alias("doc_id"),
        F.concat(
            F.element_at(w, (k % 8 + 1).cast("int")),
            F.element_at(w, ((k / 8).cast("int") % 8 + 1).cast("int")),
            F.element_at(w, ((k / 64).cast("int") % 8 + 1).cast("int")),
            F.lit(" data"),
            (k % 5).cast("string"),
        ).alias("text"),
    )
    idx = FullTextIndex.build_cached(docs, "doc_id", "text", mode="mixed")
    # term-level probe of the trigram index ('北京大学' full trigrams); the
    # oracle models exactly these two postings probes. (NL-mode phrase
    # semantics over the same index are exercised by the BVT fulltext
    # replay — bvt_runner._rewrite_match / FullTextIndex.match_nl.)
    return idx.match_natural(["北京大", "京大学"], algo="tfidf")


def _cjk_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = Catalog(spark, sf_dir).table("customer").filter(F.col("c_custkey") <= 800)
    k = F.col("c_custkey")
    w = F.array(*[F.lit(x) for x in _CJK_WORDS])
    return c.select(
        k.alias("doc_id"),
        F.concat(
            F.element_at(w, (k % 8 + 1).cast("int")),
            F.element_at(w, ((k / 8).cast("int") % 8 + 1).cast("int")),
            F.element_at(w, ((k / 64).cast("int") % 8 + 1).cast("int")),
            F.lit(" data"),
            (k % 5).cast("string"),
        ).alias("text"),
    )


@register(
    "fulltext_cjk_dict",
    oracle=f"""
WITH corpus AS (
  SELECT c_custkey AS doc_id,
         [({_CJK_WORDS_SQL})[(c_custkey % 8) + 1],
          ({_CJK_WORDS_SQL})[((c_custkey // 8) % 8) + 1],
          ({_CJK_WORDS_SQL})[((c_custkey // 64) % 8) + 1]] AS words
  FROM customer WHERE c_custkey <= 800),
posts AS (
  SELECT doc_id, tok, COUNT(*) AS tf
  FROM (SELECT doc_id, unnest(words) AS tok FROM corpus) t(doc_id, tok)
  WHERE tok IN ('北京', '大学')
  GROUP BY doc_id, tok),
tdf AS (SELECT tok, COUNT(DISTINCT doc_id) AS df FROM posts GROUP BY tok),
nn AS (SELECT COUNT(*) AS n FROM corpus)
SELECT p.doc_id,
       ROUND(SUM(p.tf * LOG10(CAST(nn.n AS DOUBLE)/tdf.df) * LOG10(CAST(nn.n AS DOUBLE)/tdf.df)), 6) AS score
FROM posts p JOIN tdf USING (tok) CROSS JOIN nn
GROUP BY p.doc_id
""",
    tags=("text", "fulltext", "cjk"),
    doc=(
        "Dictionary-mode Chinese fulltext — the reference's jieba tokenizer "
        "path (pkg/monlp/tokenizer, jieba_test.go) as a clean-room "
        "max-probability segmenter (functions/cjk_dict.py). The index "
        "builds with mode='dict' (whole WORDS as tokens, not rune "
        "trigrams); query terms 北京/大学 probe word postings and score "
        "tf·idf² (fulltext.go:208). The oracle knows the corpus "
        "construction (three dictionary words concatenated), so a "
        "mis-segmented run (e.g. picking a cross-boundary word or "
        "single-char fallbacks) changes tf/df and fails the hash gate "
        "end-to-end."
    ),
)
def fulltext_cjk_dict(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _cjk_corpus(spark, sf_dir)
    idx = FullTextIndex.build_cached(docs, "doc_id", "text", mode="dict")
    return idx.match_natural(["北京", "大学"], algo="tfidf")


_QUALITY_SQL = f"""ROUND((
           (CASE WHEN len({_TOKS_SQL}) BETWEEN 20 AND 1000 THEN 1.0 ELSE 0.4 END)
         + (CASE WHEN (CASE WHEN len({_TOKS_SQL}) > 0
                       THEN list_sum(list_transform({_TOKS_SQL}, x -> CAST(LENGTH(x) AS DOUBLE))) / len({_TOKS_SQL})
                       ELSE 0.0 END) BETWEEN 3 AND 10 THEN 1.0 ELSE 0.5 END)
         + (1.0 - LEAST((CASE WHEN LENGTH(text) > 0
                         THEN CAST(LENGTH(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g')) AS DOUBLE) / LENGTH(text)
                         ELSE 0.0 END) * 5, 1.0))
         ) / 3, 6)"""

_GUESS_SQL = (
    "CASE "
    + " ".join(
        f"WHEN {_SCORE_SQL[lang]} = {_BEST_SQL} AND {_BEST_SQL} > 0 THEN '{lang}'"
        for lang in _LANGS
    )
    + " ELSE 'und' END"
)


@register(
    "pipeline_clean_corpus",
    oracle=f"""
WITH scored AS (
  SELECT doc_id, source,
         CAST(len({_TOKS_SQL}) AS INT)                       AS n_tokens,
         {_QUALITY_SQL}                                      AS quality,
         {_GUESS_SQL}                                        AS guessed,
         md5(array_to_string(list_sort(list_distinct({_TOKS_SQL})), ' ')) AS fp
  FROM documents
), kept AS (
  SELECT * FROM scored WHERE quality >= 0.8 AND guessed = 'en'
), dedup AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) AS rn FROM kept
)
SELECT source,
       COUNT(*)                                             AS n_candidates,
       CAST(COUNT(*) FILTER (WHERE rn = 1) AS BIGINT)       AS n_kept,
       CAST(COALESCE(SUM(n_tokens) FILTER (WHERE rn = 1), 0) AS BIGINT) AS tokens_kept
FROM dedup GROUP BY source
""",
    tags=("text", "dedup", "bench"),
    doc=(
        "End-to-end LLM training-data cleaning pipeline in ONE declarative "
        "plan: quality gate (composite score >= 0.8) -> language-ID keep-"
        "English -> exact dedup on order-insensitive content fingerprint "
        "(keep lowest doc_id per fp via window) -> per-source yield stats. "
        "Scale shape: all scoring is JVM expressions inside the scan stage "
        "(one pass, no UDFs), dedup is one shuffle keyed by fingerprint "
        "(uniform md5 distribution — no skew), final rollup is a tiny "
        "agg. This is the composition story: the same registered pieces "
        "(text_quality_filter, text_lang_guess, text_fingerprint, "
        "dedup_exact_keep) fused by Catalyst into a single pipeline."
    ),
)
def pipeline_clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = Catalog(spark, sf_dir).table("documents")
    # Per-task work (guide §1.2): the gate uses the regex-count scorers
    # (functions/text.py) — token-array forms desugar to CodegenFallback
    # higher-order functions, which would kick the gate Filter and the
    # projections out of whole-stage codegen. The seven regex primitives
    # (token count, token chars, punct ratio, four stopword scores) are
    # staged ONCE per row in a one-row inline() generator. A plain
    # projection does not hold them: predicate pushdown moves the gate
    # below it and substitutes the composite scores into the FilterExec,
    # which has no subexpression elimination (26 regexp_extract_all calls
    # per row instead of 5). A predicate on generated columns cannot move
    # below the Generate. Quality and guess compose over the staged
    # columns. Only the fingerprint needs the token array (sorted distinct
    # tokens), and it is computed AFTER the gate, on survivors only.
    # r13 (guide §5, driver work): the projections and the final aggregates
    # are SQL strings (one parse call each) — the Column-API form cost
    # ~1100 py4j round-trips (~0.24 s driver-side Python) per plan build
    prims = ", ".join(
        [
            f"{T.token_count_rx_sql('text')} AS n_tokens",
            f"{T.sum_token_len_rx_sql('text')} AS _s",
            f"{T.punct_ratio_sql('text')} AS _pr",
            *[f"{T.lang_score_rx_sql('text', g)} AS _sw_{g}" for g in _LANGS],
        ]
    )
    scored = d.selectExpr(
        "doc_id", "source", "text", f"inline(array(struct({prims})))"
    ).selectExpr(
        "doc_id",
        "source",
        "n_tokens",
        f"{T.quality_score_sql('n_tokens', '_s', '_pr')} AS quality",
        f"{T.lang_guess_sql({g: f'_sw_{g}' for g in _LANGS})} AS guessed",
        f"{T.fingerprint_sql('text')} AS fp",
    )
    kept = scored.filter("quality >= 0.8D AND guessed = 'en'")
    w = Window.partitionBy("fp").orderBy("doc_id")
    dedup = kept.withColumn("rn", F.row_number().over(w))
    return dedup.groupBy("source").agg(
        F.expr("count(1) AS n_candidates"),
        F.expr("count_if(rn = 1) AS n_kept"),
        F.expr(
            "CAST(coalesce(sum(CASE WHEN rn = 1 THEN n_tokens END), 0) AS BIGINT)"
            " AS tokens_kept"
        ),
    )
