"""Full-text search: inverted index + MATCH...AGAINST with BM25/TF-IDF.

Reference semantics (SURVEY §2.8 fulltext):
- Inverted index tables of (token, doc_id, tf) built by
  fulltext_index_tokenize (table_function/fulltext_tokenize.go).
- Scoring (pkg/fulltext/fulltext.go:208-232, constants types.go:19-20):
    TFIDF: score = tf * idf²,  idf = log10(N / df)
    BM25:  score = idf² * tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
           k1 = 1.5, b = 0.75   (fulltext.go:222)
  (note: the reference squares a log10 idf in BOTH modes — nonstandard but
  it's the parity target.)
- NATURAL LANGUAGE MODE: sum of per-term scores over matched terms.
- BOOLEAN MODE: +term required (EvalPlusPlus AND), -term forbidden, bare
  term optional (fulltext.go pattern eval).
- Planner rewrite plan/apply_indices_fulltext.go turns MATCH...AGAINST into
  an index join — here: score-join against the inverted-index DataFrame.

Scale: the inverted index is a DataFrame keyed by token — at 100 TB it is
written bucketed by token so a query's term lookup is a bucket-pruned scan;
scoring is a broadcast of the (tiny) term stats + one aggregation by doc.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, IntegerType, StringType, StructField, StructType

from matrixone_spark.functions import _strict, arrow_udf
from matrixone_spark.functions.text import tokenize_mixed_pos_py, tokenize_positions_sql
from matrixone_spark.matcache import PERSISTED_CAPACITY, MaterializationCache
from matrixone_spark.operators import fulltext_pattern as fp

# (app id, corpus semantic hash, id col, text col, mode) → built index,
# rebuilt when the corpus' input files change. Bounded: a long-lived session
# building many corpora must not accumulate persisted postings in executor
# storage memory — evicted entries are unpersisted (blocking=False: scoring
# plans already materialized keep their results; only the cached blocks are
# dropped).
_INDEX_CACHE = MaterializationCache(PERSISTED_CAPACITY, release=lambda idx: idx.unpersist())

BM25_K1 = 1.5  # reference pkg/fulltext/types.go:19
BM25_B = 0.75  # reference pkg/fulltext/types.go:20


def _k_mixed_pos(text):
    return tokenize_mixed_pos_py(str(text))


# text → array<struct<token,pos>> via tokenize_mixed_pos_py (CJK-aware,
# rune offsets)
_mixed_pos_udf = arrow_udf(
    _strict(_k_mixed_pos),
    ArrayType(StructType([StructField("token", StringType()), StructField("pos", IntegerType())])),
)


class FullTextIndex:
    """Inverted index over (doc_id, text): postings (doc_id, token, tf) +
    positional postings (doc_id, token, pos) + doc lengths + corpus stats."""

    def __init__(
        self,
        postings: DataFrame,
        doc_stats: DataFrame,
        n_docs: int,
        avg_dl: float,
        postings_pos: "DataFrame | None" = None,
        mode: str = "simple",
    ):
        self.postings = postings          # doc_id, token, tf
        self.postings_pos = postings_pos  # doc_id, token, pos (phrase search)
        self.doc_stats = doc_stats        # doc_id, dl (token count)
        self.n_docs = n_docs
        # Mean doc length, materialized at build (r12): n_docs already forces
        # one index-stats job; avg_dl rides the same aggregate for free. As a
        # plan literal it removes a per-query single-partition agg + broadcast
        # + BroadcastNestedLoopJoin from every BM25 scoring plan (the 1-row
        # frame was re-aggregated from doc_stats on each query). sum(dl) is
        # exact long arithmetic, so the double it yields is deterministic.
        self.avg_dl = avg_dl
        self.mode = mode                  # tokenizer the postings were built with

    @classmethod
    def build(cls, docs: DataFrame, id_col: str, text_col: str, mode: str = "simple") -> "FullTextIndex":
        """Build postings in ONE tokenize pass: positional postings come from
        posexplode-style offset tokenization, tf-postings and doc lengths
        derive from them (re-aggregations of the small index, not second
        scans of the corpus), and avg_dl stays a lazy 1-row frame broadcast
        into the scoring plan instead of an eager collect. Only n_docs is
        materialized (a parquet metadata count). At 100 TB the postings
        frames are the things you persist bucketed by token; everything else
        here derives from them.

        Positions are the token's char offset in the lowered text — the
        analogue of the reference index's BytePos (fulltext_index_tokenize;
        identical for ASCII corpora), which SqlPhrase's anchor grouping
        consumes for phrase matching.

        ``mode='mixed'`` tokenizes through the CJK-aware SimpleTokenizer
        parity path (functions/text.py tokenize_mixed_pos_py: latin words +
        overlapping CJK rune trigrams INCLUDING the shrinking tail windows,
        reference monlp/tokenizer/simple.go outputCJK) with RUNE-offset
        positions — deltas agree with the reference's BytePos scheme, so
        phrase adjacency (incl. across breaker runes) is exact. The mixed
        positional tokenizer is an Arrow-batched row kernel (state-machine
        tokenization doesn't decompose into Catalyst primitives without
        nested-HOF planning blowups); at 100 TB the postings are built once
        at ingest and persisted bucketed by token."""
        if mode in ("mixed", "dict"):
            if mode == "dict":
                # dictionary-mode CJK (the reference's jieba tokenizer path;
                # functions/cjk_dict.py is the clean-room max-prob segmenter)
                from matrixone_spark.functions.cjk_dict import tokenize_dict_pos

                tok_expr = tokenize_dict_pos(F.col(text_col))
            else:
                tok_expr = _mixed_pos_udf(F.col(text_col))
            postings_pos = docs.select(
                F.col(id_col).alias("doc_id"),
                F.explode(tok_expr).alias("tk"),
            ).select(
                "doc_id", F.col("tk.token").alias("token"), F.col("tk.pos").alias("pos")
            )
            postings = postings_pos.groupBy("doc_id", "token").agg(
                F.count(F.lit(1)).alias("tf")
            )
        else:
            toks = docs.select(
                F.col(id_col).alias("doc_id"),
                F.explode(F.expr(tokenize_positions_sql(text_col))).alias("tk"),
            )
            postings_pos = toks.select(
                "doc_id", F.col("tk.token").alias("token"), F.col("tk.pos").alias("pos")
            )
            postings = postings_pos.groupBy("doc_id", "token").agg(
                F.count(F.lit(1)).alias("tf")
            )
        doc_stats = postings.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
        # N = documents with at least one token: an all-NULL/empty doc is
        # not in the reference's index and does not dilute idf. One job
        # yields both corpus stats (count + mean length).
        n_docs, avg_dl = doc_stats.agg(F.count(F.lit(1)), F.avg("dl")).first()
        # empty corpus: avg over zero rows is NULL — scoring is moot when
        # n_docs == 0, but float(None) would fail the BUILD (r12 advice)
        return cls(
            postings,
            doc_stats,
            n_docs,
            float(avg_dl) if avg_dl is not None else 0.0,
            postings_pos,
            mode=mode,
        )

    @classmethod
    def build_cached(cls, docs: DataFrame, id_col: str, text_col: str, mode: str = "simple") -> "FullTextIndex":
        """Build-once index per corpus, postings persisted.

        Reference parity: MATCH...AGAINST probes a persistent fulltext
        index created ahead of time (CREATE FULLTEXT INDEX →
        fulltext_index_scan TVF, plan/apply_indices_fulltext.go) — it never
        re-tokenizes the corpus per query. The scoring plan references the
        postings three times (term probe, doc lengths, corpus avg); without
        persistence Catalyst recomputes the tokenize→explode→groupBy
        subtree for each reference. Keyed by the docs frame's semantic
        hash, so different corpora/sessions coexist; an entry lives until
        evicted or until the corpus' input files change (one small postings
        frame per corpus — a production deployment would persist the
        postings bucketed by token instead)."""

        def build() -> "FullTextIndex":
            idx = cls.build(docs, id_col, text_col, mode=mode)
            idx.postings = idx.postings.persist()
            if idx.postings_pos is not None:
                idx.postings_pos = idx.postings_pos.persist()
            idx.doc_stats = idx.doc_stats.persist()
            return idx

        # the semantic hash names the files, not their contents, so the
        # entry is also checked against the input files' fingerprint
        return _INDEX_CACHE.get(
            docs.sparkSession.sparkContext.applicationId,
            (docs.semanticHash(), id_col, text_col, mode),
            docs.inputFiles(),
            build,
        )

    def unpersist(self) -> None:
        """Release this index's cached executor storage."""
        self.postings.unpersist(blocking=False)
        if self.postings_pos is not None:
            self.postings_pos.unpersist(blocking=False)
        self.doc_stats.unpersist(blocking=False)

    def _scored_terms(self, terms: "list[str]", algo: str) -> DataFrame:
        """Per (doc, term) score for the query terms."""
        t = self.postings.filter(F.col("token").isin([w.lower() for w in terms]))
        # postings hold ONE row per (doc_id, token) by construction, so df =
        # plain count — countDistinct planned an extra expand+exchange here
        df_stats = t.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
        idf = F.log10(F.lit(float(self.n_docs)) / F.col("df"))
        scored = t.join(F.broadcast(df_stats), "token")
        if algo == "tfidf":
            score = F.col("tf") * idf * idf
        elif algo == "bm25":
            scored = scored.join(self.doc_stats, "doc_id")
            tf = F.col("tf")
            denom = tf + BM25_K1 * (1.0 - BM25_B + BM25_B * (F.col("dl") / F.lit(self.avg_dl)))
            score = idf * idf * tf * (BM25_K1 + 1) / denom
        else:
            raise ValueError(f"unknown algo {algo!r}")
        return scored.withColumn("term_score", score)

    def match_nl(self, pattern: str, algo: str = "tfidf") -> DataFrame:
        """NATURAL LANGUAGE MODE over a raw search string — reference
        ParsePatternInNLMode parity (fulltext.go:919-997): the pattern is
        tokenized with the index's tokenizer (mixed/CJK-aware); the whole
        pattern or any token shorter than the ngram size (3 runes) probes
        as a PREFIX (STAR rewrite, `word*`), longer tokens probe exact;
        score = Σ tf·idf² (TFIDF) or BM25 over matched terms. Returns
        (doc_id, score)."""
        from matrixone_spark.functions.text import nl_query_leaves_py

        pattern = pattern.strip()
        if not pattern:
            # reference: "Invalid input search string. search string
            # converted to empty pattern"
            raise ValueError("search string converted to empty pattern")
        if self.mode == "dict":
            # dictionary-mode query tokenization: each segmented word probes
            # EXACT (a dict word is the index unit); sub-3-char latin tokens
            # keep the prefix rewrite for parity with the ngram floor
            from matrixone_spark.functions.cjk_dict import cut_mixed_dict_pos

            # NOTE on HMM: the reference enables HMM new-word discovery at
            # QUERY time only (jieba.go:70-75). Emulating it by pairing
            # unknown single runes (cjk_dict._pair_singles) reproduces the
            # one golden that depends on it ('版一、二冊' matches nothing)
            # but regresses every query whose vocabulary OUR dictionary
            # lacks and gojieba's has (the pair probes miss the index's
            # word postings) — so the emulation stays opt-in and the
            # documented stance remains dictionary-coverage, not HMM.
            leaves = [
                ("star" if (t.isascii() and len(t) < 3) else "eq", t, off)
                for t, off in cut_mixed_dict_pos(pattern)
            ]
            if not leaves:
                raise ValueError("search string converted to empty pattern")
        elif len(pattern) < 3:
            leaves = [("star", pattern.lower(), 0)]
        else:
            leaves = nl_query_leaves_py(pattern)
            if not leaves:
                raise ValueError("search string converted to empty pattern")
        if len(leaves) > 1:
            # multi-token NL is a POSITIONAL PHRASE over the tokens, not a
            # bag-of-words sum: patternToSql routes FULLTEXT_NL through
            # SqlPhrase (sql.go:577), so "is red" only matches docs where
            # the tokens sit at the query's rune-offset deltas; df is the
            # phrase document frequency and score = n_tokens·idf²·tf_part.
            # Pinned by the round-8 golden count: phrase fails 14 reference
            # golden rows, a bag-of-words sum (Σ tf·idf²) fails 24.
            kids = [
                fp.Pattern(
                    op=fp.STAR if kind == "star" else fp.TEXT,
                    text=(t + "*") if kind == "star" else t,
                    position=off,
                    index=i,
                )
                for i, (kind, t, off) in enumerate(leaves)
            ]
            ph = fp.Pattern(op=fp.PHRASE, text=pattern, children=kids)
            return self._match_phrase(ph, algo)
        frames = []
        for i, (kind, t, _off) in enumerate(leaves):
            cond = (
                F.col("token").startswith(t) if kind == "star" else F.col("token") == t
            )
            frames.append(
                self.postings.filter(cond)
                .groupBy("doc_id")
                .agg(F.sum("tf").alias("tf"))
                .withColumn("__i", F.lit(i))
            )
        u = frames[0]
        for f in frames[1:]:
            u = u.unionByName(f)
        dfs = u.groupBy("__i").agg(F.count(F.lit(1)).alias("df"))
        scored = u.join(F.broadcast(dfs), "__i")
        idf = F.log10(F.lit(float(self.n_docs)) / F.col("df"))
        if algo == "tfidf":
            score = F.col("tf") * idf * idf
        elif algo == "bm25":
            scored = scored.join(self.doc_stats, "doc_id")
            tf = F.col("tf")
            denom = tf + BM25_K1 * (1.0 - BM25_B + BM25_B * (F.col("dl") / F.lit(self.avg_dl)))
            score = idf * idf * tf * (BM25_K1 + 1) / denom
        else:
            raise ValueError(f"unknown algo {algo!r}")
        return (
            scored.withColumn("term_score", score)
            .groupBy("doc_id")
            .agg(F.round(F.sum("term_score"), 6).alias("score"))
        )

    def match_natural(self, terms: "list[str]", algo: str = "bm25") -> DataFrame:
        """NATURAL LANGUAGE MODE: Σ term scores per doc (fulltext.go EvalLeaf
        summed over the pattern's terms). Returns (doc_id, score)."""
        return (
            self._scored_terms(terms, algo)
            .groupBy("doc_id")
            .agg(F.round(F.sum("term_score"), 6).alias("score"))
        )

    def match_boolean(
        self,
        required: "list[str]",
        forbidden: "list[str]",
        optional: "list[str]",
        algo: str = "bm25",
    ) -> DataFrame:
        """BOOLEAN MODE (+term / -term / term): required = semi-join per term,
        forbidden = anti-join, optional contributes score only."""
        docs = self.doc_stats.select("doc_id")
        for term in required:
            hits = self.postings.filter(F.col("token") == term.lower()).select("doc_id")
            docs = docs.join(hits, "doc_id", "left_semi")
        for term in forbidden:
            hits = self.postings.filter(F.col("token") == term.lower()).select("doc_id")
            docs = docs.join(hits, "doc_id", "left_anti")
        score_terms = required + optional
        scored = self._scored_terms(score_terms, algo).groupBy("doc_id").agg(
            F.round(F.sum("term_score"), 6).alias("score")
        )
        return docs.join(scored, "doc_id", "left").fillna({"score": 0.0})

    # ---------------------------------------------- full boolean grammar

    @staticmethod
    def _leaf_cond(leaf) -> "F.Column":
        """Postings probe for one leaf: equality, or prefix for `word*`
        (reference sql.go prefix_eq, sql.go:222)."""
        if leaf.op == fp.STAR:
            return F.col("token").startswith(leaf.text.rstrip("*").lower())
        return F.col("token") == leaf.text.lower()

    def _leaf_probe(self, leaf) -> "F.Column | None":
        """Single-token postings predicate for a leaf (equality or prefix),
        or None when the leaf re-tokenizes into a positional phrase over
        several index tokens (CJK word over a trigram/dict index) and needs
        the per-leaf anchor-grouping frame from _leaf_docs. Probe-able
        leaves fuse into ONE shared scan of the postings in match_pattern
        instead of one scan + distinct exchange per leaf."""
        if leaf.op == fp.STAR:
            return self._leaf_cond(leaf)
        if self.mode == "mixed":
            from matrixone_spark.functions.text import nl_query_leaves_py

            sub = nl_query_leaves_py(leaf.text)
        elif self.mode == "dict":
            from matrixone_spark.functions.cjk_dict import cut_mixed_dict_pos

            sub = [("eq", t, off) for t, off in cut_mixed_dict_pos(leaf.text)]
        else:
            sub = None
        if not sub or (
            len(sub) == 1 and sub[0][0] == "eq" and sub[0][1] == leaf.text.lower()
        ):
            return F.col("token") == leaf.text.lower()
        return None

    def _leaf_docs(self, leaf) -> DataFrame:
        """Distinct docs matching one boolean leaf. A TEXT word that
        re-tokenizes into several index tokens (a CJK word over the trigram
        index) matches docs where the tokens sit at the query's rune-offset
        deltas — the reference's GenTextSql runs each boolean TEXT word
        through ParsePatternInNLMode and SqlPhrase (sql.go:168-189), so a
        Chinese keyword is a positional phrase of its trigrams; tokens
        shorter than the 3-rune ngram floor probe as prefixes."""
        if leaf.op == fp.STAR:
            return (
                self.postings.filter(self._leaf_cond(leaf)).select("doc_id").distinct()
            )
        leaves = None
        if self.mode == "mixed":
            from matrixone_spark.functions.text import nl_query_leaves_py

            leaves = nl_query_leaves_py(leaf.text)
        elif self.mode == "dict":
            from matrixone_spark.functions.cjk_dict import cut_mixed_dict_pos

            leaves = [("eq", t, off) for t, off in cut_mixed_dict_pos(leaf.text)]
        if not leaves or (
            len(leaves) == 1 and leaves[0][0] == "eq" and leaves[0][1] == leaf.text.lower()
        ):
            return (
                self.postings.filter(F.col("token") == leaf.text.lower())
                .select("doc_id")
                .distinct()
            )
        base = leaves[0][2]
        conds = []
        for kind, t, off in leaves:
            cond = F.col("token").startswith(t) if kind == "star" else F.col("token") == t
            conds.append((cond, off - base))
        # one shared postings_pos scan (see _match_phrase)
        anchors = F.array_compact(
            F.array(
                *[F.when(cond, F.col("pos") - F.lit(rel)) for cond, rel in conds]
            )
        )
        u = self.postings_pos.select("doc_id", F.explode(anchors).alias("anchor"))
        return (
            u.groupBy("doc_id", "anchor")
            .agg(F.count(F.lit(1)).alias("k"))
            .filter(F.col("k") == len(conds))
            .select("doc_id")
            .distinct()
        )

    def _bm25_tf1(self):
        """BM25 tf-part with tf=1 (boolean mode ignores occurrence counts,
        sql.go GROUP BY doc_id): (k1+1) / (1 + k1·(1−b+b·dl/avgdl))."""
        return (BM25_K1 + 1.0) / (
            1.0 + BM25_K1 * (1.0 - BM25_B + BM25_B * (F.col("dl") / F.lit(self.avg_dl)))
        )

    def match_pattern(self, pattern: str, algo: str = "bm25") -> DataFrame:
        """Full BOOLEAN MODE search string: +/- required/forbidden, bare
        optional, `word*` prefix wildcard, < > ~ weight modifiers, (groups),
        and whole-string "quoted phrases" — the reference grammar
        (pkg/fulltext/types.go:128-135, eval fulltext.go:381-510). Returns
        (doc_id, score). Plan shape: one union of per-leaf postings probes,
        a broadcast per-leaf df join, one pivot aggregation by doc, then a
        single Column-expression fold — no per-doc Python."""
        ps = fp.parse_boolean(pattern)
        if ps[0].op == fp.PHRASE:
            return self._match_phrase(ps[0], algo)
        lvs = fp.leaves(ps)
        n = len(lvs)
        # Leaves answerable by a single-token predicate share ONE scan of
        # the postings: per row, the array of leaf indices whose predicate
        # the token satisfies, exploded (empty array = non-matching row,
        # dropped by the explode). The previous form planned one postings
        # scan + distinct exchange PER leaf and unioned them — n scans and
        # n shuffles where the data supports one of each. A doc-level
        # distinct is only needed when a prefix leaf exists (several tokens
        # of one doc can share a prefix; equality leaves are unique per
        # (doc_id, token) by postings construction).
        probe_conds: "list[tuple[int, F.Column, bool]]" = []
        frames = []
        for i, leaf in enumerate(lvs):
            cond = self._leaf_probe(leaf)
            if cond is not None:
                probe_conds.append((i, cond, leaf.op == fp.STAR))
            else:
                frames.append(self._leaf_docs(leaf).withColumn("__idx", F.lit(i)))
        if probe_conds:
            hits = F.array_compact(
                F.array(*[F.when(cond, F.lit(i)) for i, cond, _ in probe_conds])
            )
            probed = self.postings.select("doc_id", F.explode(hits).alias("__idx"))
            if any(star for _, _, star in probe_conds):
                probed = probed.distinct()
            frames.insert(0, probed)
        u = frames[0]
        for f in frames[1:]:
            u = u.unionByName(f)
        # per-leaf document frequency: tiny (n_leaves rows), broadcast back
        dfs = u.groupBy("__idx").agg(F.count(F.lit(1)).alias("__df"))
        u = u.join(F.broadcast(dfs), "__idx")
        wide = u.groupBy("doc_id").agg(
            *[
                F.max(F.when(F.col("__idx") == i, F.lit(1))).alias(f"__m{i}")
                for i in range(n)
            ],
            *[
                F.max(F.when(F.col("__idx") == i, F.col("__df"))).alias(f"__df{i}")
                for i in range(n)
            ],
        )
        if algo == "bm25":
            wide = wide.join(self.doc_stats, "doc_id")
            tf_part = self._bm25_tf1()
        elif algo == "tfidf":
            tf_part = F.lit(1.0)  # boolean mode: tf = 1
        else:
            raise ValueError(f"unknown algo {algo!r}")
        matched, scores = [], []
        for i in range(n):
            idf = F.log10(F.lit(float(self.n_docs)) / F.col(f"__df{i}"))
            matched.append(F.col(f"__m{i}").isNotNull())
            scores.append(
                F.when(F.col(f"__m{i}").isNotNull(), idf * idf * tf_part).otherwise(
                    F.lit(0.0)
                )
            )
        inc, score = fp.eval_columns(ps, matched, scores)
        return (
            wide.withColumn("__inc", inc)
            .withColumn("score", F.round(score, 6))
            .filter(F.col("__inc"))
            .select("doc_id", "score")
        )

    def _match_phrase(self, ph, algo: str) -> DataFrame:
        """Whole-pattern "w1 w2 …" phrase (boolean mode): every word present
        at pos = anchor + (its char offset − first word's offset) for one
        common anchor — the reference's linear anchor-grouping form
        (sql.go SqlPhrase), collapsed to one row per doc. Scoring mirrors
        the TVF's phrase path (table_function/fulltext.go:805-828): docvec
        dummy-filled 1 per keyword, df = docs matching the PHRASE, so
        score = n_children · idf² · tf_part(tf=1)."""
        if self.postings_pos is None:
            raise ValueError("phrase search requires positional postings")
        kids = ph.children
        base = kids[0].position
        # dict mode: a phrase "word" may itself be a CJK run that the
        # dictionary segments into several index tokens ('我来到' → 我/
        # 来到, gojieba.sql srcph) — expand it into positional sub-leaves
        # at the word's offset so the anchor-grouping sees every token
        probes: "list[tuple[F.Column, int]]" = []
        for c in kids:
            if self.mode == "dict" and c.op == fp.TEXT:
                from matrixone_spark.functions.cjk_dict import cut_mixed_dict_pos

                subs = cut_mixed_dict_pos(c.text)
                if subs:
                    sb = subs[0][1]
                    for t, off in subs:
                        probes.append(
                            (F.col("token") == t,
                             (c.position - base) + (off - sb))
                        )
                    continue
            probes.append((self._leaf_cond(c), c.position - base))
        # One shared scan of the positional postings: per row, the array of
        # candidate anchors (pos − rel) for every probe the token satisfies,
        # exploded — the per-probe filter+union form scanned postings_pos
        # once per phrase word (guide: scan/shuffle less, same rows out).
        anchors = F.array_compact(
            F.array(
                *[F.when(cond, F.col("pos") - F.lit(rel)) for cond, rel in probes]
            )
        )
        u = self.postings_pos.select("doc_id", F.explode(anchors).alias("anchor"))
        docs = (
            u.groupBy("doc_id", "anchor")
            .agg(F.count(F.lit(1)).alias("k"))
            .filter(F.col("k") == len(probes))
            .select("doc_id")
            .distinct()
        )
        stats = docs.agg(F.count(F.lit(1)).alias("__df"))
        scored = docs.crossJoin(F.broadcast(stats))
        idf = F.log10(F.lit(float(self.n_docs)) / F.col("__df"))
        if algo == "bm25":
            scored = scored.join(self.doc_stats, "doc_id")
            tf_part = self._bm25_tf1()
        elif algo == "tfidf":
            tf_part = F.lit(1.0)
        else:
            raise ValueError(f"unknown algo {algo!r}")
        score = F.lit(float(len(kids))) * idf * idf * tf_part
        return scored.select("doc_id", F.round(score, 6).alias("score"))
