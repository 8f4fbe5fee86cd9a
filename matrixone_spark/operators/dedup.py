"""Deduplication operators for LLM-data pipelines.

Beyond the reference's own surface (its dedup machinery is OLTP-side:
FuzzyFilter bloom+exact pk checks colexec/fuzzyfilter/filter.go:201, DedupJoin
colexec/dedupjoin/join.go:188 — batch analogue per SURVEY §2.1). The pipeline
operators here are the standard large-corpus techniques:

- exact: hash-groupBy on content digest (one shuffle on the digest —
  FuzzyFilter's exact path at batch scale).
- n-gram Jaccard: word-shingle overlap via explode + pair-count — exact, the
  oracle-checkable core.
- MinHash+LSH: per-doc signature of num_perm minimum token hashes
  (xxhash64(token, seed_i)), banded into buckets; candidate pairs share a
  band bucket; exact-Jaccard verification after. Self-join cost drops from
  O(n²) to Σ bucket².  All JVM expressions.
- SimHash: 64-bit sign-of-weighted-bit-sums over token hashes; near-dups =
  signatures within Hamming distance k.

Scale: every operator shuffles on content-derived keys (digest / shingle /
band bucket / simhash prefix) — no driver-side state, no O(n²) stage except
the explicitly-bounded verification joins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from matrixone_spark.functions.text import tokenize, tokenize_sql


def exact_dedup(df: DataFrame, content_col: str, id_col: str) -> DataFrame:
    """Keep the lowest-id row per exact content digest.

    min_by(whole row, id) under a digest groupBy instead of a window
    row_number: the window form shuffles EVERY row and sorts each digest
    partition; the aggregate form runs a map-side partial min_by, so each
    map task ships at most one candidate row per digest and the reduce side
    needs no sort (guide §2.3 "aggregate before you shuffle"). On a dup-heavy
    corpus the shuffle shrinks by the duplication factor; identical rows kept
    (id is the unique orderBy key, so min_by's winner is the window's row 1).
    """
    digest = F.md5(F.col(content_col))
    cols = df.columns
    return (
        df.withColumn("_digest", digest)
        .groupBy("_digest")
        .agg(F.min_by(F.struct(*cols), F.col(id_col)).alias("_row"))
        .select("_row.*")
    )


def word_shingles_sql(col_sql: str, n: int = 3) -> str:
    """Distinct word n-grams of a text column (array expression).

    The token array is bound once, as the single element an outer
    ``transform`` maps over: lambda bodies are interpreted per element and
    get no subexpression elimination, so a tokenize subtree inside the
    n-gram lambda would re-split the document once per shingle."""
    grams = (
        f"transform(sequence(0, greatest(size(w) - {n}, 0)),"
        f" i -> array_join(slice(w, i + 1, {n}), ' '))"
    )
    return (
        f"transform(array({tokenize_sql(col_sql)}), w -> array_distinct("
        f"CASE WHEN size(w) >= {n} THEN {grams} ELSE array() END))[0]"
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    max_posting_len: "int | None" = None,
) -> DataFrame:
    """Exact Jaccard similarity over word n-gram shingle sets; pairs ≥ threshold.

    Shuffle plan (2 shuffles, no self-join): explode shingles → groupBy
    shingle collecting the sorted posting list → expand each posting list to
    its id pairs with a pure array expression → groupBy pair (intersection
    counts) → broadcast set sizes. Posting-list pair expansion beats the
    shingle self-join: the quadratic blowup happens inside one projection
    instead of a join shuffle, and single-doc shingles drop with a size
    filter instead of a separate semi-join pass.

    Scale note (100 TB): a stop-shingle shared by k docs expands to k²/2
    pairs in one task. ``max_posting_len`` bounds that: shingles whose
    posting list exceeds the cap are dropped before expansion, so no task
    expands more than cap²/2 pairs per shingle. Ultra-common shingles carry
    no near-dup signal, and dropping one can only shrink an intersection
    count — capped output pairs are always a SUBSET of the uncapped output
    (property-tested in tests/test_dedup.py), biased toward missing pairs
    whose overlap rode on corpus-wide boilerplate. None = exact (the oracle
    gate runs uncapped).
    """
    # r12 shape: carry each doc's shingle-set SIZE through the explode so the
    # posting lists hold (doc_id, sz) structs. The previous form derived sizes
    # from a SECOND scan+tokenize pass over the corpus and attached them with
    # two broadcast joins after pair counting; at 100 TB that second pass is a
    # full corpus re-read (Spark shares no subtrees), and the broadcasts cap
    # out at the 8 GB relation limit long before the corpus does. Cost: +8
    # bytes per (shingle, doc) shuffle row; win: 1 scan instead of 2, one
    # tokenize pass, 2 exchanges instead of 4, zero broadcast joins
    # (guide §2.3 "shuffle keys and metadata instead of payloads", §2.4).
    # array_sort over (doc_id, sz) structs orders by doc_id first (doc_id is
    # unique within a posting list), so pair order matches the old
    # array_sort(collect_list(doc_id)) exactly.
    # r13 (guide §5, driver work): the chain below is built from SQL strings
    # parsed JVM-side — the Column-API form cost ~250 py4j round-trips of
    # driver-side Python latency per plan build; identical expression trees
    # (plan-diff-verified).
    # explode_outer + IS NOT NULL instead of explode: the optimizer infers a
    # `size(_sh) > 0` filter for a plain explode of a column and pushes it
    # below the projection, inlining the whole shingle expression into the
    # scan Filter, which evaluates it a second time per row. The outer form
    # infers nothing, and a predicate on the generated column cannot move
    # below the Generate. A zero-shingle doc yields one NULL row, dropped.
    sh = (
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.expr(f"{word_shingles_sql(text_col, n)} AS _sh"),
        )
        .selectExpr("doc_id", "size(_sh) AS sz", "explode_outer(_sh) AS shingle")
        .filter("shingle IS NOT NULL")
    )
    posts = (
        sh.groupBy("shingle")
        .agg(F.expr("array_sort(collect_list(struct(doc_id, sz))) AS ids"))
        .filter("size(ids) > 1")
    )
    if max_posting_len is not None:
        posts = posts.filter(f"size(ids) <= {int(max_posting_len)}")
    # pair expansion as two flat generators (posexplode the anchor, explode
    # the tail slice) — same pairs as a nested-transform struct array but a
    # far smaller expression tree, which keeps analysis + codegen cheap
    pairs = posts.select(F.posexplode("ids").alias("_i", "a"), "ids").selectExpr(
        "a", "explode(slice(ids, _i + 2, size(ids))) AS b"
    )
    inter = (
        pairs.selectExpr(
            "a.doc_id AS id_a", "b.doc_id AS id_b", "a.sz AS size_a", "b.sz AS size_b"
        )
        .groupBy("id_a", "id_b")
        .agg(
            F.expr("count(1) AS n_inter"),
            F.expr("min(size_a) AS size_a"),
            F.expr("min(size_b) AS size_b"),
        )
    )
    return (
        inter.withColumn(
            "jaccard",
            F.expr("round(n_inter / ((size_a + size_b) - n_inter), 6)"),
        )
        .filter(f"jaccard >= {float(threshold)!r}D")
        .select("id_a", "id_b", "jaccard")
    )


def minhash_signatures(
    docs: DataFrame, id_col: str, text_col: str, num_perm: int = 32, shingle_n: int = 3
) -> DataFrame:
    """Per-doc MinHash signature: min over shingles of xxhash64(shingle, seed_i).

    Shape: explode shingles → one groupBy(doc) with num_perm JVM min
    aggregates → pack into an array. The array_min(transform(...)) × num_perm
    alternative inlines the whole shingle derivation into every permutation
    (Catalyst collapses the projection), exploding codegen ~num_perm× — the
    explode/agg form hashes each shingle once per permutation with map-side
    partial mins, which is also the shape that scales (docs never need their
    full shingle array in one task). Docs with zero shingles drop out, which
    is equivalent: an empty set can never reach threshold Jaccard.
    """
    sh = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.expr(word_shingles_sql(text_col, shingle_n))).alias("shingle"),
    )
    # r13 (guide §5, driver work): the per-permutation aggregates are built
    # as SQL strings parsed JVM-side in one call each — the Column-API form
    # cost ~3 py4j round-trips per permutation of pure driver-side Python
    # latency per INVOCATION (measured 1.5→0.3 s build on the 64-agg simhash
    # sibling; expressions parse to the identical plan).
    mins = sh.groupBy("doc_id").agg(
        *[F.expr(f"min(xxhash64(shingle, {i})) AS _h{i}") for i in range(num_perm)]
    )
    sig = ", ".join(f"_h{i}" for i in range(num_perm))
    return mins.selectExpr("doc_id", f"array({sig}) AS signature")


def minhash_lsh_pairs(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    num_perm: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    threshold: float = 0.5,
    max_bucket_len: "int | None" = None,
) -> DataFrame:
    """MinHash-LSH candidate pairs + exact-Jaccard verification.

    bands of rows=num_perm/bands; P(candidate) = 1-(1-j^rows)^bands — with
    32 perms / 8 bands (rows=4), j=0.5 → ~0.42 per band, ≥0.98 overall.
    Verification keeps only true pairs, so precision is exact; recall is the
    LSH tradeoff (pytest-checked against the exact operator).

    r13 shape (guide §2.4, §3, §5): ONE tokenize pass (shingle sets
    checkpointed, feeding signatures and verification), candidates from
    per-(band, bucket) posting lists — the shape that won for ngram/simhash
    in r12 — instead of a banded self-join, and verification streams the
    corpus shingle sets ONCE past a broadcast of the unpivoted candidate
    ids. The r12 plan broadcast the banded frame (|docs|×bands rows) for the
    self-join AND the full shingle-set frame (the whole tokenized corpus)
    for the two verify joins — both corpus-sized broadcast relations, dead
    at the 8 GB cap long before 100 TB. Now the only broadcast is the
    candidate id list, and the only corpus-keyed exchanges are the signature
    aggregation and the bucket grouping. The candidate `.distinct()` is gone
    too: the verify regroup by (id_a, id_b) already collapses a pair that
    fires in several bands.

    ``max_bucket_len`` mirrors ngram's ``max_posting_len`` (§2.5 skew): a
    boilerplate cluster shares all bands, so one bucket can hold the whole
    cluster and expand k²/2 pairs in one task. Buckets over the cap are
    dropped whole before expansion; capped output is a strict SUBSET of
    uncapped. None = exact (the declared query runs uncapped).
    """
    # ONE tokenize pass for the whole operator: the shingle sets are
    # materialized once (localCheckpoint, MEMORY_AND_DISK) and feed BOTH the
    # signature aggregation (min over the distinct set == min over the
    # multiset) and the verification join. The r12 shape tokenized the corpus
    # twice — once under the signature agg, once (with a redundant second
    # array_distinct on top) under the verify broadcast — and Spark shares no
    # subtrees across them. Re-measured with the once-per-row shingle
    # builder (perfbench seed-1 corpus, sf0.02, local[3] on 4 vCPUs, 3
    # interleaved processes of 9 warm runs each): keeping the checkpoint
    # gives a median wall of 0.71-0.72 s and 135-157 ms operator ERT;
    # dropping it gives 0.79-0.98 s and 201-280 ms, since the shingle sets
    # are then built twice. (The older "−35% ERT at sf1" was measured with
    # a builder that re-split each document per shingle.) Memory note
    # (§5): the checkpoint holds doc_id + shingle set, about the tokenized
    # corpus size, spilling to disk past storage memory; the trade is one
    # full corpus re-read + re-tokenize against that footprint, and the
    # blocks die with the DataFrame (per-invocation, nothing crosses runs).
    sets = docs.select(
        F.col(id_col).alias("doc_id"),
        F.expr(word_shingles_sql(text_col, shingle_n)).alias("sh_set"),
    ).localCheckpoint()
    sh = sets.select("doc_id", F.explode("sh_set").alias("shingle"))
    # r13 (guide §5, driver work): the per-permutation min-aggregates and the
    # band-struct array are built as SQL strings parsed JVM-side in one call
    # each — the Column-API form cost ~200 py4j round-trips of driver-side
    # Python latency per INVOCATION (same fix as the signature builders;
    # expressions parse to the identical plan).
    mins = sh.groupBy("doc_id").agg(
        *[F.expr(f"min(xxhash64(shingle, {i})) AS _h{i}") for i in range(num_perm)]
    )
    rows = num_perm // bands
    band_structs = ", ".join(
        "named_struct('band', {b}, 'bucket', xxhash64({hs}))".format(
            b=b, hs=", ".join(f"_h{b * rows + r}" for r in range(rows))
        )
        for b in range(bands)
    )
    banded = mins.selectExpr(
        "doc_id", f"explode(array({band_structs})) AS bb"
    ).select("doc_id", "bb.band", "bb.bucket")
    posts = (
        banded.groupBy("band", "bucket")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    if max_bucket_len is not None:
        posts = posts.filter(F.size("ids") <= max_bucket_len)
    candidates = posts.select(F.posexplode("ids").alias("_i", "id_a"), "ids").select(
        "id_a", F.explode(F.slice("ids", F.col("_i") + 2, F.size("ids"))).alias("id_b")
    )
    # exact verification on the candidate set only: unpivot each pair into
    # (id_a, id_b, doc_id) rows, broadcast those few skinny rows, stream the
    # corpus sets past them once, and regroup by pair — work scales with
    # |candidates|, not |all pairs| (that asymmetry is the point of LSH), and
    # no corpus-sized relation is ever built or broadcast
    tagged = candidates.selectExpr(
        "id_a", "id_b", "explode(array(id_a, id_b)) AS doc_id"
    )
    joined = F.broadcast(tagged).join(sets, "doc_id")
    per_pair = joined.groupBy("id_a", "id_b").agg(
        F.expr("first(CASE WHEN doc_id = id_a THEN sh_set END, true) AS set_a"),
        F.expr("first(CASE WHEN doc_id = id_b THEN sh_set END, true) AS set_b"),
    )
    n_inter = "size(array_intersect(set_a, set_b))"
    return (
        per_pair.withColumn(
            "jaccard",
            F.expr(
                f"round({n_inter} / ((size(set_a) + size(set_b)) - {n_inter}), 6)"
            ),
        )
        .filter(f"jaccard >= {float(threshold)!r}D")
        .select("id_a", "id_b", "jaccard")
    )


def simhash_signatures(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-doc SimHash-64: sign of per-bit weighted sums over token hashes,
    via explode → one groupBy with 64 conditional-sum aggregates (the sum
    over token ±1 votes is commutative). Exploding first avoids inlining the
    tokenizer into all 64 fold expressions — same codegen-explosion fix and
    map-side partial-agg scale shape as ``minhash_signatures``. Docs with
    zero tokens drop out (a no-token doc has no similarity signal)."""
    toks = docs.select(
        F.col(id_col).alias("doc_id"), F.explode(tokenize(text_col)).alias("_t")
    )
    # r13 (guide §5, driver work): SQL-string expressions instead of the
    # Column API — the 64 conditional-sum aggregates plus the 64-term bit
    # reconstruction cost ~800 py4j round-trips (~1.5 s of driver-side
    # Python) per INVOCATION just to BUILD the DataFrame; F.expr parses
    # JVM-side in one call per aggregate (measured build 1.7→0.3 s, plan
    # and signatures bit-identical — shiftleft(1L, i) constant-folds to the
    # same masks, including Long.MIN for bit 63).
    sums = toks.groupBy("doc_id").agg(
        *[
            F.expr(
                f"sum(CASE WHEN (xxhash64(_t) & shiftleft(CAST(1 AS BIGINT), {i}))"
                f" != 0 THEN 1 ELSE -1 END) AS _b{i}"
            )
            for i in range(64)
        ]
    )
    out = " + ".join(
        f"(CASE WHEN _b{i} > 0 THEN shiftleft(CAST(1 AS BIGINT), {i})"
        f" ELSE CAST(0 AS BIGINT) END)"
        for i in range(64)
    )
    return sums.selectExpr("doc_id", f"({out}) AS sh")


def simhash_pairs(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    max_block_len: "int | None" = None,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ k. Blocked on the top-16
    bit prefix to avoid O(n²) (prefix-equal is a necessary condition only for
    tight thresholds — documented recall tradeoff).

    Skew bound (guide §2.5): the block key is content-derived, so a
    boilerplate-heavy corpus can concentrate docs into few blocks, and each
    block materializes as ONE collect_list array in an aggregation buffer
    (worst case: all n docs share a block → one n-sized array of (id, sh)
    structs ≈ 16n bytes in a single buffer, then n²/2 expanded pairs in one
    task). ``max_block_len`` mirrors ngram's ``max_posting_len``: blocks
    larger than the cap are dropped before expansion, bounding any buffer to
    cap structs and any task's expansion to cap²/2 pairs per block. Capped
    output is a strict SUBSET of uncapped (pairs lost are those inside
    over-full blocks — near-identical boilerplate clusters a real pipeline
    handles with exact dedup first). None = exact (the declared query runs
    uncapped; the gate pins subset semantics)."""
    s = simhash_signatures(docs, id_col, text_col)
    s = s.withColumn("block", F.shiftrightunsigned("sh", 48))
    # Pair expansion through per-block posting lists (the ngram_jaccard_pairs
    # shape) instead of a self-join: the join form referenced the signature
    # subtree twice (Spark shares no subtrees), recomputing the tokenize +
    # explode + 64-aggregate pass for each side. One groupBy(block) with
    # array_sort(collect_list(struct(doc_id, sh))) computes signatures once;
    # doc_id-sorted structs make the upper triangle (a < b) by slice
    # position, same pairs as the join + id_a<id_b filter. Block arrays are
    # bounded by max_block_len when set (see above), else by 16-bit-prefix
    # block cardinality.
    posts = (
        s.groupBy("block")
        .agg(F.array_sort(F.collect_list(F.struct("doc_id", "sh"))).alias("items"))
        .filter(F.size("items") > 1)
    )
    if max_block_len is not None:
        posts = posts.filter(F.size("items") <= max_block_len)
    pairs = posts.select(F.posexplode("items").alias("_i", "a"), "items").select(
        "a", F.explode(F.slice("items", F.col("_i") + 2, F.size("items"))).alias("b")
    )
    return (
        pairs.select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            F.bit_count(F.col("a.sh").bitwiseXOR(F.col("b.sh"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )


def connected_components(
    nodes: DataFrame, edges: DataFrame, max_iter: int = 50
) -> DataFrame:
    """Connected components by min-label propagation: every node converges
    to the smallest node id reachable from it. Input: nodes(node),
    edges(src, dst) — treated as undirected. Output: (node, component).

    This is the dedup-clustering step of a training pipeline: near-dup
    PAIRS (MinHash/ngram output) become canonical GROUPS (keep
    component == node, drop the rest). Each iteration is one distributed
    join+min-agg; convergence takes O(component diameter) rounds — near-dup
    graphs are shallow (dup clusters are cliques or stars), so a handful.
    localCheckpoint per round truncates lineage, the classic driver-loop
    failure mode at scale. The large-star/small-star variant halves rounds
    on adversarial chains; min-propagation keeps the plan to one shuffle
    per round and is the textbook batch form.

    Reference: the reference resolves duplicates pairwise at ingest
    (fuzzyfilter/filter.go); grouping transitive dup chains is the batch
    generalization the reference leaves to the user.
    """
    # r12 round shape (guide §2.4, §1.2): one join + one aggregation per
    # round instead of two joins + one aggregation + a convergence join.
    # - propagate: (sym ⋈ labels on b=node) emits each node's neighbor
    #   components; unionAll with the labels themselves and a single
    #   min-aggregate computes least(own, min(neighbors)) directly — the
    #   old nbr_min groupBy THEN left-join-back is a second shuffle of the
    #   full label set per round.
    # - convergence: the old/new compare join is replaced by carrying the
    #   old component through the same aggregate (min over the _own-flagged
    #   row) and filtering the checkpointed result — a re-scan of in-memory
    #   blocks, zero extra shuffles.
    # - sym is repartitioned on the join key ONCE before its checkpoint, so
    #   at scale each round re-shuffles only the (shrinking-entropy) label
    #   frame, not the static edge list.
    sym = edges.select(F.col("src").alias("a"), F.col("dst").alias("b")).unionAll(
        edges.select(F.col("dst").alias("a"), F.col("src").alias("b"))
    )
    sym = sym.repartition("b").localCheckpoint(eager=True)
    labels = nodes.select(F.col("node"), F.col("node").alias("component"))
    labels = labels.localCheckpoint(eager=True)
    for _ in range(max_iter):
        prop = sym.join(labels, sym.b == labels.node).select(
            F.col("a").alias("node"), "component", F.lit(False).alias("_own")
        )
        merged = prop.unionAll(
            labels.select("node", "component", F.lit(True).alias("_own"))
        )
        new_labels = (
            merged.groupBy("node")
            .agg(
                F.min("component").alias("component"),
                F.min(F.when(F.col("_own"), F.col("component"))).alias("_old"),
            )
            .localCheckpoint(eager=True)
        )
        changed = new_labels.filter(F.col("component") != F.col("_old")).isEmpty()
        labels = new_labels.select("node", "component")
        if changed:
            return labels
    raise RuntimeError(f"components did not converge in {max_iter} rounds")
