"""Text and training-data queries over the documents table: dedup,
MinHash and SimHash, BPE, tf-idf, language ID, quality filters and
corpus statistics."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..ops.payload import map_rows
from ..skew import spread
from ._common import _drain_confs, _t


def dedup_fingerprint(spark, sf_dir):
    """Exact-dedup machinery: md5 fingerprint of the 8-token prefix."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.withColumn(
            "fp",
            F.md5(F.concat_ws(" ", F.slice(F.split("text", " "), 1, 8))),
        )
        .groupBy("fp")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("keep_doc_id"),
        )
    )


def doc_token_stats(spark, sf_dir):
    """Token counting + quality scoring (length stats)."""
    docs = _t(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    return docs.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_uniq_tokens"),
        F.round(
            (F.length("text") - F.size(toks) + 1).cast("double")
            / F.size(toks).cast("double"),
            6,
        ).alias("avg_token_len"),
    )


_STOPWORDS = ["the", "a", "of", "in", "and"]


def lang_stopword_score(spark, sf_dir):
    """Language-ID heuristic: stopword-hit ratio per document."""
    docs = _t(spark, sf_dir, "documents")
    stop_list = ", ".join(f"'{s}'" for s in _STOPWORDS)
    toks = F.split(F.col("text"), " ")
    n_stop = F.expr(
        f"size(filter(split(text, ' '), x -> x IN ({stop_list})))"
    )
    return docs.select(
        "doc_id",
        "lang",
        n_stop.alias("n_stop"),
        F.round(n_stop.cast("double") / F.size(toks).cast("double"), 6).alias(
            "stop_ratio"
        ),
    )


_MINHASH_SEEDS = ["s1", "s2", "s3", "s4"]


def _minhash_sig_df(docs):
    """Signatures via EXPLODE + codegen aggregation: one shingle row per
    (doc, position), md5 per seed computed whole-stage-codegen'd, then
    a single map-side-combined groupBy(doc).min per seed: the min of
    md5(shingle || seed) over each doc's 12-char shingles at stride 4.
    The hash work runs compiled, not as interpreted HOF lambdas, and
    the shuffle carries one pre-reduced row per (partition, doc)."""
    # explode(sequence) + substring, NOT transform(..., i -> ...): the
    # lambda HOF is interpreted (gotcha 4) — measured 20x slower than
    # this codegen'd form on the shingle paths (r05).  Same rows.
    # r06: spread parallelizes the explode + 4×md5 partial aggregate
    # across cores — the corpus arrives as ONE parquet split, so this
    # md5-dense pre-shuffle stage otherwise runs in a single task
    # (guide §2.5; no-op at scale where the scan is already wide).
    sh = spread(docs, "doc_id").selectExpr(
        "doc_id",
        "text",
        "explode(sequence(1, greatest(length(text) - 11, 1), 4)) AS i",
    ).selectExpr("doc_id", "substring(text, i, 12) AS s")
    return sh.groupBy("doc_id").agg(
        *[
            F.min(F.md5(F.concat(F.col("s"), F.lit(seed)))).alias(f"mh{j + 1}")
            for j, seed in enumerate(_MINHASH_SEEDS)
        ]
    )


def minhash_signatures(spark, sf_dir):
    """MinHash signature per document (md5-ordered, 4 hashes)."""
    docs = _t(spark, sf_dir, "documents")
    return _minhash_sig_df(docs)


def minhash_lsh_pairs(spark, sf_dir):
    """LSH candidate pairs: docs sharing ≥1 of 4 minhash bands.

    Classic shingle→minhash→band→bucket-join, hardened for scale:

    * signatures are computed ONCE and persisted — the self-join's two
      sides read the cache instead of re-evaluating the md5 shingle
      expressions per side;
    * HOT BUCKETS are salted (skew.plan_salts): a boilerplate-heavy
      band value concentrates n docs into one n² join group that AQE
      cannot split (single key).  The probe side gets
      ``salt = pmod(xxhash64(doc_id), n_salt(bucket))`` and the build
      side EXPLODES over all n_salt values, so the join key becomes
      (band, mh, salt), each original pair matches exactly once, and a
      hot bucket (over 8 rows) splits n_salt ways.  Cold buckets keep
      salt 0 — no replication cost.  Result set is hash-identical to the
      unsalted join (oracle-checked).
    """
    from ..skew import plan_salts

    docs = _t(spark, sf_dir, "documents")
    sig = _minhash_sig_df(docs)
    bands = sig.selectExpr(
        "doc_id",
        "stack(4, 1, mh1, 2, mh2, 3, mh3, 4, mh4) AS (band, mh)",
    ).withColumn("bkey", F.concat_ws(":", "band", "mh"))
    from pyspark import StorageLevel

    # DISK_ONLY: signature caches from successive harness queries must
    # not accumulate heap in a default-1g driver session
    bands = bands.persist(StorageLevel.DISK_ONLY)
    hist = bands.groupBy("bkey").agg(F.count(F.lit(1)).alias("n_rows"))
    salts = plan_salts(hist, 8, cell_col="bkey")
    salted = (
        bands.join(F.broadcast(salts), bands.bkey == salts["_salt_cell"], "left")
        .drop("_salt_cell")
        .withColumn("n_salt", F.coalesce(F.col("n_salt"), F.lit(1)))
    )
    probe = salted.withColumn(
        "salt", F.pmod(F.xxhash64("doc_id"), F.col("n_salt")).cast("int")
    )
    build = salted.withColumn(
        "salt", F.explode(F.expr("sequence(0, n_salt - 1)"))
    ).withColumn("salt", F.col("salt").cast("int"))
    a = build.alias("a")
    b = probe.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.mh") == F.col("b.mh"))
            & (F.col("a.salt") == F.col("b.salt")),
        )
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("n_shared_bands"))
    )
    # Materialize the (small) pair set while the signature cache is
    # live, then RELEASE the cache (ADVICE r02: the bands blocks were
    # never unpersisted — repeated invocations in a long-lived big-heap
    # session accumulated disk/heap blocks forever).  The persisted
    # result is bounded (one row per candidate pair, no text/signature
    # payload) and is what the caller consumes.  CONTRACT: the returned
    # DataFrame stays cached for the consumer; a long-lived session
    # re-invoking this should df.unpersist() the previous result (the
    # harness's small-heap _prep clearCache covers driver sweeps).
    pairs = pairs.persist(StorageLevel.DISK_ONLY)
    pairs.count()
    bands.unpersist()
    return pairs


def dedup_exact(spark, sf_dir):
    """Exact dedup stats over full-text md5 (the hash-groupBy dedup)."""
    docs = _t(spark, sf_dir, "documents")
    by_hash = docs.groupBy(F.md5("text").alias("h")).agg(
        F.count(F.lit(1)).alias("n")
    )
    return by_hash.agg(
        F.sum("n").cast("long").alias("n_docs"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.sum(F.when(F.col("n") > 1, 1).otherwise(0)).cast("long").alias("n_dup_groups"),
    )


_SIM_BITS = 60  # keep the packed value in positive int64 for both engines


def simhash60(spark, sf_dir):
    """SimHash over tokens: md5-derived 60 bit-weights, ±1 votes.

    bit i of token-hash = hex digit (i//4) of md5(token), bit (i%4);
    simhash bit i = sign of the vote sum.

    r06 rewrite (guide §2.3 "aggregate before you shuffle" / shuffle
    fewer bytes): the original exploded 60 BIT ROWS PER TOKEN (60·n_tok
    rows through two hash aggregates, each row re-running substring+
    conv on the md5 hex).  Equivalent with zero explosion: the 60 bits
    of a token pack into ONE BIGINT — conv(reverse(15 hex chars)) puts
    hex digit p at bits [4p, 4p+4), so bit i of the packed value equals
    the original per-bit vote test — and ONE groupBy(doc_id) computes
    c_i = SUM((h >> i) & 1) for all 60 lanes map-side-combined.  The
    vote sum s_i = 2·c_i − n_tok (each set bit votes +1, clear −1), so
    s_i > 0 ⟺ 2·c_i > n_tok: bit-identical simhash, 60× fewer
    aggregate input rows, one exchange instead of two (the (doc,i)
    grain exchange is gone).  Measured 4.4 s → 0.6 s at sf0.1."""
    docs = spread(_t(spark, sf_dir, "documents"), "doc_id")
    toks = docs.select(
        "doc_id", F.explode(F.expr("split(text, ' ')")).alias("tok")
    ).withColumn(
        "h60",
        F.expr(
            "CAST(conv(reverse(substring(md5(tok), 1, 15)), 16, 10) AS BIGINT)"
        ),
    )
    lanes = toks.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tok"),
        *[
            F.sum(F.expr(f"(h60 >> {i}) & 1")).alias(f"c{i}")
            for i in range(_SIM_BITS)
        ],
    )
    packed = " + ".join(
        f"(CASE WHEN 2 * c{i} > n_tok THEN CAST({1 << i} AS BIGINT)"
        " ELSE CAST(0 AS BIGINT) END)"
        for i in range(_SIM_BITS)
    )
    return lanes.selectExpr("doc_id", f"{packed} AS simhash")


# 3-token shingle set — ONE definition shared by the brute-force
# baseline and the inverted-index scale path (they must stay textually
# identical for the exactness-baseline relationship to hold)
_SHINGLES = (
    "array_distinct(transform(sequence(1, greatest(size(split(text, ' ')) - 2, 1)), "
    "i -> concat(element_at(split(text, ' '), i), ' ', "
    "element_at(split(text, ' '), least(i + 1, size(split(text, ' ')))), ' ', "
    "element_at(split(text, ' '), least(i + 2, size(split(text, ' '))))) ))"
)

# The same shingle set with split(text) HOISTED into a materialized
# words column: the inline form re-evaluates split() FOUR TIMES per
# lambda element inside the interpreted HOF (gotcha 16b — ~600
# full-text splits per doc), measured 7.3 s -> 3.2 s at sf0.1 with
# rows bit-identical.  Use _shingle_sets() for full-corpus consumers;
# the inline _SHINGLES stays for tiny bounded sides where a second
# projection isn't worth it.
_SHINGLES_FROM_WORDS = (
    "array_distinct(transform(sequence(1, greatest(size(words) - 2, 1)), "
    "i -> concat(element_at(words, i), ' ', "
    "element_at(words, least(i + 1, size(words))), ' ', "
    "element_at(words, least(i + 2, size(words))))))"
)


def _shingle_sets(docs):
    """(doc_id, sh) with the split hoisted — row-identical to the
    inline _SHINGLES projection, 2.3x faster on the full corpus."""
    return docs.selectExpr("doc_id", "split(text, ' ') AS words").selectExpr(
        "doc_id", f"{_SHINGLES_FROM_WORDS} AS sh"
    )


def ngram_jaccard_pairs(spark, sf_dir):
    """Exact 3-token-shingle Jaccard for all doc pairs with id < 60.

    The exactness baseline for ngram_jaccard_indexed (the inverted-index
    scale path).  The cartesian is BOUNDED by construction (r03, same
    treatment as ann_cosine_topk): the id<60 side is explicitly
    broadcast, so the plan is one streaming pass probing a tiny
    broadcast — never an unbounded shuffle cartesian (pinned in
    tests/test_plans.py)."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 60)
    sh = docs.select("doc_id", F.expr(_SHINGLES).alias("sh"))
    a = F.broadcast(sh).alias("a")
    b = sh.alias("b")
    return (
        a.crossJoin(b)
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.round(
                F.expr("size(array_intersect(a.sh, b.sh))").cast("double")
                / F.expr("size(array_union(a.sh, b.sh))").cast("double"),
                6,
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") > 0)
    )


def sample_stratified(spark, sf_dir):
    """Deterministic stratified sampling — the reproducible train-set
    draw every large-scale data pipeline needs: per-language quotas
    ('en' keeps 20, others 10), ranked by a content-independent md5 key
    so the draw is stable across runs, engines and partitionings (no
    rand(), no sample() — those are seed- and partition-dependent).

    Scale shape: one window rank per stratum (hash-partitioned by
    lang); for 10^12-row strata the same draw becomes a filter on
    md5 < threshold (no global sort) — quota form kept here because it
    is exact-n and oracle-checkable row-for-row."""
    docs = _t(spark, sf_dir, "documents")
    keyed = docs.select(
        "doc_id", "lang",
        F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":"), F.col("lang"))).alias("hk"),
    )
    w = Window.partitionBy("lang").orderBy("hk")
    return (
        keyed.withColumn("smp_rank", F.row_number().over(w).cast("int"))
        .filter(
            F.col("smp_rank")
            <= F.expr("CASE WHEN lang = 'en' THEN 20 ELSE 10 END")
        )
        .select("lang", "doc_id", "smp_rank")
    )


def ngram_jaccard_indexed(spark, sf_dir):
    """n-gram Jaccard WITHOUT the cross join (the scale path): an
    inverted shingle index generates candidate pairs — only docs
    sharing a shingle held by at most 10 docs meet (stop-shingle
    drop bounds the worst bucket at 10² pairs) — then the exact
    Jaccard runs on candidates only, keeping pairs at Jaccard >= 0.2.
    Exactness caveat vs the brute-force baseline is PRECISELY
    characterized: a pair is missed iff every shared shingle is a
    stop-shingle."""
    docs = _t(spark, sf_dir, "documents")
    sets = _shingle_sets(docs)
    inv = sets.select("doc_id", F.explode("sh").alias("s"))
    rare = (
        inv.groupBy("s").agg(F.count(F.lit(1)).alias("nf"))
        .filter((F.col("nf") >= 2) & (F.col("nf") <= 10))
        .select("s")
    )
    postings = inv.join(rare, "s")
    cand = (
        postings.alias("a")
        .join(postings.alias("b"), "s")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    scored = (
        cand.join(sets.select(F.col("doc_id").alias("doc_a"),
                              F.col("sh").alias("sh_a")), "doc_a")
        .join(sets.select(F.col("doc_id").alias("doc_b"),
                          F.col("sh").alias("sh_b")), "doc_b")
        .select(
            "doc_a", "doc_b",
            F.round(
                F.expr("size(array_intersect(sh_a, sh_b))").cast("double")
                / F.expr("size(array_union(sh_a, sh_b))").cast("double"),
                6,
            ).alias("jaccard"),
        )
    )
    return scored.filter(F.col("jaccard") >= 0.2)


def connected_components(edges, vertices):
    """Iterative min-label propagation (the dedup-cluster primitive):
    label(v) converges to min(doc_id) of v's connected component, in
    at most 20 rounds.

    Per round: one groupBy over the (undirected) edge-label join, one
    join back, persist, driver-side convergence check on the count of
    changed labels — the same persisted-frontier discipline as
    knn_ring_iterative.  Rounds needed = graph diameter (near-dup
    clusters are shallow); at 10^12 rows this is the standard
    large/small-star shape with labels never wider than the vertex set.
    """
    # localCheckpoint is LOAD-BEARING and persist() is NOT a substitute:
    # persist caches data but leaves the LOGICAL plan intact, so round
    # k's analyzed plan still embeds every earlier round plus the whole
    # upstream (e.g. the LSH candidate pipeline) — Spark's SQL-listener
    # explainString then renders a combinatorially growing plan string
    # and OOMs the driver (measured stack: StringConcat.append inside
    # QueryExecution.explainString).  localCheckpoint truncates the
    # plan to a LogicalRDD leaf, keeping every round O(1).  The
    # checkpointed label frames are tiny (one row per vertex).
    und = edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint()
    labels = vertices.select(
        F.col("doc_id").alias("v"), F.col("doc_id").alias("label")
    ).localCheckpoint()
    # r06: the rounds run under _drain_confs (8 shuffle partitions +
    # whole-stage codegen OFF, restored after) — per-round plan churn
    # over the label relation means janino compile dominates these
    # tiny jobs (the _components_jump / mst_roads measurement)
    spark_ = edges.sparkSession
    converged = False
    with _drain_confs(spark_):
        for _ in range(20):
            nbr_min = (
                und.join(labels, und.src == labels.v)
                .groupBy("dst").agg(F.min("label").alias("nbr_label"))
            )
            new = (
                labels.join(nbr_min, labels.v == nbr_min.dst, "left")
                .select(
                    "v",
                    F.least(
                        F.col("label"), F.coalesce("nbr_label", F.col("label"))
                    ).alias("label"),
                    (F.col("nbr_label") < F.col("label")).alias("_chg"),
                )
                .localCheckpoint()
            )
            converged = new.filter(F.col("_chg")).isEmpty()
            labels = new.drop("_chg")
            if converged:
                break
    if not converged:
        # r03 review: silently returning unconverged labels diverges
        # from the fully-converged recursive-CTE oracle with no hint —
        # a >20-diameter component must fail loudly instead
        raise RuntimeError(
            "connected_components did not converge in 20 rounds "
            "(component diameter exceeds 20)"
        )
    return labels


def dedup_clusters(spark, sf_dir):
    """Near-dup CLUSTERS: MinHash-LSH candidate pairs → connected
    components (iterative min-label propagation) → one row per
    multi-doc cluster with its canonical keeper (min doc_id) and size.
    Oracle: DuckDB recursive CTE propagating labels over the same
    edge set."""
    # bounded to doc_id < 300 in the HARNESS (a default-1g driver
    # session runs 50 queries back-to-back; the unbounded operator is
    # exercised by the union-find pytest and composes at any scale)
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    pairs = (
        minhash_lsh_pairs(spark, sf_dir)
        .filter((F.col("doc_a") < 300) & (F.col("doc_b") < 300))
        .select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    )
    comp = connected_components(pairs, docs.select("doc_id"))
    return (
        comp.groupBy("label")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") > 1)
        .select(F.col("label").alias("keep_doc_id"), "n_docs")
    )


def substring_dup_pairs(spark, sf_dir):
    """EXACT-SUBSTRING dedup (r04) — the Lee-et-al. training-data
    flavor the shingle/minhash family approximates: document pairs
    sharing an IDENTICAL 32-char window (windows at stride 8).  Scale
    shape: distinct (doc, window) → window-frequency filter (a window
    is a dedup candidate only with 2..16 holders — the ≤16 cap is the
    stop-window bound; boilerplate windows at corpus scale would
    otherwise make one n² join group) → window equi-join → pair
    aggregate.  The join compares the actual window STRINGS (no hash
    collisions to argue about); DuckDB mirrors every step."""
    from pyspark import StorageLevel

    docs = _t(spark, sf_dir, "documents")
    # persist the window-explode base: it feeds freq PLUS both self-join
    # sides — without it the interpreted transform/explode lambda and
    # the distinct shuffle execute 4× (r04 review; gotcha 16 template)
    win = docs.select(
        "doc_id",
        F.expr("explode(sequence(1, greatest(length(text) - 31, 1), 8))")
        .alias("i"),
        "text",
    ).selectExpr(
        # codegen'd projection, not an interpreted transform lambda
        # (gotcha 16b — measured 20x on the shingle paths, r05)
        "doc_id", "substring(text, i, 32) AS w"
    ).distinct().persist(StorageLevel.DISK_ONLY)
    freq = win.groupBy("w").agg(F.count(F.lit(1)).alias("nf"))
    keep = win.join(
        freq.filter((F.col("nf") >= 2) & (F.col("nf") <= 16)), "w"
    ).drop("nf")
    result = (
        keep.alias("a")
        .join(
            keep.alias("b"),
            (F.col("a.w") == F.col("b.w"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"),
                 F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_shared_windows"))
        .persist(StorageLevel.DISK_ONLY)
    )
    result.count()  # materialize while win is live, then release it
    win.unpersist()
    return result


def dq_documents(spark, sf_dir):
    """Data-quality/profiling report (r04) — the expectations gate every
    training-data ingest runs before a corpus is admitted: per column,
    row/null/distinct counts and integer min/max (doc_id, n_chars) plus
    referential sanity (n_chars == length(text) violation count) and
    domain checks (lang/source cardinalities).  One pass, all built-in
    aggregates (map-side combined); DuckDB states it identically."""
    docs = _t(spark, sf_dir, "documents")
    return docs.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("text").isNull(), 1).otherwise(0)).alias("null_text"),
        F.countDistinct("doc_id").alias("distinct_ids"),
        F.min("doc_id").alias("min_id"),
        F.max("doc_id").alias("max_id"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
        F.countDistinct("lang").alias("n_langs"),
        F.countDistinct("source").alias("n_sources"),
        F.sum(
            F.when(F.col("n_chars") != F.length("text"), 1).otherwise(0)
        ).alias("chars_mismatch"),
    )


def lang_ngram_id(spark, sf_dir):
    """REAL n-gram language-ID (r04; the task spec's "language-ID
    (n-gram heuristic)" beyond the stopword ratio): Cavnar-Trenkle-lite
    profile intersection — per language, the top-64 character trigrams
    by occurrence count (deterministic count-desc/trigram-asc rank)
    form the profile; each document is classified to the language whose
    profile shares the most of its DISTINCT trigrams (tie → lang asc).
    Integer scores end-to-end ⇒ hash-exact in DuckDB.

    Honesty note: the driver's synthetic documents are only weakly
    language-marked, so accuracy reads ~26% over 5 labels (chance 20%)
    — the oracle certifies the PIPELINE (profile build, intersection
    scoring, deterministic argmax), not a linguistic claim.

    Scale shape: profiles are vocabulary-sized (langs × 64 rows) and
    broadcast; the document side pays one explode + distinct + one
    doc-keyed aggregation; the argmax is ``min(struct(-score, lang))``
    with map-side partial aggregation — no row_number sort over the
    corpus."""
    from pyspark import StorageLevel

    docs = _t(spark, sf_dir, "documents")
    # persist the exploded trigram base: BOTH branches (profile build +
    # document side) read it, and the explode lambda is interpreted
    # (gotcha 4) — without the persist each branch re-runs the full
    # corpus explode (r04 review; the minhash DISK_ONLY template)
    tri = docs.select(
        "doc_id", "lang", "text",
        F.expr("explode(sequence(1, greatest(length(text) - 2, 1)))").alias("i"),
    ).selectExpr(
        # gotcha 16b: codegen'd projection, not a transform lambda
        "doc_id", "lang", "substring(text, i, 3) AS tri"
    ).persist(StorageLevel.DISK_ONLY)
    pc = tri.groupBy(F.col("lang").alias("cand_lang"), "tri").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    wp = Window.partitionBy("cand_lang").orderBy(
        F.col("cnt").desc(), F.col("tri").asc()
    )
    prof = (
        pc.withColumn("rk", F.row_number().over(wp))
        .filter(F.col("rk") <= 64)
        .select("cand_lang", "tri")
    )
    doc_tri = tri.select("doc_id", "tri").distinct()
    scores = (
        doc_tri.join(F.broadcast(prof), "tri")
        .groupBy("doc_id", "cand_lang")
        .agg(F.count(F.lit(1)).alias("score"))
    )
    best = (
        scores.groupBy("doc_id")
        .agg(F.min(F.struct(
            (-F.col("score")).alias("ns"), F.col("cand_lang").alias("cl")
        )).alias("m"))
        .select(
            "doc_id",
            F.col("m.cl").alias("pred_lang"),
            (-F.col("m.ns")).alias("score"),
        )
    )
    result = best.join(docs.select("doc_id", "lang"), "doc_id").select(
        "doc_id", "lang", "pred_lang", F.col("score").cast("long"),
        (F.col("lang") == F.col("pred_lang")).alias("correct"),
    ).persist(StorageLevel.DISK_ONLY)
    result.count()  # materialize while tri is live, then release it
    tri.unpersist()
    return result


def doc_length_quantiles(spark, sf_dir):
    """Exact distributed quantiles (r04): per-language p50/p90/p99 of
    document length via the RANK method — ROW_NUMBER within the
    language partition + the integer ceil-index ``FLOOR((n·k+99)/100)``
    (never ``CEIL(0.9·n)``: 0.9 is binary-inexact and tips the index at
    exact multiples — gotcha 8 family).  Windows are per-language
    partitions (partition-parallel at any corpus size); a single giant
    stratum would switch to the two-level prefix trick (pack_sequences)
    or ``approx_percentile`` where cross-engine exactness isn't needed.
    Value-exact in DuckDB: ranks and picked values are integers."""
    docs = _t(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy("n_chars", "doc_id")
    r = docs.select(
        "lang", "n_chars", "doc_id",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("lang")).alias("n"),
    )
    picks = [
        F.max(
            F.when(
                F.col("rn") == F.expr(f"CAST(FLOOR((n * {k} + 99) / 100) AS BIGINT)"),
                F.col("n_chars"),
            )
        ).alias(f"p{k}")
        for k in (50, 90, 99)
    ]
    return r.groupBy("lang").agg(F.max("n").alias("n_docs"), *picks)


_KR_P = 1_000_000_007
_KR_MAXBITS = 20  # documents < 2^20 chars; raise for longer corpora


def _modpow31_expr(k: str) -> str:
    """31^(k) mod p as a LINEAR constant-table modpow chain.

    Repeated squaring with the squarings PRECOMPUTED in Python
    (31^(2^j) mod p are literals), unrolled over k's bits:
        r_{j+1} = (r_j * IF(bit_j(k), C_j, 1)) % p
    Each step references r_j exactly ONCE, so CollapseProject inlining
    keeps the expression linear (CLAUDE.md gotcha 2 — a self-doubling
    form would explode to 2^20 terms).  r * C < 1e9·1e9 < 2^63 — exact
    int64 throughout, same in DuckDB."""
    r = "CAST(1 AS BIGINT)"
    for j in range(_KR_MAXBITS):
        c = pow(31, 1 << j, _KR_P)
        r = (f"(({r}) * (CASE WHEN ((({k}) >> {j}) & 1) = 1 "
             f"THEN CAST({c} AS BIGINT) ELSE CAST(1 AS BIGINT) END)) % {_KR_P}")
    return r


def doc_rolling_fingerprint(spark, sf_dir):
    """Karp-Rabin rolling hash of each document, mod 1e9+7.

    SAME VALUE as the sequential left fold acc = (acc·31 + x) mod p —
    expanded to Σ_i x_i·31^(n−i) mod p — but computed as an exploded
    per-character SUM with a constant-table modpow (``_modpow31_expr``),
    so the whole hot path runs WHOLE-STAGE-CODEGEN'D instead of an
    interpreted ``aggregate()`` HOF lambda (CLAUDE.md gotcha 4; the same
    rewrite bought 3× on MinHash).  Partial-sum bound: term < p ≈ 1e9,
    so a 2^20-char document sums below 2^50 — exact int64.  The DuckDB
    oracle keeps the original fold formulation (independent shape, same
    exact integers)."""
    docs = _t(spark, sf_dir, "documents")
    chars = docs.select(
        "doc_id",
        F.expr("length(text)").alias("n"),
        F.posexplode(F.expr("split(text, '')")).alias("i0", "ch"),
    )
    term = (
        f"(CAST(ascii(ch) AS BIGINT) * ({_modpow31_expr('(n - 1 - i0)')}))"
        f" % {_KR_P}"
    )
    return (
        chars.withColumn("_t", F.expr(term))
        .groupBy("doc_id")
        .agg((F.sum("_t") % _KR_P).alias("fingerprint"))
    )


def token_bpe_counts(spark, sf_dir):
    """BPE-ish regex token counting vs whitespace tokens per doc."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.expr("size(split(text, ' '))").cast("int").alias("n_ws_tokens"),
        F.expr(
            "size(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]', 0))"
        ).cast("int").alias("n_bpe_tokens"),
    )


def doc_quality_filter(spark, sf_dir):
    """Gopher/RefinedWeb-style QUALITY FILTER — the standard
    pre-training culling pass, composed from deterministic rules so the
    keep decision is oracle-checkable bit-for-bit:

    * length rule: 20 <= n_tokens <= 10000;
    * repetition rule: most frequent 3-token shingle covers < 20% of
      the doc's shingles (explode + two hash aggs — the max-frequency
      n-gram is the classic boilerplate/repetition signal);
    * language-signal rule: stopword ratio >= 2%.

    All-JVM: split/explode/groupBy; one shuffle keyed on doc_id.  At
    10^12 docs this is a map-side-combined agg per rule joined on the
    (hash-partitioned) doc key — no rule needs global state."""
    docs = _t(spark, sf_dir, "documents")
    toks = F.expr("split(text, ' ')")
    stop_list = "'the', 'a', 'of', 'in', 'and'"
    base = docs.select(
        "doc_id",
        F.size(toks).cast("int").alias("n_tokens"),
        F.expr(
            f"size(filter(split(text, ' '), x -> x IN ({stop_list})))"
        ).cast("int").alias("n_stop"),
    )
    # RAW (multiset) shingles — the shared _SHINGLES is array_distinct'd
    # for Jaccard; repetition needs the frequencies, so no dedup here
    shingles_raw = (
        "transform(sequence(1, greatest(size(split(text, ' ')) - 2, 1)), "
        "i -> concat(element_at(split(text, ' '), i), ' ', "
        "element_at(split(text, ' '), least(i + 1, size(split(text, ' ')))), ' ', "
        "element_at(split(text, ' '), least(i + 2, size(split(text, ' '))))) )"
    )
    sh_freq = (
        docs.select("doc_id", F.explode(F.expr(shingles_raw)).alias("sh_raw"))
        .groupBy("doc_id", "sh_raw")
        .agg(F.count(F.lit(1)).alias("f"))
        .groupBy("doc_id")
        .agg(
            F.max("f").cast("int").alias("max_sh_freq"),
            F.sum("f").cast("long").alias("n_sh"),
        )
    )
    out = base.join(sh_freq, "doc_id")
    rep_frac = F.col("max_sh_freq").cast("double") / F.col("n_sh").cast("double")
    stop_frac = F.col("n_stop").cast("double") / F.col("n_tokens").cast("double")
    # ratio columns emitted as EXACT integer numerators/denominators —
    # ROUND(ratio, 6) on small-int fractions is the gotcha-8 boundary-tie
    # class (r03 review reproduced 41/640 rounding differently per
    # engine); the keep flag compares the unrounded doubles, which are
    # bit-identical (single / of identical ints)
    return out.select(
        "doc_id",
        "n_tokens",
        "max_sh_freq",
        "n_sh",
        "n_stop",
        (
            (F.col("n_tokens") >= 20) & (F.col("n_tokens") <= 10000)
            & (rep_frac < 0.2) & (stop_frac >= 0.02)
        ).alias("keep"),
    )


def tfidf_top_terms(spark, sf_dir):
    """TF-IDF keyword extraction (feature-extraction pass): per document
    the top-3 terms by tf · idf with a deterministic tie-break.

    idf uses an INTEGER-EXACT proxy — FLOOR(N·1000 / df) — instead of
    log(N/df): same ordering for ranking purposes, zero transcendental
    parity risk (CLAUDE.md gotcha 8).  Shape: tokens explode → per-doc
    tf agg → distinct-doc df agg (the corpus-level side, one row per
    term) joined back — at 10^12 docs the df table is vocabulary-sized
    (≪ corpus) and broadcasts; both aggs are map-side combined."""
    docs = _t(spark, sf_dir, "documents")
    # N as a RELATIONAL one-row aggregate broadcast-cross-joined into the
    # scored frame (r03 verdict: docs.count() here was an eager full-scan
    # Spark job at BUILD time — at 100 TB a whole extra pass over
    # `documents` before the returned plan even ran).  The one-row frame
    # rides the same plan and the join is a broadcast nested loop over a
    # single row — free.
    n_docs_df = docs.agg(F.count(F.lit(1)).alias("_nd"))
    toks = docs.select(
        "doc_id", F.explode(F.expr("split(text, ' ')")).alias("term")
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    # document frequency FROM tf (one row per (doc, term) already) —
    # not a second explode+distinct over the corpus (r03 review)
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = (
        tf.join(df_, "term")
        .crossJoin(F.broadcast(n_docs_df))
        .withColumn(
            "score",
            F.col("tf") * F.expr("CAST(FLOOR(_nd * 1000 / df) AS BIGINT)"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= 3)
        .select("doc_id", "rnk", "term", "score")
    )


def pack_sequences(spark, sf_dir):
    """Sequence PACKING — the pre-training batching step: documents are
    packed in deterministic (doc_id) order into fixed token-budget bins
    of 2048, by bucketing the RUNNING token total (a doc whose window
    sum crosses bin k starts bin k's successor — the classic cumsum
    formulation, exact in integers).

    Scale note: a bare global-order window would move EVERYTHING to
    one partition (Spark's 'No Partition Defined' warning), so the
    prefix sum is computed in two levels — parallel within doc_id-range
    buckets, then a tiny bucket-offset window broadcast back.  Output:
    per bin → doc count, token total, first doc."""
    docs = _t(spark, sf_dir, "documents")
    toks = F.expr("size(split(text, ' '))").cast("long")
    t = docs.select("doc_id", toks.alias("n_tokens")).withColumn(
        "_b", F.expr("CAST(FLOOR(doc_id / 4096) AS BIGINT)")
    )
    # TWO-LEVEL prefix sum (r03 review: a bare Window.orderBy moves the
    # WHOLE table to one partition — Spark warns 'No Partition Defined').
    # Level 1: running sum within each doc_id-range bucket (parallel);
    # level 2: bucket totals (one row per bucket) get the single-
    # partition window — tiny by construction — and broadcast back as
    # offsets.  cum is identical to the naive global window.
    wb = Window.partitionBy("_b").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    local = t.withColumn("_lcum", F.sum("n_tokens").over(wb))
    btot = t.groupBy("_b").agg(F.sum("n_tokens").alias("_bt"))
    wo = Window.orderBy("_b").rowsBetween(Window.unboundedPreceding, -1)
    offs = btot.withColumn(
        "_off", F.coalesce(F.sum("_bt").over(wo), F.lit(0)).cast("long")
    ).select("_b", "_off")
    binned = (
        local.join(F.broadcast(offs), "_b")
        .withColumn("cum", F.col("_lcum") + F.col("_off"))
        .withColumn(
            "seq_id",
            F.expr("CAST(FLOOR((cum - n_tokens) / 2048) AS BIGINT)"),
        )
    )
    return binned.groupBy("seq_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("sum_tokens"),
        F.min("doc_id").alias("first_doc"),
    )


_BM25_TERMS = ("hash", "vector", "dup")
_BM25_TOPK = 10

# idf proxy without ln(): FLOOR((N - df + 0.5) * 1e6 / (df + 0.5)) —
# the same monotone Robertson-Sparck-Jones core BM25 exponentiates,
# integer-scaled like tfidf_top_terms' FLOOR(N*1000/df) (gotcha 8).
_BM25_IDF = (
    "CAST(FLOOR((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5) * 1000000.0 "
    "/ (CAST(df AS DOUBLE) + 0.5)) AS BIGINT)"
)
# per-(doc,term) partial: FLOOR(idf * tf*(k1+1) / (tf + k1*(1-b+b*dl/avgdl)))
# with avgdl expressed as sum_dl/n_docs so every input is an integer and
# the whole chain is ONE textually-shared scalar double expression.
_BM25_PART = (
    "CAST(FLOOR(CAST(idf AS DOUBLE) * CAST(tf AS DOUBLE) * 2.2 / "
    "(CAST(tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) "
    "* CAST(n_docs AS DOUBLE) / CAST(sum_dl AS DOUBLE)))) AS BIGINT)"
)


def bm25_top_docs(spark, sf_dir):
    """BM25-ranked top-10 documents for a 3-term query.

    All-JVM: one token explode feeds (a) per-doc lengths and (b)
    per-(doc,term) tf for the filtered query terms; df and the corpus
    aggregate are one-row/terms-row broadcasts (the vocabulary side is
    tiny at any corpus size — same shape as tfidf_top_terms).  The only
    window is the final global top-k over per-doc scores, which at
    scale is a TakeOrdered over |matching docs| rows, never the corpus.
    """
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.expr("split(text, ' ')")).alias("tok")
    )
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    corpus = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("sum_dl")
    )
    qt = toks.filter(F.col("tok").isin(*_BM25_TERMS))
    tf = qt.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    df_ = qt.groupBy("tok").agg(F.countDistinct("doc_id").alias("df"))
    scored = (
        tf.join(dl, "doc_id")
        .join(F.broadcast(df_), "tok")
        .crossJoin(F.broadcast(corpus))
        .withColumn("idf", F.expr(_BM25_IDF))
        .withColumn("part", F.expr(_BM25_PART))
        .groupBy("doc_id")
        .agg(F.sum("part").alias("score"), F.count(F.lit(1)).alias("n_terms"))
    )
    w = Window.orderBy(F.col("score").desc(), F.col("doc_id").asc())
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= _BM25_TOPK)
        .select("rnk", "doc_id", "score", "n_terms")
    )


_PMI_TOPK = 20

# integer lift proxy for PMI (no log): FLOOR(f_xy * n_big * 1e6 / (f_x * f_y))
# — monotone in PMI for fixed n, exact BIGINT arithmetic end to end.
_PMI_LIFT = (
    "CAST(FLOOR(CAST(f_xy AS DOUBLE) * CAST(n_big AS DOUBLE) * 1000000.0 "
    "/ (CAST(f_x AS DOUBLE) * CAST(f_y AS DOUBLE))) AS BIGINT)"
)


def pmi_bigrams(spark, sf_dir):
    """Collocation mining: top-20 adjacent-token bigrams by integer
    PMI-lift (observed/expected), min support 5 — the phrase-mining
    pass a tokenizer pipeline runs before vocab building.

    One explode produces BOTH the unigram and bigram counts (the
    bigram leg reuses the exploded index — codegen, gotcha 16b);
    unigram counts broadcast to the bigram side twice (tiny at any
    corpus: vocabulary-sized).  Ties broken lexicographically.
    """
    docs = _t(spark, sf_dir, "documents")
    toks = docs.selectExpr("doc_id", "split(text, ' ') AS w").selectExpr(
        "doc_id",
        "explode(sequence(1, size(w) - 1)) AS i",
        "w",
    ).selectExpr("element_at(w, i) AS x", "element_at(w, i + 1) AS y")
    big = toks.groupBy("x", "y").agg(F.count(F.lit(1)).alias("f_xy"))
    uni_x = toks.groupBy("x").agg(F.count(F.lit(1)).alias("f_x"))
    # right-position unigram counts: the LAST token of each doc never
    # starts a bigram, so f_y counts y as a bigram RIGHT member
    uni_y = toks.groupBy("y").agg(F.count(F.lit(1)).alias("f_y"))
    n_big = toks.agg(F.count(F.lit(1)).alias("n_big"))
    w = Window.orderBy(F.col("lift").desc(), F.col("x").asc(), F.col("y").asc())
    return (
        big.filter(F.col("f_xy") >= 5)
        .join(F.broadcast(uni_x), "x")
        .join(F.broadcast(uni_y), "y")
        .crossJoin(F.broadcast(n_big))
        .withColumn("lift", F.expr(_PMI_LIFT))
        .withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= _PMI_TOPK)
        .select("rnk", "x", "y", "f_xy", "lift")
    )


def fuzzy_name_pairs(spark, sf_dir):
    """Blocked FUZZY JOIN (entity resolution): part-name pairs within
    edit distance 1..3, blocked on the last name token — the classic
    data-cleaning join (blocking keeps it an equi-join; Levenshtein
    runs only inside blocks, never all-pairs).  Per (block, distance):
    pair count + key checksum.  Three result-preserving reductions:
    (1) DEDUP-BEFORE-QUADRATIC — group rows by (block, name) first
    (one mergeable hash agg) and run Levenshtein once per DISTINCT
    name pair, then recover instance-pair counts and key checksums
    from group sizes/key sums (n = ca*cb, sum = ca*skb + cb*ska; both
    aggregates are symmetric in the pair so orienting by name instead
    of key is row-identical).  Never worse than the instance-level
    join (distinct <= rows), and 57 s -> 0.9 s at sf0.1 where names
    repeat heavily.  (2) |len(a)-len(b)|>3 implies d>3: a codegen'd
    length filter runs before any DP.  (3) the BANDED threshold form
    levenshtein(a, b, 3) early-exits above the threshold (1.7x over
    the full DP, measured).  The oracle runs the full instance-level
    quadratic DP; results are row-identical."""
    p = _t(spark, sf_dir, "part").selectExpr(
        "p_partkey AS k", "p_name AS nm",
        "element_at(split(p_name, ' '), -1) AS blk",
    )
    g = p.groupBy("blk", "nm").agg(
        F.count(F.lit(1)).alias("c"), F.sum("k").alias("sk")
    ).withColumn("ln", F.length("nm"))
    a = g.selectExpr("blk", "nm AS na", "c AS ca", "sk AS ska", "ln AS la")
    b = g.selectExpr("blk", "nm AS nb", "c AS cb", "sk AS skb", "ln AS lb")
    pairs = (
        a.join(b, ["blk"])
        .filter(F.col("na") < F.col("nb"))
        .filter(F.abs(F.col("la") - F.col("lb")) <= 3)
        .withColumn("d", F.levenshtein("na", "nb", 3).cast("int"))
        .filter((F.col("d") >= 1) & (F.col("d") <= 3))
    )
    return pairs.groupBy("blk", "d").agg(
        F.sum(F.expr("ca * cb")).alias("n_pairs"),
        F.sum(F.expr("ca * skb + cb * ska")).alias("sum_keys"),
    )


# phrases present in the synthetic corpus (vocabulary is SQL-flavored)
_PHRASES = [("table", "hash"), ("part", "filter"), ("customer", "join")]


def phrase_search(spark, sf_dir):
    """POSITIONAL PHRASE SEARCH: exact adjacent-bigram matching over a
    positional inverted index — the IR primitive BM25's bag-of-words
    scoring can't express.  Tokens explode WITH positions (codegen'd
    posexplode, gotcha 16b); for each query phrase the two term
    postings equi-join on (doc_id, pos+1) — never a string scan, never
    a regex.  At 100 TB the postings join is hash-partitioned on
    doc_id and each phrase touches only its two terms' postings.
    Output per phrase: matching docs, total occurrences, doc-id
    checksum.
    """
    # r06: spread — the posexplode over the corpus otherwise runs in
    # the single-split scan task (guide §2.5)
    toks = (
        spread(_t(spark, sf_dir, "documents"), "doc_id")
        .selectExpr("doc_id", "posexplode(split(text, ' ')) AS (pos, tok)")
        .filter(F.col("tok") != "")
        .localCheckpoint()  # postings reused by both phrase legs
    )
    terms = list({t for p in _PHRASES for t in p})
    post = toks.filter(F.col("tok").isin(terms))
    qa = spark.createDataFrame(
        [(f"{a} {b}", a, b) for a, b in _PHRASES], "phrase string, ta string, tb string"
    )
    hits = (
        post.selectExpr("doc_id", "pos", "tok AS ta")
        .join(F.broadcast(qa), "ta")
        .join(
            post.selectExpr(
                "doc_id", "pos - 1 AS pos", "tok AS tb"
            ),
            ["doc_id", "pos", "tb"],
        )
    )
    return hits.groupBy("phrase").agg(
        F.countDistinct("doc_id").alias("n_docs"),
        F.count(F.lit(1)).alias("n_occurrences"),
        F.sum(F.expr("doc_id * 2 + pos")).alias("checksum"),
    )


def bpe_merge_candidates(spark, sf_dir):
    """BPE TRAINING STEP (tokenizer induction): the first
    byte-pair-merge iteration — count every adjacent character pair
    weighted by word frequency, report the top-20 merge candidates.
    DEDUP-BEFORE-QUADRATIC (the fuzzy-join lesson): pair explosion
    runs over the VOCABULARY (distinct words × their length), not the
    corpus — the corpus pass is one word-count agg.  The pair explode
    is `explode(sequence)` + a codegen'd substring projection, never
    an interpreted transform() lambda (gotcha 16b).  The final top-20
    window runs over the pair table, bounded by |charset|² rows.
    """
    docs = _t(spark, sf_dir, "documents")
    words = (
        docs.selectExpr("explode(split(text, ' ')) AS w")
        .filter("w <> ''")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("wf"))
    )
    pairs = (
        words.filter(F.length("w") >= 2)
        .selectExpr("w", "wf", "explode(sequence(1, length(w) - 1)) AS i")
        .selectExpr("substring(w, i, 2) AS pair", "wf")
        .groupBy("pair")
        .agg(F.sum("wf").alias("cnt"))
    )
    w_rank = Window.orderBy(F.col("cnt").desc(), F.col("pair").asc())
    return (
        pairs.withColumn("rnk", F.row_number().over(w_rank).cast("int"))
        .filter("rnk <= 20")
        .select("rnk", "pair", "cnt")
    )


def contamination_check(spark, sf_dir):
    """TRAIN/EVAL DECONTAMINATION (the GPT-3-style n-gram collision
    scan): documents whose id ≡ 0 (mod 97) stand in for the held-out
    benchmark; any train document sharing ≥2 distinct 8-token
    shingles with an eval document is flagged.  Scale shape: the eval
    side is benchmark-sized by nature → broadcast; shingles with
    corpus document-frequency > 256 are dropped BEFORE the join
    (non-discriminative boilerplate — standard decontamination
    practice, and the explicit worst-bucket bound; mirrored in the
    oracle so the bound is semantics, not a silent cap).
    """
    # r06: spread — the shingle explode + concat_ws + the distinct's
    # partial aggregate otherwise run inside the corpus scan's single
    # task (guide §2.5; no-op on a wide scan)
    docs = spread(_t(spark, sf_dir, "documents"), "doc_id").selectExpr(
        "doc_id", "split(text, ' ') AS tk"
    )
    sh = (
        docs.filter("size(tk) >= 4")
        .selectExpr("doc_id", "tk", "explode(sequence(1, size(tk) - 3)) AS i")
        .selectExpr("doc_id", "concat_ws(' ', slice(tk, i, 4)) AS sh")
        .distinct()
        .localCheckpoint()  # three consumers: df bound + both join sides
    )
    rare = (
        sh.groupBy("sh")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter("df <= 256")
        .select("sh")
    )
    shr = sh.join(rare, "sh")
    ev = shr.filter("doc_id % 97 = 0").selectExpr("doc_id AS eval_doc", "sh")
    tr = shr.filter("doc_id % 97 <> 0").selectExpr("doc_id AS train_doc", "sh")
    return (
        tr.join(F.broadcast(ev), "sh")
        .groupBy("train_doc", "eval_doc")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )


def dataset_mix_weights(spark, sf_dir):
    """DATASET MIXTURE REWEIGHTING (temperature sampling, α = 0.5):
    per-source sampling shares ∝ sqrt(n_docs) — the standard move that
    up-weights small high-quality sources when composing a training
    mix.  sqrt is IEEE-exact, but the CROSS-SOURCE sum is quantized to
    integer millionths BEFORE folding (gotcha 8: a multi-row double
    sum would expose fold order), so both engines add the same BIGINTs.
    One map-side-combined agg over documents; everything after is
    source-cardinality-sized.
    """
    src = (
        _t(spark, sf_dir, "documents")
        .selectExpr("source", "size(split(text, ' ')) AS nt")
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("nt").alias("n_tokens"))
        .withColumn(
            "w_m",
            F.expr("CAST(FLOOR(SQRT(CAST(n_docs AS DOUBLE)) * 1000000) AS BIGINT)"),
        )
        .localCheckpoint()  # tiny; summed and re-joined
    )
    tot = src.agg(
        F.sum("w_m").alias("sw"), F.sum("n_docs").alias("nd")
    )
    return src.crossJoin(F.broadcast(tot)).selectExpr(
        "source",
        "n_docs",
        "n_tokens",
        "CAST(FLOOR(1000000 * n_docs / nd) AS BIGINT) AS natural_ppm",
        "CAST(FLOOR(1000000 * w_m / sw) AS BIGINT) AS temperature_ppm",
    )


def vocab_oov_rate(spark, sf_dir):
    """TOKENIZER COVERAGE: out-of-vocabulary token rate per source
    against the corpus' own top-1000 word vocabulary — the question a
    tokenizer/vocab choice gets asked before training.  The vocabulary
    ranking window runs over the word-count table (vocabulary-sized,
    never the corpus) and broadcasts back; OOV mass is a left join
    whose misses count, all token math in BIGINT.
    """
    tw = (
        _t(spark, sf_dir, "documents")
        .selectExpr("source", "explode(split(text, ' ')) AS w")
        .filter("w <> ''")
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint()  # feeds both the vocab ranking and the probe
    )
    wc = tw.groupBy("w").agg(F.sum("cnt").alias("tot"))
    w_rank = Window.orderBy(F.col("tot").desc(), F.col("w").asc())
    vocab = (
        wc.withColumn("rnk", F.row_number().over(w_rank))
        .filter("rnk <= 1000")
        .select("w")
    )
    probed = tw.join(
        F.broadcast(vocab.withColumn("in_v", F.lit(1))), "w", "left"
    )
    return probed.groupBy("source").agg(
        F.sum("cnt").alias("total_tokens"),
        F.sum(F.expr("CASE WHEN in_v IS NULL THEN cnt ELSE 0 END")).alias(
            "oov_tokens"
        ),
        F.expr(
            "CAST(FLOOR(1000000 * SUM(CASE WHEN in_v IS NULL THEN cnt ELSE 0 END)"
            " / SUM(cnt)) AS BIGINT)"
        ).alias("oov_ppm"),
    )


_RAKE_STOPS = "('the', 'a', 'of', 'in', 'and')"
_RAKE_TOPK = 50


def rake_keywords(spark, sf_dir):
    """RAKE KEYWORD EXTRACTION (Rose et al. 2010): candidate phrases
    are maximal stopword-free token runs; a word's degree is the
    summed length of every phrase containing it, its score
    degree/frequency (integer mils, one FLOOR).  The phrase-based
    cousin of tfidf_top_terms — co-occurrence inside phrases, not
    document counts.

    Plan shape: one explode + two windows keyed by doc_id (phrase ids
    from a running stopword count, phrase lengths from a count over
    (doc, phrase) — both shuffle on doc_id only), then a
    vocabulary-sized word rollup; the final ranking window runs over
    the vocabulary, never the corpus.
    """
    toks = _t(spark, sf_dir, "documents").selectExpr(
        "doc_id", "posexplode(split(text, ' ')) AS (pos, w)"
    ).selectExpr(
        "doc_id", "pos", "w",
        f"CAST(w IN {_RAKE_STOPS} AS INT) AS is_stop",
    )
    wp = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    phrased = toks.withColumn("pid", F.sum("is_stop").over(wp)).filter(
        "is_stop = 0"
    )
    plen = phrased.withColumn(
        "plen", F.count(F.lit(1)).over(Window.partitionBy("doc_id", "pid"))
    )
    words = plen.groupBy("w").agg(
        F.count(F.lit(1)).alias("freq"),
        F.sum("plen").alias("deg"),
    )
    return (
        words.withColumn("score_mils", F.expr(
            "CAST(FLOOR(deg * 1000 / freq) AS BIGINT)"))
        .withColumn("rnk", F.row_number().over(
            Window.orderBy(F.col("score_mils").desc(), F.col("w"))).cast("int"))
        .filter(F.col("rnk") <= _RAKE_TOPK)
        .select("rnk", "w", "freq", "deg", "score_mils")
    )


def doc_word_diversity(spark, sf_dir):
    """LEXICAL-DIVERSITY QUALITY SIGNAL per document: Simpson diversity
    1 - sum(p_w^2) over the word distribution (the log-free cousin of
    entropy — boilerplate and keyword-stuffed documents score low, a
    standard pretraining-corpus filter signal).  Integer-exact:
    (n^2 - sum(c^2)) * 1000 / n^2 with one FLOOR (gotcha 8).

    Plan shape: two stacked map-side-combinable hash aggs
    ((doc, word) counts, then per-doc moments) — no window, no join;
    output rows = documents.
    """
    wc = (
        _t(spark, sf_dir, "documents")
        .selectExpr("doc_id", "explode(split(text, ' ')) AS w")
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return wc.groupBy("doc_id").agg(
        F.sum("c").alias("n_words"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.expr(
            "CAST(FLOOR((SUM(c) * SUM(c) - SUM(c * c)) * 1000 "
            "/ (SUM(c) * SUM(c))) AS BIGINT)"
        ).alias("simpson_mils"),
    )


_CONT_MILS_MIN = 600


def dedup_containment(spark, sf_dir):
    """ASYMMETRIC CONTAINMENT dedup (Broder's other coefficient):
    C(A,B) = |S(A) ∩ S(B)| / |S(A)| over distinct word 3-shingles —
    catches SUB-DOCUMENT duplication (A embedded in a larger B), which
    symmetric Jaccard dilutes below threshold.  Candidates come from
    the same inverted rare-shingle index as ngram_jaccard_indexed
    (stop-shingle df ≤ 10, so the worst join bucket is bounded);
    containment is exact integer mils on candidates, BOTH directions
    of each candidate pair (the measure is asymmetric).
    """
    # r06 verify-half optimization: |S(A) ∩ S(B)| is SYMMETRIC even
    # though the coefficient is not, so candidates are generated as
    # UNORDERED pairs (a < b — half the distinct set), each pair's
    # array_intersect runs ONCE, and both directed rows are emitted
    # from it with stack() (n_a = the direction's own set size).
    # Result rows identical, oracle unchanged.  spread parallelizes
    # the single-split scan's shingle projection (guide §2.5).
    docs = _t(spark, sf_dir, "documents")
    sets = _shingle_sets(spread(docs, "doc_id")).localCheckpoint()
    inv = sets.select("doc_id", F.explode("sh").alias("s"))
    rare = (
        inv.groupBy("s")
        .agg(F.count(F.lit(1)).alias("nf"))
        .filter((F.col("nf") >= 2) & (F.col("nf") <= 10))
        .select("s")
    )
    postings = inv.join(rare, "s")
    cand = (
        postings.alias("a")
        .join(postings.alias("b"), "s")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    return (
        cand.join(
            sets.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a")),
            "doc_a",
        )
        .join(
            sets.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b")),
            "doc_b",
        )
        .selectExpr(
            "doc_a",
            "doc_b",
            "size(array_intersect(sh_a, sh_b)) AS n_int",
            "size(sh_a) AS sz_a",
            "size(sh_b) AS sz_b",
        )
        .selectExpr(
            "n_int",
            "stack(2, doc_a, doc_b, sz_a, doc_b, doc_a, sz_b)"
            " AS (doc_a, doc_b, n_a)",
        )
        .selectExpr(
            "doc_a", "doc_b",
            "CAST(n_int AS BIGINT) AS n_int",
            "CAST(n_a AS BIGINT) AS n_a",
            "CAST(FLOOR(n_int * 1000 / n_a) AS BIGINT) AS cont_mils",
        )
        .filter(f"cont_mils >= {_CONT_MILS_MIN}")
    )


def udtf_word_runs(spark, sf_dir):
    """Spark 4 PYTHON UDTF surface (table-valued function in SQL,
    LATERAL-joined): run-length encoding of consecutive repeated
    words per document — a genuinely sequential per-row computation
    (state carries across elements) that a scalar UDF can't emit as
    rows.  The UDTF is Arrow-batched where the runtime supports it;
    this is the one deliberate Python-in-the-loop query, registered
    as the API-surface demo next to the mbtiles DataSource (the §2.9
    rule — vectorized-only hot paths — stands everywhere else).
    Oracle: an INDEPENDENT gaps-and-islands construction (posexplode
    + lag + running sum of run starts) in DuckDB, so the UDTF's
    sequential RLE is checked against pure relational semantics.
    Output: per repeated word — run count, longest run, repeated-word
    total.
    """
    from pyspark.sql.functions import udtf

    class WordRuns:
        def eval(self, text: str):
            if not text:
                return
            prev, n = None, 0
            for w in text.split(" "):
                if w == prev:
                    n += 1
                else:
                    if n >= 2:
                        yield prev, n
                    prev, n = w, 1
            if n >= 2:
                yield prev, n

    ret = "word string, run_len int"
    try:
        fn = udtf(WordRuns, returnType=ret, useArrow=True)
    except TypeError:  # runtime without the Arrow flag
        fn = udtf(WordRuns, returnType=ret)
    spark.udtf.register("word_runs", fn)
    _t(spark, sf_dir, "documents").createOrReplaceTempView("udtf_docs")
    runs = spark.sql(
        "SELECT r.word, r.run_len "
        "FROM udtf_docs, LATERAL word_runs(text) r"
    )
    return runs.groupBy("word").agg(
        F.count(F.lit(1)).alias("n_runs"),
        F.max("run_len").alias("max_run"),
        F.sum("run_len").cast("bigint").alias("sum_len"),
    )


def doc_bigram_rarity(spark, sf_dir):
    """BIGRAM-RARITY novelty scoring — a curation signal ranking docs
    by how unusual their word transitions are: global bigram table →
    frequency rank (vocabulary-sized ranking window, never the
    corpus) → per-doc mean rank in integer mils.  Bigrams come from
    ONE posexplode + a lead window on (doc_id, pos) — no per-element
    re-split of the text (gotcha 16b), one exchange on doc_id, then a
    hash join on the bigram key against the vocab-sized rank side."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    words = docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "w")
    )
    wd = Window.partitionBy("doc_id").orderBy("pos")
    bg = (
        words.withColumn("w2", F.lead("w").over(wd))
        .filter(F.col("w2").isNotNull())
        .selectExpr("doc_id", "concat(w, ' ', w2) AS bg")
    )
    cnt = bg.groupBy("bg").agg(F.count(F.lit(1)).alias("cnt"))
    wr = Window.orderBy(F.col("cnt").desc(), "bg")
    rk = cnt.withColumn("rnk", F.row_number().over(wr).cast("long")).select(
        "bg", "rnk"
    )
    return (
        bg.join(rk, "bg")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("rnk").alias("sum_rank"),
        )
        .selectExpr(
            "doc_id", "n_bigrams", "sum_rank",
            "(1000 * sum_rank) DIV n_bigrams AS rarity_mils",
        )
    )


def doc_normalized_dedup(spark, sf_dir):
    """NORMALIZATION-THEN-EXACT dedup — the cheap first rung of the
    dedup ladder (below MinHash): lowercase, strip non-alphanumerics,
    collapse whitespace, then group by the md5 of the normalized text
    so the shuffle key is constant-width regardless of document length
    (at 10^12 docs the raw text never becomes a join/group key).
    Output is the dedup ledger: group counts, redundant-doc count, max
    clone family, and a keeper-id checksum.

    ASCII-range regexes behave identically in Java regex (Spark) and
    RE2 (DuckDB); the oracle runs the same normalization chain."""
    # r06 guide §2.5: the two-regex normalization chain is the query's
    # CPU and the harness scan is one split — spread parallelizes the
    # projection + partial agg (no-op on a many-split production scan).
    docs = spread(_t(spark, sf_dir, "documents"), "doc_id").selectExpr(
        "doc_id",
        "md5(trim(regexp_replace(regexp_replace(lower(text), "
        "'[^a-z0-9 ]', ' '), ' +', ' '))) AS nkey",
    )
    grp = docs.groupBy("nkey").agg(
        F.count(F.lit(1)).alias("sz"), F.min("doc_id").alias("keeper")
    )
    return grp.agg(
        F.count(F.lit(1)).alias("n_groups"),
        F.sum(F.expr("CAST(sz > 1 AS BIGINT)")).alias("n_dup_groups"),
        F.sum(F.expr("sz - 1")).alias("n_redundant"),
        F.max("sz").alias("max_group"),
        F.sum(F.expr("keeper % 1000003")).alias("keeper_checksum"),
    )


def dedup_lsh_recall(spark, sf_dir):
    """DEDUP-INDEX QUALITY EVALUATION — recall/precision of the
    MinHash-LSH banding candidates against exact shingle Jaccard (the
    eval a real dedup deployment runs before trusting its bands, the
    dedup twin of ann_recall_eval): truth = the TOP-10 most-similar
    exact pairs in the bounded baseline universe (doc_id < 60;
    deterministic jaccard-desc/pair tie-break — the corpus plants no
    shingle-level clones, so a fixed-threshold truth set would be
    empty), candidates = LSH band pairs restricted to the same
    universe; one-row summary in integer mils.  At fixture similarity
    levels (max jaccard 0.022 — far below the banding S-curve
    threshold) the CORRECT reading is recall 0 with 14 chance band
    collisions: the eval certifies the bands do NOT fire on weak
    similarity (false-positive control), exactly what you want from a
    dedup index under a clone-free corpus.  The oracle composes the
    SAME two certified twins, so the banding behavior is pinned
    exactly."""
    from . import QUERIES as _Q

    wt = Window.orderBy(F.col("jaccard").desc(), "doc_a", "doc_b")
    truth = (
        _Q["ngram_jaccard_pairs"](spark, sf_dir)
        .withColumn("rk", F.row_number().over(wt))
        .filter("rk <= 10")
        .select("doc_a", "doc_b")
        .localCheckpoint()
    )
    cand = (
        _Q["minhash_lsh_pairs"](spark, sf_dir)
        .filter("doc_a < 60 AND doc_b < 60")
        .select("doc_a", "doc_b")
        .localCheckpoint()
    )
    t = truth.agg(F.count(F.lit(1)).alias("n_truth"))
    c = cand.agg(F.count(F.lit(1)).alias("n_cand"))
    h = truth.join(cand, ["doc_a", "doc_b"]).agg(
        F.count(F.lit(1)).alias("n_hit")
    )
    return t.crossJoin(F.broadcast(c)).crossJoin(F.broadcast(h)).selectExpr(
        "n_truth", "n_cand", "n_hit",
        "CASE WHEN n_truth = 0 THEN -1 "
        "ELSE CAST(FLOOR(n_hit * 1000 / n_truth) AS BIGINT) END AS recall_mils",
        "CASE WHEN n_cand = 0 THEN -1 "
        "ELSE CAST(FLOOR(n_hit * 1000 / n_cand) AS BIGINT) END AS precision_mils",
    )


# floor(log2(n)) for n >= 1, exact in BOTH engines: bin() renders the
# minimal binary string (no leading zeros), so its length - 1 is the
# integer log2 — no float log anywhere (gotcha 8).
_LOG2 = "(CAST(LENGTH(bin({n})) AS BIGINT) - 1)"


def zipf_word_slope(spark, sf_dir):
    """Zipf rank-frequency fit over the corpus vocabulary: OLS slope of
    floor(log2 freq) on floor(log2 rank) for the top-256 words — the
    corpus-health diagnostic (natural text ≈ -1; templated/duplicated
    text flattens).  Exact integer path: octaves via length(bin(n))-1,
    closed-form OLS over five BIGINT sums, ONE final FLOOR to micros.
    The ranking window runs over the vocabulary-sized count table,
    never the corpus (vocab_oov_rate precedent)."""
    wc = (
        _t(spark, sf_dir, "documents")
        .selectExpr("explode(split(text, ' ')) AS w")
        .filter("w <> ''")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    w_rank = Window.orderBy(F.col("freq").desc(), F.col("w").asc())
    ranked = (
        wc.withColumn("rnk", F.row_number().over(w_rank).cast("bigint"))
        .filter("rnk <= 256")
        .selectExpr(
            f"{_LOG2.format(n='rnk')} AS x",
            f"{_LOG2.format(n='freq')} AS y",
        )
    )
    return ranked.agg(
        F.count(F.lit(1)).alias("n_words"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.expr("CAST(SUM(x * y) AS BIGINT)").alias("sxy"),
        F.expr("CAST(SUM(x * x) AS BIGINT)").alias("sxx"),
    ).selectExpr(
        "n_words",
        "sx", "sy", "sxy", "sxx",
        "CAST(FLOOR(1000000.0 * (n_words * sxy - sx * sy)"
        " / (n_words * sxx - sx * sx)) AS BIGINT) AS slope_micros",
    )


def collation_token_dedup(spark, sf_dir):
    """COLLATION surface (new in Spark 4): case-insensitive distinct
    token count via COLLATE UTF8_LCASE grouping, next to the binary
    (case-sensitive) count — the 'how many tokens modulo case' corpus
    question.  The oracle lowers explicitly (the corpus is ASCII, where
    UTF8_LCASE equivalence IS lower()-equality); the case-sensitive
    count rides along so the two collations are visibly different."""
    toks = (
        _t(spark, sf_dir, "documents")
        .selectExpr("explode(split(text, ' ')) AS w")
        .filter("w <> ''")
        .localCheckpoint()  # both distinct branches
    )
    ci = toks.selectExpr(
        "COUNT(DISTINCT COLLATE(w, 'UTF8_LCASE')) AS n_ci"
    )
    cs = toks.agg(
        F.countDistinct("w").alias("n_cs"),
        F.count(F.lit(1)).alias("n_tokens"),
    )
    return cs.crossJoin(F.broadcast(ci))


# Shared per-doc readability terms: words / vowel-group "syllables" /
# punctuation-run "sentences" (the fixture corpus has no punctuation, so
# S degenerates to 1 — the formula text is still the full spec and the
# syllable/word terms carry all the per-doc variation).  Group index 1
# explicitly: Spark defaults to 1, DuckDB to 0.
_FRE_MILS = (
    "206835 - CAST(FLOOR(1015.0 * n_words / n_sents) AS BIGINT)"
    " - CAST(FLOOR(84600.0 * n_syl / n_words) AS BIGINT)"
)
_FKG_MILS = (
    "CAST(FLOOR(390.0 * n_words / n_sents) AS BIGINT)"
    " + CAST(FLOOR(11800.0 * n_syl / n_words) AS BIGINT) - 15590"
)


def doc_readability(spark, sf_dir):
    """FLESCH READING-EASE + FLESCH-KINCAID GRADE as integer-mils
    curation signals, rolled up per language.  Syllables are the
    classic vowel-group approximation — regexp_extract_all over
    '([aeiouy]+)' (ASCII class: Java regex and RE2 agree exactly);
    sentences are punctuation runs with a GREATEST(1, ·) floor.  Both
    scores are FLOOR-per-term integer mils (shared text, gotcha 8).

    Plan shape: map-only per-doc projection (regexp count, no explode)
    followed by ONE map-side-combinable hash agg on lang — the whole
    corpus passes exactly once, no shuffle wider than the lang rollup.
    """
    docs = _t(spark, sf_dir, "documents").selectExpr(
        "lang",
        "CAST(size(regexp_extract_all(text, '([A-Za-z]+)', 1)) AS BIGINT)"
        " AS n_words",
        "CAST(size(regexp_extract_all(lower(text), '([aeiouy]+)', 1))"
        " AS BIGINT) AS n_syl",
        "GREATEST(CAST(1 AS BIGINT), "
        "CAST(size(regexp_extract_all(text, '([.!?]+)', 1)) AS BIGINT))"
        " AS n_sents",
    ).filter("n_words > 0")
    scored = docs.selectExpr(
        "lang", f"{_FRE_MILS} AS fre_mils", f"{_FKG_MILS} AS fkg_mils"
    )
    return scored.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("fre_mils").alias("sum_fre_mils"),
        F.min("fre_mils").alias("min_fre_mils"),
        F.max("fre_mils").alias("max_fre_mils"),
        F.sum("fkg_mils").alias("sum_fkg_mils"),
    )


def doc_repetition(spark, sf_dir):
    """GOPHER-STYLE REPETITION signals: per-doc top-bigram share and
    duplicate-bigram fraction (integer mils), rolled up per language
    with a repetitive-doc count at the 100-mils threshold — the
    repetition filter of an LLM curation pipeline (Rae et al. 2021
    n-gram fraction family).  Bigrams come from ONE posexplode + lead
    window on (doc_id, pos) — no per-element re-split (gotcha 16b).

    Plan shape: explode -> (doc_id, bigram) hash agg -> doc_id hash agg
    -> lang rollup; every stage is map-side combinable and the widest
    key is (doc_id, bigram) — no vocabulary-global window anywhere.
    """
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    words = docs.select(
        "doc_id", "lang",
        F.posexplode(F.split("text", " ")).alias("pos", "w"),
    )
    wd = Window.partitionBy("doc_id").orderBy("pos")
    bg = (
        words.withColumn("w2", F.lead("w").over(wd))
        .filter(F.col("w2").isNotNull())
        .selectExpr("doc_id", "lang", "concat(w, ' ', w2) AS bg")
    )
    per_bg = bg.groupBy("doc_id", "lang", "bg").agg(
        F.count(F.lit(1)).alias("c")
    )
    per_doc = per_bg.groupBy("doc_id", "lang").agg(
        F.sum("c").alias("n_bg"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.max("c").alias("max_c"),
    ).selectExpr(
        "doc_id", "lang", "n_bg",
        "(1000 * max_c) DIV n_bg AS top_share_mils",
        "(1000 * (n_bg - n_distinct)) DIV n_bg AS dup_mils",
    )
    return per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.expr("CASE WHEN top_share_mils >= 100 THEN 1 ELSE 0 END"))
        .alias("n_repetitive"),
        F.sum("top_share_mils").alias("sum_top_mils"),
        F.sum("dup_mils").alias("sum_dup_mils"),
        F.sum("n_bg").alias("sum_bigrams"),
    )


_BPE_ROUNDS = 8


def _bpe_merge(t: list, a: str, b: str) -> list:
    """Greedy-leftmost merge of every adjacent (a, b) pair in tokens t."""
    # r06 fast path: most vocabulary words do not contain the pair at
    # all — two C-speed membership tests skip the scalar merge walk
    # (same output: the walk is a no-op without both tokens present)
    if a not in t or b not in t:
        return t
    res = []
    i = 0
    while i < len(t):
        if i + 1 < len(t) and t[i] == a and t[i + 1] == b:
            res.append(a + b)
            i += 2
        else:
            res.append(t[i])
            i += 1
    return res


def bpe_train_merges(spark, sf_dir):
    """FULL BPE TRAINING LOOP (8 merge rounds) — the multi-round
    extension of bpe_merge_candidates' single iteration, i.e. actual
    tokenizer induction.  The classic two-table decomposition: the
    corpus reduces ONCE to the (distinct word, count) table
    (dedup-before-quadratic — vocabulary-sized forever after), each
    round counts adjacent token pairs JVM-side (explode(sequence) + a
    codegen'd projection, gotcha 16b — overlaps counted, the standard
    spec), picks argmax((count, lexicographic pair)), and applies the
    merge with a greedy-LEFTMOST vectorized pass over the vocab table
    only.  At 100 TB the word-count reduction is the only corpus-scale
    pass; every round after it shuffles a vocab-sized relation.
    Output: the 8 merges (rank, left, right, pair count at selection).
    Oracle: committed golden from an INDEPENDENT scalar Counter-based
    BPE trainer over the same parquet (scripts/make_goldens.py)."""
    vocab = (
        _t(spark, sf_dir, "documents")
        .selectExpr("explode(split(text, ' ')) AS w")
        .filter("length(w) > 0")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n"))
        .selectExpr("split(w, '') AS toks", "n")
        .localCheckpoint()
    )
    merges = []
    for rank in range(1, _BPE_ROUNDS + 1):
        pairs = (
            vocab.filter("size(toks) >= 2")
            .selectExpr(
                "toks", "n", "explode(sequence(0, size(toks) - 2)) AS i"
            )
            .selectExpr("toks[i] AS a", "toks[i + 1] AS b", "n")
            .groupBy("a", "b")
            .agg(F.sum("n").alias("cnt"))
        )
        best = pairs.orderBy(
            F.col("cnt").desc(), F.col("a").asc(), F.col("b").asc()
        ).limit(1).collect()
        if not best:
            break
        a, b, cnt = best[0].a, best[0].b, int(best[0].cnt)
        merges.append((rank, a, b, cnt))

        def _apply(r, _a=a, _b=b):
            yield (_bpe_merge(list(r.toks), _a, _b), r.n)

        vocab = map_rows(
            vocab, _apply, "toks array<string>, n bigint"
        ).localCheckpoint()
    return spark.createDataFrame(
        merges, "rank int, lhs string, rhs string, cnt bigint"
    )


def bpe_encode_docs(spark, sf_dir):
    """TOKENIZER APPLICATION — the encode side of bpe_train_merges'
    induction loop (train, then MEASURE the corpus under the trained
    tokenizer: the compression-ratio QA step every tokenizer change
    ships with).  The certified 8-merge trainer runs first; encoding
    then touches only the DISTINCT-WORD vocabulary (dedup-before-
    quadratic — the corpus-scale pass is one word explode + a
    broadcast join against the vocab-sized encode table).  Per lang:
    doc count, word instances, encoded token count, char count.
    Oracle: committed golden from the INDEPENDENT scalar trainer +
    dict-lookup encoder (scripts/make_goldens.py)."""
    merges = [
        (r.lhs, r.rhs)
        for r in bpe_train_merges(spark, sf_dir).orderBy("rank").collect()
    ]
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    wpd = docs.selectExpr(
        "lang", "explode(split(text, ' ')) AS w"
    ).filter("length(w) > 0")
    vocab = wpd.select("w").distinct()

    def _enc(r, _merges=merges):
        t = list(r.w)
        for a, b in _merges:
            t = _bpe_merge(t, a, b)
        yield (r.w, len(t))

    enc = map_rows(vocab, _enc, "w string, tok_len int")
    word_stats = (
        wpd.join(F.broadcast(enc), "w")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("sum_words"),
            F.sum("tok_len").alias("sum_tokens"),
            F.sum(F.length("w")).alias("sum_chars"),
        )
    )
    n_docs = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
    return n_docs.join(word_stats, "lang").select(
        "lang", "n_docs", "sum_words", "sum_tokens", "sum_chars"
    )


def doc_zlib_ratio(spark, sf_dir):
    """ZLIB COMPRESSIBILITY quality signal (the Gopher/C4-family
    curation heuristic: highly compressible text is repetitive
    boilerplate, incompressible text is noise): per-doc DEFLATE
    (RFC 1950/1951, stdlib zlib level 6 — a deterministic spec'd
    codec, the libm-trig precedent) lengths via one Arrow-batched
    map pass, aggregated per lang with the ratio in exact mils.
    Golden twin recomputes through pandas scalar plumbing."""
    docs = _t(spark, sf_dir, "documents").select("lang", "text")

    def _comp(r):
        import zlib

        raw = r.text.encode("utf-8")
        yield (r.lang, len(raw), len(zlib.compress(raw, 6)))

    return (
        map_rows(docs, _comp, "lang string, raw_len long, comp_len long")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("raw_len").alias("sum_raw"),
            F.sum("comp_len").alias("sum_comp"),
        )
        .selectExpr(
            "lang", "n_docs", "sum_raw", "sum_comp",
            "sum_comp * 1000 DIV sum_raw AS ratio_mils",
        )
    )


def simhash_neardup_pairs(spark, sf_dir):
    """SIMHASH BANDED NEAR-DUP JOIN — the third dedup index family
    wired end-to-end (MinHash-LSH and phash-LSH are certified; this
    closes the loop on the simhash60 signatures): 60-bit signatures
    split into 5 bands of 12 bits, candidates from the band equi-join
    (group sizes bounded by docs per 12-bit bucket — never all-pairs),
    deduped BEFORE the verify (each pair's hamming runs once however
    many bands it collides in), kept at hamming <= 6 of 60.  Identical
    CTE in DuckDB (bit_count/xor parity per the phash precedent)."""
    sigs = simhash60(spark, sf_dir).localCheckpoint()  # both join sides
    bands = sigs.selectExpr(
        "doc_id", "simhash", "explode(sequence(0, 4)) AS k"
    ).selectExpr(
        "doc_id", "simhash", "k",
        "shiftright(simhash, 12 * k) & 4095 AS bv",
    )
    x = bands.selectExpr("k", "bv", "doc_id AS a", "simhash AS sa")
    y = bands.selectExpr("k", "bv", "doc_id AS b", "simhash AS sb")
    cand = (
        x.join(y, ["k", "bv"])
        .filter("a < b")
        .select("a", "b", "sa", "sb")
        .distinct()
    )
    return cand.selectExpr(
        "a AS doc_a", "b AS doc_b", "bit_count(sa ^ sb) AS hamming"
    ).filter("hamming <= 6")


# Shared SPEC fragments (engine and oracle verbatim):
_TFIDF_QUERY_DOC = 0  # the query document
_TFIDF_TOPK = 10
_TFIDF_W = "tf * ((n_docs * 16) DIV df)"  # log-free integer idf proxy


def tfidf_cosine_topk(spark, sf_dir):
    """TF-IDF COSINE more-like-this retrieval — the WEIGHTED
    vector-space twin of bm25_top_docs' probabilistic ranking: score
    every document sharing a term with the QUERY doc (doc_id 0) by
    cosine over w = tf · idf_proxy weights (log-free integer
    (N·16) DIV df — the BM25 precedent).  The scored relation is the
    union of the query's posting lists (|query terms| · df rows —
    bounded by the query length at any corpus size, the classic
    query-time inverted-index plan); dot products are exact BIGINT
    sums; only the final cosine touches DOUBLE (sqrt is on the
    allowed-op list); deterministic (cos desc, doc asc) top-10."""
    docs = _t(spark, sf_dir, "documents")
    tf = (
        docs.select(
            "doc_id", F.explode(F.expr("split(text, ' ')")).alias("tok")
        )
        .filter("length(tok) > 0")
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint()  # consumers: df, norms, query + corpus sides
    )
    df_ = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.agg(F.countDistinct("doc_id").alias("n_docs"))
    w = (
        tf.join(F.broadcast(df_), "tok")
        .crossJoin(F.broadcast(n_docs))
        .selectExpr("doc_id", "tok", f"{_TFIDF_W} AS w")
        .localCheckpoint()  # norms + the retrieval probe
    )
    norms = w.groupBy("doc_id").agg(F.sum(F.expr("w * w")).alias("nrm2"))
    qv = w.filter(f"doc_id = {_TFIDF_QUERY_DOC}") \
        .selectExpr("tok", "w AS wq")
    dots = (
        w.filter(f"doc_id <> {_TFIDF_QUERY_DOC}")
        .join(F.broadcast(qv), "tok")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shared"),
            F.sum(F.expr("w * wq")).alias("dot"),
        )
    )
    qn = norms.filter(f"doc_id = {_TFIDF_QUERY_DOC}") \
        .selectExpr("nrm2 AS nq")
    scored = (
        dots.join(F.broadcast(norms), "doc_id")
        .crossJoin(F.broadcast(qn))
        .selectExpr(
            "doc_id", "n_shared",
            "CAST(FLOOR(1000000.0 * CAST(dot AS DOUBLE)"
            " / (sqrt(CAST(nrm2 AS DOUBLE)) * sqrt(CAST(nq AS DOUBLE))))"
            " AS BIGINT) AS cos_micros",
        )
    )
    return scored.selectExpr(
        "doc_id", "n_shared", "cos_micros",
        "ROW_NUMBER() OVER (ORDER BY cos_micros DESC, doc_id ASC) AS rnk",
    ).filter(f"rnk <= {_TFIDF_TOPK}")


def _arrow_doc_batches(batches):
    """RecordBatch-level transform: pure pyarrow.compute kernels, no
    pandas materialization — every output is a PER-ROW function of the
    input row, so the result is independent of Arrow batch boundaries
    (the invariant the pytest twin pins by re-running at batch size 7).
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    for b in batches:
        text = b.column(b.schema.get_field_index("text"))
        n_bytes = pc.binary_length(text.cast(pa.binary()))
        n_tokens = pc.count_substring_regex(text, r"\S+")
        n_vowels = pc.count_substring_regex(text, "[aeiou]")
        yield pa.RecordBatch.from_arrays(
            [
                b.column(b.schema.get_field_index("doc_id")),
                b.column(b.schema.get_field_index("lang")),
                n_bytes.cast(pa.int64()),
                n_tokens.cast(pa.int64()),
                n_vowels.cast(pa.int64()),
            ],
            names=["doc_id", "lang", "n_bytes", "n_tokens", "n_vowels"],
        )


def arrow_doc_stats(spark, sf_dir):
    """``mapInArrow`` byte/token/vowel profile — the RecordBatch-level
    Arrow hook (one abstraction BELOW mapInPandas: no pandas object
    materialization, kernels run on Arrow buffers) that completes the
    vectorized-Python API ladder next to mapInPandas (codecs),
    grouped applyInPandas (MVT sink), applyInPandasWithState
    (sessionize), arrow-optimized pandas UDFs, and the Python UDTF.
    Map-only over the scan; the per-lang rollup is the only exchange.
    At 100 TB this is the shape of every decode pass in the repo."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    stats = docs.mapInArrow(
        _arrow_doc_batches,
        "doc_id bigint, lang string, n_bytes bigint, n_tokens bigint,"
        " n_vowels bigint",
    )
    return (
        stats.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_bytes").alias("total_bytes"),
            F.sum("n_tokens").alias("total_tokens"),
            F.sum("n_vowels").alias("total_vowels"),
            F.max("n_bytes").alias("max_bytes"),
        )
        .orderBy("lang")
    )


def doc_term_chisq(spark, sf_dir):
    """CHI-SQUARED feature selection — which terms are most associated
    with each language (the classifier-feature primitive next to
    drift_chisq, which compares whole distributions): per (lang, term)
    the 2x2 contingency counts a/b/c/d from ONE distinct-terms explode
    pass (the relation is vocab x langs — bounded at any corpus size),
    then chi2 = N(ad-bc)^2 / ((a+b)(c+d)(a+c)(b+d)) computed in DOUBLE
    (identical op shape in the oracle; counts exceed int64 products at
    real N, so the float chain IS the scale-honest form) and floored
    to micros.  Top-3 terms per lang, chi2-desc / term-asc ties."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    terms = docs.selectExpr(
        "doc_id", "lang",
        "explode(array_distinct(split(lower(text), '[^a-z]+'))) AS term",
    ).filter("term != ''")
    df_lang = terms.groupBy("term", "lang").agg(
        F.count(F.lit(1)).alias("a")
    )
    df_all = terms.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_lang = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("nl"))
    n_tot = docs.agg(F.count(F.lit(1)).alias("n"))
    chi = (
        df_lang.join(F.broadcast(df_all), "term")
        .join(F.broadcast(n_lang), "lang")
        .crossJoin(F.broadcast(n_tot))
        .selectExpr(
            "lang", "term", "a",
            "df - a AS b", "nl - a AS c", "n - df - (nl - a) AS d", "n",
        )
        .selectExpr(
            "lang", "term", "a",
            "CAST(FLOOR(1000000.0 * CAST(n AS DOUBLE)"
            " * (CAST(a AS DOUBLE) * CAST(d AS DOUBLE)"
            "    - CAST(b AS DOUBLE) * CAST(c AS DOUBLE))"
            " * (CAST(a AS DOUBLE) * CAST(d AS DOUBLE)"
            "    - CAST(b AS DOUBLE) * CAST(c AS DOUBLE))"
            " / (CAST(a + b AS DOUBLE) * CAST(c + d AS DOUBLE)"
            "    * CAST(a + c AS DOUBLE) * CAST(b + d AS DOUBLE)))"
            " AS BIGINT) AS chi2_micros",
        )
    )
    return (
        chi.selectExpr(
            "lang", "term", "a", "chi2_micros",
            "ROW_NUMBER() OVER (PARTITION BY lang"
            " ORDER BY chi2_micros DESC, term) AS rnk",
        )
        .filter("rnk <= 3")
        .orderBy("lang", "rnk")
    )


def doc_lang_classifier(spark, sf_dir):
    """NAIVE-BAYES-STYLE LANGUAGE CLASSIFIER in exact integers — the
    likelihood-ratio form that needs no logs (the parity killer, gotcha
    8): per (term, lang) weight w = a·n·1e6 DIV (df·nl) — the lift of
    the term under the language, all BIGINT — a doc's score per lang is
    Σw over its distinct terms, prediction = argmax (lang-asc ties).
    Train and predict on the same corpus (resubstitution — the
    contract the oracle mirrors); the score join is bounded by
    vocab × langs at any corpus size.  Output: the 5×5 confusion
    matrix plus per-pair mean score in micros."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    terms = docs.selectExpr(
        "doc_id", "lang",
        "explode(array_distinct(split(lower(text), '[^a-z]+'))) AS term",
    ).filter("term != ''").localCheckpoint()  # feeds train AND predict
    df_lang = terms.groupBy("term", F.col("lang").alias("wl")).agg(
        F.count(F.lit(1)).alias("a")
    )
    df_all = terms.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_lang = docs.groupBy(F.col("lang").alias("wl")).agg(
        F.count(F.lit(1)).alias("nl")
    )
    n_tot = docs.agg(F.count(F.lit(1)).alias("n"))
    weights = (
        df_lang.join(F.broadcast(df_all), "term")
        .join(F.broadcast(n_lang), "wl")
        .crossJoin(F.broadcast(n_tot))
        .selectExpr("term", "wl", "a * n * 1000000 DIV (df * nl) AS w")
    )
    scores = (
        terms.join(weights, "term")
        .groupBy("doc_id", "lang", "wl")
        .agg(F.sum("w").alias("score"))
    )
    pred = (
        scores.groupBy("doc_id", "lang")
        .agg(F.expr("MIN(struct(-score AS ns, wl))").alias("best"))
        .selectExpr("doc_id", "lang AS true_lang",
                    "best.wl AS pred_lang", "-best.ns AS best_score")
    )
    return (
        pred.groupBy("true_lang", "pred_lang")
        .agg(F.count(F.lit(1)).alias("n_docs"),
             F.sum("best_score").alias("sum_score"))
        .orderBy("true_lang", "pred_lang")
    )


def doc_collocation_tscore(spark, sf_dir):
    """T-SCORE COLLOCATIONS — the hypothesis-testing collocation
    ranker next to pmi_bigrams' lift (PMI overweights rare pairs; the
    t-score (obs − exp)/sqrt(obs) corrects for that, and unlike the
    log-likelihood G² it needs only sqrt — IEEE-safe, gotcha 8).  One
    explode feeds bigram and unigram counts (the pmi shape); exp runs
    in DOUBLE (c_x·c_y exceeds int64 at real corpus sizes), t floors
    to micros; top-10, tie lexicographic."""
    from pyspark.sql import Window

    docs = _t(spark, sf_dir, "documents")
    # ADVICE r05 guard: sequence(1, size(w)-1) DESCENDS for a 1-token
    # doc ([1,0] -> element_at(w, 0) raises) while DuckDB's
    # generate_series is empty — filter before the explode (vacuous on
    # the current fixture: no such docs; row-identical otherwise).
    toks = docs.selectExpr("doc_id", "split(text, ' ') AS w").filter(
        "size(w) >= 2"
    ).selectExpr(
        "doc_id",
        "explode(sequence(1, size(w) - 1)) AS i",
        "w",
    ).selectExpr("element_at(w, i) AS x", "element_at(w, i + 1) AS y")
    big = toks.groupBy("x", "y").agg(F.count(F.lit(1)).alias("f_xy"))
    uni_x = toks.groupBy("x").agg(F.count(F.lit(1)).alias("f_x"))
    uni_y = toks.groupBy("y").agg(F.count(F.lit(1)).alias("f_y"))
    n_big = toks.agg(F.count(F.lit(1)).alias("n_big"))
    t_expr = (
        "CAST(FLOOR(1000000.0 * (CAST(f_xy AS DOUBLE)"
        " - CAST(f_x AS DOUBLE) * CAST(f_y AS DOUBLE)"
        " / CAST(n_big AS DOUBLE))"
        " / sqrt(CAST(f_xy AS DOUBLE))) AS BIGINT)"
    )
    w = Window.orderBy(F.col("t_micros").desc(),
                       F.col("x").asc(), F.col("y").asc())
    return (
        big.filter(F.col("f_xy") >= 5)
        .join(F.broadcast(uni_x), "x")
        .join(F.broadcast(uni_y), "y")
        .crossJoin(F.broadcast(n_big))
        .withColumn("t_micros", F.expr(t_expr))
        .withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= 10)
        .select("rnk", "x", "y", "f_xy", "t_micros")
    )


def doc_char_lm_score(spark, sf_dir):
    """CHARACTER-BIGRAM LM QUALITY SCORE — the gibberish detector of
    curation pipelines, in the log-free form the oracle contract
    demands (perplexity's logs are unparityable; the MEAN TRANSITION
    PROBABILITY in ppm carries the same ordering for filtering): score
    each doc as AVG over its transitions of floor(1e6·c(xy)/c(x·));
    resubstitution, which the oracle mirrors.

    Plan shape (r05 perf pass, 9.4 s -> measured below at sf0.1): ONE
    character explode feeding a map-side-combined (doc, xy) count —
    the only big exchange carries distinct-bigrams-per-doc rows, not
    char rows — then the corpus model c(xy) is a rollup OF THOSE
    COUNTS and c(x·) a rollup of c(xy) (exact: both count the same
    transition positions), both broadcast back.  The naive form
    (explode 3x, join at char grain, shuffle char rows) is what this
    replaces; per-doc sums weight each distinct bigram by its count —
    row-identical to the per-transition fold."""
    # r06: spread — the char-grain explode + (doc, xy) partial
    # aggregate is the query's hot stage and otherwise runs in the
    # corpus scan's single task (guide §2.5; no-op on a wide scan)
    docs = spread(
        _t(spark, sf_dir, "documents").select("doc_id", "lang", "text"),
        "doc_id",
    )
    pd_xy = (
        docs.filter("length(text) >= 2").selectExpr(
            # ADVICE r05 guard: 1-char docs make the sequence descend
            # (vacuous on the fixture; DuckDB's series is empty)
            "doc_id", "lang",
            "explode(sequence(1, length(text) - 1)) AS i",
            "text",
        )
        .selectExpr("doc_id", "lang", "substring(text, i, 2) AS xy")
        .groupBy("doc_id", "lang", "xy")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    c_xy = pd_xy.groupBy("xy").agg(F.sum("cnt").alias("n_xy"))
    c_x = (
        c_xy.selectExpr("substring(xy, 1, 1) AS x", "n_xy")
        .groupBy("x")
        .agg(F.sum("n_xy").alias("n_x"))
    )
    weights = (
        c_xy.join(c_x, F.expr("substring(xy, 1, 1) = x"))
        .selectExpr("xy", "n_xy * 1000000 DIV n_x AS p_ppm")
    )
    per_doc = (
        pd_xy.join(F.broadcast(weights), "xy")
        .groupBy("doc_id", "lang")
        .agg(
            F.sum("cnt").alias("n_trans"),
            F.sum(F.expr("cnt * p_ppm")).alias("sum_ppm"),
        )
        .selectExpr(
            "doc_id", "lang", "n_trans",
            "sum_ppm DIV n_trans AS score_ppm",
        )
    )
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("score_ppm").alias("sum_score_ppm"),
            F.min("score_ppm").alias("min_score_ppm"),
            F.expr("MIN(struct(score_ppm, doc_id)).doc_id")
            .alias("worst_doc"),
        )
        .selectExpr(
            "lang", "n_docs",
            "sum_score_ppm DIV n_docs AS mean_score_ppm",
            "min_score_ppm", "worst_doc",
        )
        .orderBy("lang")
    )


def vocab_coverage_curve(spark, sf_dir):
    """VOCABULARY COVERAGE CURVE — what share of all token occurrences
    the top-2^i words cover, i = 1..10 (the curve a tokenizer design
    reads before fixing vocab size; Zipf's law makes it concave, which
    the pytest pins as monotonicity).  One token explode, one
    vocabulary-sized ranking window, exact cumulative BIGINTs; the
    rank→tier mapping is a CASE on powers of two, so the result is 10
    rows regardless of corpus size."""
    toks = (
        _t(spark, sf_dir, "documents")
        .selectExpr("explode(split(text, ' ')) AS w")
        .filter("w != ''")
    )
    vocab = toks.groupBy("w").agg(F.count(F.lit(1)).alias("n"))
    ranked = vocab.selectExpr(
        "w", "n",
        "ROW_NUMBER() OVER (ORDER BY n DESC, w) AS rnk",
    ).selectExpr(
        "n", "rnk",
        "SUM(n) OVER (ORDER BY rnk"
        " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum",
    )
    total = toks.agg(F.count(F.lit(1)).alias("total"))
    levels = spark.range(1, 11).selectExpr(
        "CAST(id AS INT) AS i", "CAST(pow(2, id) AS BIGINT) AS k"
    )
    at_k = (
        ranked.crossJoin(F.broadcast(levels))
        .filter("rnk <= k")
        .groupBy("i", "k")
        .agg(F.max("cum").alias("covered"))
    )
    return (
        at_k.crossJoin(F.broadcast(total))
        .selectExpr(
            "i", "k", "covered", "total",
            "covered * 1000000 DIV total AS coverage_ppm",
        )
        .orderBy("i")
    )


def doc_ngram_novelty(spark, sf_dir):
    """N-GRAM NOVELTY — what fraction of each document's word 5-gram
    shingles appears in NO earlier document (doc_id order): the
    memorization/duplication growth curve a curation pipeline tracks
    as a corpus accretes (a shingle is "owned" by its MIN doc_id, so
    novelty needs one explode + one min-agg + one equi-join — no
    pairwise anything, scale-safe by construction).  Shingles via
    explode(sequence) + codegen'd projection (gotcha 16b's fast form).
    Per-lang rollup: mean novelty in ppm + the least-novel doc."""
    # r06: spread — shingle explode + per-doc partial agg otherwise
    # runs inside the single-split scan task (guide §2.5)
    docs = spread(
        _t(spark, sf_dir, "documents").select("doc_id", "lang", "text"),
        "doc_id",
    )
    sh = (
        docs.selectExpr(
            "doc_id", "lang",
            "split(text, ' ') AS w",
        )
        .filter("size(w) >= 5")  # ADVICE r05 guard: short docs make
        # the sequence descend and slice() raise; DuckDB emits nothing
        .selectExpr(
            "doc_id", "lang",
            "explode(sequence(0, size(w) - 5)) AS i", "w",
        )
        .selectExpr(
            "doc_id", "lang",
            "concat_ws(' ', slice(w, i + 1, 5)) AS shingle",
        )
    )
    per_sh = sh.groupBy("doc_id", "lang", "shingle").agg(
        F.count(F.lit(1)).alias("cnt")
    ).localCheckpoint()  # feeds owners AND the novelty join
    owners = per_sh.groupBy("shingle").agg(F.min("doc_id").alias("owner"))
    per_doc = (
        per_sh.join(owners, "shingle")
        .groupBy("doc_id", "lang")
        .agg(
            F.sum("cnt").alias("n_shingles"),
            F.sum(F.expr(
                "CASE WHEN owner = doc_id THEN cnt ELSE 0 END"
            )).alias("n_novel"),
        )
        .selectExpr(
            "doc_id", "lang", "n_shingles", "n_novel",
            "n_novel * 1000000 DIV n_shingles AS novelty_ppm",
        )
    )
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_shingles").alias("total_shingles"),
            F.sum("n_novel").alias("total_novel"),
            F.sum("novelty_ppm").alias("sum_novelty_ppm"),
            F.expr("MIN(struct(novelty_ppm, doc_id)).doc_id")
            .alias("least_novel_doc"),
        )
        .selectExpr(
            "lang", "n_docs", "total_shingles", "total_novel",
            "sum_novelty_ppm DIV n_docs AS mean_novelty_ppm",
            "least_novel_doc",
        )
        .orderBy("lang")
    )


def dedup_impact_report(spark, sf_dir):
    """DEDUP IMPACT REPORT — the before/after accounting a curation
    run publishes: corpus size in docs and whitespace tokens, then
    what survives EXACT dedup (md5 of raw text) and NORMALIZED dedup
    (lower + collapsed whitespace — the cheap canonicalization tier
    below MinHash/SimHash): keeper = min doc_id per group, surviving
    tokens = the keepers' tokens.  Two hash aggs per tier over
    fingerprints, never text pairs; one row per lang."""
    docs = _t(spark, sf_dir, "documents").selectExpr(
        "doc_id", "lang",
        "size(split(text, ' ')) AS n_tokens",
        "md5(text) AS h_exact",
        "md5(regexp_replace(lower(text), ' +', ' ')) AS h_norm",
    )

    def tier(col, pre):
        keep = docs.groupBy("lang", col).agg(
            F.min("doc_id").alias("keeper"),
            F.max("n_tokens").alias("tok1"),
        )
        return keep.groupBy("lang").agg(
            F.count(F.lit(1)).alias(f"{pre}_docs"),
            F.sum("tok1").alias(f"{pre}_tokens"),
        )

    base = docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("n_tokens"),
    )
    return (
        base.join(tier("h_exact", "exact"), "lang")
        .join(tier("h_norm", "norm"), "lang")
        .selectExpr(
            "lang", "n_docs", "n_tokens",
            "exact_docs", "exact_tokens", "norm_docs", "norm_tokens",
            "exact_tokens * 1000000 DIV n_tokens AS exact_keep_ppm",
            "norm_tokens * 1000000 DIV n_tokens AS norm_keep_ppm",
        )
        .orderBy("lang")
    )


QUERIES = {
    "dedup_fingerprint": dedup_fingerprint,
    "doc_token_stats": doc_token_stats,
    "lang_stopword_score": lang_stopword_score,
    "minhash_signatures": minhash_signatures,
    "minhash_lsh_pairs": minhash_lsh_pairs,
    "doc_rolling_fingerprint": doc_rolling_fingerprint,
    "token_bpe_counts": token_bpe_counts,
    "dedup_exact": dedup_exact,
    "simhash60": simhash60,
    "ngram_jaccard_pairs": ngram_jaccard_pairs,
    "ngram_jaccard_indexed": ngram_jaccard_indexed,
    "sample_stratified": sample_stratified,
    "doc_length_quantiles": doc_length_quantiles,
    "lang_ngram_id": lang_ngram_id,
    "dq_documents": dq_documents,
    "substring_dup_pairs": substring_dup_pairs,
    "doc_quality_filter": doc_quality_filter,
    "tfidf_top_terms": tfidf_top_terms,
    "pack_sequences": pack_sequences,
    "dedup_clusters": dedup_clusters,
    "doc_normalized_dedup": doc_normalized_dedup,
    "dedup_lsh_recall": dedup_lsh_recall,
    "udtf_word_runs": udtf_word_runs,
    "doc_bigram_rarity": doc_bigram_rarity,
    "dedup_containment": dedup_containment,
    "rake_keywords": rake_keywords,
    "doc_word_diversity": doc_word_diversity,
    "contamination_check": contamination_check,
    "dataset_mix_weights": dataset_mix_weights,
    "vocab_oov_rate": vocab_oov_rate,
    "bpe_merge_candidates": bpe_merge_candidates,
    "phrase_search": phrase_search,
    "bm25_top_docs": bm25_top_docs,
    "pmi_bigrams": pmi_bigrams,
    "fuzzy_name_pairs": fuzzy_name_pairs,
    "zipf_word_slope": zipf_word_slope,
    "collation_token_dedup": collation_token_dedup,
    "doc_readability": doc_readability,
    "doc_repetition": doc_repetition,
    "bpe_train_merges": bpe_train_merges,
    "bpe_encode_docs": bpe_encode_docs,
    "doc_zlib_ratio": doc_zlib_ratio,
    "simhash_neardup_pairs": simhash_neardup_pairs,
    "tfidf_cosine_topk": tfidf_cosine_topk,
    "doc_ngram_novelty": doc_ngram_novelty,
    "dedup_impact_report": dedup_impact_report,
    "doc_char_lm_score": doc_char_lm_score,
    "vocab_coverage_curve": vocab_coverage_curve,
    "doc_collocation_tscore": doc_collocation_tscore,
    "doc_lang_classifier": doc_lang_classifier,
    "doc_term_chisq": doc_term_chisq,
    "arrow_doc_stats": arrow_doc_stats,
}
