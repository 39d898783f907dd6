"""Deduplication operators for training-data pipelines (north-star surface).

Five families, each at its 100 TB-scale plan shape:

- **exact**         — hash-groupBy on a normalization fingerprint: one shuffle
                      keyed by a 128-bit hash, no full-text comparison.
- **n-gram Jaccard**— inverted-index self-join on shingles (join key = shingle)
                      + count-based Jaccard: never materializes the O(n²) pair
                      space, only pairs sharing ≥1 shingle.
- **MinHash + LSH** — fixed-size signature per doc (k hashed mins), banded into
                      buckets; candidate pairs only from same-bucket collisions;
                      exact Jaccard verification on the (tiny) candidate set.
- **SimHash**       — 64-bit weighted-bit fingerprint; hamming-ball candidates
                      via 4×16-bit band exact-match (pigeonhole: distance ≤ 3
                      ⇒ at least one band identical).
- **embedding cosine** — see ``similarity.py`` for the ANN machinery; here the
                      near-dup pair filter.

All hashing is Spark's ``xxhash64`` (JVM-side, seeded via literal prefixes) —
deterministic across runs/partitions, so rows-only checks are stable. The
sketch-based ops have no ANSI-SQL twin (DuckDB lacks xxhash64) → rows-only;
the exact ops are fully oracle-checked.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from incubator_paimon_trino_spark.operators.registry import register
from incubator_paimon_trino_spark.sources import table

# MinHash parameters: 32 permutations, 8 bands × 4 rows. Band-collision
# probability is 1-(1-J^4)^8: ~0.40 at J=0.5, ~0.80 at J=0.65, ~0.97 at
# J≈0.77 — the curve's knee sits above the 0.5 estimate-threshold on
# purpose, so high-similarity pairs are near-certain catches while
# borderline ones are best-effort (the exact-Jaccard twin is the oracle
# for completeness).
_N_PERMS = 32
_N_BANDS = 8
_ROWS_PER_BAND = _N_PERMS // _N_BANDS


def _raw_shingles(docs: DataFrame) -> DataFrame:
    """(doc_id, s) — one row per word-3-gram OCCURRENCE (not distinct),
    fully codegen with ZERO shuffle: the 3-gram is assembled by direct array
    indexing over ``explode(sequence(0, size-3))``, so the only wide
    operation a consumer pays is its own aggregation/dedup. (A posexplode
    + window-``lead`` producer would shuffle every word by doc_id; that
    shuffle was over half the benched MinHash wall time.)

    Short docs: ``sequence(stop < start)`` counts DOWN ([0, -1] for a
    2-word doc) — the ``if(size >= 3, ...)`` guard keeps the landmine from
    reappearing (conditional branches evaluate lazily): fewer than three
    words → empty array → no row, matching the oracles' empty UNNEST.

    Duplicate-insensitive consumers (MinHash: min over a multiset equals
    min over its set) use this directly; set-semantics consumers (Jaccard,
    containment, contamination) go through ``shingles_from``.
    """
    d = docs.select("doc_id", F.split("text", " ").alias("w"))
    return d.select(
        "doc_id",
        F.expr(
            "explode(if(size(w) >= 3, sequence(0, size(w) - 3), "
            "cast(array() as array<int>)))"
        ).alias("i"),
        "w",
    ).select(
        "doc_id",
        F.concat_ws(" ", F.expr("w[i]"), F.expr("w[i + 1]"), F.expr("w[i + 2]")).alias("s"),
    )


def shingles_from(docs: DataFrame) -> DataFrame:
    """(doc_id, s) — one row per DISTINCT word-3-gram; see ``_raw_shingles``
    for the codegen producer (the distinct's hash shuffle is the first and
    only exchange, and it doubles as the parallelizing repartition)."""
    return _raw_shingles(docs).dropDuplicates()


def exploded_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    return shingles_from(table(spark, sf_dir, "documents"))


#: max number of documents a shingle may appear in before it is treated as a
#: stop-shingle. A shingle shared by d documents contributes O(d²) candidate
#: pairs to an inverted-index self-join, so boilerplate n-grams (license
#: headers, navigation chrome) dominate both the shuffle and the skew at
#: corpus scale while carrying no near-dup signal.
STOP_SHINGLE_MAX_DF = 100


def drop_stop_shingles(sh: DataFrame, max_doc_freq: int = STOP_SHINGLE_MAX_DF) -> DataFrame:
    """Remove shingles whose document frequency exceeds ``max_doc_freq``.

    One extra groupBy + left-semi join, both keyed on the shingle — the same
    shuffle key as the inverted-index self-join that follows, so AQE can
    co-plan them. This is the skew cap the 100 TB design requires: the
    hottest join bucket is bounded by ``max_doc_freq`` rows.
    """
    keep = (
        sh.groupBy("s")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") <= max_doc_freq)
        .select("s")
    )
    return sh.join(keep, "s", "left_semi")


@register(
    "dedup_exact",
    oracle="""
    WITH fp AS (
      SELECT doc_id, md5(lower(regexp_replace(text, '\\s+', ' ', 'g'))) AS fingerprint
      FROM documents
    )
    SELECT doc_id, fingerprint,
           CASE WHEN doc_id = MIN(doc_id) OVER (PARTITION BY fingerprint) THEN 1 ELSE 0 END AS is_kept
    FROM fp
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: normalization fingerprint + keep-lowest-id-per-group.

    At scale: one hash shuffle on the fingerprint; survivors = one row per
    group. Emits the keep/drop decision per doc so the policy is auditable.
    """
    from pyspark.sql import Window as W

    d = table(spark, sf_dir, "documents")
    fp = F.md5(F.lower(F.regexp_replace("text", r"\s+", " ")))
    w = W.partitionBy("fingerprint")
    return (
        d.select("doc_id", fp.alias("fingerprint"))
        .withColumn("is_kept", F.when(F.col("doc_id") == F.min("doc_id").over(w), 1).otherwise(0))
    )


def ngram_jaccard_pairs(
    docs: DataFrame, threshold: float = 0.6, max_doc_freq: int = STOP_SHINGLE_MAX_DF
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs via inverted-index join.

    Join key is the shingle, so only docs sharing a shingle ever meet — the
    O(n²) pair space is never built. Stop-shingles (document frequency >
    ``max_doc_freq``) are dropped FIRST, bounding the hottest join bucket;
    sizes are computed on the filtered set so the score stays a true Jaccard
    over informative shingles. Integer counts keep it hash-stable. Doc-size
    joins carry one row per doc — left to the optimizer (broadcast while
    small, shuffle at corpus scale)."""
    sh = drop_stop_shingles(shingles_from(docs), max_doc_freq)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    a = sh.select(F.col("doc_id").alias("doc_a"), "s")
    b = sh.select(F.col("doc_id").alias("doc_b"), "s")
    inter = (
        a.join(b, "s")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    jac = F.col("n_common") * 1.0 / (F.col("na") + F.col("nb") - F.col("n_common"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


@register(
    "dedup_ngram_jaccard",
    oracle="""
    WITH sh AS (
      SELECT DISTINCT doc_id, words[i] || ' ' || words[i+1] || ' ' || words[i+2] AS s
      FROM (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
           UNNEST(range(1, GREATEST(len(words) - 1, 1))) AS t(i)
    ),
    keep AS (SELECT s FROM sh GROUP BY s HAVING COUNT(*) <= 100),
    shf AS (SELECT sh.doc_id, sh.s FROM sh JOIN keep USING (s)),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM shf GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
      FROM shf a JOIN shf b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           n_common * 1.0 / (sa.n + sb.n - n_common) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE n_common * 1.0 / (sa.n + sb.n - n_common) >= 0.6
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """See ``ngram_jaccard_pairs``; the stop-shingle cap (df ≤ 100) is part
    of the algorithm spec and mirrored in the oracle SQL."""
    return ngram_jaccard_pairs(table(spark, sf_dir, "documents"))


def minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, array<long> of _N_PERMS minhashes).

    Permutation i is min over shingles of ``xxhash64(base_hash, i)`` — one
    base hash per shingle, rehashed per permutation JVM-side (no wrapping
    arithmetic, which ANSI mode rejects). Implemented as explode →
    ``_N_PERMS`` MIN aggregates: everything stays inside whole-stage codegen
    (array higher-order lambdas would be interpreted per element and ~10×
    slower), and the groupBy applies map-side partial mins so the shuffle
    carries one signature row per doc per partition.

    Shingles come from ``_raw_shingles`` (occurrence-level): MIN is
    duplicate-insensitive, so skipping the distinct leaves signatures
    byte-identical while the whole plan's ONLY exchange is the signature
    groupBy — no shingle string ever shuffles (−40% on the benched
    signature stage).
    """
    # the documents scan is not fanned out: a fanned scan would shuffle raw
    # text, and no shingle string may shuffle (a fan-out measured as noise).
    tok = _raw_shingles(table(spark, sf_dir, "documents")).withColumn("h", F.xxhash64("s"))
    # One F.expr string per aggregate instead of nested Column calls: the
    # expressions are identical (SQL integer literals are IntegerType, same
    # as F.lit(int) — xxhash64 input bytes unchanged), but the driver issues
    # ~4x fewer py4j roundtrips building the plan (Column calls made the
    # builder ~0.9 s of the benched query on a slow py4j path).
    aggs = [F.expr(f"min(xxhash64(h, {i})) AS m{i}") for i in range(_N_PERMS)]
    sums = tok.groupBy("doc_id").agg(*aggs)
    sig = "array(" + ",".join(f"m{i}" for i in range(_N_PERMS)) + ") AS sig"
    return sums.select("doc_id", F.expr(sig))


def _exact_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_a < doc_b) pairs with IDENTICAL text (md5 join) — the ground
    truth every LSH family is guaranteed to recover: identical text means
    identical shingles/tokens, hence identical signatures, hence identical
    band keys. Used as the in-query invariant of the rows-only LSH queries.
    Quadratic only within an exact-duplicate group — the same blowup the
    LSH output itself has for those groups."""
    d = table(spark, sf_dir, "documents").select("doc_id", F.md5("text").alias("_h"))
    a = d.select(F.col("doc_id").alias("doc_a"), "_h")
    b = d.select(F.col("doc_id").alias("doc_b"), "_h")
    return a.join(b, "_h").filter(F.col("doc_a") < F.col("doc_b")).select("doc_a", "doc_b")


@register("dedup_minhash_lsh")  # rows-only: xxhash64 has no DuckDB twin
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + banded LSH near-dup pairs, verified by signature agreement.

    In-query invariant: the exact-duplicate pairs (md5-identical text —
    ``_exact_dup_pairs``) MUST all appear in the output (identical text ⇒
    identical signatures ⇒ est_jaccard = 1 ≥ 0.5); the query fails loudly
    if any is missing, tying the rows-only declaration to the md5 twin's
    guarantee on the same data.

    Pipeline: signature (fixed 32 longs/doc) → explode into 8 SKINNY band
    keys (doc_id, band, band_hash — the signature array stays behind) →
    self-join on (band, band_hash) → distinct candidate pairs → join the
    signatures back to score estimated Jaccard = fraction of agreeing
    positions ≥ 0.5.

    Scale shape: the band exchange and the pair-dedup
    exchange carry ~24 bytes/row instead of riding the 32×8-byte signature
    array through both (~10× less band-join shuffle volume at any corpus
    size); signatures shuffle exactly once — their own groupBy, whose
    doc_id partitioning the score-joins then reuse. Candidate pairs are the
    tiny side of those joins. Only same-bucket pairs are ever compared.
    Cross-checked against exact Jaccard in tests (tests/test_dedup.py).
    """
    # the per-build lazy localCheckpoint sits on the SIGNATURES — the
    # subtree consumed three times in one plan (bands, sig_a, sig_b).
    # Catalyst otherwise re-analyzes the 32-aggregate tree per consumer
    # (~0.65 s of build-time planning with the checkpoint on the output),
    # while everything downstream of sigs is cheap to re-derive; the
    # LogicalRDD keeps sigs' hashpartitioning(doc_id), so the score joins
    # still reuse the signature groupBy's partitioning. Nothing carries
    # across runs (fresh RDD per builder call; every timed run recomputes
    # from parquet). Interleaved A/B (warm, alternating): output-ckpt
    # 1.0–1.3 s vs sigs-ckpt 0.93–0.97 s.
    sigs = minhash_signatures(spark, sf_dir).localCheckpoint(eager=False)
    # Single expr string for the band-key array (sig[i] is 0-based — same
    # element element_at(sig, i+1) addressed; named_struct int literals match
    # F.lit(int)'s IntegerType): ~60 fewer py4j roundtrips per build.
    band_arr = "array(" + ",".join(
        "named_struct('band', {b}, 'bh', xxhash64({elems}))".format(
            b=b,
            elems=",".join(f"sig[{b * _ROWS_PER_BAND + r}]" for r in range(_ROWS_PER_BAND)),
        )
        for b in range(_N_BANDS)
    ) + ")"
    bands = sigs.select("doc_id", F.explode(F.expr(band_arr)).alias("bk")).select(
        "doc_id", F.col("bk.band").alias("band"), F.col("bk.bh").alias("bh")
    )
    left = bands.select(F.col("doc_id").alias("doc_a"), "band", "bh")
    right = bands.select(F.col("doc_id").alias("doc_b"), "band", "bh")
    cand = (
        left.join(right, ["band", "bh"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .dropDuplicates()
    )
    sa = sigs.select(F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig_a"))
    sb = sigs.select(F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b"))
    est = F.expr(
        f"size(filter(zip_with(sig_a, sig_b, (x, y) -> x = y), v -> v))"
        f" / cast({_N_PERMS} as double)"
    )
    out = (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("est_jaccard", est)
        .filter(F.col("est_jaccard") >= 0.5)
        .select("doc_a", "doc_b", "est_jaccard")
    )
    # no `.cache()` for the double consumption (output + guard): Spark's
    # CacheManager keys cached plans by CANONICALIZED plan, so a benched
    # re-build of the identical query would be served from the warm run's
    # materialized result (cross-run result caching). The guard's second
    # consumption re-derives the pair set from the checkpointed signatures
    # above — cheap, and with zero cross-run state.
    from incubator_paimon_trino_spark.operators.registry import guard_empty

    missing = _exact_dup_pairs(spark, sf_dir).join(out, ["doc_a", "doc_b"], "left_anti")
    return guard_empty(out, missing, "minhash LSH missed an exact-duplicate pair")


@register("dedup_simhash")  # rows-only: xxhash64 has no DuckDB twin
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: 64-bit fingerprint, 4×16-bit band candidates,
    hamming distance ≤ 3 verification (pigeonhole: distance ≤ 3 over 4 bands
    guarantees at least one identical band, so banding loses no true pair).

    Fingerprint: frequency-weighted — each (token, count) contributes
    ±count to each of the 64 bit-sums; bit b of the simhash is the sign of
    sum b.
    """
    # Frequency-weighted simhash via codegen-friendly conditional aggregates:
    # explode tokens → (doc, token, count) → 64 conditional SUMs (one per bit).
    # Higher-order array lambdas would be interpreted row-at-a-time; a wide
    # hash-aggregate stays inside whole-stage codegen and shuffles once.
    d = table(spark, sf_dir, "documents")
    tok = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count("*").alias("cnt"))
        .withColumn("h", F.xxhash64("token"))
    )
    # One F.expr string per bit instead of ~7 nested Column calls: CASE
    # WHEN is `when/otherwise`'s exact SQL spelling and the int literals
    # type identically, so the aggregate expressions are unchanged — only
    # the driver-side py4j roundtrip count drops (~450 → 64 calls for this
    # builder).
    bit_aggs = [
        F.expr(
            f"sum(CASE WHEN (shiftright(h, {b}) & 1) = 1 THEN cnt ELSE -cnt END) AS s{b}"
        )
        for b in range(64)
    ]
    sums = tok.groupBy("doc_id").agg(*bit_aggs)
    simhash_expr = " + ".join(
        f"(CASE WHEN s{b} > 0 THEN CAST({1 << b if b < 63 else -(1 << 63)} AS BIGINT) ELSE 0L END)"
        for b in range(64)
    )
    docs = sums.select("doc_id", F.expr(simhash_expr).alias("simhash"))
    # single expr string for the 4-band struct array (same expressions —
    # SQL int literals are IntegerType like F.lit(int)); see minhash's
    # band_arr for the py4j rationale
    band_arr = "array(" + ",".join(
        f"named_struct('band', {b}, 'bh', shiftright(simhash, {16 * b}) & 65535)"
        for b in range(4)
    ) + ")"
    # per-build lazy localCheckpoint on the BANDS (the subtree both join
    # sides and the hamming filter re-derive — it embeds the 64-agg
    # fingerprint tree, the expensive part for Catalyst to re-analyze per
    # consumer); nothing carries across runs, as with minhash's sigs.
    bands = docs.select(
        "doc_id", "simhash", F.explode(F.expr(band_arr)).alias("bk")
    ).select(
        "doc_id", "simhash", F.col("bk.band").alias("band"), F.col("bk.bh").alias("bh")
    ).localCheckpoint(eager=False)
    left = bands.select(F.col("doc_id").alias("doc_a"), F.col("simhash").alias("h_a"), "band", "bh")
    right = bands.select(F.col("doc_id").alias("doc_b"), F.col("simhash").alias("h_b"), "band", "bh")
    hamming = F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b")))
    out = (
        left.join(right, ["band", "bh"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "h_a", "h_b")
        .dropDuplicates(["doc_a", "doc_b"])
        .withColumn("hamming", hamming.cast("int"))
        .filter(F.col("hamming") <= 3)
        .select("doc_a", "doc_b", "hamming")
    )
    # no `.cache()`, for the same reason as dedup_minhash_lsh —
    # canonicalized-plan cache hits would serve timed bench runs from the
    # warm run's result. The guard re-derives the pair set from the
    # checkpointed bands above — cheap, zero cross-run state.
    # In-query invariant: identical text ⇒
    # identical fingerprints ⇒ hamming 0 and shared bands, so every
    # md5-exact pair must be in the output — loud failure otherwise.
    from incubator_paimon_trino_spark.operators.registry import guard_empty

    missing = _exact_dup_pairs(spark, sf_dir).join(out, ["doc_a", "doc_b"], "left_anti")
    return guard_empty(out, missing, "simhash missed an exact-duplicate pair")


@register(
    "dedup_embedding_cosine",
    oracle="""
    WITH pairs AS (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
             list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))
             / (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])))
                * sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])))) AS cosine
      FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    )
    SELECT vec_a, vec_b, ROUND(cosine, 6) AS cosine_r
    FROM pairs WHERE cosine >= 0.4
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs: cosine ≥ 0.4 (driver embeddings are
    near-orthogonal; real corpora use ~0.95).

    This oracle-checked variant is the brute-force O(n²) reference semantics
    on the small dim table; the bucketed scale path is
    ``similarity.ann_lsh_bucketed``. Cosine is computed as a sequential
    double fold over the array — same element order as DuckDB's
    list_dot_product, so values match to the last bit; output rounded to 6dp
    only as belt-and-suspenders.
    """
    e = table(spark, sf_dir, "embeddings").withColumn(
        "emb", F.transform("embedding", lambda x: x.cast("double"))
    )
    from incubator_paimon_trino_spark.operators.similarity import _dot as dot

    a = e.select(F.col("vec_id").alias("vec_a"), F.col("emb").alias("ea"))
    b = e.select(F.col("vec_id").alias("vec_b"), F.col("emb").alias("eb"))
    cosine = dot(F.col("ea"), F.col("eb")) / (
        F.sqrt(dot(F.col("ea"), F.col("ea"))) * F.sqrt(dot(F.col("eb"), F.col("eb")))
    )
    return (
        a.crossJoin(b)
        .filter(F.col("vec_a") < F.col("vec_b"))
        .withColumn("cosine", cosine)
        .filter(F.col("cosine") >= 0.4)
        .select("vec_a", "vec_b", F.round("cosine", 6).alias("cosine_r"))
    )


@register(
    "dedup_cluster_components",
    oracle="""
    WITH RECURSIVE sh AS (
      SELECT DISTINCT doc_id, words[i] || ' ' || words[i+1] || ' ' || words[i+2] AS s
      FROM (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
           UNNEST(range(1, GREATEST(len(words) - 1, 1))) AS t(i)
    ),
    keep AS (SELECT s FROM sh GROUP BY s HAVING COUNT(*) <= 100),
    shf AS (SELECT sh.doc_id, sh.s FROM sh JOIN keep USING (s)),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM shf GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
      FROM shf a JOIN shf b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT doc_a, doc_b FROM inter
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
      WHERE n_common * 1.0 / (sa.n + sb.n - n_common) >= 0.6
    ),
    edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
              UNION ALL SELECT doc_b, doc_a FROM pairs),
    walk(id, comp) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.v, w.comp FROM walk w JOIN edges e ON e.u = w.id
    )
    SELECT id AS doc_id, MIN(comp) AS component FROM walk GROUP BY id
    """,
)
def dedup_cluster_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster assignment: connected components over the near-dup
    graph (edges = n-gram Jaccard ≥ 0.6), labels = min doc_id reachable.

    Pair lists (``dedup_ngram_jaccard``) are not enough for a real dedup
    pass — transitive duplicates (A~B, B~C but A≁C) must land in ONE
    cluster so exactly one representative survives. This is iterative
    min-label propagation: each round every node takes the min of its own
    and its neighbors' labels; labels only decrease, so an unchanged label
    checksum is a fixpoint. The oracle is the same fixpoint computed by
    DuckDB's recursive CTE.

    Scale shape: edges are materialized once (``localCheckpoint``) and
    re-joined each round — hash-partitioned on ``u``, so every round is one
    co-partitioned join + one groupBy, no O(n²) anything. Rounds = graph
    diameter; for trillion-edge graphs swap the body for the large-star/
    small-star rewrite (Kiveris et al., "Connected Components in MapReduce",
    SoCC'14) which converges in O(log n) rounds — same per-round plan.
    Driver-side loop is control flow only (one scalar checksum per round);
    data never leaves the executors.
    """
    pairs = dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")
    edges = pairs.union(
        pairs.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
    ).toDF("u", "v").localCheckpoint()

    comp = (
        table(spark, sf_dir, "documents")
        .select("doc_id")
        .withColumn("component", F.col("doc_id"))
        .localCheckpoint()
    )
    prev_sum = comp.agg(F.sum("component")).collect()[0][0]
    while True:
        msgs = (
            comp.join(edges, comp["doc_id"] == edges["u"])
            .groupBy(F.col("v").alias("doc_id"))
            .agg(F.min("component").alias("nbr_min"))
        )
        comp = (
            comp.join(msgs, "doc_id", "left")
            .select("doc_id", F.least("component", "nbr_min").alias("component"))
            .localCheckpoint()
        )
        new_sum = comp.agg(F.sum("component")).collect()[0][0]
        if new_sum == prev_sum:
            return comp
        prev_sum = new_sum


@register(
    "dedup_keep_list",
    oracle="""
    WITH RECURSIVE sh AS (
      SELECT DISTINCT doc_id, words[i] || ' ' || words[i+1] || ' ' || words[i+2] AS s
      FROM (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
           UNNEST(range(1, GREATEST(len(words) - 1, 1))) AS t(i)
    ),
    keep AS (SELECT s FROM sh GROUP BY s HAVING COUNT(*) <= 100),
    shf AS (SELECT sh.doc_id, sh.s FROM sh JOIN keep USING (s)),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM shf GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
      FROM shf a JOIN shf b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT doc_a, doc_b FROM inter
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
      WHERE n_common * 1.0 / (sa.n + sb.n - n_common) >= 0.6
    ),
    edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
              UNION ALL SELECT doc_b, doc_a FROM pairs),
    walk(id, comp) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.v, w.comp FROM walk w JOIN edges e ON e.u = w.id
    )
    SELECT id AS doc_id, MIN(comp) AS component,
           CASE WHEN id = MIN(comp) THEN 1 ELSE 0 END AS is_kept
    FROM walk GROUP BY id
    """,
)
def dedup_keep_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end dedup decision: near-dup graph → connected components →
    ONE surviving representative per duplicate cluster (the min doc_id,
    which IS the component label, so survival is a comparison — no second
    pass). This is the artifact a training-data pipeline actually consumes:
    every doc labeled keep/drop, auditable by cluster. Scale shape is the
    components loop (one co-partitioned join + groupBy per round); the
    keep decision adds zero shuffles."""
    comp = dedup_cluster_components(spark, sf_dir)
    return comp.withColumn(
        "is_kept",
        F.when(F.col("doc_id") == F.col("component"), F.lit(1)).otherwise(F.lit(0)),
    )


@register(
    "dedup_incremental_new_batch",
    oracle=r"""
    WITH fp AS (
      SELECT doc_id, md5(lower(regexp_replace(text, '\s+', ' ', 'g'))) AS fingerprint
      FROM documents
    ),
    new_batch AS (SELECT * FROM fp WHERE doc_id % 10 = 0),
    corpus_fp AS (SELECT DISTINCT fingerprint FROM fp WHERE doc_id % 10 <> 0)
    SELECT n.doc_id, n.fingerprint,
           CASE WHEN c.fingerprint IS NOT NULL THEN 'dup_of_corpus'
                WHEN n.doc_id <> MIN(n.doc_id) OVER (PARTITION BY n.fingerprint)
                  THEN 'dup_within_batch'
                ELSE 'novel' END AS status
    FROM new_batch n
    LEFT JOIN corpus_fp c ON c.fingerprint = n.fingerprint
    """,
)
def dedup_incremental_new_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup — the daily-ingest shape: dedup ONLY the new batch
    (modeled as doc_id % 10 = 0) against the already-ingested corpus, never
    re-deduping the corpus against itself. Each new doc is labeled
    ``dup_of_corpus`` (fingerprint already ingested), ``dup_within_batch``
    (first occurrence in this batch wins), or ``novel``.

    Scale shape: the corpus side is reduced to DISTINCT fingerprints (32
    bytes/doc — in production this is the fingerprint index maintained as a
    lake PK table, not a rescan), then one equi-join keyed on fingerprint:
    only the (small) new batch and the fingerprint index shuffle, and the
    within-batch window shares the same fingerprint key, so AQE co-plans
    the two exchanges. O(batch + index), independent of corpus text size.
    """
    from pyspark.sql import Window as W

    d = table(spark, sf_dir, "documents")
    fp = d.select(
        "doc_id",
        F.md5(F.lower(F.regexp_replace("text", r"\s+", " "))).alias("fingerprint"),
    )
    new_batch = fp.filter(F.col("doc_id") % 10 == 0)
    corpus_fp = (
        fp.filter(F.col("doc_id") % 10 != 0)
        .select(F.col("fingerprint").alias("c_fingerprint"))
        .distinct()
    )
    w = W.partitionBy("fingerprint")
    return (
        new_batch.join(
            corpus_fp, new_batch.fingerprint == corpus_fp.c_fingerprint, "left"
        )
        .withColumn(
            "status",
            F.when(F.col("c_fingerprint").isNotNull(), "dup_of_corpus")
            .when(F.col("doc_id") != F.min("doc_id").over(w), "dup_within_batch")
            .otherwise("novel"),
        )
        .select("doc_id", "fingerprint", "status")
    )


_MD5_PERMS = 16
_MD5_BANDS = 4
_MD5_RPB = _MD5_PERMS // _MD5_BANDS


def _md5_int(col: F.Column) -> F.Column:
    """Deterministic 60-bit integer from the md5 hex prefix — the one hash
    family Spark and DuckDB share bit-for-bit (xxhash64 has no DuckDB twin).
    """
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")




def _md5_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, sig: array<bigint> of _MD5_PERMS md5-derived minhashes) —
    the DuckDB-twin sketch shared by the batch and incremental md5 LSH
    queries. Occurrence-level shingles: MIN is duplicate-insensitive, so
    signatures match the oracle's DISTINCT-shingle CTE exactly (see
    ``minhash_signatures``)."""
    return _md5_signatures_of(table(spark, sf_dir, "documents"))


def _md5_signatures_of(docs: DataFrame) -> DataFrame:
    """The same sketch over an arbitrary (doc_id, text) DataFrame — lets the
    lake-integrated pipelines (changelog batches, consumer backlogs) sign
    exactly like the registered documents-table queries."""
    tok = _raw_shingles(docs)
    # expr strings instead of nested Column calls:
    # the expressions are identical — `_md5_int` spelled as its SQL body,
    # string literals type the same — only the py4j roundtrip count drops
    # (~130 → 17 calls for this builder). Oracle-proven (md5 twin family).
    aggs = [
        F.expr(
            f"min(cast(conv(substring(md5(concat_ws(':', s, '{i}')), 1, 15), 16, 10)"
            f" as bigint)) AS m{i}"
        )
        for i in range(_MD5_PERMS)
    ]
    sig = "array(" + ",".join(f"m{i}" for i in range(_MD5_PERMS)) + ") AS sig"
    return tok.groupBy("doc_id").agg(*aggs).select("doc_id", F.expr(sig))


def _md5_bands(sigs: DataFrame) -> DataFrame:
    """(doc_id, band, bkey): _MD5_BANDS band-bucket keys per signature —
    skinny rows (the signature array stays behind)."""
    # single expr string for the band-key struct array (identical
    # expressions; see _md5_signatures_of for the py4j rationale)
    band_arr = "array(" + ",".join(
        "named_struct('band', {b}, 'bkey', md5(concat_ws(',', {elems})))".format(
            b=b,
            elems=",".join(
                f"cast(element_at(sig, {b * _MD5_RPB + r + 1}) as string)"
                for r in range(_MD5_RPB)
            ),
        )
        for b in range(_MD5_BANDS)
    ) + ")"
    return sigs.select("doc_id", F.explode(F.expr(band_arr)).alias("bk")).select(
        "doc_id", F.col("bk.band").alias("band"), F.col("bk.bkey").alias("bkey")
    )




def _minhash_verdicts(base_ids: DataFrame, hits: DataFrame) -> DataFrame:
    """The incremental-probe verdict block shared by every MinHash probe
    (batch ``dedup_incremental_minhash_md5``, the streaming probe, and the
    maintained-index probe — one definition so the tiebreak and defaults
    can never diverge from the shared oracle): per base doc, the best match
    (highest est_jaccard, tie → lowest cand_id; −1 when clean), best
    estimate, and match count. ``hits`` is (doc_id, cand_id, est_jaccard)
    already thresholded; ``base_ids`` must cover every batch doc — a
    sub-3-word doc has no signature but still reports clean."""
    best = hits.groupBy("doc_id").agg(
        F.max_by(
            F.col("cand_id"), F.struct(F.col("est_jaccard"), (-F.col("cand_id")))
        ).alias("best_match"),
        F.max("est_jaccard").alias("best_est"),
        F.count(F.lit(1)).cast("bigint").alias("n_matches"),
    )
    return (
        base_ids.select("doc_id")
        .dropDuplicates()
        .join(best, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("best_match"), F.lit(-1)).cast("bigint").alias("best_match"),
            F.coalesce(F.col("best_est"), F.lit(0.0)).cast("double").alias("best_est"),
            F.coalesce(F.col("n_matches"), F.lit(0)).cast("bigint").alias("n_matches"),
        )
    )


def _md5_est(a: str, b: str) -> F.Column:
    """Estimated Jaccard = agreeing signature positions / _MD5_PERMS.
    NOTE: a bare `/ 16.0` literal parses as DECIMAL in Spark SQL, silently
    making the whole column decimal (pandas dtype object) while DuckDB
    returns double, and the oracle hash mismatches. Divide by an explicit
    DOUBLE."""
    return F.expr(
        f"size(filter(zip_with({a}, {b}, (x, y) -> x = y), v -> v))"
        f" / cast({_MD5_PERMS} as double)"
    )


@register(
    "dedup_minhash_lsh_md5",
    oracle="""
    WITH sh AS (
      SELECT DISTINCT doc_id, words[i] || ' ' || words[i+1] || ' ' || words[i+2] AS s
      FROM (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
           UNNEST(range(1, GREATEST(len(words) - 1, 1))) AS t(i)
    ),
    mh AS (
      SELECT doc_id, i,
             MIN(CAST(CAST(('0x' || substring(md5(s || ':' || CAST(i AS VARCHAR)), 1, 15)) AS UBIGINT) AS BIGINT)) AS m
      FROM sh, UNNEST(range(0, 16)) AS t(i)
      GROUP BY doc_id, i
    ),
    sig AS (SELECT doc_id, list(m ORDER BY i) AS sig FROM mh GROUP BY doc_id),
    bands AS (
      SELECT doc_id, b, md5(array_to_string(sig[b*4+1 : b*4+4], ',')) AS bkey
      FROM sig, UNNEST(range(0, 4)) AS t(b)
    ),
    cand AS (
      SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
      FROM bands x JOIN bands y ON x.b = y.b AND x.bkey = y.bkey AND x.doc_id < y.doc_id
    ),
    est AS (
      SELECT c.doc_a, c.doc_b, SUM(CASE WHEN ma.m = mb.m THEN 1 ELSE 0 END) / 16.0 AS est_jaccard
      FROM cand c
      JOIN mh ma ON ma.doc_id = c.doc_a
      JOIN mh mb ON mb.doc_id = c.doc_b AND mb.i = ma.i
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, est_jaccard FROM est WHERE est_jaccard >= 0.5
    """,
)
def dedup_minhash_lsh_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + banded LSH with a FULL value-hash oracle.

    Same sketch/banding algorithm as ``dedup_minhash_lsh`` (which keeps the
    faster xxhash64 and is cross-validated statistically in tests), but the
    permutation hashes derive from md5 — computable identically in DuckDB —
    so the entire pipeline (signatures → band buckets → candidate pairs →
    estimated Jaccard) is verified value-by-value, not just statistically.
    16 permutations, 4 bands × 4 rows; est-Jaccard = agreeing positions /16
    (k/16.0 is exact binary arithmetic in both engines).

    Scale shape is identical to the xxhash64 variant: signatures are fixed
    16×8 bytes/doc, candidates come only from shared band buckets — the
    O(n²) pair space never materializes.
    """
    sigs = _md5_signatures(spark, sf_dir)
    bands = _md5_bands(sigs)
    # skinny band join (mirrors dedup_minhash_lsh): candidate pairs are
    # found and deduped WITHOUT the signature arrays in tow, then the
    # signatures join back on the groupBy's own doc_id partitioning
    left = bands.select(F.col("doc_id").alias("doc_a"), "band", "bkey")
    right = bands.select(F.col("doc_id").alias("doc_b"), "band", "bkey")
    cand = (
        left.join(right, ["band", "bkey"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .dropDuplicates()
    )
    sa = sigs.select(F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig_a"))
    sb = sigs.select(F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b"))
    est = _md5_est("sig_a", "sig_b")
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("est_jaccard", est)
        .filter(F.col("est_jaccard") >= 0.5)
        .select("doc_a", "doc_b", "est_jaccard")
    )




def _md5_simhash_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, simhash): the 60-bit md5-derived frequency-weighted SimHash
    shared by the batch and incremental md5 variants (DuckDB-computable)."""
    d = table(spark, sf_dir, "documents")
    tok = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count("*").alias("cnt"))
        .withColumn("h", _md5_int(F.col("token")))
    )
    bit_aggs = [
        F.sum(
            F.when(F.shiftright("h", b).bitwiseAND(F.lit(1)) == 1, F.col("cnt")).otherwise(
                -F.col("cnt")
            )
        ).alias(f"s{b}")
        for b in range(60)
    ]
    sums = tok.groupBy("doc_id").agg(*bit_aggs)
    simhash_expr = " + ".join(
        f"(CASE WHEN s{b} > 0 THEN CAST({1 << b} AS BIGINT) ELSE 0L END)" for b in range(60)
    )
    return sums.select("doc_id", F.expr(simhash_expr).alias("simhash"))


def _md5_simhash_bands(docs: DataFrame) -> DataFrame:
    """(doc_id, simhash, band, bh): 4 bands x 15 bits per fingerprint —
    pigeonhole guarantees a shared band for every pair at hamming <= 3."""
    return docs.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright("simhash", 15 * b).bitwiseAND(F.lit(0x7FFF)).alias("bh"),
                    )
                    for b in range(4)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "simhash", F.col("bk.band").alias("band"), F.col("bk.bh").alias("bh"))


@register(
    "dedup_simhash_md5",
    oracle="""
    WITH tok AS (
      SELECT doc_id, token, COUNT(*) AS cnt,
             CAST(CAST(('0x' || substring(md5(token), 1, 15)) AS UBIGINT) AS BIGINT) AS h
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
      GROUP BY doc_id, token
    ),
    bits AS (
      SELECT doc_id, b, SUM(CASE WHEN (h >> b) & 1 = 1 THEN cnt ELSE -cnt END) AS s
      FROM tok, UNNEST(range(0, 60)) AS t(b)
      GROUP BY doc_id, b
    ),
    docs AS (
      SELECT doc_id, SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS simhash
      FROM bits GROUP BY doc_id
    ),
    bands AS (
      SELECT doc_id, simhash, b AS band, (simhash >> (15 * b)) & 32767 AS bh
      FROM docs, UNNEST(range(0, 4)) AS t(b)
    ),
    cand AS (
      SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
                      x.simhash AS h_a, y.simhash AS h_b
      FROM bands x JOIN bands y ON x.band = y.band AND x.bh = y.bh AND x.doc_id < y.doc_id
    )
    SELECT doc_a, doc_b, CAST(bit_count(xor(h_a, h_b)) AS INT) AS hamming
    FROM cand WHERE bit_count(xor(h_a, h_b)) <= 3
    """,
)
def dedup_simhash_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash with a FULL value-hash oracle (md5-derived token hashes).

    Same algorithm as ``dedup_simhash`` but on a 60-bit fingerprint (the
    md5-prefix integer both engines can compute): frequency-weighted bit
    sums, 4 bands × 15 bits, hamming ≤ 3 — pigeonhole still guarantees a
    shared band for every true pair. All arithmetic is integer, so the
    oracle matches exactly; the 64-bit xxhash64 variant remains the
    production path.
    """
    docs = _md5_simhash_docs(spark, sf_dir)
    bands = _md5_simhash_bands(docs)
    left = bands.select(F.col("doc_id").alias("doc_a"), F.col("simhash").alias("h_a"), "band", "bh")
    right = bands.select(F.col("doc_id").alias("doc_b"), F.col("simhash").alias("h_b"), "band", "bh")
    hamming = F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b")))
    return (
        left.join(right, ["band", "bh"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "h_a", "h_b")
        .dropDuplicates(["doc_a", "doc_b"])
        .withColumn("hamming", hamming.cast("int"))
        .filter(F.col("hamming") <= 3)
        .select("doc_a", "doc_b", "hamming")
    )


@register(
    "dedup_containment",
    oracle="""
    WITH sh AS (
      SELECT DISTINCT doc_id, words[i] || ' ' || words[i+1] || ' ' || words[i+2] AS s
      FROM (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
           UNNEST(range(1, GREATEST(len(words) - 1, 1))) AS t(i)
    ),
    keep AS (SELECT s FROM sh GROUP BY s HAVING COUNT(*) <= 100),
    shf AS (SELECT sh.doc_id, sh.s FROM sh JOIN keep USING (s)),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM shf GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_small, b.doc_id AS doc_big, COUNT(*) AS n_common
      FROM shf a JOIN shf b ON a.s = b.s AND a.doc_id <> b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_small, doc_big,
           n_common * 1.0 / ss.n AS containment
    FROM inter
    JOIN sizes ss ON ss.doc_id = doc_small
    JOIN sizes sb ON sb.doc_id = doc_big
    WHERE n_common * 1.0 / ss.n >= 0.75 AND ss.n <= sb.n
    """,
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment near-dups: |A∩B| / |A| ≥ 0.75 with |A| ≤ |B| —
    catches a document EMBEDDED in a longer one, which symmetric Jaccard
    misses (the union term dilutes the score). Same inverted-index plan as
    the Jaccard variant: join key = shingle, so the O(n²) pair space never
    materializes; exact integer counts keep the score hash-stable. The
    stop-shingle cap (df ≤ 100, ``drop_stop_shingles``) bounds the hottest
    join bucket and is mirrored in the oracle SQL."""
    sh = drop_stop_shingles(exploded_shingles(spark, sf_dir))
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    a = sh.select(F.col("doc_id").alias("doc_small"), "s")
    b = sh.select(F.col("doc_id").alias("doc_big"), "s")
    inter = (
        a.join(b, "s")
        .filter(F.col("doc_small") != F.col("doc_big"))
        .groupBy("doc_small", "doc_big")
        .agg(F.count("*").alias("n_common"))
    )
    ss = sizes.select(F.col("doc_id").alias("doc_small"), F.col("n").alias("ns"))
    sb = sizes.select(F.col("doc_id").alias("doc_big"), F.col("n").alias("nb"))
    return (
        inter.join(ss, "doc_small")
        .join(sb, "doc_big")
        .withColumn("containment", F.col("n_common") * 1.0 / F.col("ns"))
        .filter((F.col("containment") >= 0.75) & (F.col("ns") <= F.col("nb")))
        .select("doc_small", "doc_big", "containment")
    )


_CHUNK = 4  # words per block: small synthetic vocab → real cross-doc repeats


@register(
    "dedup_chunk_repetition",
    oracle=f"""
    WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    ci AS (
      SELECT doc_id, w,
             unnest(generate_series(0, CAST(floor((len(w) - 1) / {_CHUNK}) AS INT))) AS i
      FROM d WHERE len(w) > 0
    ),
    ch AS (
      SELECT doc_id,
             md5(array_to_string(list_slice(w, i * {_CHUNK} + 1, i * {_CHUNK} + {_CHUNK}), ' ')) AS h
      FROM ci
    ),
    per AS (SELECT doc_id, COUNT(*) AS total_chunks FROM ch GROUP BY doc_id),
    b AS (SELECT h FROM ch GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2),
    dup AS (SELECT doc_id, COUNT(*) AS dup_chunks FROM ch JOIN b USING (h) GROUP BY doc_id)
    SELECT p.doc_id, p.total_chunks, u.dup_chunks,
           ROUND(CAST(u.dup_chunks AS DOUBLE) / p.total_chunks, 4) AS dup_ratio
    FROM per p JOIN dup u USING (doc_id)
    """,
)
def dedup_chunk_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-document repeated-block detection (CCNet-style boilerplate
    removal): split each document into consecutive {_CHUNK}-word blocks,
    hash each block, and flag blocks whose hash occurs in >= 2 distinct
    documents; report per-document repetition counts/ratio.

    Scale shape: only 32-hex block hashes enter the shuffle, never document
    text. One (doc_id, h) pre-aggregation feeds two consumers: a per-hash
    distinct-doc count (a plain COUNT — the pairs are already distinct) that
    yields the boilerplate hash set, and a left-outer probe of that set that
    flags each (doc_id, h, c) row. One groupBy(doc_id) then computes SUM(c)
    and SUM(flag·c) together, and ``dup_chunks >= 1`` keeps only documents
    with a repeated block. All aggregations are map-side-combinable. Catalyst
    infers ``isnotnull(h)`` on the boilerplate branch only, so the two
    consumers differ and the pre-aggregation is planned twice (no
    ReusedExchange). At 100 TB the hot-hash skew risk mirrors the shingle
    case; the same stop-shingle-style document-frequency cap applies if a
    block (e.g. a license header) appears in millions of docs — the
    groupBy(h) output is already the DF table to cap on.

    Reference parity: no equivalent in the reference (pipeline surface).
    """
    d = table(spark, sf_dir, "documents").select("doc_id", F.split("text", " ").alias("w"))
    ch = (
        d.filter(F.size("w") > 0)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    f"transform(sequence(0, CAST(floor((size(w) - 1) / {_CHUNK}) AS INT)),"
                    f" i -> md5(array_join(slice(w, i * {_CHUNK} + 1, {_CHUNK}), ' ')))"
                )
            ).alias("h"),
        )
    )
    g = ch.groupBy("doc_id", "h").agg(F.count("*").alias("c"))
    boiler = g.groupBy("h").agg(F.count("*").alias("nd")).filter(F.col("nd") >= 2)
    flagged = g.join(
        boiler.select("h", F.lit(1).alias("dup")), "h", "left"
    ).withColumn("dup", F.coalesce(F.col("dup"), F.lit(0)))
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.sum("c").cast("long").alias("total_chunks"),
            F.sum(F.col("dup") * F.col("c")).cast("long").alias("dup_chunks"),
        )
        .filter(F.col("dup_chunks") >= 1)
        .withColumn("dup_ratio", F.round(F.col("dup_chunks") / F.col("total_chunks"), 4))
        .select("doc_id", "total_chunks", "dup_chunks", "dup_ratio")
    )


# shared by dedup_incremental_minhash_md5 and the lake-integrated
# streaming_incremental_minhash (operators/lake.py): both compute the same
# batch-probes-corpus-index result over the same %10 split, one from the
# documents table directly, one from a changelog stream of it.
_INCR_MINHASH_ORACLE = """
    WITH sh AS (
      SELECT DISTINCT doc_id, words[i] || ' ' || words[i+1] || ' ' || words[i+2] AS s
      FROM (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
           UNNEST(range(1, GREATEST(len(words) - 1, 1))) AS t(i)
    ),
    mh AS (
      SELECT doc_id, i,
             MIN(CAST(CAST(('0x' || substring(md5(s || ':' || CAST(i AS VARCHAR)), 1, 15)) AS UBIGINT) AS BIGINT)) AS m
      FROM sh, UNNEST(range(0, 16)) AS t(i)
      GROUP BY doc_id, i
    ),
    sig AS (SELECT doc_id, list(m ORDER BY i) AS sig FROM mh GROUP BY doc_id),
    bands AS (
      SELECT doc_id, b, md5(array_to_string(sig[b*4+1 : b*4+4], ',')) AS bkey
      FROM sig, UNNEST(range(0, 4)) AS t(b)
    ),
    cand AS (
      SELECT DISTINCT n.doc_id AS doc_id, c.doc_id AS cand_id
      FROM bands n JOIN bands c ON n.b = c.b AND n.bkey = c.bkey
      WHERE n.doc_id % 10 = 0 AND c.doc_id % 10 <> 0
    ),
    est AS (
      SELECT c.doc_id, c.cand_id,
             SUM(CASE WHEN ma.m = mb.m THEN 1 ELSE 0 END) / 16.0 AS est_jaccard
      FROM cand c
      JOIN mh ma ON ma.doc_id = c.doc_id
      JOIN mh mb ON mb.doc_id = c.cand_id AND mb.i = ma.i
      GROUP BY 1, 2
    ),
    hits AS (SELECT * FROM est WHERE est_jaccard >= 0.5),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                                   ORDER BY est_jaccard DESC, cand_id) AS r
      FROM hits
    ),
    agg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_matches FROM hits GROUP BY doc_id)
    SELECT d.doc_id,
           CAST(COALESCE(b.cand_id, -1) AS BIGINT) AS best_match,
           CAST(COALESCE(b.est_jaccard, 0) AS DOUBLE) AS best_est,
           CAST(COALESCE(a.n_matches, 0) AS BIGINT) AS n_matches
    FROM (SELECT doc_id FROM documents WHERE doc_id % 10 = 0) d
    LEFT JOIN (SELECT doc_id, cand_id, est_jaccard FROM ranked WHERE r = 1) b
      ON b.doc_id = d.doc_id
    LEFT JOIN agg a ON a.doc_id = d.doc_id
    """


@register("dedup_incremental_minhash_md5", oracle=_INCR_MINHASH_ORACLE)
def dedup_incremental_minhash_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental NEAR-dup detection — the fuzzy twin of
    ``dedup_incremental_new_batch``'s exact-fingerprint path: the new batch
    (doc_id % 10 = 0) probes the already-ingested corpus's BAND-BUCKET
    index, so near-duplicates with small edits are caught, not just
    byte-identical ones. Per new doc: the best corpus match (highest
    estimated Jaccard, tie → lowest id; −1 when clean) and the match count.

    Scale shape: the corpus side is its (doc_id, band, bkey) index — fixed
    ~4 skinny rows/doc, maintained incrementally as a lake table in
    production, never a corpus text rescan. The probe is one equi-join on
    (band, bkey); only same-bucket pairs are ever scored, and signatures
    join back post-dedup exactly like the batch LSH. O(batch + matching
    buckets) per run. md5 sketch ⇒ full value-hash oracle.
    """
    sigs = _md5_signatures(spark, sf_dir)
    bands = _md5_bands(sigs)
    is_new = F.col("doc_id") % 10 == 0
    new_b = bands.filter(is_new).select(F.col("doc_id"), "band", "bkey")
    idx_b = bands.filter(~is_new).select(F.col("doc_id").alias("cand_id"), "band", "bkey")
    cand = (
        new_b.join(idx_b, ["band", "bkey"])
        .select("doc_id", "cand_id")
        .dropDuplicates()
    )
    sn = sigs.select(F.col("doc_id"), F.col("sig").alias("sig_n"))
    sc = sigs.select(F.col("doc_id").alias("cand_id"), F.col("sig").alias("sig_c"))
    est = _md5_est("sig_n", "sig_c")
    hits = (
        cand.join(sn, "doc_id")
        .join(sc, "cand_id")
        .withColumn("est_jaccard", est)
        .filter(F.col("est_jaccard") >= 0.5)
    )
    # base row set = the DOCUMENTS batch slice, not sigs: a sub-3-word doc
    # has no shingles/signature but must still report as clean (-1, 0.0, 0)
    # like the oracle's FROM documents base — and listing ids this way skips
    # a third recompute of the whole signature pipeline
    batch = table(spark, sf_dir, "documents").filter(is_new).select("doc_id")
    return _minhash_verdicts(batch, hits)


@register(
    "dedup_incremental_simhash_md5",
    oracle="""
    WITH tok AS (
      SELECT doc_id, token, COUNT(*) AS cnt,
             CAST(CAST(('0x' || substring(md5(token), 1, 15)) AS UBIGINT) AS BIGINT) AS h
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
      GROUP BY doc_id, token
    ),
    bits AS (
      SELECT doc_id, b, SUM(CASE WHEN (h >> b) & 1 = 1 THEN cnt ELSE -cnt END) AS s
      FROM tok, UNNEST(range(0, 60)) AS t(b)
      GROUP BY doc_id, b
    ),
    docs AS (
      SELECT doc_id, SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS simhash
      FROM bits GROUP BY doc_id
    ),
    bands AS (
      SELECT doc_id, simhash, b AS band, (simhash >> (15 * b)) & 32767 AS bh
      FROM docs, UNNEST(range(0, 4)) AS t(b)
    ),
    cand AS (
      SELECT DISTINCT n.doc_id AS doc_id, c.doc_id AS cand_id,
                      n.simhash AS h_n, c.simhash AS h_c
      FROM bands n JOIN bands c ON n.band = c.band AND n.bh = c.bh
      WHERE n.doc_id % 10 = 0 AND c.doc_id % 10 <> 0
    ),
    hits AS (
      SELECT doc_id, cand_id, CAST(bit_count(xor(h_n, h_c)) AS INT) AS hamming
      FROM cand WHERE bit_count(xor(h_n, h_c)) <= 3
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY hamming, cand_id) AS r
      FROM hits
    ),
    agg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_matches FROM hits GROUP BY doc_id)
    SELECT d.doc_id,
           CAST(COALESCE(b.cand_id, -1) AS BIGINT) AS best_match,
           CAST(COALESCE(b.hamming, -1) AS INT) AS best_hamming,
           CAST(COALESCE(a.n_matches, 0) AS BIGINT) AS n_matches
    FROM (SELECT doc_id FROM documents WHERE doc_id % 10 = 0) d
    LEFT JOIN (SELECT doc_id, cand_id, hamming FROM ranked WHERE r = 1) b
      ON b.doc_id = d.doc_id
    LEFT JOIN agg a ON a.doc_id = d.doc_id
    """,
)
def dedup_incremental_simhash_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental SimHash near-dup detection — completes the incremental
    trio (exact fingerprint / MinHash-Jaccard / SimHash-hamming): the new
    batch (doc_id % 10 = 0) probes the corpus's 15-bit band index, and
    hamming ≤ 3 over the 60-bit fingerprints verifies candidates. Per new
    doc: the closest corpus match (lowest hamming, tie → lowest id; −1 when
    clean) and the match count. SimHash catches word-frequency-level edits
    Jaccard shingles over-penalize, at 8 bytes/doc of index state.

    Scale shape: the corpus side is its (doc_id, band, bh) index — 4 skinny
    rows/doc, maintained incrementally in production; the probe is one
    equi-join on (band, bh); pigeonhole (4 bands × 15 bits) guarantees no
    true ≤3-hamming pair is missed. O(batch + matching buckets) per run.
    """
    docs = _md5_simhash_docs(spark, sf_dir)
    bands = _md5_simhash_bands(docs)
    is_new = F.col("doc_id") % 10 == 0
    new_b = bands.filter(is_new).select("doc_id", F.col("simhash").alias("h_n"), "band", "bh")
    idx_b = bands.filter(~is_new).select(
        F.col("doc_id").alias("cand_id"), F.col("simhash").alias("h_c"), "band", "bh"
    )
    hits = (
        new_b.join(idx_b, ["band", "bh"])
        .select("doc_id", "cand_id", "h_n", "h_c")
        .dropDuplicates(["doc_id", "cand_id"])
        .withColumn("hamming", F.bit_count(F.col("h_n").bitwiseXOR(F.col("h_c"))).cast("int"))
        .filter(F.col("hamming") <= 3)
    )
    best = hits.groupBy("doc_id").agg(
        F.min_by(F.col("cand_id"), F.struct(F.col("hamming"), F.col("cand_id"))).alias(
            "best_match"
        ),
        F.min("hamming").alias("best_hamming"),
        F.count(F.lit(1)).cast("bigint").alias("n_matches"),
    )
    batch = table(spark, sf_dir, "documents").filter(is_new).select("doc_id")
    return batch.join(best, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("best_match"), F.lit(-1)).cast("bigint").alias("best_match"),
        F.coalesce(F.col("best_hamming"), F.lit(-1)).cast("int").alias("best_hamming"),
        F.coalesce(F.col("n_matches"), F.lit(0)).cast("bigint").alias("n_matches"),
    )
