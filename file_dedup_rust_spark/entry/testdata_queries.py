"""Driver-contract query suite: every SQL-expressible operator from
SURVEY.md §2 (reference ops J1-J4, P1-P6, A1-A8, T1-T3, F1/F5) plus the
training-data-pipeline operators (exact dedup, n-gram Jaccard dedup,
MinHash+LSH dedup, shingle containment, embedding-cosine near-dup,
brute-force and IVF ANN top-k, language-ID, quality scoring, token
counting, document fingerprinting, connected-components clustering),
each as a (spark, sf_dir) -> DataFrame callable with a matching DuckDB
oracle SQL string.

Parity rules (driver compares row-count + schema + value-hash):
  * every computed column is aliased identically in Spark and SQL;
  * every float is round(x, 4) on BOTH sides (summation-order noise);
  * member lists are emitted as comma-joined strings sorted numerically;
  * thresholds sit in wide margins of the measured testdata
    distributions (word-3-gram Jaccard has nothing between 0.15 and
    0.85; embedding cosine max ~0.55) so rounding can never flip a
    filter decision.

Reference parity citations are on each query (file:line under
/root/reference/).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from file_dedup_rust_spark.functions.rounding import round_dd

# ---------------------------------------------------------------------------
# shared constants (identical literals are spliced into the oracle SQL)
# ---------------------------------------------------------------------------

JACCARD_T = 0.8        # reference P3 threshold (deduplication_service.rs:348)
COSINE_T = 0.40        # near-dup cosine threshold for the 64-d testdata embeddings
CONTAIN_T = 0.9        # containment threshold
TOP_K = 10             # reference T2 (deduplication_service.rs:309)
EXACT_COPY_MOD = 3     # corpus_exact: every 3rd doc gets a byte-identical copy
TRUNC_COPY_MOD = 5     # corpus_near: every 5th doc gets a 60%-prefix copy
EXACT_ID_OFFSET = 1_000_000
# cluster_delete_repair corpus: copy offsets with +1/+3 so copy ids
# break the base id's mod-10 alignment (a removed base hub leaves
# surviving copies — the connector-recovery case)
DR_OFF_A = 1_000_001
DR_OFF_B = 2_000_003
TRUNC_ID_OFFSET = 2_000_000


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/events.parquet")


def _embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


# ---------------------------------------------------------------------------
# derived corpora with planted duplicate structure (documents.parquet is
# all-unique text, so exact-dup operators are exercised on a corpus that
# deterministically plants copies — same derivation on both sides)
# ---------------------------------------------------------------------------

def corpus_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents ∪ byte-identical copies of every 3rd doc (id+1e6)."""
    d = _docs(spark, sf_dir).select(
        "doc_id", F.lower(F.coalesce("text", F.lit(""))).alias("t"), "n_chars"
    )
    copies = d.filter(F.col("doc_id") % EXACT_COPY_MOD == 0).select(
        (F.col("doc_id") + EXACT_ID_OFFSET).alias("doc_id"), "t", "n_chars"
    )
    return d.unionByName(copies)


SQL_CORPUS_EXACT = f"""
corpus AS (
  SELECT doc_id, lower(coalesce(text, '')) AS t, n_chars FROM documents
  UNION ALL
  SELECT doc_id + {EXACT_ID_OFFSET}, lower(coalesce(text, '')), n_chars
  FROM documents WHERE doc_id % {EXACT_COPY_MOD} = 0
)
"""

# word-3-gram shingle machinery (shared by jaccard/minhash/containment)

def shingles(docs_with_t: DataFrame) -> DataFrame:
    """(doc_id, t) -> distinct (doc_id, g) word-3-gram rows (the n=3
    case of the generalized JVM sliding window — one implementation,
    property-tested against the Python definition)."""
    from file_dedup_rust_spark.operators.decontaminate import word_ngrams

    return word_ngrams(docs_with_t, 3)


def _sql_shingles(corpus_sql: str) -> str:
    """DuckDB CTEs mirroring shingles() + sizes, over a corpus CTE."""
    return f"""
{corpus_sql},
toks AS (SELECT doc_id, string_split(t, ' ') AS w FROM corpus),
sh AS (
  SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS g
  FROM toks, unnest(generate_series(1, greatest(len(w) - 2, 0))) AS u(i)
),
sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id)
"""


SQL_DOCS_CORPUS = """
corpus AS (
  SELECT doc_id, lower(coalesce(text, '')) AS t FROM documents
)
"""


def docs_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _docs(spark, sf_dir).select(
        "doc_id", F.lower(F.coalesce("text", F.lit(""))).alias("t")
    )


def jaccard_pairs(sh: DataFrame, threshold: float) -> DataFrame:
    """Exact shingle-set Jaccard over all colliding pairs (a<b).

    Plan shape: posting-list join on the shingle (equi-join; posting
    lists for word-3-grams are short so no cap needed here — the
    capped variant is operators.candidates for LSH keys), partial-agg
    count, then two broadcast-ready joins to attach set sizes.

    Gram identities cross the posting shuffle as 8-byte xxhash64
    values, never strings (round 6 — the allpairs.py / dup_spans.py
    engine-wide convention; p(collision) ~ n²/2⁶⁴ and the DuckDB
    oracle would surface one as a hash mismatch).
    """
    hashed = sh.select("doc_id", F.xxhash64("g").alias("gh"))
    sizes = hashed.groupBy("doc_id").agg(F.count("*").alias("n"))
    a = hashed.select(F.col("doc_id").alias("ia"), "gh")
    b = hashed.select(F.col("doc_id").alias("ib"), "gh")
    # SHUFFLE_HASH pins the posting join's physical shape: without the
    # barrier the former .distinct() created, Catalyst broadcast the
    # whole exploded gram table as the build side (measured +40% at
    # sf0.1, and a scale hazard at any larger sf) — the posting join
    # must shuffle both sides by the gram key, where the two identical
    # exchanges also collapse into one via ReuseExchange.
    inter = (
        a.hint("SHUFFLE_HASH").join(b, "gh")
        .filter(F.col("ia") < F.col("ib"))
        .groupBy("ia", "ib")
        .agg(F.count("*").alias("c"))
    )
    sa = sizes.select(F.col("doc_id").alias("ia"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("ib"), F.col("n").alias("nb"))
    return (
        inter.join(sa, "ia")
        .join(sb, "ib")
        .select(
            "ia",
            "ib",
            round_dd(F.col("c") / (F.col("na") + F.col("nb") - F.col("c")), 4).alias("jac"),
        )
        .filter(F.col("jac") >= threshold)
    )


SQL_JACCARD_PAIRS = f"""
inter AS (
  SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS c
  FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
jpairs AS (
  SELECT ia, ib, round(c * 1.0 / (sa.n + sb.n - c), 4) AS jac
  FROM inter
  JOIN sz sa ON sa.doc_id = ia
  JOIN sz sb ON sb.doc_id = ib
)
"""

# ---------------------------------------------------------------------------
# J1 / A1: exact-duplicate detection by content hash
# (reference: SELECT file_id FROM File WHERE sha256_hash = $1 AND
#  file_id != $2 — deduplication_service.rs:209-222, batch = groupBy)
# ---------------------------------------------------------------------------

def q_exact_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = corpus_exact(spark, sf_dir)
    return (
        c.select("doc_id", F.md5("t").alias("content_hash"))
        .groupBy("content_hash")
        .agg(
            F.count("*").alias("n_members"),
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list("doc_id")),
                    lambda x: x.cast("string"),
                ),
                ",",
            ).alias("members"),
        )
        .filter(F.col("n_members") > 1)
    )


SQL_EXACT_DUP_GROUPS = f"""
WITH {SQL_CORPUS_EXACT}
SELECT md5(t) AS content_hash,
       count(*) AS n_members,
       string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS members
FROM corpus
GROUP BY 1
HAVING count(*) > 1
"""


# A2: dedup ratio (metrics.rs:261-267 — duplicates / total * 100)
def q_dedup_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = corpus_exact(spark, sf_dir).select("doc_id", F.md5("t").alias("h"))
    return c.agg(
        F.count("*").alias("total_files"),
        (F.count("*") - F.countDistinct("h")).alias("duplicates"),
        round_dd(
            (F.count("*") - F.countDistinct("h")) * 100.0 / F.count("*"), 4
        ).alias("dedup_ratio_pct"),
    )


SQL_DEDUP_RATIO = f"""
WITH {SQL_CORPUS_EXACT}
SELECT CAST(count(*) AS BIGINT) AS total_files,
       CAST(count(*) - count(DISTINCT md5(t)) AS BIGINT) AS duplicates,
       round((count(*) - count(DISTINCT md5(t))) * 100.0 / count(*), 4)
         AS dedup_ratio_pct
FROM corpus
"""


# A3: average cluster size (metrics.rs:269-275)
def q_avg_cluster_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = corpus_exact(spark, sf_dir).select("doc_id", F.md5("t").alias("h"))
    groups = c.groupBy("h").agg(F.count("*").alias("n")).filter(F.col("n") > 1)
    return groups.agg(
        F.count("*").alias("n_clusters"),
        F.sum("n").alias("files_in_clusters"),
        round_dd(F.avg("n"), 4).alias("avg_cluster_size"),
    )


SQL_AVG_CLUSTER_SIZE = f"""
WITH {SQL_CORPUS_EXACT},
g AS (SELECT md5(t) AS h, count(*) AS n FROM corpus GROUP BY 1 HAVING count(*) > 1)
SELECT CAST(count(*) AS BIGINT) AS n_clusters,
       CAST(sum(n) AS BIGINT) AS files_in_clusters,
       round(avg(n), 4) AS avg_cluster_size
FROM g
"""


# A5: wasted space — bytes held by non-representative duplicate members
# (metrics.rs:285-297; client/src/app/type.ts:9 `wasted_space`)
def q_wasted_space(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = corpus_exact(spark, sf_dir).select(
        "doc_id", F.md5("t").alias("h"), "n_chars"
    )
    w = Window.partitionBy("h")
    return (
        c.withColumn("rep", F.min("doc_id").over(w))
        .filter(F.col("doc_id") != F.col("rep"))
        .agg(
            F.count("*").alias("redundant_files"),
            F.sum("n_chars").alias("wasted_chars"),
        )
    )


SQL_WASTED_SPACE = f"""
WITH {SQL_CORPUS_EXACT},
lbl AS (
  SELECT doc_id, n_chars, min(doc_id) OVER (PARTITION BY md5(t)) AS rep
  FROM corpus
)
SELECT CAST(count(*) AS BIGINT) AS redundant_files,
       CAST(sum(n_chars) AS BIGINT) AS wasted_chars
FROM lbl WHERE doc_id != rep
"""


# ---------------------------------------------------------------------------
# T1 / P4: job-listing filter + order + limit
# (reference: jobs.rs:27-83 — WHERE status ORDER BY created_at DESC LIMIT)
# ---------------------------------------------------------------------------

def q_top_events_listing(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _events(spark, sf_dir)
        .orderBy(F.desc("ts"), F.desc("event_id"))
        .limit(100)
        .select(
            "event_id",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_str"),
            "event_type",
            round_dd("value", 4).alias("value_r"),
        )
    )


SQL_TOP_EVENTS_LISTING = """
SELECT event_id,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_str,
       event_type,
       round(value, 4) AS value_r
FROM events
ORDER BY ts DESC, event_id DESC
LIMIT 100
"""


def q_status_filter_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4 status filter + A8-style counters by type (jobs.rs:32-41)."""
    return (
        _events(spark, sf_dir)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            round_dd(F.avg("value"), 4).alias("avg_value"),
        )
    )


SQL_STATUS_FILTER_COUNTS = """
SELECT event_type, CAST(count(*) AS BIGINT) AS n,
       round(avg(value), 4) AS avg_value
FROM events GROUP BY 1
"""


# ---------------------------------------------------------------------------
# J2 / T2 / P2 / P3: similarity search over embeddings
# (reference k-NN: deduplication_service.rs:300-372 — cosine, k=10,
#  self-excluded (P2 :311-315), score>threshold (P3 :347-348))
# ---------------------------------------------------------------------------

def _neardup_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine pairs >= COSINE_T via the distributed block-matmul
    operator (operators.cosine.cosine_pairs_blocked) — same output as
    the all-pairs SQL oracle, but the plan joins B packed block
    manifests (upper triangle) instead of n^2 rows: no
    BroadcastNestedLoopJoin, no per-row lambda scoring, O(n*B) shuffle
    (tests/test_plan_shape.py pins the plan shape).  The round-2
    version was an `ia < ib` theta self-join — the last all-pairs
    row-level plan in the query contract."""
    from file_dedup_rust_spark.operators.cosine import cosine_pairs_blocked

    e = _embeddings(spark, sf_dir).select("vec_id", "embedding")
    return cosine_pairs_blocked(e, COSINE_T)


SQL_COSINE_PAIRS = """
elems AS (
  SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS x
  FROM embeddings, unnest(generate_series(1, len(embedding))) AS u(i)
),
nrm AS (SELECT vec_id, sqrt(sum(x * x)) AS n FROM elems GROUP BY 1),
dots AS (
  SELECT a.vec_id AS ia, b.vec_id AS ib, sum(a.x * b.x) AS dot
  FROM elems a JOIN elems b ON a.i = b.i AND a.vec_id < b.vec_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT ia, ib, round(dot / (sa.n * sb.n), 4) AS sim
  FROM dots JOIN nrm sa ON sa.vec_id = ia JOIN nrm sb ON sb.vec_id = ib
)
"""


def q_knn_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force cosine top-k as a distributed block-matmul
    join (operators.ann.knn_topk_blocked): corpus and probes are each
    packed into dense blocks, blocks cross-join, each pair computes one
    BLAS matmul + partial top-k, and a window rank merges partials.  No
    driver-side collect of the input table anywhere in the plan
    (tests/test_plan_shape.py pins this).  Ranking semantics match the
    oracle: rounded sim desc, neighbor_id asc, self excluded (reference
    P2/T2, deduplication_service.rs:214,309)."""
    from file_dedup_rust_spark.operators.ann import knn_topk_blocked

    e = _embeddings(spark, sf_dir).select("vec_id", "embedding")
    return knn_topk_blocked(e, top_k=TOP_K)


SQL_KNN_TOPK = f"""
WITH {SQL_COSINE_PAIRS},
mirrored AS (
  SELECT ia AS vec_id, ib AS neighbor_id, sim FROM pairs
  UNION ALL
  SELECT ib, ia, sim FROM pairs
),
ranked AS (
  SELECT vec_id, neighbor_id, sim,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY sim DESC, neighbor_id ASC) AS rank
  FROM mirrored
)
SELECT vec_id, neighbor_id, sim, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= {TOP_K}
"""


def q_embedding_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3 threshold filter over the cosine-pair table (blocked exact)."""
    return _neardup_cosine_pairs(spark, sf_dir)


SQL_EMBEDDING_NEARDUP_PAIRS = f"""
WITH {SQL_COSINE_PAIRS}
SELECT ia, ib, sim FROM pairs WHERE sim >= {COSINE_T}
"""


def q_sim_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6: similarity-score distribution (metrics.rs:111-114,150-153).

    All-pairs semantics (the oracle bins every pair), but each block
    pair reduces its BLAS score tile to <= 20001 integer-keyed bins
    locally (operators.cosine.cosine_sims_histogram) — the post-matmul
    shuffle carries bin counts, never pair rows, and the final
    round(sim, 1) bucketing is a hash aggregate over a bounded table
    with Spark's own HALF_UP round (identical semantics to round 2)."""
    from file_dedup_rust_spark.operators.cosine import cosine_sims_histogram

    e = _embeddings(spark, sf_dir).select("vec_id", "embedding")
    return (
        cosine_sims_histogram(e)
        # + 0.0 folds IEEE -0.0 into +0.0: a sim that rounds to zero
        # from below would otherwise label its bucket "-0" on one
        # engine and "0" on the other (bit at sf0.1)
        .groupBy((round_dd("sim", 1) + 0.0).alias("bucket"))
        .agg(F.sum("n").alias("n"))
    )


SQL_SIM_HISTOGRAM = f"""
WITH {SQL_COSINE_PAIRS}
SELECT round(sim, 1) + 0.0 AS bucket, CAST(count(*) AS BIGINT) AS n
FROM pairs GROUP BY 1
"""


def q_sim_value_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL all-pairs similarity multiset at 4-decimal granularity
    — (sim, n) for every distinct rounded cosine across all n*(n-1)/2
    pairs.  Pins the blocked histogram operator's integer-bin
    reduction (operators.cosine.cosine_sims_histogram) exactly against
    the all-pairs SQL, at the finest granularity the engine rounds to
    (the bucketed sim_histogram only checks the round-1 projection).
    Same physical shape: block-grid cartesian, per-tile BLAS, <=20001
    bin rows shuffled per tile."""
    from file_dedup_rust_spark.operators.cosine import cosine_sims_histogram

    e = _embeddings(spark, sf_dir).select("vec_id", "embedding")
    return cosine_sims_histogram(e)


SQL_SIM_VALUE_COUNTS = f"""
WITH {SQL_COSINE_PAIRS}
-- +0.0 normalizes IEEE negative zero: DuckDB's round() emits -0.0 for
-- tiny negative dots (and groups it with +0.0, keeping whichever
-- representative it saw first), while the engine's integer-keyed bins
-- always reconstruct +0.0 — equal as doubles, different as printed
-- hash lines
SELECT (sim + 0.0) AS sim, CAST(count(*) AS BIGINT) AS n
FROM pairs GROUP BY sim
"""


# ---------------------------------------------------------------------------
# sub-quadratic cosine near-dup: hyperplane-LSH candidates + exact
# re-rank, oracle-checked on a derived corpus with PLANTED correlated
# copies.  The raw testdata embeddings are isotropic (max pairwise
# cosine ~0.51), so no threshold is both LSH-reachable and non-empty
# there; like corpus_exact for documents, the corpus below plants a
# deterministic SQL-expressible perturbation — every EMB_COPY_MOD-th
# vector gains a copy v' with v'_i = 0.95*v_i + 0.05*v_{(i+1) mod d},
# which sits at cosine ~0.9986 against its original (0.95/sqrt(0.95^2
# + 0.05^2) up to the isotropic cross term) while every other pair
# stays <= ~0.6.  At sim 0.9986 the banding miss probability of the
# default 96x12 LSH is ~1e-60: the approximate operator provably
# reproduces the exact all-pairs SQL at LSH_COSINE_T.
# ---------------------------------------------------------------------------

EMB_COPY_MOD = 4
EMB_ID_OFFSET = 1_000_000
LSH_COSINE_T = 0.9


def emb_corpus_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """embeddings (as double) ∪ rotated-mix copies of every 4th vector
    (id + 1e6).  All arithmetic is double on both engines (same two
    literals, same multiply-add order), so the planted vectors are
    bit-identical to the oracle's."""
    base = _embeddings(spark, sf_dir).select(
        "vec_id",
        F.expr("transform(embedding, x -> CAST(x AS double))").alias(
            "embedding"
        ),
    )
    mix = F.expr(
        "transform(embedding, (x, i) -> CAST(0.95 AS double) * x"
        " + CAST(0.05 AS double)"
        " * element_at(embedding, ((i + 1) % size(embedding)) + 1))"
    )
    copies = base.filter(F.col("vec_id") % EMB_COPY_MOD == 0).select(
        (F.col("vec_id") + EMB_ID_OFFSET).alias("vec_id"),
        mix.alias("embedding"),
    )
    return base.unionByName(copies)


def q_lsh_cosine_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engine's n^(1+rho) near-dup scale path, oracle-checked: the
    reference answers "find similar files" with an OpenSearch HNSW
    probe per file (deduplication_service.rs:300-372,
    iac/opensearch_indexes.tf:8-14); this engine answers it with
    signed-random-projection banding -> capped/salted posting join ->
    exact re-rank of candidates only (operators.cosine.lsh_cosine_pairs).
    The planted corpus puts every true pair at cosine ~0.9986 where
    the 96x12 banding miss probability is ~1e-60, so the approximate
    path must equal the exact all-pairs SQL at t=0.9 — rows, schema,
    and 4-decimal sims (tests/test_plan_shape.py pins the posting-join
    plan: no cartesian, no BNLJ, no broadcast of the corpus)."""
    from file_dedup_rust_spark.operators.cosine import lsh_cosine_pairs

    e = emb_corpus_planted(spark, sf_dir)
    return lsh_cosine_pairs(e, LSH_COSINE_T)


SQL_LSH_COSINE_NEARDUP_PAIRS = f"""
WITH base AS (
  SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS x,
         len(embedding) AS d
  FROM embeddings, unnest(generate_series(1, len(embedding))) AS u(i)
),
pert AS (
  SELECT a.vec_id + {EMB_ID_OFFSET} AS vec_id, a.i,
         0.95 * a.x + 0.05 * b.x AS x
  FROM base a JOIN base b
    ON b.vec_id = a.vec_id AND b.i = (a.i % a.d) + 1
  WHERE a.vec_id % {EMB_COPY_MOD} = 0
),
elems AS (
  SELECT vec_id, i, x FROM base
  UNION ALL
  SELECT vec_id, i, x FROM pert
),
nrm AS (SELECT vec_id, sqrt(sum(x * x)) AS n FROM elems GROUP BY 1),
dots AS (
  SELECT a.vec_id AS ia, b.vec_id AS ib, sum(a.x * b.x) AS dot
  FROM elems a JOIN elems b ON a.i = b.i AND a.vec_id < b.vec_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT ia, ib, round(dot / (sa.n * sb.n), 4) AS sim
  FROM dots JOIN nrm sa ON sa.vec_id = ia JOIN nrm sb ON sb.vec_id = ib
)
SELECT ia, ib, sim FROM pairs WHERE sim >= {LSH_COSINE_T}
"""


# ---------------------------------------------------------------------------
# n-gram Jaccard dedup (exact) and MinHash+LSH dedup (same output,
# LSH-pruned) — the J2 analog over text, oracle-checked against the
# exact O(collisions) SQL
# ---------------------------------------------------------------------------

def q_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = shingles(docs_corpus(spark, sf_dir))
    return jaccard_pairs(sh, JACCARD_T)


SQL_NGRAM_JACCARD_PAIRS = f"""
WITH {_sql_shingles(SQL_DOCS_CORPUS)},
{SQL_JACCARD_PAIRS}
SELECT ia, ib, jac FROM jpairs WHERE jac >= {JACCARD_T}
"""


def q_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same result set as q_ngram_jaccard_pairs, produced the scalable
    way: MinHash signatures -> LSH band posting lists -> capped
    candidate join (operators.candidates) -> exact-Jaccard verification
    on candidates only.  At J >= 0.8 with 32 bands x 4 rows the LSH
    miss probability is < 1e-9 per pair, so the oracle is the exact SQL.
    """
    from file_dedup_rust_spark.config import DEFAULT_CONFIG
    from file_dedup_rust_spark.operators.candidates import (
        candidate_pairs,
        word_minhash_bands,
    )

    cfg = DEFAULT_CONFIG
    corpus = docs_corpus(spark, sf_dir)
    sh = shingles(corpus)
    # 64-bit gram hash JVM-side -> vectorized numpy MinHash+bands
    # (shared kernel — also the fuzzy-decontamination signature step)
    sigs = word_minhash_bands(corpus, cfg, 3)
    posting = sigs.select(F.explode("mh_bands").alias("key"), F.col("doc_id").alias("clip_id"))
    cand = candidate_pairs(posting, cfg.band_cap).select(
        F.col("a").alias("ia"), F.col("b").alias("ib")
    )
    # exact-Jaccard verification restricted to candidates; gram
    # identities cross the verify joins as 8-byte xxhash64 values
    # (engine-wide convention — see jaccard_pairs)
    hashed = sh.select("doc_id", F.xxhash64("g").alias("gh"))
    sizes = hashed.groupBy("doc_id").agg(F.count("*").alias("n"))
    a_sh = hashed.select(F.col("doc_id").alias("ia"), "gh")
    b_sh = hashed.select(F.col("doc_id").alias("ib"), "gh")
    inter = (
        cand.join(a_sh, "ia").join(b_sh, ["ib", "gh"])
        .groupBy("ia", "ib")
        .agg(F.count("*").alias("c"))
    )
    sa = sizes.select(F.col("doc_id").alias("ia"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("ib"), F.col("n").alias("nb"))
    return (
        inter.join(sa, "ia").join(sb, "ib")
        .select(
            "ia", "ib",
            round_dd(F.col("c") / (F.col("na") + F.col("nb") - F.col("c")), 4).alias("jac"),
        )
        .filter(F.col("jac") >= JACCARD_T)
    )


# ---------------------------------------------------------------------------
# containment: prefix/substring duplicates (suffix-array analog,
# oracle-checked via exact shingle containment)
# ---------------------------------------------------------------------------

def corpus_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents ∪ 60%-prefix copies of every 5th doc (id+2e6)."""
    d = docs_corpus(spark, sf_dir)
    trunc = (
        d.filter(F.col("doc_id") % TRUNC_COPY_MOD == 0)
        .select(
            (F.col("doc_id") + TRUNC_ID_OFFSET).alias("doc_id"),
            F.array_join(
                F.slice(
                    F.split("t", " "),
                    1,
                    F.greatest(
                        (F.size(F.split("t", " ")) * 3 / 5).cast("int"), F.lit(1)
                    ),
                ),
                " ",
            ).alias("t"),
        )
    )
    return d.unionByName(trunc)


SQL_CORPUS_NEAR = f"""
corpus AS (
  SELECT doc_id, lower(coalesce(text, '')) AS t FROM documents
  UNION ALL
  -- floor() before the CAST: DuckDB CAST rounds 1.8 -> 2 where
  -- Spark's double->int cast truncates (see SQL_TIER_DEDUP_SUMMARY)
  SELECT doc_id + {TRUNC_ID_OFFSET},
         array_to_string(
           (string_split(lower(coalesce(text, '')), ' '))[
             1 : greatest(CAST(floor(len(string_split(lower(coalesce(text, '')), ' ')) * 3 / 5) AS INT), 1)
           ], ' ')
  FROM documents WHERE doc_id % {TRUNC_COPY_MOD} = 0
)
"""


def q_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # 8-byte gram keys + pinned shuffle join (see jaccard_pairs)
    sh = shingles(corpus_near(spark, sf_dir)).select(
        "doc_id", F.xxhash64("g").alias("gh")
    )
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    a = sh.select(F.col("doc_id").alias("ia"), "gh")
    b = sh.select(F.col("doc_id").alias("ib"), "gh")
    inter = (
        a.hint("SHUFFLE_HASH").join(b, "gh")
        .filter(F.col("ia") < F.col("ib"))
        .groupBy("ia", "ib")
        .agg(F.count("*").alias("c"))
    )
    sa = sizes.select(F.col("doc_id").alias("ia"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("ib"), F.col("n").alias("nb"))
    return (
        inter.join(sa, "ia").join(sb, "ib")
        .select(
            "ia", "ib",
            round_dd(F.col("c") / F.least("na", "nb"), 4).alias("containment"),
        )
        .filter(F.col("containment") >= CONTAIN_T)
    )


SQL_CONTAINMENT_PAIRS = f"""
WITH {_sql_shingles(SQL_CORPUS_NEAR)},
inter AS (
  SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS c
  FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT ia, ib, round(c * 1.0 / least(sa.n, sb.n), 4) AS containment
FROM inter
JOIN sz sa ON sa.doc_id = ia
JOIN sz sb ON sb.doc_id = ib
WHERE c * 1.0 / least(sa.n, sb.n) >= {CONTAIN_T}
"""


# ---------------------------------------------------------------------------
# Tiered dedup summary: marginal duplicate yield per tier of the
# exact -> near -> containment ladder (the engine's tier structure as
# one analytics surface; the reference runs the same ladder per file —
# sha256 lookup then k-NN probe, deduplication_service.rs:209-372)
# ---------------------------------------------------------------------------

def corpus_tiered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents ∪ exact copies (corpus_exact derivation) ∪ 60%-prefix
    truncations (corpus_near derivation) — one corpus that exercises
    every tier of the dedup ladder."""
    d = docs_corpus(spark, sf_dir)
    copies = d.filter(F.col("doc_id") % EXACT_COPY_MOD == 0).select(
        (F.col("doc_id") + EXACT_ID_OFFSET).alias("doc_id"), "t"
    )
    trunc = (
        d.filter(F.col("doc_id") % TRUNC_COPY_MOD == 0)
        .select(
            (F.col("doc_id") + TRUNC_ID_OFFSET).alias("doc_id"),
            F.array_join(
                F.slice(
                    F.split("t", " "),
                    1,
                    F.greatest(
                        (F.size(F.split("t", " ")) * 3 / 5).cast("int"), F.lit(1)
                    ),
                ),
                " ",
            ).alias("t"),
        )
    )
    return d.unionByName(copies).unionByName(trunc)


def q_tier_dedup_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-tier marginal dedup yield: a doc counts at the CHEAPEST tier
    that links it to a smaller-id partner (tier 1 exact text hash,
    tier 2 word-3-gram Jaccard >= 0.8, tier 3 shingle containment >=
    0.9), with the characters that tier removes from the corpus.

    Scale shape: tier 1 is one window over the hash; tiers 2/3 run on
    exact-rep texts only (rep contraction — an m-copy group never
    enters the shingle join m times; output is provably unchanged
    because copies share their rep's shingle set and always carry the
    larger id) and share ONE posting-join intersection pass.  The
    exact-Jaccard/containment scoring is the oracle surface; at 100 TB
    the candidate generators are minhash_lsh_pairs and the min-df
    containment operator (operators/candidates.py, containment.py)."""
    c = corpus_tiered(spark, sf_dir)
    w = Window.partitionBy(F.md5("t"))
    # lbl feeds three subtrees (tier-1 flags, the rep shingle join, and
    # chars below); one eager materialization replaces three recomputes
    # of the corpus union + md5 window
    lbl = c.withColumn("rep", F.min("doc_id").over(w)).localCheckpoint(
        eager=True
    )
    t1 = lbl.filter(F.col("doc_id") != F.col("rep")).select("doc_id")
    reps = lbl.filter(F.col("doc_id") == F.col("rep")).select("doc_id", "t")

    sh = shingles(reps).select("doc_id", F.xxhash64("g").alias("gh"))
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    inter = (
        sh.select(F.col("doc_id").alias("ia"), "gh")
        .hint("SHUFFLE_HASH")
        .join(sh.select(F.col("doc_id").alias("ib"), "gh"), "gh")
        .filter(F.col("ia") < F.col("ib"))
        .groupBy("ia", "ib")
        .agg(F.count("*").alias("c"))
    )
    scored = (
        inter.join(sizes.select(F.col("doc_id").alias("ia"),
                                F.col("n").alias("na")), "ia")
        .join(sizes.select(F.col("doc_id").alias("ib"),
                           F.col("n").alias("nb")), "ib")
        .select(
            "ib",
            round_dd(F.col("c") / (F.col("na") + F.col("nb") - F.col("c")), 4)
            .alias("jac"),
            round_dd(F.col("c") / F.least("na", "nb"), 4).alias("containment"),
        )
    ).localCheckpoint(eager=True)  # read twice: jaccard + containment tiers
    t2 = scored.filter(F.col("jac") >= JACCARD_T).select(
        F.col("ib").alias("doc_id")
    ).distinct()
    t3 = scored.filter(F.col("containment") >= CONTAIN_T).select(
        F.col("ib").alias("doc_id")
    ).distinct()
    flags = (
        t1.withColumn("tier", F.lit(1))
        .unionByName(t2.withColumn("tier", F.lit(2)))
        .unionByName(t3.withColumn("tier", F.lit(3)))
    )
    assigned = flags.groupBy("doc_id").agg(F.min("tier").alias("tier"))
    # same (doc_id, t) set as `c`, read from the lbl checkpoint
    chars = lbl.select("doc_id", F.length("t").alias("ch"))
    return (
        assigned.join(chars, "doc_id")
        .groupBy("tier")
        .agg(
            F.count("*").alias("docs_removed"),
            F.sum("ch").alias("chars_removed"),
        )
        .select(
            "tier",
            F.when(F.col("tier") == 1, "exact")
            .when(F.col("tier") == 2, "near_jaccard")
            .otherwise("containment")
            .alias("tier_name"),
            "docs_removed",
            "chars_removed",
        )
        .orderBy("tier")
    )


SQL_TIER_DEDUP_SUMMARY = f"""
WITH corpus AS (
  SELECT doc_id, lower(coalesce(text, '')) AS t FROM documents
  UNION ALL
  SELECT doc_id + {EXACT_ID_OFFSET}, lower(coalesce(text, ''))
  FROM documents WHERE doc_id % {EXACT_COPY_MOD} = 0
  UNION ALL
  -- floor(), not a bare CAST: DuckDB CAST(1.8 AS INT) rounds to 2
  -- where Spark's double->int cast truncates to 1 (the containment
  -- RATIO is insensitive to an off-by-one-word truncation because the
  -- prefix's shingles stay a subset either way, but chars_removed is
  -- not)
  SELECT doc_id + {TRUNC_ID_OFFSET},
         array_to_string(
           (string_split(lower(coalesce(text, '')), ' '))[
             1 : greatest(CAST(floor(len(string_split(lower(coalesce(text, '')), ' ')) * 3 / 5) AS INT), 1)
           ], ' ')
  FROM documents WHERE doc_id % {TRUNC_COPY_MOD} = 0
),
lbl AS (
  SELECT doc_id, t, min(doc_id) OVER (PARTITION BY md5(t)) AS rep FROM corpus
),
t1 AS (SELECT doc_id FROM lbl WHERE doc_id != rep),
reps AS (SELECT doc_id, t FROM lbl WHERE doc_id = rep),
toks AS (SELECT doc_id, string_split(t, ' ') AS w FROM reps),
sh AS (
  SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS g
  FROM toks, unnest(generate_series(1, greatest(len(w) - 2, 0))) AS u(i)
),
sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS c
  FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1, 2
),
scored AS (
  SELECT ib, round(c * 1.0 / (sa.n + sb.n - c), 4) AS jac,
         round(c * 1.0 / least(sa.n, sb.n), 4) AS containment
  FROM inter JOIN sz sa ON sa.doc_id = ia JOIN sz sb ON sb.doc_id = ib
),
t2 AS (SELECT DISTINCT ib AS doc_id FROM scored WHERE jac >= {JACCARD_T}),
t3 AS (SELECT DISTINCT ib AS doc_id FROM scored WHERE containment >= {CONTAIN_T}),
flags AS (
  SELECT doc_id, 1 AS tier FROM t1
  UNION ALL SELECT doc_id, 2 FROM t2
  UNION ALL SELECT doc_id, 3 FROM t3
),
assigned AS (SELECT doc_id, min(tier) AS tier FROM flags GROUP BY doc_id),
chars AS (SELECT doc_id, length(t) AS ch FROM corpus)
SELECT tier,
       CASE tier WHEN 1 THEN 'exact' WHEN 2 THEN 'near_jaccard'
            ELSE 'containment' END AS tier_name,
       count(*) AS docs_removed,
       CAST(sum(ch) AS BIGINT) AS chars_removed
FROM assigned JOIN chars USING (doc_id)
GROUP BY tier
ORDER BY tier
"""


# ---------------------------------------------------------------------------
# J3/J4 + clustering: connected components over dup edges
# (reference update_file_clusters, deduplication_service.rs:374-433 —
#  batch CC is the order-insensitive closure of its intent, SURVEY §2.8)
# ---------------------------------------------------------------------------

def _doc_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """exact-hash star edges (corpus_exact) ∪ Jaccard>=0.8 edges (docs).

    Eagerly localCheckpoint-ed (round 6): this is the query suite's
    most-shared expensive subplan — the dup-graph family (CC,
    triangles, PageRank, eccentricity, BFS spread, repair) references
    the edge set 3-6 times per query, and without materialization
    Catalyst re-plans the whole shingle self-join per reference
    (measured: node_triangles' plan carried 446 Exchange nodes; with
    the checkpoint it is a handful).  The checkpoint runs inside the
    timed query body, so the bench still pays the derivation — exactly
    once, like a real job would."""
    c = corpus_exact(spark, sf_dir).select("doc_id", F.md5("t").alias("h"))
    w = Window.partitionBy("h")
    exact = (
        c.withColumn("rep", F.min("doc_id").over(w))
        .filter(F.col("doc_id") != F.col("rep"))
        .select(
            F.col("rep").alias("a"), F.col("doc_id").alias("b"),
            F.lit(1.0).alias("sim"), F.lit("exact").alias("kind"),
        )
    )
    jac = q_ngram_jaccard_pairs(spark, sf_dir).select(
        F.col("ia").alias("a"), F.col("ib").alias("b"),
        F.col("jac").alias("sim"), F.lit("jaccard").alias("kind"),
    )
    return exact.unionByName(jac).localCheckpoint(eager=True)


SQL_DOC_EDGES = f"""
{SQL_CORPUS_EXACT},
lbl AS (
  SELECT doc_id, min(doc_id) OVER (PARTITION BY md5(t)) AS rep FROM corpus
),
exact_edges AS (
  -- CAST: a bare 1.0 is DECIMAL(2,1) in DuckDB and the UNION would
  -- coerce the double jaccard sims to one decimal place
  SELECT rep AS a, doc_id AS b, CAST(1.0 AS DOUBLE) AS sim
  FROM lbl WHERE doc_id != rep
),
toks AS (SELECT doc_id, string_split(t, ' ') AS w FROM corpus
         WHERE doc_id < {EXACT_ID_OFFSET}),
sh AS (
  SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS g
  FROM toks, unnest(generate_series(1, greatest(len(w) - 2, 0))) AS u(i)
),
sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS c
  FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1, 2
),
jac_edges AS (
  SELECT ia AS a, ib AS b, round(c * 1.0 / (sa.n + sb.n - c), 4) AS sim
  FROM inter JOIN sz sa ON sa.doc_id = ia JOIN sz sb ON sb.doc_id = ib
  WHERE round(c * 1.0 / (sa.n + sb.n - c), 4) >= {JACCARD_T}
),
edges AS (SELECT a, b, sim FROM exact_edges UNION ALL SELECT a, b, sim FROM jac_edges)
"""


def q_cc_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from file_dedup_rust_spark.operators.connected_components import (
        connected_components,
    )

    edges = _doc_edges(spark, sf_dir).select("a", "b")
    verts = corpus_exact(spark, sf_dir).select(F.col("doc_id").alias("clip_id"))
    cc = connected_components(edges, verts)
    return cc.select(
        F.col("clip_id").alias("doc_id"), F.col("cluster_id")
    )


SQL_CC_CLUSTERS = f"""
WITH RECURSIVE {SQL_DOC_EDGES},
sym AS (SELECT a, b FROM edges UNION SELECT b, a FROM edges),
verts AS (SELECT DISTINCT doc_id FROM corpus),
reach(id, lbl) AS (
  SELECT doc_id, doc_id FROM verts
  UNION
  SELECT s.b, r.lbl FROM reach r JOIN sym s ON s.a = r.id
)
SELECT id AS doc_id, min(lbl) AS cluster_id FROM reach GROUP BY id
"""


def q_cluster_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 sizes + A7 intra-cluster similarity = avg edge sim per
    component (strictly better than the reference's hardcoded 0.9 at
    deduplication_service.rs:407-414)."""
    from file_dedup_rust_spark.operators.connected_components import (
        connected_components,
    )

    edges = _doc_edges(spark, sf_dir)
    verts = corpus_exact(spark, sf_dir).select(F.col("doc_id").alias("clip_id"))
    cc = connected_components(edges.select("a", "b"), verts)
    sizes = (
        cc.groupBy("cluster_id").agg(F.count("*").alias("size"))
        .filter(F.col("size") > 1)
    )
    lbl = cc.select(F.col("clip_id").alias("a"), "cluster_id")
    intra = (
        edges.join(lbl, "a")
        .groupBy("cluster_id")
        .agg(round_dd(F.avg("sim"), 4).alias("intra_similarity"))
    )
    return sizes.join(intra, "cluster_id").select(
        "cluster_id", "size", "intra_similarity"
    )


def q_source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplication matrix: for every unordered source
    pair, how many DISTINCT texts appear in both — the first question
    a corpus assembled from N crawls/vendors must answer (C4 vs
    CC-derived sets overlap massively; double-counting inflates both
    source quotas and dedup ratios).  Derived corpus: documents ∪ a
    'mirror' vendor re-shipping every 3rd doc, so every planted pair
    crosses (srcX, mirror) while organic same-text cross-source pairs
    surface on their own.

    Scale shape: rows contract to DISTINCT (xxhash64(text), source)
    FIRST — one map-side-combined shuffle, 8-byte keys — then the
    per-text source set expands pairwise: O(m^2) per text with m
    bounded by the SOURCE COUNT (tens), never by copies-per-text, and
    the equi-join runs hash-to-hash.  Output is bounded by
    C(n_sources, 2)."""
    d = _docs(spark, sf_dir).select(
        F.lower(F.coalesce("text", F.lit(""))).alias("t"), "source"
    )
    mirror = (
        _docs(spark, sf_dir)
        .filter(F.col("doc_id") % EXACT_COPY_MOD == 0)
        .select(
            F.lower(F.coalesce("text", F.lit(""))).alias("t"),
            F.lit("mirror").alias("source"),
        )
    )
    hs = (
        d.unionByName(mirror)
        .select(F.xxhash64("t").alias("h"), "source")
        .distinct()
    )
    a = hs.select("h", F.col("source").alias("src_a"))
    b = hs.select("h", F.col("source").alias("src_b"))
    return (
        a.join(b, "h")
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count("*").cast("long").alias("shared_texts"))
    )


SQL_SOURCE_OVERLAP_MATRIX = f"""
WITH corpus AS (
  SELECT lower(coalesce(text, '')) AS t, source FROM documents
  UNION ALL
  SELECT lower(coalesce(text, '')), 'mirror'
  FROM documents WHERE doc_id % {EXACT_COPY_MOD} = 0
),
hs AS (SELECT DISTINCT t, source FROM corpus)
SELECT a.source AS src_a, b.source AS src_b,
       CAST(count(*) AS BIGINT) AS shared_texts
FROM hs a JOIN hs b ON a.t = b.t AND a.source < b.source
GROUP BY 1, 2
"""


def q_cluster_coherence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive-chaining diagnosis over the dup clusters: connected
    components merge a..b..c even when a and c are NOT similar, and a
    long chain of 0.8-edges can fuse unrelated documents — the known
    failure mode of LSH+CC dedup (the reason SlimPajama/Gopher audit
    cluster quality before dropping).  Per multi-member cluster:
    edge count, pairwise density (n_edges / C(size,2)), weakest edge,
    and a chain_risk flag for tree-sparse clusters (n_edges ==
    size - 1, size >= 3 — held together by single links).  Same
    shuffle budget as cluster_summary: one label join + one agg."""
    from file_dedup_rust_spark.operators.connected_components import (
        connected_components,
    )

    edges = _doc_edges(spark, sf_dir)
    verts = corpus_exact(spark, sf_dir).select(F.col("doc_id").alias("clip_id"))
    cc = connected_components(edges.select("a", "b"), verts)
    sizes = (
        cc.groupBy("cluster_id").agg(F.count("*").cast("long").alias("size"))
        .filter(F.col("size") > 1)
    )
    lbl = cc.select(F.col("clip_id").alias("a"), "cluster_id")
    es = (
        edges.join(lbl, "a")
        .groupBy("cluster_id")
        .agg(
            F.count("*").cast("long").alias("n_edges"),
            round_dd(F.min("sim"), 4).alias("min_sim"),
        )
    )
    return sizes.join(es, "cluster_id").select(
        "cluster_id",
        "size",
        "n_edges",
        round_dd(
            F.col("n_edges") / (F.col("size") * (F.col("size") - 1) / 2), 4
        ).alias("density"),
        "min_sim",
        (
            (F.col("n_edges") == F.col("size") - 1) & (F.col("size") >= 3)
        ).alias("chain_risk"),
    )


SQL_CLUSTER_COHERENCE = f"""
WITH RECURSIVE {SQL_DOC_EDGES},
sym AS (SELECT a, b FROM edges UNION SELECT b, a FROM edges),
verts AS (SELECT DISTINCT doc_id FROM corpus),
reach(id, lbl) AS (
  SELECT doc_id, doc_id FROM verts
  UNION
  SELECT s.b, r.lbl FROM reach r JOIN sym s ON s.a = r.id
),
cc AS (SELECT id, min(lbl) AS cluster_id FROM reach GROUP BY id),
sizes AS (
  SELECT cluster_id, CAST(count(*) AS BIGINT) AS size FROM cc
  GROUP BY 1 HAVING count(*) > 1
),
es AS (
  SELECT cc.cluster_id, CAST(count(*) AS BIGINT) AS n_edges,
         round(min(e.sim), 4) AS min_sim
  FROM edges e JOIN cc ON cc.id = e.a GROUP BY 1
)
SELECT s.cluster_id, s.size, es.n_edges,
       round(es.n_edges / (s.size * (s.size - 1) / 2.0), 4) AS density,
       es.min_sim,
       (es.n_edges = s.size - 1 AND s.size >= 3) AS chain_risk
FROM sizes s JOIN es ON es.cluster_id = s.cluster_id
"""


SQL_CLUSTER_SUMMARY = f"""
WITH RECURSIVE {SQL_DOC_EDGES},
sym AS (SELECT a, b FROM edges UNION SELECT b, a FROM edges),
verts AS (SELECT DISTINCT doc_id FROM corpus),
reach(id, lbl) AS (
  SELECT doc_id, doc_id FROM verts
  UNION
  SELECT s.b, r.lbl FROM reach r JOIN sym s ON s.a = r.id
),
cc AS (SELECT id, min(lbl) AS cluster_id FROM reach GROUP BY id),
sizes AS (
  SELECT cluster_id, CAST(count(*) AS BIGINT) AS size FROM cc
  GROUP BY 1 HAVING count(*) > 1
),
intra AS (
  SELECT cc.cluster_id, round(avg(e.sim), 4) AS intra_similarity
  FROM edges e JOIN cc ON cc.id = e.a GROUP BY 1
)
SELECT s.cluster_id, s.size, i.intra_similarity
FROM sizes s JOIN intra i ON i.cluster_id = s.cluster_id
"""


# ---------------------------------------------------------------------------
# text analysis: language-ID, quality, token counts, fingerprints
# ---------------------------------------------------------------------------

_STOPWORDS = ("the", "a", "of", "and", "in")
_SQL_STOPLIST = "['the', 'a', 'of', 'and', 'in']"


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = docs_corpus(spark, sf_dir).select(
        "doc_id", F.split("t", " ").alias("w")
    )
    stop_arr = F.array(*[F.lit(s) for s in _STOPWORDS])
    n_stop = F.size(F.filter("w", lambda x: F.array_contains(stop_arr, x)))
    n_tok = F.size("w")
    score = round_dd(n_stop / F.greatest(n_tok, F.lit(1)), 4)
    return d.select(
        "doc_id",
        n_stop.alias("n_stopwords"),
        score.alias("stopword_score"),
        F.when(score >= 0.05, F.lit("en")).otherwise(F.lit("other")).alias("pred_lang"),
    )


SQL_LANG_ID = f"""
WITH toks AS (
  SELECT doc_id, string_split(lower(coalesce(text, '')), ' ') AS w FROM documents
)
SELECT doc_id,
       CAST(len(list_filter(w, x -> list_contains({_SQL_STOPLIST}, x))) AS INT)
         AS n_stopwords,
       round(len(list_filter(w, x -> list_contains({_SQL_STOPLIST}, x)))
             * 1.0 / greatest(len(w), 1), 4) AS stopword_score,
       CASE WHEN round(len(list_filter(w, x -> list_contains({_SQL_STOPLIST}, x)))
                 * 1.0 / greatest(len(w), 1), 4) >= 0.05
            THEN 'en' ELSE 'other' END AS pred_lang
FROM toks
"""


def q_lang_mismatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Claimed-vs-detected language audit — the text analog of the
    audio meta_mismatch gate: vendor metadata lies (mislabeled
    crawls, default-'en' uploads) and a mixture built on the CLAIMED
    lang column then trains on the wrong distribution.  Flags docs
    whose claimed lang disagrees with the stopword detector at the
    en/other granularity it supports; the narrow projection means the
    scan prunes text+lang only.  One codegen projection + filter,
    zero shuffle."""
    d = _docs(spark, sf_dir).select(
        "doc_id", "lang",
        F.split(F.lower(F.coalesce("text", F.lit(""))), " ").alias("w"),
    )
    stop_arr = F.array(*[F.lit(s) for s in _STOPWORDS])
    score = round_dd(
        F.size(F.filter("w", lambda x: F.array_contains(stop_arr, x)))
        / F.greatest(F.size("w"), F.lit(1)),
        4,
    )
    det = F.when(score >= 0.05, F.lit("en")).otherwise(F.lit("other"))
    return (
        d.select("doc_id", "lang", det.alias("detected"),
                 score.alias("stopword_score"))
        .filter(
            ((F.col("lang") == "en") & (F.col("detected") != "en"))
            | ((F.col("lang") != "en") & (F.col("detected") == "en"))
        )
    )


SQL_LANG_MISMATCH = f"""
WITH toks AS (
  SELECT doc_id, lang,
         string_split(lower(coalesce(text, '')), ' ') AS w
  FROM documents
), det AS (
  SELECT doc_id, lang,
         CASE WHEN round(len(list_filter(w, x ->
                     list_contains({_SQL_STOPLIST}, x)))
                   * 1.0 / greatest(len(w), 1), 4) >= 0.05
              THEN 'en' ELSE 'other' END AS detected,
         round(len(list_filter(w, x -> list_contains({_SQL_STOPLIST}, x)))
               * 1.0 / greatest(len(w), 1), 4) AS stopword_score
  FROM toks
)
SELECT doc_id, lang, detected, stopword_score
FROM det
WHERE (lang = 'en' AND detected <> 'en')
   OR (lang <> 'en' AND detected = 'en')
"""


def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = docs_corpus(spark, sf_dir).select(
        "doc_id", "t", F.split("t", " ").alias("w")
    )
    n_tok = F.size("w")
    n_chars = F.length("t")
    avg_tok = round_dd(
        (n_chars - (n_tok - 1)) / F.greatest(n_tok, F.lit(1)), 4
    )
    stop_arr = F.array(*[F.lit(s) for s in _STOPWORDS])
    stop_ratio = round_dd(
        F.size(F.filter("w", lambda x: F.array_contains(stop_arr, x)))
        / F.greatest(n_tok, F.lit(1)),
        4,
    )
    return d.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        n_chars.alias("n_chars"),
        avg_tok.alias("avg_token_len"),
        stop_ratio.alias("stopword_ratio"),
        (
            (n_tok >= 20) & (n_tok <= 1000) & (stop_ratio > 0)
        ).cast("int").alias("passes_quality"),
    )


SQL_QUALITY_SCORE = f"""
WITH d AS (
  SELECT doc_id, lower(coalesce(text, '')) AS t,
         string_split(lower(coalesce(text, '')), ' ') AS w
  FROM documents
)
SELECT doc_id,
       CAST(len(w) AS INT) AS n_tokens,
       CAST(length(t) AS INT) AS n_chars,
       round((length(t) - (len(w) - 1)) * 1.0 / greatest(len(w), 1), 4)
         AS avg_token_len,
       round(len(list_filter(w, x -> list_contains({_SQL_STOPLIST}, x)))
             * 1.0 / greatest(len(w), 1), 4) AS stopword_ratio,
       CAST(len(w) >= 20 AND len(w) <= 1000
            AND len(list_filter(w, x -> list_contains({_SQL_STOPLIST}, x))) > 0
            AS INT) AS passes_quality
FROM d
"""


def q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = docs_corpus(spark, sf_dir).select("doc_id", F.split("t", " ").alias("w"))
    return d.select(
        "doc_id",
        F.size("w").alias("n_tokens"),
        F.size(F.array_distinct("w")).alias("n_distinct_tokens"),
    )


SQL_TOKEN_COUNTS = """
SELECT doc_id,
       CAST(len(string_split(lower(coalesce(text, '')), ' ')) AS INT) AS n_tokens,
       CAST(len(list_distinct(string_split(lower(coalesce(text, '')), ' '))) AS INT)
         AS n_distinct_tokens
FROM documents
"""


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1 analog: content fingerprint = md5 prefix of normalized text
    (the reference's sha256-of-content intent, deduplicator.rs:61-76;
    sha256 itself is q_sha256_hash)."""
    return docs_corpus(spark, sf_dir).select(
        "doc_id", F.substring(F.md5("t"), 1, 16).alias("fingerprint")
    )


SQL_DOC_FINGERPRINT = """
SELECT doc_id, substr(md5(lower(coalesce(text, ''))), 1, 16) AS fingerprint
FROM documents
"""


def q_sha256_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1: SHA-256 content hash (deduplicator.rs:61-76 → F.sha2)."""
    return docs_corpus(spark, sf_dir).select(
        "doc_id", F.sha2("t", 256).alias("sha256_hash")
    )


SQL_SHA256_HASH = """
SELECT doc_id, sha256(lower(coalesce(text, ''))) AS sha256_hash
FROM documents
"""


# A8 / P1: counts by type + F5 extension-style dispatch
def q_counts_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _docs(spark, sf_dir)
        .groupBy("lang", "source")
        .agg(F.count("*").alias("n"), F.sum("n_chars").alias("total_chars"))
    )


SQL_COUNTS_BY_TYPE = """
SELECT lang, source, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM documents GROUP BY 1, 2
"""


def q_extension_dispatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F5: file_name.split('.').last().lower() routing
    (deduplication_service.rs:249-253)."""
    d = _docs(spark, sf_dir).select(
        F.concat_ws(".", "source", "lang").alias("file_name")
    )
    ext = F.lower(F.element_at(F.split("file_name", r"\."), -1))
    return d.select(ext.alias("ext")).groupBy("ext").agg(F.count("*").alias("n"))


SQL_EXTENSION_DISPATCH = """
WITH f AS (SELECT source || '.' || lang AS file_name FROM documents)
SELECT lower(string_split(file_name, '.')[-1]) AS ext,
       CAST(count(*) AS BIGINT) AS n
FROM f GROUP BY 1
"""


# T3: display top-3 members per group (Dashboard.tsx:345)
def q_display_top3(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _docs(spark, sf_dir)
        .groupBy("lang")
        .agg(
            F.array_join(
                F.transform(
                    F.slice(F.sort_array(F.collect_list("doc_id")), 1, 3),
                    lambda x: x.cast("string"),
                ),
                ",",
            ).alias("top3_members")
        )
    )


SQL_DISPLAY_TOP3 = """
WITH ranked AS (
  SELECT lang, doc_id,
         row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
  FROM documents
)
SELECT lang, string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id)
  AS top3_members
FROM ranked WHERE rn <= 3 GROUP BY lang
"""


def q_events_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time tumbling-window aggregation (F.window, the same
    operator Structured Streaming windows with): hourly counts + mean value per
    event type.  F.window aligns tumbling windows to the epoch, which
    for whole hours equals date_trunc('hour').

    The mean is hardened against two cross-engine divergences sf0.1
    exposed (24-row groups averaging to EXACT 4-dp ties like
    51.51125): (a) double summation is order-dependent, so the sum is
    an exact associative decimal(30,6); (b) Spark's round() rounds the
    SHORTEST-DECIMAL rendering of the double (BigDecimal.valueOf →
    51.5113) while DuckDB rounds the binary value (51.511249… →
    51.5112), so rounding is spelled as the explicit IEEE expression
    floor(x·10⁴ + 0.5)/10⁴ on BOTH sides — identical ops on identical
    doubles give identical results everywhere."""
    e = _events(spark, sf_dir)
    mean = F.sum(F.col("value").cast("decimal(30,6)")).cast("double") / F.count(
        "*"
    )
    return (
        e.groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(
            F.count("*").alias("n"),
            (F.floor(mean * 10000 + F.lit(0.5)) / 10000).alias("avg_value"),
        )
        .select(
            F.date_format("win.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type", "n", "avg_value",
        )
    )


SQL_EVENTS_WINDOW_AGG = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type,
       CAST(count(*) AS BIGINT) AS n,
       floor((CAST(sum(CAST(value AS DECIMAL(30,6))) AS DOUBLE) / count(*))
             * 10000 + 0.5) / 10000 AS avg_value
FROM events
GROUP BY 1, 2
"""


def q_embedding_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clustering over the EMBEDDING modality: cosine >=
    threshold pairs as edges, connected components over all vectors —
    the same create-or-join intent as the reference's file clustering
    (deduplication_service.rs:374-433) applied to its k-NN edge source
    instead of the hash edge source."""
    from file_dedup_rust_spark.operators.connected_components import (
        connected_components,
    )

    edges = _neardup_cosine_pairs(spark, sf_dir).select(
        F.col("ia").alias("a"), F.col("ib").alias("b")
    )
    verts = _embeddings(spark, sf_dir).select(F.col("vec_id").alias("clip_id"))
    cc = connected_components(edges, verts)
    return cc.select(F.col("clip_id").alias("vec_id"), "cluster_id")


SQL_EMBEDDING_CLUSTERS = f"""
WITH RECURSIVE {SQL_COSINE_PAIRS},
edges AS (SELECT ia AS a, ib AS b FROM pairs WHERE sim >= {COSINE_T}),
sym AS (SELECT a, b FROM edges UNION SELECT b, a FROM edges),
verts AS (SELECT DISTINCT vec_id FROM embeddings),
reach(id, lbl) AS (
  SELECT vec_id, vec_id FROM verts
  UNION
  SELECT s.b, r.lbl FROM reach r JOIN sym s ON s.a = r.id
)
SELECT id AS vec_id, min(lbl) AS cluster_id FROM reach GROUP BY id
"""


def q_clean_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The training-data-pipeline composition: exact-dedup to
    representatives (min doc_id per content hash) THEN quality-filter
    (token-count + stopword gates) THEN per-language corpus stats —
    i.e. what a 100-TB cleaning job emits after the dedup stage feeds
    the filter stage."""
    c = corpus_exact(spark, sf_dir)
    w = Window.partitionBy(F.md5("t"))
    reps = (
        c.withColumn("rep", F.min("doc_id").over(w))
        .filter(F.col("doc_id") == F.col("rep"))
        .select("doc_id", "t", "n_chars")
    )
    wq = F.split("t", " ")
    stop_arr = F.array(*[F.lit(s) for s in _STOPWORDS])
    n_tok = F.size(wq)
    n_stop = F.size(F.filter(wq, lambda x: F.array_contains(stop_arr, x)))
    kept = reps.filter((n_tok >= 20) & (n_tok <= 1000) & (n_stop > 0))
    d = _docs(spark, sf_dir).select(F.col("doc_id").alias("odoc"), "lang")
    return (
        kept.join(d, kept.doc_id % EXACT_ID_OFFSET == d.odoc)
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


SQL_CLEAN_CORPUS_STATS = f"""
WITH {SQL_CORPUS_EXACT},
reps AS (
  SELECT doc_id, t, n_chars
  FROM (SELECT doc_id, t, n_chars,
               min(doc_id) OVER (PARTITION BY md5(t)) AS rep
        FROM corpus)
  WHERE doc_id = rep
),
kept AS (
  SELECT doc_id, n_chars,
         string_split(t, ' ') AS w
  FROM reps
  WHERE len(string_split(t, ' ')) BETWEEN 20 AND 1000
    AND len(list_filter(string_split(t, ' '),
                        x -> list_contains({_SQL_STOPLIST}, x))) > 0
)
SELECT d.lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(k.n_chars) AS BIGINT) AS total_chars
FROM kept k JOIN documents d ON k.doc_id % {EXACT_ID_OFFSET} = d.doc_id
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# T1 completion: OFFSET + keyset pagination, job point-lookup and
# delete analogs (reference jobs API: GET /jobs list with LIMIT $ /
# OFFSET $ jobs.rs:29-51, GET /jobs/{id} jobs.rs:85-121, DELETE
# /jobs/{id} jobs.rs:123-166)
# ---------------------------------------------------------------------------

PAGE_LIMIT = 100   # reference caps listings at 100 (jobs.rs:36)
PAGE_OFFSET = 100  # page 2


def _events_listing_cols(df: DataFrame) -> DataFrame:
    return df.select(
        "event_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_str"),
        "event_type",
        round_dd("value", 4).alias("value_r"),
    )


def q_events_page2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OFFSET pagination (T1): rows offset+1..offset+limit of the
    created_at-DESC listing.  Physical shape: TakeOrdered(offset+limit)
    first — the global sort never materializes more than one page-span
    of rows — then a row_number window over that tiny result drops the
    first `offset` (a bare unpartitioned window over the full table
    would single-task the whole sort)."""
    e = _events(spark, sf_dir)
    span = e.orderBy(F.desc("ts"), F.desc("event_id")).limit(
        PAGE_OFFSET + PAGE_LIMIT
    )
    w = Window.orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        span.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") > PAGE_OFFSET)
        .drop("rn")
        .transform(_events_listing_cols)
    )


SQL_EVENTS_PAGE2 = f"""
SELECT event_id,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_str,
       event_type,
       round(value, 4) AS value_r
FROM events
ORDER BY ts DESC, event_id DESC
LIMIT {PAGE_LIMIT} OFFSET {PAGE_OFFSET}
"""


def q_events_keyset_page(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyset pagination — the scale-correct form of OFFSET (jobs.rs
    ordering: created_at DESC, cap 100): the cursor is the last row of
    page 1 and page 2 is WHERE (ts, event_id) < cursor ORDER BY ...
    LIMIT.  Unlike OFFSET, cost does not grow with page number.  The
    cursor derivation (min of the top-100) is itself a TakeOrdered —
    broadcast as a 1-row join side."""
    e = _events(spark, sf_dir)
    page1 = e.orderBy(F.desc("ts"), F.desc("event_id")).limit(PAGE_LIMIT)
    cursor = (
        page1.orderBy(F.asc("ts"), F.asc("event_id"))
        .limit(1)
        .select(F.col("ts").alias("c_ts"), F.col("event_id").alias("c_id"))
    )
    after = (
        e.crossJoin(F.broadcast(cursor))
        .filter(
            (F.col("ts") < F.col("c_ts"))
            | ((F.col("ts") == F.col("c_ts")) & (F.col("event_id") < F.col("c_id")))
        )
        .orderBy(F.desc("ts"), F.desc("event_id"))
        .limit(PAGE_LIMIT)
    )
    return _events_listing_cols(after)


SQL_EVENTS_KEYSET_PAGE = f"""
WITH cursor AS (
  SELECT ts AS c_ts, event_id AS c_id FROM events
  ORDER BY ts DESC, event_id DESC
  LIMIT 1 OFFSET {PAGE_LIMIT - 1}
)
SELECT e.event_id,
       strftime(e.ts, '%Y-%m-%d %H:%M:%S') AS ts_str,
       e.event_type,
       round(e.value, 4) AS value_r
FROM events e, cursor
WHERE e.ts < c_ts OR (e.ts = c_ts AND e.event_id < c_id)
ORDER BY e.ts DESC, e.event_id DESC
LIMIT {PAGE_LIMIT}
"""


def q_job_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point lookup (GET /jobs/{id}, jobs.rs:85-121): fetch one row by
    key.  The key is data-derived (max event_id) so the query is
    scale-factor independent; the 1-row key side broadcasts."""
    e = _events(spark, sf_dir)
    key = e.agg(F.max("event_id").alias("event_id"))
    return (
        e.join(F.broadcast(key), "event_id")
        .transform(_events_listing_cols)
    )


SQL_JOB_LOOKUP = """
SELECT event_id,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_str,
       event_type,
       round(value, 4) AS value_r
FROM events
WHERE event_id = (SELECT max(event_id) FROM events)
"""


def q_jobs_delete_remaining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DELETE /jobs/{id} analog (jobs.rs:123-166): batch delete-set
    (every 100th event) anti-joined away; the result is the surviving
    listing summarized per type (count + value checksum) — i.e. what a
    subsequent GET list would aggregate to.  The delete is expressed
    declaratively (left_anti), the Iceberg form being DELETE WHERE /
    MERGE on the same predicate."""
    e = _events(spark, sf_dir)
    delete_set = e.filter(F.col("event_id") % 100 == 0).select("event_id")
    return (
        e.join(delete_set, "event_id", "left_anti")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_remaining"),
            round_dd(F.sum("value"), 2).alias("value_sum"),
        )
    )


SQL_JOBS_DELETE_REMAINING = """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_remaining,
       round(sum(value), 2) AS value_sum
FROM events
WHERE event_id NOT IN (SELECT event_id FROM events WHERE event_id % 100 = 0)
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# T2 parity inside the engine output: k=10 neighbour cap per node over
# the verified dup-edge table (reference deduplication_service.rs:309 —
# the k-NN result consumed by clustering)
# ---------------------------------------------------------------------------

def q_topk_neighbors_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node top-k over verified edges via the canonical operator
    (operators.verify.top_k_neighbors — VERDICT r3 folded the former
    inline duplicate into it): symmetrize the dup-edge table and keep
    each node's k best neighbours (sim desc, neighbor asc).  This is
    the engine surface the reference's k=10 probe cap maps to —
    bounded output per node regardless of cluster size."""
    from file_dedup_rust_spark.operators.verify import top_k_neighbors

    edges = _doc_edges(spark, sf_dir)
    return top_k_neighbors(edges, TOP_K).select(
        F.col("clip_id").alias("doc_id"), "neighbor_id",
        round_dd("sim", 4).alias("sim"), "rank",
    )


SQL_TOPK_NEIGHBORS_PIPELINE = f"""
WITH {SQL_DOC_EDGES},
sym AS (
  SELECT a AS doc_id, b AS neighbor_id, sim FROM edges
  UNION ALL
  SELECT b, a, sim FROM edges
),
ranked AS (
  SELECT doc_id, neighbor_id, sim,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY sim DESC, neighbor_id ASC) AS rank
  FROM sym
)
SELECT doc_id, neighbor_id, round(sim, 4) AS sim, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= {TOP_K}
"""


# ---------------------------------------------------------------------------
# approximate-nearest-neighbour (IVF scale path), oracle-checked on a
# planted CLUSTERED corpus — the round-4 LSH-cosine playbook applied
# to IVF (VERDICT r4 item 1).  The raw testdata embeddings are
# isotropic (true top-10 sims ~0.3, the ANN worst case — recall there
# is gated by tests/test_ann_quality.py at >= 0.9); real embedding
# corpora are clusterable, and in that regime a generous probe budget
# makes IVF output PROVABLY equal to exact brute-force top-k, which a
# SQL oracle can check hash-exactly.
#
# The planted corpus derives deterministically from the embeddings
# table with PURE elementwise multiply-add (one cast, one multiply,
# one add per component — bit-identical doubles in Spark and DuckDB,
# no sum-order or sqrt hazards in the corpus itself): every run of
# IVF_CLUSTER consecutive vec_ids forms a cluster whose members are
# v_i = anchor_emb + 0.3 * self_emb (anchor = the run's first row).
# Measured geometry: in-cluster cosine ~0.87-0.93, cross-cluster
# <= ~0.55, so each row's true top-10 is EXACTLY its 10 cluster
# siblings and the rank-10/11 boundary sits across that wide gap —
# no round-4 tie can straddle it.  With assign_m=8 / nprobe=16 every
# sibling pair cohabits a cell (verified exact at sf0.001/0.01/0.1
# for both ivf_topk and ivf_pq_topk), so the approximate operator
# must reproduce the exact all-pairs SQL, rows + schema + hash.
# ---------------------------------------------------------------------------

IVF_CLUSTER = 11   # cluster size; top-k = TOP_K = cluster - 1


def ivf_corpus_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """embeddings -> clustered corpus: drop the trailing partial
    cluster (vec_id >= IVF_CLUSTER * floor(n/IVF_CLUSTER)), anchor
    each row to the first id of its 11-run, and mix anchor + 0.3*self
    elementwise (double).  The anchor side is one row per cluster —
    broadcast by size at any scale."""
    e = _embeddings(spark, sf_dir).select("vec_id", "embedding")
    n = e.count()
    lim = IVF_CLUSTER * (n // IVF_CLUSTER)
    kept = e.filter(F.col("vec_id") < lim)
    anchors = kept.filter(F.col("vec_id") % IVF_CLUSTER == 0).select(
        F.col("vec_id").alias("aid"), F.col("embedding").alias("a_emb")
    )
    return (
        kept.withColumn("aid", F.col("vec_id") - F.col("vec_id") % IVF_CLUSTER)
        .join(anchors, "aid")
        .select(
            "vec_id",
            F.expr(
                "zip_with(a_emb, embedding, (a, x) ->"
                " CAST(a AS double) + CAST(0.3 AS double) * CAST(x AS double))"
            ).alias("embedding"),
        )
    )


def q_ann_ivf_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ-compressed IVF ANN top-k (operators.ann.ivf_pq_topk) on the
    planted clustered corpus: the same cell structure as ann_ivf_topk
    with the inverted lists stored as 8-byte product-quantizer codes
    (ADC scan + exact re-rank of the top-48 survivors per probe-cell)
    — the petabyte-scale variant, where the replicated cell payload is
    what dominates shuffle bytes.  In this regime the ADC scan cannot
    lose a true neighbour (in-cluster ADC sims ~0.9 vs <= ~0.55 rest),
    so the output equals exact brute-force top-k and the SQL oracle
    checks it hash-exactly.  The isotropic worst case stays gated by
    tests/test_ann_quality.py (recall@10 >= 0.9 at sf0.01 and sf0.1,
    measured 0.997 / 0.970); the reference analog is the k-NN probe
    (deduplication_service.rs:300-372)."""
    from file_dedup_rust_spark.operators.ann import ivf_pq_topk

    return ivf_pq_topk(ivf_corpus_planted(spark, sf_dir), top_k=TOP_K)


def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN top-k (operators.ann.ivf_topk) on the planted clustered
    corpus: FIXED-size codebook (k ~ 3*sqrt(n), capped 4096) trained
    by deterministic sampled Lloyd, broadcast (k*d*8 bytes — bounded,
    ~2 MB worst case), every vector multi-assigned to its top-8 cells,
    probes scan their top-16 cells, per-cell work one cogrouped
    matmul.  Per-probe candidates are O(sqrt(n)) when k tracks sqrt(n)
    — the sublinear scale path for the reference's HNSW index
    (iac/opensearch_indexes.tf:8-14).  On the clustered corpus the
    probe budget provably covers every true top-10 pair (see the
    block comment above), so the exact brute-force SQL is the oracle;
    the isotropic regime stays recall-gated in
    tests/test_ann_quality.py."""
    from file_dedup_rust_spark.operators.ann import ivf_topk

    return ivf_topk(ivf_corpus_planted(spark, sf_dir), top_k=TOP_K)


def q_ann_ivf_topk_iso(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The round-1..4 bench workload: ivf_topk over the RAW isotropic
    embeddings (approximate there — recall-gated, not oracle-checked).
    Kept OUT of the driver queries() registry so CORRECTNESS carries
    no rows-only entries; bench.py still times this exact workload so
    BENCH_r05+ headline numbers stay comparable with r04."""
    from file_dedup_rust_spark.operators.ann import ivf_topk

    e = _embeddings(spark, sf_dir).select("vec_id", "embedding")
    return ivf_topk(e, top_k=TOP_K)


def q_ann_ivf_pq_topk_iso(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bench twin of q_ann_ivf_topk_iso for the PQ path (see its
    docstring)."""
    from file_dedup_rust_spark.operators.ann import ivf_pq_topk

    e = _embeddings(spark, sf_dir).select("vec_id", "embedding")
    return ivf_pq_topk(e, top_k=TOP_K)


def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining (operators.ann.hard_negative_topk) on the
    planted clustered corpus: each vector's top-10 most similar
    NON-siblings — the contrastive-training companion of dedup, where
    near-dup siblings are exactly the "false negatives" in-batch
    sampling must not serve.  Positive sets here are the known 11-runs
    (in production: the CC / keep-capped cluster table), so candidate
    width 10 + 11 - 1 provably covers the true top-10 non-siblings and
    exact brute-force SQL with the same exclusion is the oracle."""
    from file_dedup_rust_spark.operators.ann import hard_negative_topk

    e = ivf_corpus_planted(spark, sf_dir)
    clusters = e.select(
        "vec_id",
        (F.col("vec_id") - F.col("vec_id") % IVF_CLUSTER).alias("cluster_id"),
    )
    return hard_negative_topk(
        e, clusters, top_k=TOP_K, max_cluster=IVF_CLUSTER
    )


SQL_HARD_NEGATIVES = f"""
WITH lim AS (
  SELECT {IVF_CLUSTER} * CAST(count(*) // {IVF_CLUSTER} AS BIGINT) AS v
  FROM embeddings
),
elems AS (
  SELECT c.vec_id, u.i,
         CAST(a.embedding[u.i] AS DOUBLE)
         + CAST(0.3 AS DOUBLE) * CAST(c.embedding[u.i] AS DOUBLE) AS x
  FROM embeddings c
  JOIN embeddings a ON a.vec_id = c.vec_id - (c.vec_id % {IVF_CLUSTER}),
       unnest(generate_series(1, len(c.embedding))) AS u(i)
  WHERE c.vec_id < (SELECT v FROM lim)
),
nrm AS (SELECT vec_id, sqrt(sum(x * x)) AS n FROM elems GROUP BY 1),
dots AS (
  SELECT a.vec_id AS ia, b.vec_id AS ib, sum(a.x * b.x) AS dot
  FROM elems a JOIN elems b ON a.i = b.i AND a.vec_id < b.vec_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT ia, ib, round(dot / (sa.n * sb.n), 4) AS sim
  FROM dots JOIN nrm sa ON sa.vec_id = ia JOIN nrm sb ON sb.vec_id = ib
),
mirrored AS (
  SELECT ia AS vec_id, ib AS neighbor_id, sim FROM pairs
  UNION ALL
  SELECT ib, ia, sim FROM pairs
),
ranked AS (
  SELECT vec_id, neighbor_id, sim,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY sim DESC, neighbor_id ASC) AS rank
  FROM mirrored
  WHERE vec_id - (vec_id % {IVF_CLUSTER})
        <> neighbor_id - (neighbor_id % {IVF_CLUSTER})
)
SELECT vec_id, neighbor_id, sim, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= {TOP_K}
"""


SQL_ANN_IVF_TOPK = f"""
WITH lim AS (
  SELECT {IVF_CLUSTER} * CAST(count(*) // {IVF_CLUSTER} AS BIGINT) AS v
  FROM embeddings
),
elems AS (
  SELECT c.vec_id, u.i,
         CAST(a.embedding[u.i] AS DOUBLE)
         + CAST(0.3 AS DOUBLE) * CAST(c.embedding[u.i] AS DOUBLE) AS x
  FROM embeddings c
  JOIN embeddings a ON a.vec_id = c.vec_id - (c.vec_id % {IVF_CLUSTER}),
       unnest(generate_series(1, len(c.embedding))) AS u(i)
  WHERE c.vec_id < (SELECT v FROM lim)
),
nrm AS (SELECT vec_id, sqrt(sum(x * x)) AS n FROM elems GROUP BY 1),
dots AS (
  SELECT a.vec_id AS ia, b.vec_id AS ib, sum(a.x * b.x) AS dot
  FROM elems a JOIN elems b ON a.i = b.i AND a.vec_id < b.vec_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT ia, ib, round(dot / (sa.n * sb.n), 4) AS sim
  FROM dots JOIN nrm sa ON sa.vec_id = ia JOIN nrm sb ON sb.vec_id = ib
),
mirrored AS (
  SELECT ia AS vec_id, ib AS neighbor_id, sim FROM pairs
  UNION ALL
  SELECT ib, ia, sim FROM pairs
),
ranked AS (
  SELECT vec_id, neighbor_id, sim,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY sim DESC, neighbor_id ASC) AS rank
  FROM mirrored
)
SELECT vec_id, neighbor_id, sim, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= {TOP_K}
"""


N_SEMDEDUP_SEEDS = 8   # deterministic stand-in for k-means|| centroids


def q_semdedup_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023) over the embeddings table: one
    nearest-seed assignment pass (seeds = the N_SEMDEDUP_SEEDS
    smallest vec_ids, the oracle-reproducible stand-in for k-means||
    centroids), then a per-cluster prune of every vector whose cosine
    to a smaller-id cluster member reaches COSINE_T.

    Scale shape (operators/semdedup.py): assignment is one
    mapInPandas BLAS pass against a broadcast seed matrix (no
    shuffle); the prune is one repartition-by-cluster +
    applyInPandas gram-matrix per cluster — n^2 work scoped to
    ~(n/k)^2 per task, the semantic tier a training-data pipeline
    runs after the exact/LSH ladder."""
    from file_dedup_rust_spark.operators.semdedup import semdedup_prune

    e = _embeddings(spark, sf_dir).select("vec_id", "embedding")
    return semdedup_prune(e, N_SEMDEDUP_SEEDS, COSINE_T)


SQL_SEMDEDUP_PRUNE = f"""
WITH {SQL_COSINE_PAIRS},
seedv AS (SELECT vec_id AS sid FROM embeddings ORDER BY vec_id LIMIT {N_SEMDEDUP_SEEDS}),
sdot AS (
  SELECT e.vec_id AS vid, se.vec_id AS sid, sum(e.x * se.x) AS dot
  FROM elems e JOIN elems se ON se.i = e.i
  WHERE se.vec_id IN (SELECT sid FROM seedv)
  GROUP BY 1, 2
),
ssim AS (
  SELECT vid, sid, round(dot / (na.n * nb.n), 4) AS sim
  FROM sdot JOIN nrm na ON na.vec_id = vid JOIN nrm nb ON nb.vec_id = sid
),
assign AS (
  SELECT vid AS vec_id, sid AS cluster_id FROM (
    SELECT vid, sid,
           row_number() OVER (PARTITION BY vid
                              ORDER BY sim DESC, sid ASC) AS rn
    FROM ssim) WHERE rn = 1
),
mx AS (
  SELECT bb.vec_id AS vec_id, max(p.sim) AS m
  FROM pairs p
  JOIN assign aa ON aa.vec_id = p.ia
  JOIN assign bb ON bb.vec_id = p.ib AND bb.cluster_id = aa.cluster_id
  GROUP BY 1
)
SELECT a.vec_id, a.cluster_id,
       coalesce(m.m, -1.0) AS max_sim_prev,
       CAST(coalesce(m.m, -1.0) >= {COSINE_T} AS INT) AS pruned
FROM assign a LEFT JOIN mx m ON m.vec_id = a.vec_id
"""


# --- incremental batch tier: dedup a NEW batch against an existing corpus ---

EDIT_ID_OFFSET = 3_000_000
SCRAM_ID_OFFSET = 4_000_000
EDIT_COPY_MOD = 7      # every 7th doc (==3) gets a ~3%-word-edit copy
SCRAM_COPY_MOD = 11    # every 11th doc (==5) gets a reversed (unique) copy

def _trunc_prefix():
    """60%-word-prefix column expr (built lazily — constructing a
    Column requires an active SparkContext)."""
    return F.array_join(
        F.slice(
            F.split("t", " "),
            1,
            F.greatest(
                (F.size(F.split("t", " ")) * 3 / 5).cast("int"), F.lit(1)
            ),
        ),
        " ",
    )


def _new_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Today's arrivals, derived deterministically from documents:
    byte-identical copies, 60%-prefix truncations, ~3%-word edits
    (every 30th word swapped), and reversed-word-order uniques."""
    d = docs_corpus(spark, sf_dir)
    copies = d.filter(F.col("doc_id") % EXACT_COPY_MOD == 0).select(
        (F.col("doc_id") + EXACT_ID_OFFSET).alias("doc_id"), "t"
    )
    truncs = d.filter(F.col("doc_id") % TRUNC_COPY_MOD == 0).select(
        (F.col("doc_id") + TRUNC_ID_OFFSET).alias("doc_id"),
        _trunc_prefix().alias("t"),
    )
    edits = d.filter(F.col("doc_id") % EDIT_COPY_MOD == 3).select(
        (F.col("doc_id") + EDIT_ID_OFFSET).alias("doc_id"),
        F.expr(
            "array_join(transform(sequence(1, size(split(t, ' '))),"
            " i -> IF((i-1) % 30 = 0, 'zzz',"
            " element_at(split(t, ' '), i))), ' ')"
        ).alias("t"),
    )
    scrams = d.filter(F.col("doc_id") % SCRAM_COPY_MOD == 5).select(
        (F.col("doc_id") + SCRAM_ID_OFFSET).alias("doc_id"),
        F.array_join(F.reverse(F.split("t", " ")), " ").alias("t"),
    )
    return (
        copies.unionByName(truncs).unionByName(edits).unionByName(scrams)
    )


def q_dedup_new_vs_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental batch dedup: classify each NEW doc against the
    EXISTING corpus only (never corpus x corpus — the asymmetry is the
    whole point of an incremental tier) at the exact / near-jaccard /
    containment ladder, 'unique' otherwise.

    Scale shape: the exact tier is an equi-join ON THE 8-BYTE CONTENT
    HASH where the new batch is the small side (broadcast at 100 TB);
    the shingle tiers join base postings against NEW keys only, so
    Catalyst's inner posting join prunes every base shingle the batch
    never mentions — base-side work is proportional to the batch, not
    the corpus.  In production the base posting/size tables come from
    the persisted signature checkpoint (sources/table_io.py), not a
    recompute; the streaming twin of this query is the fingerprint-
    store probe in streaming/incremental.py."""
    base = docs_corpus(spark, sf_dir)
    new = _new_batch(spark, sf_dir)
    # join/shuffle keys are 8-byte content hashes, never the full text
    # (VERDICT r4: at 100 TB the exact tier would otherwise ship and
    # compare multi-KB keys); the text rides only as payload where a
    # later stage needs it.  xxhash64 collisions (~n^2/2^65) are the
    # same accepted risk as the engine's own band/bucket keys.
    base_k = base.select(F.xxhash64("t").alias("tk")).distinct()
    new_k = new.select("doc_id", F.xxhash64("t").alias("tk"), "t")
    exact = new_k.join(base_k, "tk", "left_semi").select("doc_id")
    rest = new_k.join(base_k, "tk", "left_anti").select("doc_id", "t")

    # shingle posting joins likewise key on the hashed gram
    sh_new = shingles(rest).select("doc_id", F.xxhash64("g").alias("g"))
    sh_base = shingles(base).select("doc_id", F.xxhash64("g").alias("g"))
    sz_new = sh_new.groupBy("doc_id").agg(F.count("*").alias("n"))
    sz_base = sh_base.groupBy("doc_id").agg(F.count("*").alias("n"))
    inter = (
        sh_new.select(F.col("doc_id").alias("nid"), "g")
        .join(sh_base.select(F.col("doc_id").alias("bid"), "g"), "g")
        .groupBy("nid", "bid")
        .agg(F.count("*").alias("c"))
    )
    scored = (
        inter.join(
            sz_new.select(F.col("doc_id").alias("nid"), F.col("n").alias("nn")),
            "nid",
        )
        .join(
            sz_base.select(F.col("doc_id").alias("bid"), F.col("n").alias("nb")),
            "bid",
        )
        .select(
            "nid",
            round_dd(F.col("c") / (F.col("nn") + F.col("nb") - F.col("c")), 4)
            .alias("jac"),
            round_dd(F.col("c") / F.least("nn", "nb"), 4).alias("cont"),
        )
    )
    best = scored.groupBy("nid").agg(
        F.max("jac").alias("bj"), F.max("cont").alias("bc")
    )
    classified = (
        rest.select("doc_id")
        .join(best.withColumnRenamed("nid", "doc_id"), "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("bj") >= JACCARD_T, F.lit("near"))
            .when(F.col("bc") >= CONTAIN_T, F.lit("contained"))
            .otherwise(F.lit("unique"))
            .alias("verdict"),
            F.when(F.col("bj") >= JACCARD_T, F.col("bj"))
            .when(F.col("bc") >= CONTAIN_T, F.col("bc"))
            .otherwise(F.lit(-1.0))
            .alias("best_score"),
        )
    )
    return exact.select(
        "doc_id",
        F.lit("exact").alias("verdict"),
        F.lit(1.0).alias("best_score"),
    ).unionByName(classified)


SQL_DEDUP_NEW_VS_CORPUS = f"""
WITH base AS (
  SELECT doc_id, lower(coalesce(text, '')) AS t FROM documents
),
newb AS (
  SELECT doc_id + {EXACT_ID_OFFSET} AS doc_id, t
  FROM base WHERE doc_id % {EXACT_COPY_MOD} = 0
  UNION ALL
  SELECT doc_id + {TRUNC_ID_OFFSET},
         array_to_string(
           w[1 : greatest(CAST(floor(len(w) * 3 / 5) AS INT), 1)], ' ')
  FROM (SELECT doc_id, string_split(t, ' ') AS w FROM base)
  WHERE doc_id % {TRUNC_COPY_MOD} = 0
  UNION ALL
  SELECT doc_id + {EDIT_ID_OFFSET},
         array_to_string(
           list_transform(generate_series(1, len(w)),
             i -> CASE WHEN (i-1) % 30 = 0 THEN 'zzz' ELSE w[i] END), ' ')
  FROM (SELECT doc_id, string_split(t, ' ') AS w FROM base)
  WHERE doc_id % {EDIT_COPY_MOD} = 3
  UNION ALL
  SELECT doc_id + {SCRAM_ID_OFFSET},
         array_to_string(list_reverse(string_split(t, ' ')), ' ')
  FROM base WHERE doc_id % {SCRAM_COPY_MOD} = 5
),
exact AS (
  SELECT DISTINCT n.doc_id FROM newb n JOIN base b ON b.t = n.t
),
rest AS (
  SELECT * FROM newb WHERE doc_id NOT IN (SELECT doc_id FROM exact)
),
shn AS (
  SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS g
  FROM (SELECT doc_id, string_split(t, ' ') AS w FROM rest),
       unnest(generate_series(1, greatest(len(w) - 2, 0))) AS u(i)
),
shb AS (
  SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS g
  FROM (SELECT doc_id, string_split(t, ' ') AS w FROM base),
       unnest(generate_series(1, greatest(len(w) - 2, 0))) AS u(i)
),
szn AS (SELECT doc_id, count(*) AS n FROM shn GROUP BY 1),
szb AS (SELECT doc_id, count(*) AS n FROM shb GROUP BY 1),
inter AS (
  SELECT n.doc_id AS nid, b.doc_id AS bid, count(*) AS c
  FROM shn n JOIN shb b ON b.g = n.g GROUP BY 1, 2
),
scored AS (
  SELECT nid,
         round(c * 1.0 / (sn.n + sb.n - c), 4) AS jac,
         round(c * 1.0 / least(sn.n, sb.n), 4) AS cont
  FROM inter JOIN szn sn ON sn.doc_id = nid JOIN szb sb ON sb.doc_id = bid
),
best AS (SELECT nid, max(jac) AS bj, max(cont) AS bc FROM scored GROUP BY 1)
SELECT doc_id, 'exact' AS verdict, 1.0 AS best_score FROM exact
UNION ALL
SELECT r.doc_id,
       CASE WHEN b.bj >= {JACCARD_T} THEN 'near'
            WHEN b.bc >= {CONTAIN_T} THEN 'contained'
            ELSE 'unique' END AS verdict,
       CASE WHEN b.bj >= {JACCARD_T} THEN b.bj
            WHEN b.bc >= {CONTAIN_T} THEN b.bc
            ELSE -1.0 END AS best_score
FROM rest r LEFT JOIN best b ON b.nid = r.doc_id
"""


# ---------------------------------------------------------------------------
# snapshot delta (operators.delta): the Iceberg-style diff between two
# corpus snapshots — what drives the incremental path instead of a
# full nightly re-run.  Snapshot A = documents as-is; snapshot B
# deterministically deletes every 11th doc (residue 5), rewrites the
# text of every 13th (residue 3, ' rev2' appended), and adds copies
# of every 9th (id + 6e6).  Unchanged rows must emit NOTHING — the
# output is bounded by churn.
# ---------------------------------------------------------------------------

DELTA_DEL_MOD, DELTA_DEL_RES = 11, 5
DELTA_CHG_MOD, DELTA_CHG_RES = 13, 3
DELTA_ADD_MOD = 9
DELTA_ADD_OFFSET = 6_000_000


def q_corpus_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, status) for every row differing between snapshots.

    Plan shape: md5 fingerprints are computed per side BEFORE the one
    full-outer hash join on doc_id, so only (id, 32-char) rows cross
    the exchange — never the documents."""
    from file_dedup_rust_spark.operators.delta import snapshot_delta

    a = docs_corpus(spark, sf_dir)
    survivors = a.filter(
        (F.col("doc_id") % DELTA_DEL_MOD) != DELTA_DEL_RES
    ).select(
        "doc_id",
        F.when(
            (F.col("doc_id") % DELTA_CHG_MOD) == DELTA_CHG_RES,
            F.concat("t", F.lit(" rev2")),
        ).otherwise(F.col("t")).alias("t"),
    )
    added = a.filter((F.col("doc_id") % DELTA_ADD_MOD) == 0).select(
        (F.col("doc_id") + DELTA_ADD_OFFSET).alias("doc_id"), "t"
    )
    b = survivors.unionByName(added)
    return snapshot_delta(a, b, "doc_id", "t")


SQL_CORPUS_DELTA = f"""
WITH a AS (
  SELECT doc_id, lower(coalesce(text, '')) AS t FROM documents
),
b AS (
  SELECT doc_id,
         CASE WHEN doc_id % {DELTA_CHG_MOD} = {DELTA_CHG_RES}
              THEN t || ' rev2' ELSE t END AS t
  FROM a WHERE doc_id % {DELTA_DEL_MOD} != {DELTA_DEL_RES}
  UNION ALL
  SELECT doc_id + {DELTA_ADD_OFFSET}, t
  FROM a WHERE doc_id % {DELTA_ADD_MOD} = 0
)
SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,
       CASE WHEN a.doc_id IS NULL THEN 'added'
            WHEN b.doc_id IS NULL THEN 'removed'
            WHEN md5(a.t) != md5(b.t) THEN 'changed'
       END AS status
FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id
WHERE (a.doc_id IS NULL OR b.doc_id IS NULL OR md5(a.t) != md5(b.t))
"""


# ---------------------------------------------------------------------------
# benchmark decontamination (operators.decontaminate): flag train docs
# sharing any word-8-gram with a deterministic eval split.  Eval set =
# every 13th doc; contamination planted by re-packaging an eval doc's
# word prefix as a "train" doc (id + 5e6) — the leak pattern real
# corpora show when a benchmark's source text was crawled.
# ---------------------------------------------------------------------------

DECONTAM_N = 8          # word window; public practice uses 8-13
EVAL_MOD = 13           # doc_id % 13 == 7 -> eval split
EVAL_RESIDUE = 7
CONTAM_ID_OFFSET = 5_000_000
CONTAM_MOD = 3          # eval docs with doc_id % 3 == 1 leak a prefix


def _decontam_prefix():
    """greatest(60% of words, DECONTAM_N)-word prefix (lazy Column —
    same SparkContext constraint as _trunc_prefix)."""
    return F.array_join(
        F.slice(
            F.split("t", " "),
            1,
            F.greatest(
                (F.size(F.split("t", " ")) * 3 / 5).cast("int"),
                F.lit(DECONTAM_N),
            ),
        ),
        " ",
    )


def corpus_decontam(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """(train, eval) docs.  Train = non-eval docs ∪ planted leaks."""
    d = _docs(spark, sf_dir).select(
        "doc_id", F.lower(F.coalesce("text", F.lit(""))).alias("t")
    )
    ev = d.filter(F.col("doc_id") % EVAL_MOD == EVAL_RESIDUE)
    leaks = ev.filter(F.col("doc_id") % CONTAM_MOD == 1).select(
        (F.col("doc_id") + CONTAM_ID_OFFSET).alias("doc_id"),
        _decontam_prefix().alias("t"),
    )
    train = d.filter(F.col("doc_id") % EVAL_MOD != EVAL_RESIDUE).unionByName(
        leaks
    )
    return train, ev


def q_decontam_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contaminated train docs with gram/eval-doc hit counts.

    Plan shape: the eval gram set is broadcast (tiny vs the corpus at
    any scale); the train grams stream through one BroadcastHashJoin
    + partial-agg count — the corpus is never shuffled on the gram
    key."""
    from file_dedup_rust_spark.operators.decontaminate import (
        contamination_hits,
    )

    train, ev = corpus_decontam(spark, sf_dir)
    return contamination_hits(train, ev, DECONTAM_N)


def _sql_ngrams(src: str, n: int) -> str:
    """DuckDB word-n-gram SELECT over a (doc_id, t) relation."""
    lanes = " || ' ' || ".join(f"w[i+{j}]" for j in range(n))
    return f"""
  SELECT DISTINCT doc_id, {lanes} AS g
  FROM (SELECT doc_id, string_split(t, ' ') AS w FROM {src}),
       unnest(generate_series(1, greatest(len(w) - {n - 1}, 0))) AS u(i)
"""


SQL_DECONTAM_HITS = f"""
WITH docs_t AS (
  SELECT doc_id, lower(coalesce(text, '')) AS t FROM documents
),
evalset AS (
  SELECT * FROM docs_t WHERE doc_id % {EVAL_MOD} = {EVAL_RESIDUE}
),
train AS (
  SELECT * FROM docs_t WHERE doc_id % {EVAL_MOD} != {EVAL_RESIDUE}
  UNION ALL
  SELECT doc_id + {CONTAM_ID_OFFSET},
         array_to_string(
           w[1:greatest(CAST(floor(len(w) * 3 / 5) AS INT), {DECONTAM_N})], ' ')
  FROM (SELECT doc_id, string_split(t, ' ') AS w FROM evalset
        WHERE doc_id % {CONTAM_MOD} = 1)
),
tg AS ({_sql_ngrams('train', DECONTAM_N)}),
eg AS ({_sql_ngrams('evalset', DECONTAM_N)})
SELECT t.doc_id,
       count(DISTINCT t.g) AS n_gram_hits,
       count(DISTINCT e.doc_id) AS n_eval_docs
FROM tg t JOIN eg e ON e.g = t.g
GROUP BY 1
"""


# contamination COVERAGE: the hit flag says "dirty"; the coverage
# fraction says HOW dirty (drop vs redact routing).  The fixture
# plants both ends: the 60%-prefix leaks from corpus_decontam (near
# total coverage) plus STITCHED docs — one eval 8-gram grafted in
# front of the same doc's word-REVERSED tail, so only the leading
# window matches and covered_frac is a small partial fraction.

STITCH_ID_OFFSET = 6_000_000


def corpus_contam_coverage(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """(train ∪ stitched partial-contamination docs, eval)."""
    train, ev = corpus_decontam(spark, sf_dir)
    w = F.split("t", " ")
    stitched = (
        ev.filter(F.col("doc_id") % CONTAM_MOD == 2)
        .filter(F.size(w) >= 2 * DECONTAM_N)
        .select(
            (F.col("doc_id") + STITCH_ID_OFFSET).alias("doc_id"),
            F.concat_ws(
                " ",
                F.array_join(F.slice(w, 1, DECONTAM_N), " "),
                F.array_join(
                    F.reverse(
                        F.expr(f"slice(split(t, ' '), {DECONTAM_N + 1}, "
                               f"size(split(t, ' ')))")
                    ),
                    " ",
                ),
            ).alias("t"),
        )
    )
    return train.unionByName(stitched), ev


def q_contam_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-level contamination fraction per contaminated doc
    (operators.decontaminate.contamination_coverage): positioned train
    grams stream through ONE BroadcastHashJoin against the distinct
    eval gram set, then the per-doc interval union (the dup-span-census
    JVM aggregate) converts matched windows into covered token
    positions.  Planted truth spans both ends: 60%-prefix leaks read
    ~1.0, stitched single-window grafts read ~8/n_tokens."""
    from file_dedup_rust_spark.operators.decontaminate import (
        contamination_coverage,
    )

    train, ev = corpus_contam_coverage(spark, sf_dir)
    return contamination_coverage(train, ev, DECONTAM_N)


SQL_CONTAM_COVERAGE = f"""
WITH docs_t AS (
  SELECT doc_id, lower(coalesce(text, '')) AS t FROM documents
),
evalset AS (
  SELECT * FROM docs_t WHERE doc_id % {EVAL_MOD} = {EVAL_RESIDUE}
),
train AS (
  SELECT * FROM docs_t WHERE doc_id % {EVAL_MOD} != {EVAL_RESIDUE}
  UNION ALL
  SELECT doc_id + {CONTAM_ID_OFFSET},
         array_to_string(
           w[1:greatest(CAST(floor(len(w) * 3 / 5) AS INT), {DECONTAM_N})], ' ')
  FROM (SELECT doc_id, string_split(t, ' ') AS w FROM evalset
        WHERE doc_id % {CONTAM_MOD} = 1)
  UNION ALL
  SELECT doc_id + {STITCH_ID_OFFSET},
         array_to_string(w[1:{DECONTAM_N}], ' ') || ' ' ||
         array_to_string(list_reverse(w[{DECONTAM_N + 1}:]), ' ')
  FROM (SELECT doc_id, string_split(t, ' ') AS w FROM evalset
        WHERE doc_id % {CONTAM_MOD} = 2)
  WHERE len(w) >= {2 * DECONTAM_N}
),
tpos AS (
  SELECT doc_id, len(w) AS n_tokens, i,
         array_to_string(w[i:i+{DECONTAM_N - 1}], ' ') AS g
  FROM (SELECT doc_id, string_split(t, ' ') AS w FROM train),
       unnest(generate_series(1, greatest(len(w) - {DECONTAM_N - 1}, 0)))
         AS u(i)
),
eg AS (SELECT DISTINCT g FROM ({_sql_ngrams('evalset', DECONTAM_N)}) q),
m AS (SELECT doc_id, n_tokens, i FROM tpos JOIN eg USING (g)),
perdoc AS (
  SELECT doc_id, any_value(n_tokens) AS n_tokens,
         count(*) AS matched_grams
  FROM m GROUP BY 1
),
tokpos AS (
  SELECT doc_id, u.j
  FROM (SELECT doc_id, string_split(t, ' ') AS w FROM train),
       unnest(generate_series(1, len(w))) AS u(j)
),
cov AS (
  SELECT doc_id, count(*) AS covered FROM (
    SELECT DISTINCT t.doc_id, t.j
    FROM tokpos t JOIN m d
      ON d.doc_id = t.doc_id
     AND d.i BETWEEN t.j - {DECONTAM_N - 1} AND t.j
  ) GROUP BY 1
)
SELECT p.doc_id,
       CAST(p.n_tokens AS INT) AS n_tokens,
       p.matched_grams AS matched_grams,
       c.covered AS covered_tokens,
       round(c.covered * 1.0 / p.n_tokens, 4) AS covered_frac
FROM perdoc p JOIN cov c USING (doc_id)
"""


def q_contam_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Surgical decontamination — the REMOVE side of contam_coverage
    (operators.decontaminate.redact_contaminated): cut only the
    eval-matching token windows, keep the rest, and route
    fully-leaked docs (covered >= 1/2, integer test) to 'drop'.  On
    the planted fixture the 60%-prefix leaks all land on 'drop' and
    the stitched single-window grafts on 'redact' with their leading
    8-gram excised.  The redacted TEXT itself is oracle-checked, so
    the reassembly (token order, spacing) is verified bit-for-bit."""
    from file_dedup_rust_spark.operators.decontaminate import (
        redact_contaminated,
    )

    train, ev = corpus_contam_coverage(spark, sf_dir)
    return redact_contaminated(train, ev, DECONTAM_N)


SQL_CONTAM_REDACT = f"""
WITH docs_t AS (
  SELECT doc_id, lower(coalesce(text, '')) AS t FROM documents
),
evalset AS (
  SELECT * FROM docs_t WHERE doc_id % {EVAL_MOD} = {EVAL_RESIDUE}
),
train AS (
  SELECT * FROM docs_t WHERE doc_id % {EVAL_MOD} != {EVAL_RESIDUE}
  UNION ALL
  SELECT doc_id + {CONTAM_ID_OFFSET},
         array_to_string(
           w[1:greatest(CAST(floor(len(w) * 3 / 5) AS INT), {DECONTAM_N})], ' ')
  FROM (SELECT doc_id, string_split(t, ' ') AS w FROM evalset
        WHERE doc_id % {CONTAM_MOD} = 1)
  UNION ALL
  SELECT doc_id + {STITCH_ID_OFFSET},
         array_to_string(w[1:{DECONTAM_N}], ' ') || ' ' ||
         array_to_string(list_reverse(w[{DECONTAM_N + 1}:]), ' ')
  FROM (SELECT doc_id, string_split(t, ' ') AS w FROM evalset
        WHERE doc_id % {CONTAM_MOD} = 2)
  WHERE len(w) >= {2 * DECONTAM_N}
),
tpos AS (
  SELECT doc_id, len(w) AS n_tokens, i,
         array_to_string(w[i:i+{DECONTAM_N - 1}], ' ') AS g
  FROM (SELECT doc_id, string_split(t, ' ') AS w FROM train),
       unnest(generate_series(1, greatest(len(w) - {DECONTAM_N - 1}, 0)))
         AS u(i)
),
eg AS (SELECT DISTINCT g FROM ({_sql_ngrams('evalset', DECONTAM_N)}) q),
m AS (SELECT doc_id, n_tokens, i FROM tpos JOIN eg USING (g)),
perdoc AS (
  SELECT doc_id, any_value(n_tokens) AS n_tokens FROM m GROUP BY 1
),
tokw AS (
  SELECT doc_id, u.j AS j, w[u.j] AS tok
  FROM (SELECT doc_id, string_split(t, ' ') AS w FROM train),
       unnest(generate_series(1, len(w))) AS u(j)
  WHERE doc_id IN (SELECT doc_id FROM perdoc)
),
cov AS (
  SELECT doc_id, count(*) AS covered FROM (
    SELECT DISTINCT t.doc_id, t.j
    FROM tokw t JOIN m d
      ON d.doc_id = t.doc_id
     AND d.i BETWEEN t.j - {DECONTAM_N - 1} AND t.j
  ) GROUP BY 1
),
keep AS (
  SELECT t.doc_id, t.j, t.tok
  FROM tokw t
  WHERE NOT EXISTS (
    SELECT 1 FROM m d
    WHERE d.doc_id = t.doc_id
      AND d.i BETWEEN t.j - {DECONTAM_N - 1} AND t.j
  )
),
red AS (
  SELECT doc_id, string_agg(tok, ' ' ORDER BY j) AS rt
  FROM keep GROUP BY 1
)
SELECT p.doc_id,
       CAST(p.n_tokens AS INT) AS n_tokens,
       c.covered AS covered_tokens,
       round(c.covered * 1.0 / p.n_tokens, 4) AS covered_frac,
       CASE WHEN c.covered * 2 >= p.n_tokens THEN 'drop'
            ELSE 'redact' END AS action,
       CASE WHEN c.covered * 2 >= p.n_tokens THEN NULL
            ELSE r.rt END AS redacted_text
FROM perdoc p JOIN cov c USING (doc_id) LEFT JOIN red r USING (doc_id)
"""


# ---------------------------------------------------------------------------
# fuzzy (paraphrase-robust) decontamination: exact-gram decontam
# misses eval leakage that was lightly EDITED — here every 40th word
# of a leaked eval doc is dropped, which breaks most 8-gram windows
# while the document stays ~92% the same word-3-gram set, so the
# MinHash-LSH near-dup probe catches it at Jaccard >= 0.8.  Measured
# sf0.01 distribution: planted pairs >= 0.9167, background <= 0.0492
# — a wide margin on both sides of the threshold, and the LSH miss
# probability per planted pair is < 1e-17, so the exact-Jaccard SQL
# is a sound oracle.
# ---------------------------------------------------------------------------

FUZZY_DROP_MOD = 40            # drop every 40th word of a leaked doc
FUZZY_ID_OFFSET = 4_000_000
FUZZY_T = JACCARD_T            # same near-dup threshold as the dedup path


def corpus_fuzzy_decontam(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """(train, eval) docs; train = non-eval ∪ word-dropped eval leaks."""
    d = _docs(spark, sf_dir).select(
        "doc_id", F.lower(F.coalesce("text", F.lit(""))).alias("t")
    )
    ev = d.filter(F.col("doc_id") % EVAL_MOD == EVAL_RESIDUE)
    leaks = ev.filter(F.col("doc_id") % CONTAM_MOD == 1).select(
        (F.col("doc_id") + FUZZY_ID_OFFSET).alias("doc_id"),
        F.expr(
            "array_join(filter(split(t, ' '), "
            f"(x, i) -> (i + 1) % {FUZZY_DROP_MOD} != 0), ' ')"
        ).alias("t"),
    )
    train = d.filter(F.col("doc_id") % EVAL_MOD != EVAL_RESIDUE).unionByName(
        leaks
    )
    return train, ev


def q_fuzzy_decontam_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train docs near-duplicating any eval doc (word-3-gram Jaccard
    >= 0.8): (doc_id, n_eval_matches, max_jac).

    Plan shape: eval band postings broadcast; the corpus streams
    through one BroadcastHashJoin to candidates; exact-Jaccard verify
    touches candidate docs only (operators.decontaminate
    .fuzzy_contamination_hits)."""
    from file_dedup_rust_spark.config import DEFAULT_CONFIG
    from file_dedup_rust_spark.operators.decontaminate import (
        fuzzy_contamination_hits,
    )

    train, ev = corpus_fuzzy_decontam(spark, sf_dir)
    return fuzzy_contamination_hits(train, ev, DEFAULT_CONFIG, FUZZY_T, 3)


SQL_FUZZY_DECONTAM_HITS = f"""
WITH docs_t AS (
  SELECT doc_id, lower(coalesce(text, '')) AS t FROM documents
),
evalset AS (
  SELECT * FROM docs_t WHERE doc_id % {EVAL_MOD} = {EVAL_RESIDUE}
),
train AS (
  SELECT * FROM docs_t WHERE doc_id % {EVAL_MOD} != {EVAL_RESIDUE}
  UNION ALL
  SELECT doc_id + {FUZZY_ID_OFFSET},
         array_to_string(
           list_transform(
             list_filter(generate_series(1, len(w)),
                         i -> i % {FUZZY_DROP_MOD} != 0),
             i -> w[i]), ' ')
  FROM (SELECT doc_id, string_split(t, ' ') AS w FROM evalset
        WHERE doc_id % {CONTAM_MOD} = 1)
),
tsh AS ({_sql_ngrams('train', 3)}),
esh AS ({_sql_ngrams('evalset', 3)}),
tsz AS (SELECT doc_id, count(*) AS n FROM tsh GROUP BY 1),
esz AS (SELECT doc_id, count(*) AS n FROM esh GROUP BY 1),
inter AS (
  SELECT t.doc_id AS ia, e.doc_id AS ib, count(*) AS c
  FROM tsh t JOIN esh e ON t.g = e.g GROUP BY 1, 2
),
pairs AS (
  SELECT ia, ib, round(c * 1.0 / (ta.n + eb.n - c), 4) AS jac
  FROM inter JOIN tsz ta ON ta.doc_id = ia JOIN esz eb ON eb.doc_id = ib
)
SELECT ia AS doc_id,
       count(*) AS n_eval_matches,
       max(jac) AS max_jac
FROM pairs WHERE jac >= {FUZZY_T}
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# deterministic stratified sampling (functions.sampling): the
# corpus-mixing step after dedup/decontam — keep 'en' docs at 80%,
# everything else at 25%, decided by a key hash so the SAME rows
# survive on any cluster size / partition count (training-data
# lineage requires replayable sampling, which df.sample() is not).
# ---------------------------------------------------------------------------

SAMPLE_RATES = {"en": 800}   # per-mille
SAMPLE_DEFAULT = 250


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from file_dedup_rust_spark.functions.sampling import stratified_sample

    langs = q_lang_id(spark, sf_dir).select("doc_id", "pred_lang")
    return stratified_sample(
        langs, "doc_id", "pred_lang", SAMPLE_RATES, SAMPLE_DEFAULT
    )


SQL_STRATIFIED_SAMPLE = f"""
WITH toks AS (
  SELECT doc_id, string_split(lower(coalesce(text, '')), ' ') AS w FROM documents
),
langs AS (
  SELECT doc_id,
         CASE WHEN round(len(list_filter(w, x -> list_contains({_SQL_STOPLIST}, x)))
                   * 1.0 / greatest(len(w), 1), 4) >= 0.05
              THEN 'en' ELSE 'other' END AS pred_lang
  FROM toks
)
SELECT doc_id, pred_lang
FROM langs
WHERE ((doc_id * 2654435761) % 4294967296) % 1000 <
      CASE WHEN pred_lang = 'en' THEN {SAMPLE_RATES['en']}
           ELSE {SAMPLE_DEFAULT} END
"""


EVAL_CARVE_K = 50


def q_eval_carve_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-k eval-set carving (functions.sampling.stratified_take_k):
    exactly EVAL_CARVE_K docs per language, drawn by Knuth-permuted
    key so the pick is uniform, deterministic, and independent of
    ingestion order — what a held-out benchmark needs where the
    rate-based `stratified_sample` only gives ~k in expectation.
    The engine runs the salted two-stage distributed top-k (no
    single-task per-stratum window); the oracle ranks each stratum
    with one naive window — same semantics, different algorithm."""
    from file_dedup_rust_spark.functions.sampling import stratified_take_k

    d = _docs(spark, sf_dir).select("doc_id", "lang")
    return stratified_take_k(d, "doc_id", "lang", EVAL_CARVE_K)


SQL_EVAL_CARVE_K = f"""
WITH r AS (
  SELECT doc_id, lang,
         row_number() OVER (
           PARTITION BY lang
           ORDER BY (doc_id * 2654435761) % 4294967296, doc_id
         ) AS draw_rank
  FROM documents
)
SELECT doc_id, lang, CAST(draw_rank AS INT) AS draw_rank
FROM r WHERE draw_rank <= {EVAL_CARVE_K}
"""


# ---------------------------------------------------------------------------
# the training-corpus build funnel: raw -> exact dedup -> benchmark
# decontamination -> stratified sample, reported as per-stage
# (n_docs, n_tokens).  One oracle-checked query composing four
# first-class operators (operators.exact rep contraction,
# operators.decontaminate, functions.sampling, the lang-ID strata) —
# the end-to-end story a 100 TB training-data pipeline runs nightly.
# ---------------------------------------------------------------------------


# previous invocation's persisted tables, unpersisted on the next
# call so repeated runs (bench warm-up + passes) don't accumulate
# cache for the session lifetime
_FUNNEL_CACHE: list = []


def q_corpus_build_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precondition (shared by every derived corpus in this module):
    base doc_ids stay below EXACT_ID_OFFSET (1e6), so the shifted
    copy/leak ids cannot collide with base ids — the survival joins
    below key on doc_id and assume uniqueness (pinned by
    test_datagen_oracle).  A production corpus with wider ids derives
    collision-free ids structurally (id * 10 + tag-digit) instead of
    by constant offset."""
    from file_dedup_rust_spark.operators.decontaminate import (
        contamination_hits,
    )
    from file_dedup_rust_spark.functions.sampling import stratified_sample
    from pyspark.sql import Window

    while _FUNNEL_CACHE:
        try:
            _FUNNEL_CACHE.pop().unpersist()
        except Exception:
            # best-effort cleanup: the previous invocation may belong
            # to a stopped SparkSession (dead JVM handle) — ADVICE r4
            pass

    d = _docs(spark, sf_dir).select(
        "doc_id", F.lower(F.coalesce("text", F.lit(""))).alias("t")
    )
    ev = d.filter(F.col("doc_id") % EVAL_MOD == EVAL_RESIDUE)
    base = d.filter(F.col("doc_id") % EVAL_MOD != EVAL_RESIDUE)
    copies = base.filter(F.col("doc_id") % EXACT_COPY_MOD == 0).select(
        (F.col("doc_id") + EXACT_ID_OFFSET).alias("doc_id"), "t"
    )
    leaks = ev.filter(F.col("doc_id") % CONTAM_MOD == 1).select(
        (F.col("doc_id") + CONTAM_ID_OFFSET).alias("doc_id"),
        _decontam_prefix().alias("t"),
    )
    raw = base.unionByName(copies).unionByName(leaks)

    # exact dedup to representatives (star semantics: min doc_id per
    # byte-identical text — operators.exact at engine level)
    # reps feeds three subtrees (the survival label join, the gram
    # join inside hits, and the clean->sample chain) — persist so the
    # dedup shuffle runs once, same rationale as build_edges' rep
    # tables (plans/pipeline.py).  The window partitions on the 8-byte
    # content hash, not the full text (VERDICT r4) — t is payload.
    w = Window.partitionBy(F.xxhash64("t"))
    reps = (
        raw.withColumn("m", F.min("doc_id").over(w))
        .filter(F.col("doc_id") == F.col("m"))
        .select("doc_id", "t")
        .persist()
    )

    # decontaminate vs the eval split (broadcast eval grams); hits is
    # bounded by the contaminated count — persist the tiny table
    hits = contamination_hits(reps, ev, DECONTAM_N).select("doc_id").persist()
    _FUNNEL_CACHE.extend([reps, hits])
    clean = reps.join(F.broadcast(hits), "doc_id", "left_anti")

    # language strata + deterministic sample
    stop_arr = F.array(*[F.lit(s) for s in _STOPWORDS])
    wd = clean.withColumn("w", F.split("t", " "))
    n_stop = F.size(F.filter("w", lambda x: F.array_contains(stop_arr, x)))
    score = round_dd(n_stop / F.greatest(F.size("w"), F.lit(1)), 4)
    langs = wd.select(
        "doc_id",
        "t",
        F.when(score >= 0.05, F.lit("en")).otherwise(F.lit("other")).alias(
            "pred_lang"
        ),
    )
    sampled = stratified_sample(
        langs, "doc_id", "pred_lang", SAMPLE_RATES, SAMPLE_DEFAULT
    )

    # single-scan funnel (100-TB shape): label every RAW row with the
    # furthest stage it survives (0 dropped-at-dedup, 1 contaminated,
    # 2 unsampled, 3 sampled), aggregate once per label (4 bounded
    # rows), then cumulative-sum downward — stage k's totals are the
    # sum over labels >= k.  The naive per-stage aggregates rescanned
    # the raw->reps->clean chain once per funnel row.
    surv = (
        raw.join(
            reps.select("doc_id", F.lit(1).alias("is_rep")), "doc_id", "left"
        )
        .join(hits.select("doc_id", F.lit(1).alias("is_hit")), "doc_id", "left")
        .join(
            sampled.select("doc_id", F.lit(1).alias("is_smp")), "doc_id", "left"
        )
        .select(
            F.when(F.col("is_rep").isNull(), 0)
            .when(F.col("is_hit").isNotNull(), 1)
            .when(F.col("is_smp").isNull(), 2)
            .otherwise(3)
            .alias("tier"),
            F.size(F.split("t", " ")).alias("tok"),
        )
    )
    per_tier = surv.groupBy("tier").agg(
        F.count("*").alias("n"), F.sum("tok").alias("tk")
    )
    tiers = spark.createDataFrame(
        [(0, "raw"), (1, "deduped"), (2, "decontaminated"), (3, "sampled")],
        "k int, stage string",
    )

    w = (
        Window.orderBy(F.col("k").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        tiers.join(per_tier.withColumnRenamed("tier", "k"), "k", "left")
        .select("k", "stage", "n", "tk")
        .withColumn("n_docs", F.coalesce(F.sum("n").over(w), F.lit(0)))
        .withColumn("n_tokens", F.sum("tk").over(w))
        .select("stage", "n_docs", "n_tokens")
    )


SQL_CORPUS_BUILD_FUNNEL = f"""
WITH d AS (
  SELECT doc_id, lower(coalesce(text, '')) AS t FROM documents
),
evalset AS (SELECT * FROM d WHERE doc_id % {EVAL_MOD} = {EVAL_RESIDUE}),
base AS (SELECT * FROM d WHERE doc_id % {EVAL_MOD} != {EVAL_RESIDUE}),
raw AS (
  SELECT * FROM base
  UNION ALL
  SELECT doc_id + {EXACT_ID_OFFSET}, t FROM base
  WHERE doc_id % {EXACT_COPY_MOD} = 0
  UNION ALL
  SELECT doc_id + {CONTAM_ID_OFFSET},
         array_to_string(
           w[1:greatest(CAST(floor(len(w) * 3 / 5) AS INT), {DECONTAM_N})], ' ')
  FROM (SELECT doc_id, string_split(t, ' ') AS w FROM evalset
        WHERE doc_id % {CONTAM_MOD} = 1)
),
reps AS (SELECT min(doc_id) AS doc_id, t FROM raw GROUP BY t),
tg AS ({_sql_ngrams('reps', DECONTAM_N)}),
eg AS ({_sql_ngrams('evalset', DECONTAM_N)}),
hits AS (SELECT DISTINCT t.doc_id FROM tg t JOIN eg e ON e.g = t.g),
clean AS (
  SELECT * FROM reps WHERE doc_id NOT IN (SELECT doc_id FROM hits)
),
langs AS (
  SELECT doc_id, t,
         CASE WHEN round(len(list_filter(w, x -> list_contains({_SQL_STOPLIST}, x)))
                   * 1.0 / greatest(len(w), 1), 4) >= 0.05
              THEN 'en' ELSE 'other' END AS pred_lang
  FROM (SELECT doc_id, t, string_split(t, ' ') AS w FROM clean)
),
sampled AS (
  SELECT doc_id, t FROM langs
  WHERE ((doc_id * 2654435761) % 4294967296) % 1000 <
        CASE WHEN pred_lang = 'en' THEN {SAMPLE_RATES['en']}
             ELSE {SAMPLE_DEFAULT} END
)
SELECT 'raw' AS stage, count(*) AS n_docs,
       CAST(sum(len(string_split(t, ' '))) AS BIGINT) AS n_tokens FROM raw
UNION ALL
SELECT 'deduped', count(*),
       CAST(sum(len(string_split(t, ' '))) AS BIGINT) FROM reps
UNION ALL
SELECT 'decontaminated', count(*),
       CAST(sum(len(string_split(t, ' '))) AS BIGINT) FROM clean
UNION ALL
SELECT 'sampled', count(*),
       CAST(sum(len(string_split(t, ' '))) AS BIGINT) FROM sampled
"""


# ---------------------------------------------------------------------------
# bounded repetition: keep at most K copies per exact-duplicate group
# (training pipelines often allow LIMITED repetition of high-quality
# data instead of full dedup — e.g. up-weighting curated sources —
# while still killing the m-thousand-copy boilerplate tail)
# ---------------------------------------------------------------------------

REPEAT_CAP = 2
REPEAT_ID_OFFSET = 7_000_000
REPEAT_EXTRA_MOD = 9  # every 9th doc gets a SECOND copy -> group of 3


def q_keep_capped_copies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kept rows after capping each byte-identical group at
    REPEAT_CAP members (lowest doc_ids win — deterministic).  The
    corpus plants a second copy for every 9th doc so triple groups
    exist and the cap actually drops rows.

    Plan shape: one window rank per group key — the same single
    shuffle as exact dedup; the cap changes the filter constant, not
    the plan.  The group key is xxhash64(t), 8 bytes through the
    shuffle instead of the full text (VERDICT r4).  Returns
    (doc_id, group_rep, copy_rank)."""
    from pyspark.sql import Window

    d = corpus_exact(spark, sf_dir)
    extra = (
        _docs(spark, sf_dir)
        .select(
            "doc_id", F.lower(F.coalesce("text", F.lit(""))).alias("t"),
            "n_chars",
        )
        .filter(F.col("doc_id") % REPEAT_EXTRA_MOD == 0)
        .select(
            (F.col("doc_id") + REPEAT_ID_OFFSET).alias("doc_id"),
            "t",
            "n_chars",
        )
    )
    tk = F.xxhash64("t")
    w = Window.partitionBy(tk).orderBy("doc_id")
    return (
        d.unionByName(extra)
        .withColumn("copy_rank", F.row_number().over(w))
        .withColumn("group_rep", F.min("doc_id").over(Window.partitionBy(tk)))
        .filter(F.col("copy_rank") <= REPEAT_CAP)
        .select("doc_id", "group_rep", "copy_rank")
    )


SQL_KEEP_CAPPED_COPIES = f"""
WITH {SQL_CORPUS_EXACT},
corpus3 AS (
  SELECT * FROM corpus
  UNION ALL
  SELECT doc_id + {REPEAT_ID_OFFSET}, lower(coalesce(text, '')), n_chars
  FROM documents WHERE doc_id % {REPEAT_EXTRA_MOD} = 0
),
ranked AS (
  SELECT doc_id,
         min(doc_id) OVER (PARTITION BY t) AS group_rep,
         row_number() OVER (PARTITION BY t ORDER BY doc_id) AS copy_rank
  FROM corpus3
)
SELECT doc_id, group_rep, CAST(copy_rank AS INT) AS copy_rank
FROM ranked WHERE copy_rank <= {REPEAT_CAP}
"""


# ---------------------------------------------------------------------------
# Gopher-style repetition quality flags (Rae et al. 2021 §A1.1).
# The reference has no text-quality stage (its dedup is hash + k-NN,
# deduplication_service.rs:300-372); this is the corpus-curation
# companion a training pipeline runs beside the dedup tiers.
# ---------------------------------------------------------------------------

REP_WORD_PLANT_MOD = 11      # every 11th doc gets a one-word-repeated twin
REP_PHRASE_PLANT_MOD = 13    # every 13th doc gets a 3-word-phrase-repeated twin
REP_WORD_PLANT_OFFSET = 3_000_000
REP_PHRASE_PLANT_OFFSET = 4_000_000
REP_WORD_REPEATS = 30
REP_PHRASE_REPEATS = 20


def corpus_rep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents ∪ planted repetition-heavy twins.

    documents.parquet is natural-ish text (measured sf0.01 maxima:
    top_word_frac 0.30, top_bigram_frac 0.167, dup_bigram_frac 0.267),
    so no row would ever trip the Gopher flags.  Two deterministic
    plants create flaggable rows, mirrored exactly in the oracle SQL:
      * word plant  (id+3e6): first token repeated 30× → flags all
        three measures (top_word_frac = 1.0);
      * phrase plant (id+4e6): first three tokens repeated 20× →
        top_word 1/3 (below the 0.5 cut) but top_bigram 20/59 ≈ 0.339
        and dup_bigram ≈ 1.0 → flags only the bigram measures.
    """
    d = docs_corpus(spark, sf_dir).select(
        "doc_id", "t", F.split("t", " ").alias("w")
    )
    word_plant = d.filter(F.col("doc_id") % REP_WORD_PLANT_MOD == 0).select(
        (F.col("doc_id") + REP_WORD_PLANT_OFFSET).alias("doc_id"),
        F.rtrim(
            F.repeat(F.concat(F.element_at("w", 1), F.lit(" ")), REP_WORD_REPEATS)
        ).alias("t"),
    )
    phrase_plant = d.filter(F.col("doc_id") % REP_PHRASE_PLANT_MOD == 0).select(
        (F.col("doc_id") + REP_PHRASE_PLANT_OFFSET).alias("doc_id"),
        F.rtrim(
            F.repeat(
                F.concat(F.concat_ws(" ", F.slice("w", 1, 3)), F.lit(" ")),
                REP_PHRASE_REPEATS,
            )
        ).alias("t"),
    )
    return d.select("doc_id", "t").unionByName(word_plant).unionByName(phrase_plant)


SQL_CORPUS_REP = f"""
corpus AS (
  SELECT doc_id, lower(coalesce(text, '')) AS t FROM documents
  UNION ALL
  SELECT doc_id + {REP_WORD_PLANT_OFFSET},
         rtrim(repeat(string_split(lower(coalesce(text, '')), ' ')[1] || ' ',
                      {REP_WORD_REPEATS}))
  FROM documents WHERE doc_id % {REP_WORD_PLANT_MOD} = 0
  UNION ALL
  SELECT doc_id + {REP_PHRASE_PLANT_OFFSET},
         rtrim(repeat(
           array_to_string(
             (string_split(lower(coalesce(text, '')), ' '))[1:3], ' ') || ' ',
           {REP_PHRASE_REPEATS}))
  FROM documents WHERE doc_id % {REP_PHRASE_PLANT_MOD} = 0
)
"""


def q_repetition_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher repetition filters: per-doc modal-word fraction, modal
    2-gram fraction, duplicated-2-gram fraction, and the composite
    keep/drop flag (Rae et al. 2021 §A1.1; thresholds documented in
    operators/repetition.py).

    Plan shape: ZERO shuffle — the per-doc mode/duplicate counts are
    one `array_sort` + one JVM `aggregate` run-length pass inside a
    single projection (operators/repetition.py:run_stats), so at
    100 TB the stage pipelines straight off the scan instead of
    shuffling the whole corpus token stream twice the way an
    explode → groupBy(doc_id, word) plan would.  The flag compares the
    RAW ratios (identical integer operands on both engines → identical
    IEEE doubles) so 4-dp rounding can never flip it."""
    from file_dedup_rust_spark.operators.repetition import repetition_stats

    return repetition_stats(corpus_rep(spark, sf_dir))


from file_dedup_rust_spark.operators.repetition import (  # noqa: E402
    DUP_BIGRAM_T as _REP_DUP_BIGRAM_T,
    TOP_BIGRAM_T as _REP_TOP_BIGRAM_T,
    TOP_WORD_T as _REP_TOP_WORD_T,
)

SQL_REPETITION_FLAGS = f"""
WITH {SQL_CORPUS_REP},
toks AS (SELECT doc_id, string_split(t, ' ') AS w FROM corpus),
words AS (SELECT doc_id, u.x AS word FROM toks, unnest(w) AS u(x)),
wc AS (SELECT doc_id, word, count(*) AS c FROM words GROUP BY 1, 2),
wagg AS (
  SELECT doc_id, max(c) AS topw, sum(c) AS n FROM wc GROUP BY 1
),
bg AS (
  SELECT doc_id, w[i] || ' ' || w[i+1] AS g
  FROM toks, unnest(generate_series(1, greatest(len(w) - 1, 0))) AS u(i)
),
bc AS (SELECT doc_id, g, count(*) AS c FROM bg GROUP BY 1, 2),
bagg AS (
  SELECT doc_id, max(c) AS topb,
         sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS dupb,
         sum(c) AS nb
  FROM bc GROUP BY 1
)
SELECT w.doc_id,
       CAST(w.n AS INT) AS n_tokens,
       round(w.topw * 1.0 / greatest(w.n, 1), 4) AS top_word_frac,
       round(b.topb * 1.0 / greatest(b.nb, 1), 4) AS top_bigram_frac,
       round(b.dupb * 1.0 / greatest(b.nb, 1), 4) AS dup_bigram_frac,
       CAST(w.topw * 1.0 / greatest(w.n, 1) >= {_REP_TOP_WORD_T}
            OR b.topb * 1.0 / greatest(b.nb, 1) >= {_REP_TOP_BIGRAM_T}
            OR b.dupb * 1.0 / greatest(b.nb, 1) >= {_REP_DUP_BIGRAM_T}
            AS INT) AS rep_flag
FROM wagg w JOIN bagg b USING (doc_id)
"""


# ---------------------------------------------------------------------------
# ExactSubstr-lite duplicated-span census (Lee et al. 2021).
# Corpus-level: a gram position is duplicated iff its 8-token gram
# occurs >1 time anywhere in the corpus; a token is covered iff any
# duplicated gram window contains it.  Runs over corpus_exact so every
# 3rd doc (and its planted byte-identical twin) is fully covered while
# natural docs carry only whatever 8-gram overlap the synthetic text
# genuinely has.
# ---------------------------------------------------------------------------

def q_novelty_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc marginal-contribution score
    (operators.dup_spans.novelty_scores): fraction of the doc's
    distinct word-8-grams first seen IN this doc, with doc_id as
    ingestion order — dedup's complement (value each doc by what it
    adds instead of dropping the k-th copy).  On the planted corpus
    every exact copy (id + offset > original) scores exactly 0 and
    every clean base doc 1.0 unless it shares grams with an earlier
    doc.  Two xxhash64-keyed shuffles, no strings through either."""
    from file_dedup_rust_spark.operators.dup_spans import novelty_scores

    return novelty_scores(corpus_exact(spark, sf_dir).select("doc_id", "t"))


SQL_NOVELTY_SCORES = f"""
WITH {SQL_CORPUS_EXACT},
toks AS (SELECT doc_id, string_split(t, ' ') AS w FROM corpus),
grams AS (
  SELECT DISTINCT doc_id, array_to_string(w[i:i+7], ' ') AS g
  FROM toks, unnest(generate_series(1, greatest(len(w) - 7, 0))) AS u(i)
),
firstd AS (SELECT g, min(doc_id) AS first_doc FROM grams GROUP BY 1)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_grams,
       CAST(sum(CASE WHEN doc_id = first_doc THEN 1 ELSE 0 END) AS BIGINT)
         AS novel_grams,
       round(sum(CASE WHEN doc_id = first_doc THEN 1 ELSE 0 END) * 1.0
             / count(*), 4) AS novelty_frac
FROM grams JOIN firstd USING (g)
GROUP BY 1
"""


def q_dup_span_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level duplicated-span census (operators/dup_spans.py).

    Plan shape: gram identities cross the shuffle as 8-byte xxhash64
    values (never strings) → count with map-side partial agg →
    hash-keyed join back → per-doc agg; the covered-token interval
    union is a JVM `aggregate` over the sorted duplicated-position
    list, bounded by the doc's own token count.  The oracle computes
    coverage by a completely different algorithm (position-range
    semi-join on gram STRINGS) — two independent derivations of the
    same semantics."""
    from file_dedup_rust_spark.operators.dup_spans import dup_span_stats

    return dup_span_stats(corpus_exact(spark, sf_dir).select("doc_id", "t"))


SQL_DUP_SPAN_STATS = f"""
WITH {SQL_CORPUS_EXACT},
toks AS (SELECT doc_id, string_split(t, ' ') AS w FROM corpus),
gpos AS (
  SELECT doc_id, i, array_to_string(w[i:i+7], ' ') AS g, len(w) AS n_tokens
  FROM toks, unnest(generate_series(1, greatest(len(w) - 7, 0))) AS u(i)
),
cnt AS (SELECT g, count(*) AS c FROM gpos GROUP BY 1),
jd AS (SELECT doc_id, i, n_tokens, c FROM gpos JOIN cnt USING (g)),
perdoc AS (
  SELECT doc_id, any_value(n_tokens) AS n_tokens, count(*) AS n_grams,
         sum(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS dup_grams
  FROM jd GROUP BY 1
),
dpos AS (SELECT doc_id, i FROM jd WHERE c > 1),
tokpos AS (
  SELECT doc_id, u.j FROM toks, unnest(generate_series(1, len(w))) AS u(j)
),
cov AS (
  SELECT doc_id, count(*) AS covered FROM (
    SELECT DISTINCT t.doc_id, t.j
    FROM tokpos t JOIN dpos d
      ON d.doc_id = t.doc_id AND d.i BETWEEN t.j - 7 AND t.j
  ) GROUP BY 1
)
SELECT p.doc_id,
       CAST(p.n_tokens AS INT) AS n_tokens,
       p.n_grams AS n_grams,
       p.dup_grams AS dup_grams,
       round(p.dup_grams * 1.0 / p.n_grams, 4) AS dup_fraction,
       coalesce(c.covered, 0) AS covered_tokens,
       round(coalesce(c.covered, 0) * 1.0 / p.n_tokens, 4) AS covered_frac
FROM perdoc p LEFT JOIN cov c USING (doc_id)
"""


# ---------------------------------------------------------------------------
# CCNet-style unigram language-model scoring (Wenzek et al. 2020).
# CCNet ranks web documents by LM perplexity and keeps the head of the
# distribution; the distributed proxy is the corpus's OWN unigram
# model: score = mean over tokens of -ln p(w), p(w) = c_w / T.  Low
# scores = common-word boilerplate, high scores = rare-token soup —
# the score column feeds stratified_sample / corpus_build_funnel for
# the actual head/middle/tail cut.
# ---------------------------------------------------------------------------

def q_unigram_nll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc mean unigram negative log-likelihood under the corpus
    unigram distribution (no smoothing needed: every scored token is
    in the corpus by construction).

    Plan shape: tokens shuffle ONCE as 8-byte xxhash64 word keys for
    the census (map-side partial agg), join back on the hash, one
    per-doc agg; the corpus total T broadcasts as a 1-row literal.
    Same two-shuffle linear shape as dup_span_stats — no strings
    through any exchange.  mean(-ln p(w)) = ln T - mean(ln c_w), so
    the join carries only the count."""
    toks = docs_corpus(spark, sf_dir).select(
        "doc_id", F.explode(F.split("t", " ")).alias("wd")
    ).select("doc_id", F.xxhash64("wd").alias("wh"))
    cnt = toks.groupBy("wh").agg(F.count("*").alias("c"))
    total = cnt.agg(F.sum("c").alias("t"))
    return (
        toks.join(cnt, "wh")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("int").alias("n_tokens"),
            round_dd(
                F.log(F.first("t")) - F.avg(F.log("c")), 4
            ).alias("unigram_nll"),
        )
    )


SQL_UNIGRAM_NLL = """
WITH corpus AS (
  SELECT doc_id, lower(coalesce(text, '')) AS t FROM documents
),
toks AS (
  SELECT doc_id, u.x AS wd
  FROM (SELECT doc_id, string_split(t, ' ') AS w FROM corpus), unnest(w) AS u(x)
),
cnt AS (SELECT wd, count(*) AS c FROM toks GROUP BY 1),
tot AS (SELECT count(*) AS t FROM toks)
SELECT doc_id,
       CAST(count(*) AS INT) AS n_tokens,
       round(ln((SELECT t FROM tot)) - avg(ln(c)), 4) AS unigram_nll
FROM toks JOIN cnt USING (wd)
GROUP BY doc_id
"""


BIGRAM_LAMBDA = 0.75  # interpolation weight on the bigram term


def q_bigram_nll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc mean NLL under an interpolated BIGRAM model trained on
    the corpus itself — the next step up the CCNet quality ladder
    from unigram_nll (real KenLM filtering uses 5-gram Kneser-Ney;
    Jelinek-Mercer interpolation against the unigram floor is the
    textbook form that needs no discount estimation):

        p(w_i | w_{i-1}) = L * c(w_{i-1} w_i)/c(w_{i-1})
                         + (1-L) * c(w_i)/T

    Plan shape: bigram rows are built with one JVM transform/sequence
    window (never crossing docs), then every join key is an 8-byte
    xxhash64 (prev word, cur word, bigram) — three hash equi-joins of
    the bigram relation against the two censuses, no strings through
    any exchange, corpus total broadcast as a 1-row literal.  Linear
    in corpus tokens; vocabulary and bigram censuses are map-side
    partially aggregated."""
    w = docs_corpus(spark, sf_dir).select(
        "doc_id", F.split("t", " ").alias("w")
    )
    toks = w.select("doc_id", F.explode("w").alias("wd")).select(
        "doc_id", F.xxhash64("wd").alias("wh")
    )
    uni = toks.groupBy("wh").agg(F.count("*").alias("cu"))
    total = uni.agg(F.sum("cu").alias("t"))
    bg = (
        w.filter(F.size("w") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(2, size(w)),"
                    " i -> struct(w[i-2] as p, w[i-1] as cur))"
                )
            ).alias("b"),
        )
        .select(
            "doc_id",
            F.xxhash64("b.p").alias("ph"),
            F.xxhash64("b.cur").alias("ch"),
            F.xxhash64(F.concat_ws(" ", "b.p", "b.cur")).alias("bh"),
        )
    )
    bgc = bg.groupBy("bh").agg(F.count("*").alias("cb"))
    up = uni.select(F.col("wh").alias("ph"), F.col("cu").alias("cp"))
    uc = uni.select(F.col("wh").alias("ch"), F.col("cu").alias("cc"))
    L = BIGRAM_LAMBDA
    p_interp = (
        F.lit(L) * F.col("cb") / F.col("cp")
        + F.lit(1 - L) * F.col("cc") / F.col("t")
    )
    return (
        bg.join(bgc, "bh")
        .join(up, "ph")
        .join(uc, "ch")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("int").alias("n_bigrams"),
            round_dd(F.avg(-F.log(p_interp)), 4).alias("bigram_nll"),
        )
    )


SQL_BIGRAM_NLL = f"""
WITH corpus AS (
  SELECT doc_id, lower(coalesce(text, '')) AS t FROM documents
),
wd AS (SELECT doc_id, string_split(t, ' ') AS w FROM corpus),
toks AS (SELECT doc_id, u.x AS wd FROM wd, unnest(w) AS u(x)),
uni AS (SELECT wd, count(*) AS cu FROM toks GROUP BY 1),
tot AS (SELECT count(*) AS t FROM toks),
bg AS (
  SELECT doc_id, w[i-1] AS p, w[i] AS cur
  FROM wd, unnest(generate_series(2, len(w))) AS g(i)
),
bgc AS (SELECT p, cur, count(*) AS cb FROM bg GROUP BY 1, 2)
SELECT bg.doc_id,
       CAST(count(*) AS INT) AS n_bigrams,
       round(avg(-ln({BIGRAM_LAMBDA} * cb / up.cu
                     + {1 - BIGRAM_LAMBDA} * uc.cu / (SELECT t FROM tot))), 4)
         AS bigram_nll
FROM bg
JOIN bgc ON bgc.p = bg.p AND bgc.cur = bg.cur
JOIN uni up ON up.wd = bg.p
JOIN uni uc ON uc.wd = bg.cur
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# PII redaction (emails + phone numbers) — the standard pre-training
# scrub (e.g. the C4 / Dolma pipelines).  Patterns are restricted to
# constructs with identical semantics in Java regex (Spark) and RE2
# (DuckDB): character classes, bounded repetition, no backrefs.
# ---------------------------------------------------------------------------

PII_PLANT_MOD = 17
PII_PLANT_OFFSET = 5_000_000
PII_EMAIL_PAT = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"
PII_PHONE_PAT = r"\d{3}-\d{3}-\d{4}"


def corpus_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents ∪ planted PII-bearing twins (id+5e6, every 17th doc):
    the twin appends one email (derived from doc_id) and one phone
    number (digits from doc_id) — deterministic, mirrored in SQL."""
    d = docs_corpus(spark, sf_dir)
    plant = d.filter(F.col("doc_id") % PII_PLANT_MOD == 0).select(
        (F.col("doc_id") + PII_PLANT_OFFSET).alias("doc_id"),
        F.concat(
            "t",
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example-mail.org or call 415-555-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            F.lit(" now"),
        ).alias("t"),
    )
    return d.unionByName(plant)


SQL_CORPUS_PII = f"""
corpus AS (
  SELECT doc_id, lower(coalesce(text, '')) AS t FROM documents
  UNION ALL
  SELECT doc_id + {PII_PLANT_OFFSET},
         lower(coalesce(text, '')) || ' contact user' || CAST(doc_id AS VARCHAR)
           || '@example-mail.org or call 415-555-'
           || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' now'
  FROM documents WHERE doc_id % {PII_PLANT_MOD} = 0
)
"""


def q_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Redact emails and phone numbers; emit the scrubbed text plus
    per-doc match counts.

    Plan shape: one narrow projection — regexp_replace /
    regexp_extract_all are JVM expressions inside whole-stage codegen,
    zero shuffle, linear in corpus bytes (same shape the scrub has in
    a 100-TB pass: it pipelines off the scan and into the writer)."""
    d = corpus_pii(spark, sf_dir)
    return d.select(
        "doc_id",
        F.size(
            F.regexp_extract_all("t", F.lit(PII_EMAIL_PAT), F.lit(0))
        ).alias("n_emails"),
        F.size(
            F.regexp_extract_all("t", F.lit(PII_PHONE_PAT), F.lit(0))
        ).alias("n_phones"),
        F.regexp_replace(
            F.regexp_replace("t", PII_EMAIL_PAT, "<EMAIL>"),
            PII_PHONE_PAT,
            "<PHONE>",
        ).alias("t_redacted"),
    )


SQL_PII_REDACTION = f"""
WITH {SQL_CORPUS_PII}
SELECT doc_id,
       CAST(len(regexp_extract_all(t, '{PII_EMAIL_PAT}')) AS INT) AS n_emails,
       CAST(len(regexp_extract_all(t, '{PII_PHONE_PAT}')) AS INT) AS n_phones,
       regexp_replace(
         regexp_replace(t, '{PII_EMAIL_PAT}', '<EMAIL>', 'g'),
         '{PII_PHONE_PAT}', '<PHONE>', 'g') AS t_redacted
FROM corpus
"""


# ---------------------------------------------------------------------------
# BPE-ish regex token counting — the GPT-2-family pre-tokenizer shape
# (letter runs | single digits | single punctuation), restricted to
# constructs with identical Java-regex/RE2 semantics (no lookahead).
# Complements the whitespace tokenizer in token_counts: this is the
# count a BPE budget planner actually needs (digits and punctuation
# tokenize separately), and the two diverge hard on numeric/punct-heavy
# docs.
# ---------------------------------------------------------------------------

BPE_TOKEN_PAT = r"[a-z]+|[0-9]|[^a-z0-9\s]"


def q_bpe_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc BPE-ish token counts + the fertility ratio vs whitespace
    words (tokens per word — the planner's cost multiplier).

    Plan shape: one codegen projection (regexp_extract_all + size),
    zero shuffle, linear in corpus bytes."""
    d = docs_corpus(spark, sf_dir)
    toks = F.regexp_extract_all("t", F.lit(BPE_TOKEN_PAT), F.lit(0))
    n_words = F.size(F.split("t", " "))
    return d.select(
        "doc_id",
        F.size(toks).alias("n_bpe_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct_bpe_tokens"),
        round_dd(F.size(toks) / F.greatest(n_words, F.lit(1)), 4).alias(
            "fertility"
        ),
    )


SQL_BPE_TOKEN_COUNTS = f"""
WITH corpus AS (
  SELECT doc_id, lower(coalesce(text, '')) AS t FROM documents
)
SELECT doc_id,
       CAST(len(regexp_extract_all(t, '{BPE_TOKEN_PAT}')) AS INT)
         AS n_bpe_tokens,
       CAST(len(list_distinct(regexp_extract_all(t, '{BPE_TOKEN_PAT}'))) AS INT)
         AS n_distinct_bpe_tokens,
       round(len(regexp_extract_all(t, '{BPE_TOKEN_PAT}')) * 1.0
             / greatest(len(string_split(t, ' ')), 1), 4) AS fertility
FROM corpus
"""


# ---------------------------------------------------------------------------
# TF-IDF keyword extraction: top-3 terms per doc.  The corpus-analytics
# op behind "what is this document about" dashboards and keyword-based
# sampling.  Ordering is (round(tfidf,4) DESC, term ASC) in BOTH
# engines: rounding first makes mathematically-equal scores that libms
# may place one ulp apart (e.g. 2·ln2 vs ln4, reachable with integer
# tf/df) compare EQUAL on both sides, so the term tie-break decides
# identically.
# ---------------------------------------------------------------------------

TFIDF_TOP_K = 3


def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per doc: score = tf · ln(N/df).

    Plan shape: one explode → (doc_id, term) partial-agg count (tf) →
    term-keyed census for df (map-side combine; the term string is the
    output payload so it rides the shuffle by necessity) → 1-row N
    broadcast → per-doc window top-k.  Three shuffles, all linear; no
    Python anywhere."""
    d = docs_corpus(spark, sf_dir).select(
        "doc_id", F.explode(F.split("t", " ")).alias("term")
    )
    tf = d.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df_ = tf.groupBy("term").agg(F.count("*").alias("df"))
    n_docs = docs_corpus(spark, sf_dir).agg(
        F.count("*").alias("n_docs")
    )
    scored = (
        tf.join(df_, "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "term",
            round_dd(
                F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 4
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TFIDF_TOP_K)
        .select("doc_id", F.col("rank").cast("int").alias("rank"), "term", "tfidf")
    )


SQL_TFIDF_TOP_TERMS = f"""
WITH corpus AS (
  SELECT doc_id, lower(coalesce(text, '')) AS t FROM documents
),
words AS (
  SELECT doc_id, u.x AS term
  FROM (SELECT doc_id, string_split(t, ' ') AS w FROM corpus), unnest(w) AS u(x)
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM words GROUP BY 1, 2),
dfc AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
nd AS (SELECT count(*) AS n_docs FROM corpus),
scored AS (
  SELECT doc_id, term,
         round(tf * ln((SELECT n_docs FROM nd) * 1.0 / df), 4) AS tfidf
  FROM tf JOIN dfc USING (term)
),
ranked AS (
  SELECT doc_id, term, tfidf,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY tfidf DESC, term ASC) AS rank
  FROM scored
)
SELECT doc_id, CAST(rank AS INT) AS rank, term, tfidf
FROM ranked WHERE rank <= {TFIDF_TOP_K}
"""


# ---------------------------------------------------------------------------
# Redaction-invariant dedup: normalize (PII-scrub) THEN hash.  The C4 /
# Dolma normalize-before-dedup pattern — two mails that differ only in
# the recipient's address are the same document.  The corpus plants TWO
# PII twins per selected doc carrying DIFFERENT emails/phones: the byte
# hash sees three distinct texts, the redacted hash collapses the twins
# into one group while leaving the original (no " contact …" suffix)
# alone.
# ---------------------------------------------------------------------------

def q_redacted_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate groups over xxhash64(redacted text): one row per
    group with >1 member — (group_rep, n_members, members).

    Plan shape: the redaction is the same zero-shuffle codegen
    projection as pii_redaction; grouping keys on the 8-byte
    xxhash64 of the scrubbed text (never the text itself), one
    shuffle — identical to exact_dup_groups with a normalize step
    fused in front."""
    d = corpus_pii(spark, sf_dir)
    twin2 = docs_corpus(spark, sf_dir).filter(
        F.col("doc_id") % PII_PLANT_MOD == 0
    ).select(
        (F.col("doc_id") + 2 * PII_PLANT_OFFSET).alias("doc_id"),
        F.concat(
            "t",
            F.lit(" contact user"),
            (F.col("doc_id") * 7 + 13).cast("string"),
            F.lit("@example-mail.org or call 415-555-"),
            F.lpad(((F.col("doc_id") + 1234) % 10000).cast("string"), 4, "0"),
            F.lit(" now"),
        ).alias("t"),
    )
    red = d.unionByName(twin2).select(
        "doc_id",
        F.regexp_replace(
            F.regexp_replace("t", PII_EMAIL_PAT, "<EMAIL>"),
            PII_PHONE_PAT,
            "<PHONE>",
        ).alias("tr"),
    )
    return (
        red.groupBy(F.xxhash64("tr").alias("k"))
        .agg(
            F.min("doc_id").alias("group_rep"),
            F.count("*").cast("int").alias("n_members"),
            F.array_join(
                F.array_sort(F.collect_list("doc_id")), ","
            ).alias("members"),
        )
        .filter(F.col("n_members") > 1)
        .select("group_rep", "n_members", "members")
    )


SQL_REDACTED_DUP_GROUPS = f"""
WITH {SQL_CORPUS_PII},
corpus3 AS (
  SELECT * FROM corpus
  UNION ALL
  SELECT doc_id + {2 * PII_PLANT_OFFSET},
         lower(coalesce(text, '')) || ' contact user'
           || CAST(doc_id * 7 + 13 AS VARCHAR)
           || '@example-mail.org or call 415-555-'
           || lpad(CAST((doc_id + 1234) % 10000 AS VARCHAR), 4, '0') || ' now'
  FROM documents WHERE doc_id % {PII_PLANT_MOD} = 0
),
red AS (
  SELECT doc_id,
         regexp_replace(
           regexp_replace(t, '{PII_EMAIL_PAT}', '<EMAIL>', 'g'),
           '{PII_PHONE_PAT}', '<PHONE>', 'g') AS tr
  FROM corpus3
)
SELECT min(doc_id) AS group_rep,
       CAST(count(*) AS INT) AS n_members,
       array_to_string(list_sort(list(doc_id)), ',') AS members
FROM red GROUP BY tr HAVING count(*) > 1
"""


# ---------------------------------------------------------------------------
# pack_chunks — concatenate-then-chunk sequence packing (GPT-style):
# deterministic corpus order, exclusive global prefix sum over token
# counts, fixed 256-token blocks.  The prefix sum is the interesting
# part at scale: the naive plan (Window.orderBy with no partitionBy)
# is a SINGLE-TASK sort of the whole corpus; operators/packing.py does
# the two-pass bucketed scan instead (per-bucket totals -> driver
# prefix over <=64 rows -> broadcast offsets -> per-bucket window).
# Block ids use integer `div`, never float floor — exact at any scale.
# ---------------------------------------------------------------------------

PACK_BLOCK_TOKENS = 256


def q_pack_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc block span under pack-and-chunk training layout:
    (doc_id, n_tok, tok_offset, first_block, last_block)."""
    from file_dedup_rust_spark.operators.packing import pack_blocks

    d = docs_corpus(spark, sf_dir).select(
        "doc_id", F.size(F.split("t", " ")).alias("n_tok")
    )
    return pack_blocks(
        d, "doc_id", "n_tok", block_size=PACK_BLOCK_TOKENS
    )


SQL_PACK_CHUNKS = f"""
WITH tok AS (
  SELECT doc_id,
         CAST(len(string_split(lower(coalesce(text, '')), ' ')) AS INT)
           AS n_tok
  FROM documents
), scan AS (
  SELECT doc_id, n_tok,
         CAST(COALESCE(SUM(n_tok) OVER (ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS tok_offset
  FROM tok
)
SELECT doc_id, n_tok, tok_offset,
       CAST(tok_offset // {PACK_BLOCK_TOKENS} AS BIGINT) AS first_block,
       CAST((tok_offset + n_tok - 1) // {PACK_BLOCK_TOKENS} AS BIGINT)
         AS last_block
FROM scan
"""


SHARD_TOKENS = 4096  # target tokens per output shard


def q_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic output-shard manifest (operators.packing
    .shard_manifest): corpus laid out in doc_id order, cut into
    ~4096-token shards by start offset — the step between corpus
    selection and the distributed shard writer.  Plan: the two-pass
    distributed prefix sum + one bounded groupBy on shard_id."""
    from file_dedup_rust_spark.operators.packing import shard_manifest

    d = docs_corpus(spark, sf_dir).select(
        "doc_id", F.size(F.split("t", " ")).alias("n_tok")
    )
    return shard_manifest(d, "doc_id", "n_tok", SHARD_TOKENS)


SQL_SHARD_MANIFEST = f"""
WITH tok AS (
  SELECT doc_id,
         CAST(len(string_split(lower(coalesce(text, '')), ' ')) AS INT)
           AS n_tok
  FROM documents
), scan AS (
  SELECT doc_id, n_tok,
         CAST(COALESCE(SUM(n_tok) OVER (ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS tok_offset
  FROM tok
)
SELECT CAST(tok_offset // {SHARD_TOKENS} AS BIGINT) AS shard_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS n_tokens,
       min(doc_id) AS first_id,
       max(doc_id) AS last_id
FROM scan
GROUP BY 1
"""


BLOCK_DEDUP_L = 8  # words per disjoint dedup block (operators.dup_spans)


def q_block_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Block-level dedup with global first-occurrence retention
    (operators.dup_spans.dedup_blocks): the remove-side counterpart of
    dup_span_stats — per-doc kept/dropped block counts plus the sha256
    of the reassembled kept text, so the oracle checks the actual
    reconstruction, not just the bookkeeping."""
    from file_dedup_rust_spark.operators.dup_spans import dedup_blocks

    return dedup_blocks(docs_corpus(spark, sf_dir), l=BLOCK_DEDUP_L)


SQL_BLOCK_DEDUP = f"""
WITH d AS (
  SELECT doc_id, string_split(lower(coalesce(text, '')), ' ') AS w
  FROM documents
), b AS (
  SELECT doc_id, CAST(gs.i AS INT) AS idx,
         array_to_string(
           w[gs.i * {BLOCK_DEDUP_L} + 1 : (gs.i + 1) * {BLOCK_DEDUP_L}],
           ' ') AS blk
  FROM d, LATERAL (
    SELECT unnest(range(CAST(ceil(len(w) / {BLOCK_DEDUP_L}.0) AS BIGINT)))
      AS i
  ) gs
), k AS (
  SELECT doc_id, idx, blk,
         row_number() OVER (PARTITION BY blk ORDER BY doc_id, idx) AS rn
  FROM b
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_blocks,
       CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
       CAST(coalesce(sum(CASE WHEN rn = 1
                          THEN len(string_split(blk, ' ')) END), 0)
            AS BIGINT) AS kept_tokens,
       sha256(coalesce(
         string_agg(CASE WHEN rn = 1 THEN blk END, ' ' ORDER BY idx), ''))
         AS kept_sha
FROM k
GROUP BY doc_id
"""


def q_token_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-ordered corpus selection under a token budget (half the
    corpus's tokens): rank docs by stopword hits (an integer quality
    proxy — exact cross-engine ordering, no float ties) descending
    with doc_id tiebreak; a doc is admitted iff the cumulative tokens
    of ALL higher-ranked docs plus its own fit the budget (rank-prefix
    rule).  NOT greedy admission: a rejected doc's tokens still count
    against lower-ranked docs — deliberately, because true greedy
    ("skip the overflowing doc, keep filling") is a sequential scan
    over the ranking, inexpressible as a parallel filter; the
    rank-prefix rule is its deterministic, partition-invariant,
    one-pass relaxation, and the SQL oracle pins exactly it.

    Scale shape: the running total is operators.packing's two-pass
    distributed prefix sum ordered by (-stop_hits, doc_id) — no
    single-task global window; the budget itself is one partial-agg
    scalar.  The tokenization is persisted so the budget aggregate and
    the prefix sum's three actions share one scan (the cached relation
    is 3 numeric columns; the context cleaner reclaims it when the
    result goes out of scope)."""
    from file_dedup_rust_spark.operators.packing import exclusive_prefix_sum

    d = docs_corpus(spark, sf_dir).select(
        "doc_id", F.split("t", " ").alias("w")
    )
    stop_arr = F.array(*[F.lit(s) for s in _STOPWORDS])
    d = d.select(
        "doc_id",
        F.size("w").cast("long").alias("n_tok"),
        F.size(
            F.filter("w", lambda x: F.array_contains(stop_arr, x))
        ).cast("long").alias("stop_hits"),
    ).persist()
    budget = int(d.agg(F.sum("n_tok")).first()[0] or 0) // 2
    p = exclusive_prefix_sum(
        d.withColumn("_ord", -F.col("stop_hits")),
        "doc_id", "n_tok", order_col="_ord",
    )
    return p.filter(
        F.col("_prefix") + F.col("n_tok") <= F.lit(budget)
    ).select(
        "doc_id", "n_tok", "stop_hits",
        F.col("_prefix").alias("tok_before"),
    )


SQL_TOKEN_BUDGET_SELECT = f"""
WITH d AS (
  SELECT doc_id, string_split(lower(coalesce(text, '')), ' ') AS w
  FROM documents
), s AS (
  SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tok,
         CAST(len(list_filter(w, x -> list_contains({_SQL_STOPLIST}, x)))
              AS BIGINT) AS stop_hits
  FROM d
), c AS (
  SELECT doc_id, n_tok, stop_hits,
         CAST(coalesce(SUM(n_tok) OVER (
           ORDER BY stop_hits DESC, doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS BIGINT) AS tok_before
  FROM s
)
SELECT doc_id, n_tok, stop_hits, tok_before
FROM c
WHERE tok_before + n_tok <= (SELECT sum(n_tok) // 2 FROM s)
"""


def q_cluster_best_rep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention policy over near-dup clusters: from every multi-doc
    connected component (same edges/labels as cc_clusters) keep the
    highest-quality copy — stopword hits descending (an integer
    quality proxy, exact cross-engine ordering), doc_id tiebreak —
    and report what the policy drops.  First-occurrence retention
    (exact_dup_groups, block_dedup) keeps the SMALLEST id; real
    corpus builds keep the BEST copy (FineWeb/CCNet keep one
    canonical per cluster by quality), which is this query.

    Scale shape: cluster labels come from the adaptive CC operator;
    the pick is two window functions over ONE cluster_id-partitioned
    shuffle (clusters are bounded by the dedup structure, not the
    corpus)."""
    from file_dedup_rust_spark.operators.connected_components import (
        connected_components,
    )

    edges = _doc_edges(spark, sf_dir).select("a", "b")
    verts = corpus_exact(spark, sf_dir).select(F.col("doc_id").alias("clip_id"))
    cc = connected_components(edges, verts).select(
        F.col("clip_id").alias("doc_id"), "cluster_id"
    )
    stop_arr = F.array(*[F.lit(s) for s in _STOPWORDS])
    qual = corpus_exact(spark, sf_dir).select(
        "doc_id",
        F.size(
            F.filter(F.split("t", " "), lambda x: F.array_contains(stop_arr, x))
        ).cast("long").alias("stop_hits"),
    )
    w = Window.partitionBy("cluster_id")
    ranked = (
        cc.join(qual, "doc_id")
        .withColumn(
            "rn",
            F.row_number().over(w.orderBy(F.desc("stop_hits"), "doc_id")),
        )
        .withColumn("size", F.count("*").over(w))
    )
    return ranked.filter((F.col("size") > 1) & (F.col("rn") == 1)).select(
        "cluster_id",
        F.col("doc_id").alias("rep_doc_id"),
        F.col("stop_hits").alias("rep_stop_hits"),
        F.col("size").cast("long").alias("size"),
        (F.col("size") - 1).cast("long").alias("n_dropped"),
    )


SQL_CLUSTER_BEST_REP = f"""
WITH RECURSIVE {SQL_DOC_EDGES},
sym AS (SELECT a, b FROM edges UNION SELECT b, a FROM edges),
verts AS (SELECT DISTINCT doc_id FROM corpus),
reach(id, lbl) AS (
  SELECT doc_id, doc_id FROM verts
  UNION
  SELECT s.b, r.lbl FROM reach r JOIN sym s ON s.a = r.id
),
cc AS (SELECT id, min(lbl) AS cluster_id FROM reach GROUP BY id),
q AS (
  SELECT doc_id,
         CAST(len(list_filter(string_split(t, ' '),
                              x -> list_contains({_SQL_STOPLIST}, x)))
              AS BIGINT) AS stop_hits
  FROM corpus
),
r AS (
  SELECT cc.cluster_id, q.doc_id, q.stop_hits,
         row_number() OVER (PARTITION BY cc.cluster_id
                            ORDER BY q.stop_hits DESC, q.doc_id) AS rn,
         count(*) OVER (PARTITION BY cc.cluster_id) AS sz
  FROM cc JOIN q ON q.doc_id = cc.id
)
SELECT cluster_id, doc_id AS rep_doc_id, stop_hits AS rep_stop_hits,
       CAST(sz AS BIGINT) AS size, CAST(sz - 1 AS BIGINT) AS n_dropped
FROM r WHERE sz > 1 AND rn = 1
"""


BATCH_BUCKET_W = 16   # length-bucket width (chars here; dur_ms for audio)
BATCH_ROWS = 8        # rows per training batch within a bucket


def q_bucketed_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed training-batch assembly with padding-waste
    accounting (operators.packing.bucketed_batches): the ASR/TTS
    loader step that groups similar-length sequences so per-batch
    padding to the longest member stays small.  Here over the
    documents table's n_chars; the operator is column-generic (clip
    dur_ms in the audio tests)."""
    from file_dedup_rust_spark.operators.packing import bucketed_batches

    d = _docs(spark, sf_dir).select("doc_id", "n_chars")
    return bucketed_batches(
        d, "doc_id", "n_chars",
        bucket_width=BATCH_BUCKET_W, batch_rows=BATCH_ROWS,
    )


SQL_BUCKETED_BATCHES = f"""
WITH s AS (
  SELECT doc_id, n_chars, n_chars // {BATCH_BUCKET_W} AS bucket
  FROM documents
),
r AS (
  SELECT bucket, n_chars,
         row_number() OVER (PARTITION BY bucket
                            ORDER BY n_chars, doc_id) - 1 AS idx
  FROM s
)
SELECT bucket, idx // {BATCH_ROWS} AS batch_idx,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(max(n_chars) AS BIGINT) AS max_len,
       CAST(count(*) * max(n_chars) - sum(n_chars) AS BIGINT) AS pad_waste
FROM r GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# boilerplate pruning (frequency-threshold block removal), leakage-safe
# train/held-out split, and target-mixture sampling rates (round 5) —
# the remaining standard corpus-assembly steps between "deduped" and
# "training shards"
# ---------------------------------------------------------------------------

HELD_OUT_PM = 100  # 10% of dup GROUPS (not rows) go to held_out


def q_boilerplate_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency-threshold boilerplate removal
    (operators.dup_spans.prune_boilerplate): drop EVERY occurrence of
    any 8-token block present in >= 2 distinct docs — the
    CCNet/RefinedWeb line rule (no canonical copy kept), vs
    block_dedup's first-occurrence retention.  Over corpus_exact the
    planted byte-identical copies make every block of a copied doc
    cross-doc-frequent, so those docs prune to empty (kept_sha of '')
    while untouched docs keep everything — both reassembly regimes
    sha256-checked by the oracle."""
    from file_dedup_rust_spark.operators.dup_spans import prune_boilerplate

    return prune_boilerplate(
        corpus_exact(spark, sf_dir).select("doc_id", "t"), l=BLOCK_DEDUP_L
    )


SQL_BOILERPLATE_PRUNE = f"""
WITH {SQL_CORPUS_EXACT},
d AS (
  SELECT doc_id, string_split(t, ' ') AS w FROM corpus
), b AS (
  SELECT doc_id, CAST(gs.i AS INT) AS idx,
         array_to_string(
           w[gs.i * {BLOCK_DEDUP_L} + 1 : (gs.i + 1) * {BLOCK_DEDUP_L}],
           ' ') AS blk
  FROM d, LATERAL (
    SELECT unnest(range(CAST(ceil(len(w) / {BLOCK_DEDUP_L}.0) AS BIGINT)))
      AS i
  ) gs
), boiler AS (
  SELECT blk FROM b GROUP BY blk HAVING count(DISTINCT doc_id) >= 2
), k AS (
  SELECT b.doc_id, b.idx, b.blk, boiler.blk IS NULL AS keep
  FROM b LEFT JOIN boiler ON b.blk = boiler.blk
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_blocks,
       CAST(sum(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT) AS n_boiler,
       CAST(coalesce(sum(CASE WHEN keep
                          THEN len(string_split(blk, ' ')) END), 0)
            AS BIGINT) AS kept_tokens,
       sha256(coalesce(
         string_agg(CASE WHEN keep THEN blk END, ' ' ORDER BY idx), ''))
         AS kept_sha
FROM k
GROUP BY doc_id
"""


def q_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/held-out split
    (functions.sampling.group_safe_split): the split decision is per
    exact-duplicate GROUP (md5 of content — the same grouping as
    exact_dup_groups), so a duplicate of a held-out doc can never land
    in train and turn the held-out loss into a memorization probe (Lee
    et al. 2021 §6).  The oracle pins the invariant structurally: both
    engines derive split from the group's min doc_id through the same
    Knuth bucket, so any straddling group hash-mismatches.  Near-dup
    clusters slot in by passing the pipeline's cluster_id as the group
    column instead (pytest-gated — CC is not SQL-expressible)."""
    from file_dedup_rust_spark.functions.sampling import group_safe_split

    d = corpus_exact(spark, sf_dir).select(
        "doc_id", F.md5("t").alias("h")
    )
    return group_safe_split(d, "doc_id", "h", HELD_OUT_PM).select(
        "doc_id", "group_rep", "split"
    )


SQL_LEAKAGE_SAFE_SPLIT = f"""
WITH {SQL_CORPUS_EXACT},
g AS (
  SELECT doc_id, md5(t) AS h FROM corpus
), m AS (
  SELECT h, min(doc_id) AS group_rep FROM g GROUP BY h
)
SELECT g.doc_id, m.group_rep,
       CASE WHEN ((m.group_rep * 2654435761) % 4294967296) % 1000
                 < {HELD_OUT_PM}
            THEN 'held_out' ELSE 'train' END AS split
FROM g JOIN m USING (h)
"""


MIX_TARGET = {"en": 700, "other": 300}  # target corpus mix (per-mille)


def q_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Target-mixture sampling rates (functions.sampling.mixture_rates):
    given the lang-ID strata and a target token mix (70% en / 30%
    other), emit the per-stratum keep rate of the largest
    no-upsampling corpus realizing it — the binding stratum keeps
    rate exactly 1.0.  Fixed-weight cousin of DoReMi (Xie et al.
    2023); feeds stratified_sample.  All arithmetic is integer or a
    single identically-expressed IEEE division chain on both engines
    (no round() — the r5 continuation's decimal-rounding lesson)."""
    from file_dedup_rust_spark.functions.sampling import mixture_rates

    d = docs_corpus(spark, sf_dir).select(
        "doc_id", F.split("t", " ").alias("w")
    )
    stop_arr = F.array(*[F.lit(s) for s in _STOPWORDS])
    score = round_dd(
        F.size(F.filter("w", lambda x: F.array_contains(stop_arr, x)))
        / F.greatest(F.size("w"), F.lit(1)),
        4,
    )
    s = d.select(
        F.size("w").cast("long").alias("n_tok"),
        F.when(score >= 0.05, F.lit("en")).otherwise(F.lit("other"))
        .alias("pred_lang"),
    )
    return mixture_rates(s, "pred_lang", "n_tok", MIX_TARGET)


SQL_MIXTURE_WEIGHTS = f"""
WITH toks AS (
  SELECT doc_id, string_split(lower(coalesce(text, '')), ' ') AS w
  FROM documents
), s AS (
  SELECT CAST(len(w) AS BIGINT) AS n_tok,
         CASE WHEN round(len(list_filter(w, x ->
                     list_contains({_SQL_STOPLIST}, x)))
                   * 1.0 / greatest(len(w), 1), 4) >= 0.05
              THEN 'en' ELSE 'other' END AS pred_lang
  FROM toks
), a AS (
  SELECT pred_lang,
         CAST(count(*) AS BIGINT) AS n_rows,
         CAST(sum(n_tok) AS BIGINT) AS weight,
         CAST(CASE WHEN pred_lang = 'en' THEN {MIX_TARGET['en']}
                   ELSE {MIX_TARGET['other']} END AS BIGINT) AS target_pm
  FROM s GROUP BY pred_lang
)
SELECT pred_lang, n_rows, weight,
       CAST(floor(1000 * weight / sum(weight) OVER ()) AS BIGINT)
         AS natural_pm,
       target_pm,
       (target_pm / weight) / max(target_pm / weight) OVER ()
         AS sample_rate
FROM a
"""


MIX_ALPHA = 0.7   # XLM-R's multilingual sampling temperature


def q_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled mixture rates
    (functions.sampling.temperature_rates): the alpha-sampling rule
    multilingual training uses (XLM-R / mT5, alpha=0.7) — target
    share q_l ∝ p_l^alpha over the REAL lang strata weighted by
    n_chars, rarest language binding at rate 1.0, heavier languages
    downsampled by (w_l/w_min)^(alpha-1).  The computed-target cousin
    of mixture_weights; pow() output rounded to 4 decimals on both
    engines (pow is not bit-identical across libms, unlike the pure
    division chains)."""
    from file_dedup_rust_spark.functions.sampling import temperature_rates

    d = _docs(spark, sf_dir).select(
        "lang", F.col("n_chars").cast("long").alias("n_chars")
    )
    return temperature_rates(d, "lang", "n_chars", MIX_ALPHA)


SQL_TEMPERATURE_MIX = f"""
WITH a AS (
  SELECT lang,
         CAST(count(*) AS BIGINT) AS n_rows,
         CAST(sum(n_chars) AS BIGINT) AS weight
  FROM documents GROUP BY lang
), b AS (
  SELECT lang, n_rows, weight,
         weight * 1.0 / sum(weight) OVER () AS p_raw,
         weight * 1.0 / min(weight) OVER () AS wr
  FROM a
)
SELECT lang, n_rows, weight,
       round(p_raw, 4) AS p,
       round(pow(p_raw, {MIX_ALPHA})
             / sum(pow(p_raw, {MIX_ALPHA})) OVER (), 4) AS q,
       round(pow(wr, {MIX_ALPHA} - 1.0), 4) AS sample_rate
FROM b
"""


def q_mixture_applied(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Close the data-mixing loop end-to-end: mixture_rates ->
    floor(1000 * rate) per-mille -> stratified_sample -> realized
    per-stratum (n_docs, n_tokens).  The rates table is stratum-
    cardinality-bounded, so collecting it to drive the sampler's CASE
    expression is a scalar fetch, not a data collect (same pattern as
    token_budget_select's budget).  The oracle replays the identical
    IEEE division chain + Knuth bucket in SQL, so a drifted rate or a
    non-reproducible sampler hash-mismatches."""
    from file_dedup_rust_spark.functions.sampling import (
        mixture_rates,
        stratified_sample,
    )

    d = docs_corpus(spark, sf_dir).select(
        "doc_id", F.split("t", " ").alias("w")
    )
    stop_arr = F.array(*[F.lit(s) for s in _STOPWORDS])
    score = round_dd(
        F.size(F.filter("w", lambda x: F.array_contains(stop_arr, x)))
        / F.greatest(F.size("w"), F.lit(1)),
        4,
    )
    s = d.select(
        "doc_id",
        F.size("w").cast("long").alias("n_tok"),
        F.when(score >= 0.05, F.lit("en")).otherwise(F.lit("other"))
        .alias("pred_lang"),
    )
    rates = {
        r["pred_lang"]: int(1000 * r["sample_rate"])
        for r in mixture_rates(s, "pred_lang", "n_tok", MIX_TARGET)
        .select("pred_lang", "sample_rate")
        .collect()
    }
    kept = stratified_sample(s, "doc_id", "pred_lang", rates, 0)
    return kept.groupBy("pred_lang").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_tok").cast("long").alias("n_tokens"),
    )


SQL_MIXTURE_APPLIED = f"""
WITH toks AS (
  SELECT doc_id, string_split(lower(coalesce(text, '')), ' ') AS w
  FROM documents
), s AS (
  SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tok,
         CASE WHEN round(len(list_filter(w, x ->
                     list_contains({_SQL_STOPLIST}, x)))
                   * 1.0 / greatest(len(w), 1), 4) >= 0.05
              THEN 'en' ELSE 'other' END AS pred_lang
  FROM toks
), a AS (
  SELECT pred_lang, CAST(sum(n_tok) AS BIGINT) AS weight,
         CAST(CASE WHEN pred_lang = 'en' THEN {MIX_TARGET['en']}
                   ELSE {MIX_TARGET['other']} END AS BIGINT) AS target_pm
  FROM s GROUP BY pred_lang
), r AS (
  SELECT pred_lang,
         CAST(floor(1000 * ((target_pm / weight)
              / max(target_pm / weight) OVER ())) AS BIGINT) AS rate_pm
  FROM a
)
SELECT s.pred_lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(s.n_tok) AS BIGINT) AS n_tokens
FROM s JOIN r USING (pred_lang)
WHERE ((s.doc_id * 2654435761) % 4294967296) % 1000 < r.rate_pm
GROUP BY 1
"""


CONFLICT_ID_OFFSET = 3_000_000  # second-copy ids for conflict_repair


def q_conflict_repair(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same-content / conflicting-attribute detection + majority-vote
    repair (operators.conflicts.value_conflicts) — the SQL-expressible
    analog of audio_quality.transcript_conflicts (same decoded pcm_sha,
    disagreeing transcripts; pytest-gated because it needs the decode
    pass).  Derived corpus plants both repair regimes: every 3rd doc
    gets a copy whose claimed n_chars is bumped when doc_id%6==0
    (conflict), and every 12th doc a THIRD row with the true n_chars —
    so %12 groups repair by true majority (majority_n=2) and
    %6-but-not-%12 groups exercise the deterministic smallest-value
    tie-break.  Unanimous groups never reach the output."""
    from file_dedup_rust_spark.operators.conflicts import value_conflicts

    d = _docs(spark, sf_dir).select(
        "doc_id",
        F.lower(F.coalesce("text", F.lit(""))).alias("t"),
        F.col("n_chars").cast("long").alias("v"),
    )
    c1 = d.filter(F.col("doc_id") % EXACT_COPY_MOD == 0).select(
        (F.col("doc_id") + EXACT_ID_OFFSET).alias("doc_id"),
        "t",
        (F.col("v") + F.when(F.col("doc_id") % 6 == 0, 1).otherwise(0))
        .alias("v"),
    )
    c2 = d.filter(F.col("doc_id") % 12 == 0).select(
        (F.col("doc_id") + CONFLICT_ID_OFFSET).alias("doc_id"), "t", "v"
    )
    corpus = d.unionByName(c1).unionByName(c2).select(
        F.md5("t").alias("h"), "v"
    )
    return value_conflicts(corpus, "h", "v")


SQL_CONFLICT_REPAIR = f"""
WITH d AS (
  SELECT doc_id, lower(coalesce(text, '')) AS t,
         CAST(n_chars AS BIGINT) AS v
  FROM documents
), corpus AS (
  SELECT t, v FROM d
  UNION ALL
  SELECT t, v + CASE WHEN doc_id % 6 = 0 THEN 1 ELSE 0 END
  FROM d WHERE doc_id % {EXACT_COPY_MOD} = 0
  UNION ALL
  SELECT t, v FROM d WHERE doc_id % 12 = 0
), g1 AS (
  SELECT md5(t) AS h, v, count(*) AS c FROM corpus GROUP BY 1, 2
), g2 AS (
  SELECT h,
         CAST(sum(c) AS BIGINT) AS n_rows,
         CAST(count(*) AS BIGINT) AS n_variants,
         min(ROW(-c, v)) AS m
  FROM g1 GROUP BY h
)
SELECT h, n_rows, n_variants,
       m[2] AS majority_val,
       CAST(-m[1] AS BIGINT) AS majority_n
FROM g2 WHERE n_variants >= 2
"""


def q_consensus_transcript(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Medoid consensus repair (operators.conflicts.medoid_repair):
    when the SAME recording carries several transcripts and NO variant
    has a majority, pick the one minimizing the multiplicity-weighted
    sum of edit distances to the others (ROVER-style voting reduced to
    whole-string distance) — majority vote (`conflict_repair`) would
    fall straight to its arbitrary-smallest tie-break here.

    Derived corpus: every 5th doc forms a 3-variant group {t,
    'x'+t[1:], t+' zz'} where the ORIGINAL is provably central
    (costs 4 / 5 / 7), and every 10th doc adds two more copies of the
    second variant so multiplicity flips the medoid to it (costs
    6 / 5 / 15) — both repair regimes exercised, deterministic on
    both engines.  The pairwise stage joins (key, variant, count)
    contractions, never raw rows, and `lev` runs JVM-side."""
    from file_dedup_rust_spark.operators.conflicts import medoid_repair

    d = _docs(spark, sf_dir).select(
        "doc_id", F.lower(F.coalesce("text", F.lit(""))).alias("t")
    )
    g5 = d.filter(F.col("doc_id") % 5 == 0)
    v1 = F.concat(F.lit("x"), F.expr("substr(t, 2)")).alias("v")
    rows = (
        g5.select(F.col("doc_id").alias("gid"), F.col("t").alias("v"))
        .unionByName(g5.select(F.col("doc_id").alias("gid"), v1))
        .unionByName(
            g5.select(
                F.col("doc_id").alias("gid"),
                F.concat("t", F.lit(" zz")).alias("v"),
            )
        )
    )
    g10 = d.filter(F.col("doc_id") % 10 == 0)
    dup = g10.select(F.col("doc_id").alias("gid"), v1)
    rows = rows.unionByName(dup).unionByName(dup)
    return medoid_repair(rows, "gid", "v").select(
        "gid", "n_rows", "n_variants",
        F.col("medoid_val").alias("consensus"),
        F.col("medoid_cost").alias("cost"),
    )


SQL_CONSENSUS_TRANSCRIPT = """
WITH d AS (
  SELECT doc_id, lower(coalesce(text, '')) AS t FROM documents
), rows_ AS (
  SELECT doc_id AS gid, t AS v FROM d WHERE doc_id % 5 = 0
  UNION ALL
  SELECT doc_id, 'x' || substr(t, 2) FROM d WHERE doc_id % 5 = 0
  UNION ALL
  SELECT doc_id, t || ' zz' FROM d WHERE doc_id % 5 = 0
  UNION ALL
  SELECT doc_id, 'x' || substr(t, 2) FROM d WHERE doc_id % 10 = 0
  UNION ALL
  SELECT doc_id, 'x' || substr(t, 2) FROM d WHERE doc_id % 10 = 0
), g1 AS (
  SELECT gid, v, count(*) AS c FROM rows_ GROUP BY 1, 2
), nv AS (
  SELECT gid, CAST(sum(c) AS BIGINT) AS n_rows,
         CAST(count(*) AS BIGINT) AS n_variants
  FROM g1 GROUP BY 1
), cost AS (
  SELECT a.gid, a.v AS va,
         CAST(sum(b.c * levenshtein(a.v, b.v)) AS BIGINT) AS cost
  FROM g1 a JOIN g1 b ON b.gid = a.gid
  GROUP BY 1, 2
), best AS (
  SELECT gid, min(ROW(cost, va)) AS m FROM cost GROUP BY 1
)
SELECT b.gid, n.n_rows, n.n_variants, b.m[2] AS consensus,
       CAST(b.m[1] AS BIGINT) AS cost
FROM best b JOIN nv n ON n.gid = b.gid
WHERE n.n_variants >= 2
"""


EDIT_CAND_T = 0.2    # candidate floor: inside the measured (0.15, 0.85)
                     # word-3-gram Jaccard gap, so candidate sets are
                     # rounding-stable
EDIT_SIM_T = 0.55    # verify: planted truncations measure 0.51-0.622,
                     # unrelated pairs <= 0.41 — the threshold BINDS
                     # (some true candidates fail), proving the verify
                     # stage does work


def q_edit_verified_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance-verified near-dup tier: candidate pairs from the
    shingle posting join at a coarse Jaccard floor, then an EXACT
    normalized-edit-similarity verify (1 - lev/max_len) on the
    candidate set only — the BigCode/The-Stack near-dedup shape
    (MinHash candidates -> expensive exact verify), with
    `levenshtein` as the verifier instead of token Jaccard.

    Emits every candidate with its verdict (dup = edit_sim >=
    {EDIT_SIM_T}), so the oracle pins both the accepted and the
    rejected side of the verify.

    Scale design: levenshtein is O(len_a * len_b) per pair — the whole
    point is that it runs ONLY on the bounded LSH/shingle candidate
    set, never all pairs, and it is a JVM codegen built-in (identical
    semantics in DuckDB), no Python.  The texts attach to candidates
    via two hash joins on doc_id; candidate volume is capped upstream
    by the posting join (operators/candidates.py caps in the LSH
    variant).  Reference analog: the verify-after-candidates split in
    deduplication_service.rs:300-372."""
    corpus = corpus_near(spark, sf_dir)
    cand = jaccard_pairs(shingles(corpus), EDIT_CAND_T)
    ta = corpus.select(F.col("doc_id").alias("ia"), F.col("t").alias("t_a"))
    tb = corpus.select(F.col("doc_id").alias("ib"), F.col("t").alias("t_b"))
    lev = F.levenshtein("t_a", "t_b")
    edit_sim = round_dd(
        F.lit(1.0)
        - lev
        / F.greatest(F.length("t_a"), F.length("t_b"), F.lit(1)).cast(
            "double"
        ),
        4,
    )
    return (
        cand.join(ta, "ia")
        .join(tb, "ib")
        .select(
            "ia",
            "ib",
            "jac",
            lev.cast("long").alias("lev"),
            edit_sim.alias("edit_sim"),
            (edit_sim >= EDIT_SIM_T).cast("long").alias("dup"),
        )
    )


SQL_EDIT_VERIFIED_PAIRS = f"""
WITH {_sql_shingles(SQL_CORPUS_NEAR)},
{SQL_JACCARD_PAIRS}
SELECT ia, ib, jac,
       CAST(levenshtein(ca.t, cb.t) AS BIGINT) AS lev,
       round(1.0 - levenshtein(ca.t, cb.t)
                   / greatest(len(ca.t), len(cb.t), 1), 4) AS edit_sim,
       CAST(round(1.0 - levenshtein(ca.t, cb.t)
                   / greatest(len(ca.t), len(cb.t), 1), 4)
         >= {EDIT_SIM_T} AS BIGINT) AS dup
FROM jpairs
JOIN corpus ca ON ca.doc_id = ia
JOIN corpus cb ON cb.doc_id = ib
WHERE jac >= {EDIT_CAND_T}
"""


SOURCE_QUOTA_TOKENS = 600  # per-source budget: ~half of each synthetic
                           # source's ~1,300 tokens, so the quota BINDS
                           # in every source


def q_source_token_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token quota (the Common-Crawl-style per-domain cap):
    within each source, rank docs by an integer quality proxy
    (stopword hits desc, doc_id tiebreak — exact cross-engine
    ordering) and keep a doc iff the cumulative tokens of all
    higher-ranked same-source docs plus its own fit the source's
    budget (the rank-prefix rule of token_budget_select, applied PER
    GROUP).

    Domain balancing is the standard counter to crawl skew: without a
    cap, one boilerplate-heavy domain dominates the mixture (RefinedWeb
    §3.1 caps per-domain contributions; the reference repo has no
    analog).

    Scale design: unlike the GLOBAL budget fill (which needs the
    two-pass distributed prefix sum to avoid a single-task window),
    the per-source running total is a window PARTITIONED BY source —
    embarrassingly parallel across sources, one shuffle on the source
    key, and each task's window is bounded by that source's rows.
    Skewed mega-sources are exactly the inputs the cap exists for;
    their window state is one running long."""
    d = _docs(spark, sf_dir).select(
        "doc_id", "source",
        F.split(F.lower(F.coalesce("text", F.lit(""))), " ").alias("w"),
    )
    stop_arr = F.array(*[F.lit(s) for s in _STOPWORDS])
    d = d.select(
        "doc_id", "source",
        F.size("w").cast("long").alias("n_tok"),
        F.size(
            F.filter("w", lambda x: F.array_contains(stop_arr, x))
        ).cast("long").alias("stop_hits"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy(F.col("stop_hits").desc(), F.col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    tok_before = F.coalesce(F.sum("n_tok").over(w), F.lit(0)).cast("long")
    return (
        d.withColumn("tok_before", tok_before)
        .filter(
            F.col("tok_before") + F.col("n_tok")
            <= F.lit(SOURCE_QUOTA_TOKENS)
        )
        .select("doc_id", "source", "n_tok", "stop_hits", "tok_before")
    )


SQL_SOURCE_TOKEN_QUOTA = f"""
WITH d AS (
  SELECT doc_id, source,
         string_split(lower(coalesce(text, '')), ' ') AS w
  FROM documents
), s AS (
  SELECT doc_id, source, CAST(len(w) AS BIGINT) AS n_tok,
         CAST(len(list_filter(w, x -> list_contains({_SQL_STOPLIST}, x)))
              AS BIGINT) AS stop_hits
  FROM d
), c AS (
  SELECT doc_id, source, n_tok, stop_hits,
         CAST(coalesce(SUM(n_tok) OVER (
           PARTITION BY source
           ORDER BY stop_hits DESC, doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS BIGINT) AS tok_before
  FROM s
)
SELECT doc_id, source, n_tok, stop_hits, tok_before
FROM c WHERE tok_before + n_tok <= {SOURCE_QUOTA_TOKENS}
"""


def q_corpus_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus diversity: word-3-gram type-token ratio
    (distinct grams / total gram occurrences) over a corpus with
    planted exact copies — the dataset-card diversity metric that
    drops when duplication (or template text) creeps into a language
    slice.  The planted every-3rd-doc copies make the metric BIND:
    each copy doubles its grams' occurrence counts without adding
    types.

    Scale design: one multiset gram explode (no per-doc distinct —
    multiset semantics are the point), then a two-level aggregation:
    per (lang, gram-hash) partial counts, then per-lang
    (count = types, sum = tokens).  Grams cross the shuffle once as
    8-byte xxhash64 keys (same collision note as dup_span_stats: the
    oracle groups by the gram STRING and agrees at every tested
    scale).  Doc counts ride a separate narrow agg unioned by lang —
    bounded by the language cardinality either way."""
    from file_dedup_rust_spark.operators.decontaminate import word_ngrams

    d = _docs(spark, sf_dir).select(
        "doc_id", "lang", F.lower(F.coalesce("text", F.lit(""))).alias("t")
    )
    corpus = d.unionByName(
        d.filter(F.col("doc_id") % EXACT_COPY_MOD == 0).select(
            (F.col("doc_id") + EXACT_ID_OFFSET).alias("doc_id"), "lang", "t"
        )
    )
    grams = word_ngrams(
        corpus.select("doc_id", "t"), 3, distinct=False
    ).join(corpus.select("doc_id", "lang"), "doc_id")
    per_gram = grams.groupBy("lang", F.xxhash64("g").alias("gh")).agg(
        F.count("*").alias("c")
    )
    stats = per_gram.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_uniq"),
        F.sum("c").cast("long").alias("n_grams"),
    )
    ndocs = corpus.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_docs")
    )
    return (
        ndocs.join(stats, "lang")
        .select(
            "lang", "n_docs", "n_grams", "n_uniq",
            round_dd(F.col("n_uniq") / F.col("n_grams"), 4).alias("ttr"),
        )
    )


SQL_CORPUS_DIVERSITY = f"""
WITH corpus AS (
  SELECT doc_id, lang, lower(coalesce(text, '')) AS t FROM documents
  UNION ALL
  SELECT doc_id + {EXACT_ID_OFFSET}, lang, lower(coalesce(text, ''))
  FROM documents WHERE doc_id % {EXACT_COPY_MOD} = 0
), toks AS (
  SELECT doc_id, lang, string_split(t, ' ') AS w FROM corpus
), grams AS (
  SELECT lang, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS g
  FROM toks, unnest(generate_series(1, greatest(len(w) - 2, 0))) AS u(i)
), per_gram AS (
  SELECT lang, g, count(*) AS c FROM grams GROUP BY 1, 2
), stats AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS n_uniq,
         CAST(sum(c) AS BIGINT) AS n_grams
  FROM per_gram GROUP BY lang
), nd AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS n_docs FROM corpus GROUP BY lang
)
SELECT nd.lang, n_docs, n_grams, n_uniq,
       round(n_uniq * 1.0 / n_grams, 4) AS ttr
FROM nd JOIN stats ON nd.lang = stats.lang
"""


VOCAB_TOP_K = 50


def q_vocab_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level vocabulary census: the top-{VOCAB_TOP_K} words by
    occurrence count (count desc, word asc — a total order, so the
    boundary of the top-K is deterministic on any engine).  The
    tokenizer-training precursor: BPE/unigram trainers start from
    exactly this word-frequency table.

    Scale design: one explode + hash aggregate WITH map-side partial
    combine (each distinct word crosses the shuffle once per map task,
    not once per occurrence), then the global top-K is
    TakeOrderedAndProject — a per-partition heap merged on the driver,
    never a full sort of the vocabulary."""
    toks = docs_corpus(spark, sf_dir).select(
        F.explode(F.split("t", " ")).alias("wd")
    )
    return (
        toks.groupBy("wd")
        .agg(F.count("*").cast("long").alias("c"))
        .orderBy(F.col("c").desc(), "wd")
        .limit(VOCAB_TOP_K)
    )


SQL_VOCAB_TOP_TERMS = f"""
WITH toks AS (
  SELECT unnest(string_split(lower(coalesce(text, '')), ' ')) AS wd
  FROM documents
)
SELECT wd, CAST(count(*) AS BIGINT) AS c
FROM toks GROUP BY wd
ORDER BY c DESC, wd LIMIT {VOCAB_TOP_K}
"""


PCTL_QS = (0.5, 0.9, 0.99)


def q_length_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT per-language token-length percentiles (p50/p90/p99, disc
    semantics: the smallest length whose cumulative count reaches
    ceil(q*n)) — the batch-assembly planning stat (bucket boundaries,
    padding budgets, truncation limits all come from this table).

    Scale shape: a naive row_number per language is one task per
    language over ALL its rows; this contracts rows to a (lang, len)
    CENSUS first (one map-side-combined shuffle, output bounded by
    distinct lengths per language — thousands, not rows), then runs
    the cumulative window over the census.  Exact, engine-stable
    (pure integer comparisons), no approx_percentile sketch."""
    d = _docs(spark, sf_dir).select(
        "lang",
        F.size(F.split(F.lower(F.coalesce("text", F.lit(""))), " "))
        .alias("len"),
    )
    census = d.groupBy("lang", "len").agg(F.count("*").alias("c"))
    w = Window.partitionBy("lang").orderBy("len")
    cum = census.withColumn("cum", F.sum("c").over(w)).withColumn(
        "n", F.sum("c").over(Window.partitionBy("lang"))
    )
    out = None
    for q in PCTL_QS:
        tgt = F.ceil(F.lit(q) * F.col("n"))
        hit = (
            cum.filter(F.col("cum") >= tgt)
            .groupBy("lang")
            .agg(F.min("len").alias("value"))
            .select(
                "lang",
                F.lit(q).alias("q"),
                F.col("value").cast("long").alias("value"),
            )
        )
        out = hit if out is None else out.unionByName(hit)
    return out


SQL_LENGTH_PERCENTILES = f"""
WITH d AS (
  SELECT lang,
         len(string_split(lower(coalesce(text, '')), ' ')) AS l
  FROM documents
),
census AS (SELECT lang, l, count(*) AS c FROM d GROUP BY 1, 2),
cum AS (
  SELECT lang, l, sum(c) OVER (PARTITION BY lang ORDER BY l) AS cum,
         sum(c) OVER (PARTITION BY lang) AS n
  FROM census
),
qs AS (
  SELECT CAST(unnest(ARRAY[{", ".join(str(q) for q in PCTL_QS)}]) AS DOUBLE)
    AS q
)
SELECT lang, q, CAST(min(l) AS BIGINT) AS value
FROM cum, qs
WHERE cum >= ceil(q * n)
GROUP BY lang, q
"""


ZIPF_TOP_K = 100


def q_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-law fit over the top-{ZIPF_TOP_K} vocabulary: OLS slope of
    ln(freq) on ln(rank) — natural corpora sit near -1; a corpus
    whose slope collapses toward 0 is boilerplate/template-dominated
    and one that dives below ~-1.5 lost its long tail (over-
    aggressive filtering).  One census shuffle + a TakeOrdered top-K;
    the regression runs on the K-row relation.  Rank ties break
    (count desc, word asc), both engines identically; slope rounded
    to 4 decimals (ln() ulps)."""
    toks = docs_corpus(spark, sf_dir).select(
        F.explode(F.split("t", " ")).alias("wd")
    )
    top = (
        toks.groupBy("wd")
        .agg(F.count("*").cast("long").alias("c"))
        .orderBy(F.col("c").desc(), "wd")
        .limit(ZIPF_TOP_K)
    )
    w = Window.orderBy(F.col("c").desc(), "wd")
    xy = top.select(
        F.log(F.row_number().over(w).cast("double")).alias("x"),
        F.log(F.col("c").cast("double")).alias("y"),
    )
    agg = xy.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return agg.select(
        F.col("n").cast("long").alias("top_k"),
        round_dd(slope, 4).alias("zipf_slope"),
    )


SQL_ZIPF_SLOPE = f"""
WITH toks AS (
  SELECT unnest(string_split(lower(coalesce(text, '')), ' ')) AS wd
  FROM documents
),
top AS (
  SELECT wd, CAST(count(*) AS BIGINT) AS c
  FROM toks GROUP BY wd
  ORDER BY c DESC, wd LIMIT {ZIPF_TOP_K}
),
xy AS (
  SELECT ln(CAST(row_number() OVER (ORDER BY c DESC, wd) AS DOUBLE)) AS x,
         ln(CAST(c AS DOUBLE)) AS y
  FROM top
),
a AS (
  SELECT CAST(count(*) AS BIGINT) AS n, sum(x) AS sx, sum(y) AS sy,
         sum(x * y) AS sxy, sum(x * x) AS sxx
  FROM xy
)
SELECT n AS top_k,
       round((n * sxy - sx * sy) / (n * sxx - sx * sx), 4) AS zipf_slope
FROM a
"""


# ---------------------------------------------------------------------------
# round 5b: soft dedup weighting, reorder-invariant dedup, fuzzy gram
# containment, semantic (embedding-space) decontamination
# ---------------------------------------------------------------------------

def q_soft_dedup_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SoftDeDup (He et al. 2024): keep every copy, reweight by
    1/group_size so each distinct content carries equal sampling mass —
    the non-destructive alternative to dropping duplicates when
    commonness is itself a signal.  eff_tokens is the doc's token count
    under that weight (the corpus's effective size after reweighting).

    Plan shape: partial-agg groupBy count + join back on xxhash64(t) —
    8-byte keys (never raw text) through the exchange, and the hot-key
    worst case map-side-combines instead of concentrating in one
    window task (measured 1.5x at 1 M rows / 50% hot key, BENCH.md
    "Worst-case probes at 1 M rows"); the oracle groups by t directly
    (hash collisions at ~n^2/2^65 are the documented engine-side risk,
    same contract as dedup_new_vs_corpus)."""
    from file_dedup_rust_spark.operators.exact import duplication_weights

    c = corpus_exact(spark, sf_dir)
    keyed = c.select(
        "doc_id",
        F.xxhash64("t").alias("k"),
        F.size(F.split("t", " ")).alias("n_tokens"),
    )
    return duplication_weights(keyed, "k").select(
        "doc_id",
        "group_size",
        "weight",
        round_dd(F.col("n_tokens") / F.col("group_size"), 4).alias("eff_tokens"),
    )


SQL_SOFT_DEDUP_WEIGHTS = f"""
WITH {SQL_CORPUS_EXACT},
g AS (
  SELECT doc_id, len(string_split(t, ' ')) AS n_tokens,
         count(*) OVER (PARTITION BY t) AS group_size
  FROM corpus
)
SELECT doc_id, CAST(group_size AS BIGINT) AS group_size,
       round(1.0 / group_size, 6) AS weight,
       round(n_tokens * 1.0 / group_size, 4) AS eff_tokens
FROM g
"""


SHUF_COPY_MOD = 7          # corpus_shuffled: every 7th doc gets a reversed copy
SHUF_ID_OFFSET = 3_000_000


def corpus_shuffled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents ∪ word-REVERSED copies of every 7th doc (id+3e6): a
    reordered re-upload — same word multiset, permuted order — invisible
    to the byte hash AND to every n-gram tier (word-3-gram Jaccard of a
    reversed doc vs its source is ~0)."""
    d = docs_corpus(spark, sf_dir)
    rev = d.filter(F.col("doc_id") % SHUF_COPY_MOD == 0).select(
        (F.col("doc_id") + SHUF_ID_OFFSET).alias("doc_id"),
        F.array_join(F.reverse(F.split("t", " ")), " ").alias("t"),
    )
    return d.unionByName(rev)


SQL_CORPUS_SHUFFLED = f"""
corpus AS (
  SELECT doc_id, lower(coalesce(text, '')) AS t FROM documents
  UNION ALL
  SELECT doc_id + {SHUF_ID_OFFSET},
         array_to_string(
           list_reverse(string_split(lower(coalesce(text, '')), ' ')), ' ')
  FROM documents WHERE doc_id % {SHUF_COPY_MOD} = 0
)
"""


def q_bow_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reorder-invariant exact tier: duplicate groups under the
    canonical bag-of-words key (operators.exact.reorder_invariant_key —
    md5 over the SORTED word multiset).  Catches shuffled/permuted
    re-uploads that break the byte hash and every n-gram window; at
    sf0.01 all 72 planted reversed copies differ byte-wise from their
    source (the exact tier sees none of them) and all 72 groups land
    here.  Same plan as exact_dup_groups: one codegen projection, one
    groupBy on a 32-byte digest."""
    from file_dedup_rust_spark.operators.exact import reorder_invariant_key

    c = corpus_shuffled(spark, sf_dir)
    return (
        c.select("doc_id", reorder_invariant_key(F.col("t")).alias("bow_key"))
        .groupBy("bow_key")
        .agg(
            F.count("*").alias("n_members"),
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list("doc_id")),
                    lambda x: x.cast("string"),
                ),
                ",",
            ).alias("members"),
        )
        .filter(F.col("n_members") > 1)
    )


SQL_BOW_DUP_GROUPS = f"""
WITH {SQL_CORPUS_SHUFFLED}
SELECT md5(array_to_string(list_sort(string_split(t, ' ')), ' ')) AS bow_key,
       count(*) AS n_members,
       string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS members
FROM corpus
GROUP BY 1
HAVING count(*) > 1
"""


CONT_FRAC_T = 0.9   # fuzzy containment threshold (fraction of a's grams in b)


def q_ngram_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FUZZY containment: |grams(a) ∩ grams(b)| / |grams(a)| ≥ 0.9 over
    word-3-gram sets (ordered pairs, a≠b) — the gram-fraction version
    of the exact substring tier (containment_pairs).  An edited quote
    or a prefix with a few words substituted stops being an exact
    substring (the suffix-array tier misses it) but keeps ≥90% of its
    grams; this is the asymmetric inclusion rule Jaccard also misses
    when |b| >> |a| (the union denominator drowns the overlap).

    Plan shape: the same posting-list equi-join + partial-agg count as
    jaccard_pairs, then ONE size join (only the contained side's size
    normalizes).  Word-3-gram posting lists are short on this corpus;
    the capped/salted variant (operators.candidates) is the 100-TB
    path, same as the Jaccard tier."""
    sh = shingles(corpus_near(spark, sf_dir)).select(
        "doc_id", F.xxhash64("g").alias("gh")
    )
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    a = sh.select(F.col("doc_id").alias("ia"), "gh")
    b = sh.select(F.col("doc_id").alias("ib"), "gh")
    # 8-byte gram keys + pinned shuffle join (see jaccard_pairs)
    inter = (
        a.hint("SHUFFLE_HASH").join(b, "gh")
        .filter(F.col("ia") != F.col("ib"))
        .groupBy("ia", "ib")
        .agg(F.count("*").alias("c"))
    )
    sa = sizes.select(F.col("doc_id").alias("ia"), F.col("n").alias("na"))
    return (
        inter.join(sa, "ia")
        .select(
            "ia", "ib",
            round_dd(F.col("c") / F.col("na"), 4).alias("containment"),
        )
        .filter(F.col("containment") >= CONT_FRAC_T)
    )


SQL_NGRAM_CONTAINMENT_PAIRS = f"""
WITH {_sql_shingles(SQL_CORPUS_NEAR)},
inter AS (
  SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS c
  FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id != b.doc_id
  GROUP BY 1, 2
)
SELECT ia, ib, round(c * 1.0 / sa.n, 4) AS containment
FROM inter JOIN sz sa ON sa.doc_id = ia
WHERE round(c * 1.0 / sa.n, 4) >= {CONT_FRAC_T}
"""


EMB_DECONTAM_T = 0.35    # semantic contamination threshold
EMB_LEAK_MOD = 3         # eval vecs with vec_id % 3 == 1 leak into the corpus
EMB_LEAK_OFFSET = 6_000_000
EMB_LEAK_SHIFT = 0.02    # element-wise shift applied to the leaked copy


def _emb_corpus_and_eval(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """Split embeddings into (corpus ∪ planted leaks, eval).  Leaks are
    element-shifted copies of every 3rd eval vector (id+6e6) — near-1.0
    cosine to their source, the semantic analog of the planted prefix
    leaks the text decontam queries use.  Elements are cast to DOUBLE
    BEFORE the shift so the arithmetic is IEEE-double in both engines."""
    e = _embeddings(spark, sf_dir).select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    ev = e.filter(F.col("vec_id") % EVAL_MOD == EVAL_RESIDUE)
    base = e.filter(F.col("vec_id") % EVAL_MOD != EVAL_RESIDUE)
    leaked = ev.filter(F.col("vec_id") % EMB_LEAK_MOD == 1).select(
        (F.col("vec_id") + EMB_LEAK_OFFSET).alias("vec_id"),
        F.transform(
            "embedding", lambda x: x + F.lit(EMB_LEAK_SHIFT)
        ).alias("embedding"),
    )
    return base.unionByName(leaked), ev


def q_embedding_decontam_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEMANTIC decontamination
    (operators.decontaminate.embedding_contamination_hits): corpus
    vectors whose cosine to any eval vector clears the threshold, with
    the best-matching eval id — catches rewrites/translations sharing
    no n-gram, and re-recorded readings of eval prompts no PCM or frame
    hash can see.  The eval matrix is a bounded broadcast-style collect
    (the semdedup seed contract); the corpus streams through ONE
    mapInPandas BLAS pass — zero shuffle (plan-pinned)."""
    from file_dedup_rust_spark.operators.decontaminate import (
        embedding_contamination_hits,
    )

    corpus, ev = _emb_corpus_and_eval(spark, sf_dir)
    return embedding_contamination_hits(corpus, ev, EMB_DECONTAM_T)


SQL_EMBEDDING_DECONTAM_HITS = f"""
WITH base AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
ev AS (SELECT vec_id, v FROM base WHERE vec_id % {EVAL_MOD} = {EVAL_RESIDUE}),
corpus AS (
  SELECT vec_id, v FROM base WHERE vec_id % {EVAL_MOD} != {EVAL_RESIDUE}
  UNION ALL
  SELECT vec_id + {EMB_LEAK_OFFSET},
         list_transform(v, x -> x + {EMB_LEAK_SHIFT})
  FROM ev WHERE vec_id % {EMB_LEAK_MOD} = 1
),
celems AS (
  SELECT vec_id, i, v[i] AS x
  FROM corpus, unnest(generate_series(1, len(v))) AS u(i)
),
eelems AS (
  SELECT vec_id, i, v[i] AS x
  FROM ev, unnest(generate_series(1, len(v))) AS u(i)
),
cn AS (SELECT vec_id, sqrt(sum(x * x)) AS n FROM celems GROUP BY 1),
en AS (SELECT vec_id, sqrt(sum(x * x)) AS n FROM eelems GROUP BY 1),
dots AS (
  SELECT c.vec_id AS cid, e.vec_id AS eid, sum(c.x * e.x) AS dot
  FROM celems c JOIN eelems e ON c.i = e.i
  GROUP BY 1, 2
),
sims AS (
  SELECT cid, eid, round(dot / (cn.n * en.n), 4) AS sim
  FROM dots JOIN cn ON cn.vec_id = cid JOIN en ON en.vec_id = eid
),
best AS (
  SELECT cid, eid, sim,
         row_number() OVER (PARTITION BY cid
                            ORDER BY sim DESC, eid ASC) AS rn
  FROM sims
)
SELECT cid AS vec_id, eid AS best_eval_id, sim
FROM best WHERE rn = 1 AND sim >= {EMB_DECONTAM_T}
"""


def q_contam_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contamination ATTRIBUTION: the per-source rollup of
    decontam_hits — which ingestion source is leaking eval data, at
    what rate, with how many gram hits.  The report a pipeline owner
    reads to decide which feed to quarantine (per-doc hits alone don't
    say WHERE the leak enters).  Planted leaks carry source='leaked'
    so the attribution is verifiable; zero-hit sources still appear
    (LEFT join) — absence of contamination is part of the report.

    Plan shape: the decontam probe is unchanged (broadcast eval grams,
    corpus streamed); the rollup adds one LEFT join against the
    bounded hits table and one groupBy on source — both tiny next to
    the gram join at any scale."""
    from file_dedup_rust_spark.operators.decontaminate import (
        contamination_hits,
    )

    d = _docs(spark, sf_dir).select(
        "doc_id", F.lower(F.coalesce("text", F.lit(""))).alias("t"), "source"
    )
    ev = d.filter(F.col("doc_id") % EVAL_MOD == EVAL_RESIDUE).select(
        "doc_id", "t"
    )
    leaks = (
        d.filter(F.col("doc_id") % EVAL_MOD == EVAL_RESIDUE)
        .filter(F.col("doc_id") % CONTAM_MOD == 1)
        .select(
            (F.col("doc_id") + CONTAM_ID_OFFSET).alias("doc_id"),
            _decontam_prefix().alias("t"),
            F.lit("leaked").alias("source"),
        )
    )
    train = d.filter(F.col("doc_id") % EVAL_MOD != EVAL_RESIDUE).unionByName(
        leaks
    )
    hits = contamination_hits(train.select("doc_id", "t"), ev, DECONTAM_N)
    per_doc = train.select("doc_id", "source").join(hits, "doc_id", "left")
    return per_doc.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.count("n_gram_hits").alias("n_contaminated"),
        round_dd(
            F.count("n_gram_hits") * 100.0 / F.count("*"), 4
        ).alias("contam_pct"),
        F.coalesce(F.sum("n_gram_hits"), F.lit(0))
        .cast("long")
        .alias("total_gram_hits"),
    )


SQL_CONTAM_BY_SOURCE = f"""
WITH docs_t AS (
  SELECT doc_id, lower(coalesce(text, '')) AS t, source FROM documents
),
evalset AS (
  SELECT doc_id, t FROM docs_t WHERE doc_id % {EVAL_MOD} = {EVAL_RESIDUE}
),
train AS (
  SELECT doc_id, t, source FROM docs_t
  WHERE doc_id % {EVAL_MOD} != {EVAL_RESIDUE}
  UNION ALL
  SELECT doc_id + {CONTAM_ID_OFFSET},
         array_to_string(
           w[1:greatest(CAST(floor(len(w) * 3 / 5) AS INT), {DECONTAM_N})], ' '),
         'leaked'
  FROM (SELECT doc_id, string_split(t, ' ') AS w FROM evalset
        WHERE doc_id % {CONTAM_MOD} = 1)
),
tg AS ({_sql_ngrams('train', DECONTAM_N)}),
eg AS ({_sql_ngrams('evalset', DECONTAM_N)}),
hits AS (
  SELECT t.doc_id, count(DISTINCT t.g) AS n_gram_hits
  FROM tg t JOIN eg e ON e.g = t.g
  GROUP BY 1
)
SELECT source, count(*) AS n_docs,
       count(h.doc_id) AS n_contaminated,
       round(count(h.doc_id) * 100.0 / count(*), 4) AS contam_pct,
       CAST(coalesce(sum(h.n_gram_hits), 0) AS BIGINT) AS total_gram_hits
FROM train LEFT JOIN hits h USING (doc_id)
GROUP BY 1
"""


DRIFT_BUCKET = 100   # ingestion-window width (docs per bucket by doc_id)


def q_dup_rate_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dup-rate DRIFT monitor: per ingestion window (doc_id bucket of
    {DRIFT_BUCKET}), how many arriving docs were first occurrences of
    their content vs re-uploads of something already seen (global
    first-seen = min doc_id per content hash).  A crawl that starts
    re-fetching old pages shows up as a dup_pct step — the time-series
    a pipeline owner alarms on; the planted copies (id+1e6) land in
    late buckets at 100%.

    Plan shape: partial-agg min per xxhash64(t) key + join back (8-byte
    keys; the groupBy-not-window choice is the duplication_weights
    hot-key rule — a 1 B-copy boilerplate key map-side-combines to one
    partial row per task instead of one task sorting 1 B rows), then
    one bounded groupBy on the bucket — never a global row_number,
    never a single-partition window."""
    c = corpus_exact(spark, sf_dir)
    keyed = c.select("doc_id", F.xxhash64("t").alias("k"))
    mins = keyed.groupBy("k").agg(F.min("doc_id").alias("first_id"))
    firsts = keyed.join(mins, "k")
    return (
        firsts.groupBy(
            F.floor(F.col("doc_id") / DRIFT_BUCKET).alias("bucket")
        )
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(
                (F.col("doc_id") == F.col("first_id")).cast("long")
            ).alias("n_new"),
        )
        .select(
            "bucket",
            "n_docs",
            "n_new",
            round_dd(
                (F.col("n_docs") - F.col("n_new")) * 100.0 / F.col("n_docs"),
                4,
            ).alias("dup_pct"),
        )
    )


SQL_DUP_RATE_DRIFT = f"""
WITH {SQL_CORPUS_EXACT},
firsts AS (
  SELECT doc_id, min(doc_id) OVER (PARTITION BY t) AS first_id
  FROM corpus
)
SELECT CAST(floor(doc_id / {DRIFT_BUCKET}) AS BIGINT) AS bucket,
       count(*) AS n_docs,
       CAST(sum(CASE WHEN doc_id = first_id THEN 1 ELSE 0 END) AS BIGINT)
         AS n_new,
       round((count(*) - sum(CASE WHEN doc_id = first_id THEN 1 ELSE 0 END))
             * 100.0 / count(*), 4) AS dup_pct
FROM firsts
GROUP BY 1
"""


SKETCH_K = 64   # corpus-sketch lanes; std(est) = sqrt(p(1-p)/64)


def q_source_jaccard_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level MinHash overlap ESTIMATION
    (operators.corpus_sketch): each source reduces to a 64-lane
    signature (lexicographic min of md5 lane hashes over its distinct
    texts) and every source pair's Jaccard is estimated as the
    agreeing-lane fraction — the scale path where the exact
    source_overlap_matrix join is unaffordable (two 10-TB crawls never
    shuffle against each other; adding a source never reprocesses the
    rest).  Same planted mirror vendor as the exact matrix.  The lane
    hash is md5 + string min — bit-identical in both engines, so the
    ESTIMATE itself is the oracle surface (not just its expectation);
    tests/test_soft_weights_bow.py additionally gates the estimator's
    error against a controlled 0.5-overlap pair."""
    from file_dedup_rust_spark.operators.corpus_sketch import (
        sketch_jaccard,
        source_minhash_sketch,
    )

    d = _docs(spark, sf_dir).select(
        F.lower(F.coalesce("text", F.lit(""))).alias("t"), "source"
    )
    mirror = (
        _docs(spark, sf_dir)
        .filter(F.col("doc_id") % EXACT_COPY_MOD == 0)
        .select(
            F.lower(F.coalesce("text", F.lit(""))).alias("t"),
            F.lit("mirror").alias("source"),
        )
    )
    corpus = d.unionByName(mirror)
    return sketch_jaccard(
        source_minhash_sketch(corpus, SKETCH_K), SKETCH_K
    )


SQL_SOURCE_JACCARD_SKETCH = f"""
WITH corpus AS (
  SELECT lower(coalesce(text, '')) AS t, source FROM documents
  UNION ALL
  SELECT lower(coalesce(text, '')), 'mirror'
  FROM documents WHERE doc_id % {EXACT_COPY_MOD} = 0
),
dt AS (SELECT DISTINCT source, t FROM corpus),
sigs AS (
  SELECT source, lane,
         min(md5(CAST(lane AS VARCHAR) || ':' || t)) AS sig
  FROM dt, unnest(generate_series(0, {SKETCH_K - 1})) AS u(lane)
  GROUP BY 1, 2
)
SELECT a.source AS src_a, b.source AS src_b,
       CAST(sum(CASE WHEN a.sig = b.sig THEN 1 ELSE 0 END) AS BIGINT)
         AS agree_lanes,
       round(sum(CASE WHEN a.sig = b.sig THEN 1 ELSE 0 END)
             / {SKETCH_K}.0, 4) AS jacc_est
FROM sigs a JOIN sigs b ON a.lane = b.lane AND a.source < b.source
GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# cross-modal audits: the text tier and the embedding tier disagree in
# two useful directions — semantic-near / lexically-far pairs are
# paraphrase candidates (contrastive positives / augmentation), and
# lexically-near / embedding-far pairs expose stale or mismatched
# embeddings (the re-embed queue)
# ---------------------------------------------------------------------------

PARA_JACCARD_MAX = 0.5   # below this, a semantic-near pair reads as a paraphrase
STALE_COSINE_MAX = COSINE_T   # lexical-dup pairs whose vectors disagree


def q_paraphrase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paraphrase mining: embedding-near (cosine >= COSINE_T) pairs
    whose word-3-gram Jaccard is < PARA_JACCARD_MAX — same meaning,
    different words.  These are exactly the pairs SemDeDup prunes but
    a contrastive / augmentation pipeline wants to KEEP as positives,
    so the op is the flip side of semdedup_prune.

    Scale shape: the semantic tier's pair output bounds ALL lexical
    work — the shingle table is semi-join-pruned to candidate ids
    before its posting join, and the exact-Jaccard verify touches
    candidate pairs only (never all-pairs text).  At 100 TB the
    semantic side is the LSH-cosine / IVF path
    (operators.cosine.hyperplane-LSH); here it is the exact blocked
    matmul so brute-force SQL is the oracle.  Pairs sharing zero
    shingles keep jac = 0.0 (left join + coalesce); degenerate
    empty-text pairs (no shingles on either side) are treated as
    lexically identical and excluded."""
    # the semantic pair table is read by the candidate-id semi-join,
    # the intersection join, and the final output join — materialize
    # the (expensive) cosine tier once
    sem = _neardup_cosine_pairs(spark, sf_dir).localCheckpoint(
        eager=True
    )   # (ia, ib, sim)
    sh = shingles(docs_corpus(spark, sf_dir))
    cand_ids = (
        sem.select(F.col("ia").alias("doc_id"))
        .union(sem.select(F.col("ib").alias("doc_id")))
        .distinct()
    )
    # candidate-pruned gram table feeds sizes + both verify sides;
    # grams cross as 8-byte xxhash64 values (engine-wide convention)
    shc = (
        sh.join(cand_ids, "doc_id", "left_semi")
        .select("doc_id", F.xxhash64("g").alias("gh"))
        .localCheckpoint(eager=True)
    )
    sizes = shc.groupBy("doc_id").agg(F.count("*").alias("n"))
    inter = (
        sem.select("ia", "ib")
        .join(shc.select(F.col("doc_id").alias("ia"), "gh"), "ia")
        .join(shc.select(F.col("doc_id").alias("ib"), "gh"), ["ib", "gh"])
        .groupBy("ia", "ib")
        .agg(F.count("*").alias("c"))
    )
    c0 = F.coalesce(F.col("c"), F.lit(0).cast("long"))
    denom = (
        F.coalesce(F.col("na"), F.lit(0).cast("long"))
        + F.coalesce(F.col("nb"), F.lit(0).cast("long"))
        - c0
    )
    jac = round_dd(F.when(denom > 0, c0 / denom), 4)
    return (
        sem.join(inter, ["ia", "ib"], "left")
        .join(
            sizes.select(F.col("doc_id").alias("ia"), F.col("n").alias("na")),
            "ia",
            "left",
        )
        .join(
            sizes.select(F.col("doc_id").alias("ib"), F.col("n").alias("nb")),
            "ib",
            "left",
        )
        .filter(F.coalesce(jac, F.lit(1.0)) < PARA_JACCARD_MAX)
        .select("ia", "ib", "sim", jac.alias("jac"))
    )


SQL_PARAPHRASE_PAIRS = f"""
WITH {SQL_COSINE_PAIRS},
sem AS (SELECT ia, ib, sim FROM pairs WHERE sim >= {COSINE_T}),
{_sql_shingles(SQL_DOCS_CORPUS)},
inter AS (
  SELECT s.ia, s.ib, count(*) AS c
  FROM sem s
  JOIN sh a ON a.doc_id = s.ia
  JOIN sh b ON b.doc_id = s.ib AND b.g = a.g
  GROUP BY 1, 2
),
jacs AS (
  SELECT s.ia, s.ib, s.sim,
         round(CASE WHEN coalesce(sa.n, 0) + coalesce(sb.n, 0)
                         - coalesce(i.c, 0) > 0
               THEN coalesce(i.c, 0) * 1.0
                    / (coalesce(sa.n, 0) + coalesce(sb.n, 0)
                       - coalesce(i.c, 0))
               END, 4) AS jac
  FROM sem s
  LEFT JOIN inter i ON i.ia = s.ia AND i.ib = s.ib
  LEFT JOIN sz sa ON sa.doc_id = s.ia
  LEFT JOIN sz sb ON sb.doc_id = s.ib
)
SELECT ia, ib, sim, jac FROM jacs
WHERE coalesce(jac, 1.0) < {PARA_JACCARD_MAX}
"""


def q_stale_embedding_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding drift audit: word-3-gram Jaccard >= JACCARD_T pairs
    whose embedding cosine is < STALE_COSINE_MAX — lexically the same
    document but vectors that disagree, i.e. stale or wrongly-attached
    embeddings.  Those rows silently poison SemDeDup (the dup never
    co-clusters) and ANN recall; in production this output is the
    re-embed queue.

    Scale shape: the lexical tier's verified pairs bound all vector
    work — one hash join per side fetches exactly two embeddings per
    pair, and the cosine is a zip_with/aggregate over that pair row in
    DOUBLE (no matmul, no all-pairs vector shuffle).  The reference's
    per-file flow recomputes embeddings on upload and can never see
    this class of drift
    (/root/reference/backend/src/worker/deduplication_service.rs:247-254);
    a batch corpus with separately-maintained embedding tables needs
    the audit."""
    lex = jaccard_pairs(shingles(docs_corpus(spark, sf_dir)), JACCARD_T)
    e = _embeddings(spark, sf_dir).select("vec_id", "embedding")

    def _dvec(col: str):
        return F.transform(col, lambda x: x.cast("double"))

    def _nrm(col: str):
        return F.sqrt(
            F.aggregate(
                F.transform(col, lambda x: x * x),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        )

    ea = e.select(F.col("vec_id").alias("ia"), _dvec("embedding").alias("va"))
    eb = e.select(F.col("vec_id").alias("ib"), _dvec("embedding").alias("vb"))
    dot = F.aggregate(
        F.zip_with("va", "vb", lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    sim = round_dd(dot / (_nrm("va") * _nrm("vb")), 4)
    return (
        lex.join(ea, "ia")
        .join(eb, "ib")
        .filter(sim < STALE_COSINE_MAX)
        .select("ia", "ib", "jac", sim.alias("sim"))
    )


SQL_STALE_EMBEDDING_PAIRS = f"""
WITH {_sql_shingles(SQL_DOCS_CORPUS)},
{SQL_JACCARD_PAIRS},
lex AS (SELECT ia, ib, jac FROM jpairs WHERE jac >= {JACCARD_T}),
elems AS (
  SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS x
  FROM embeddings, unnest(generate_series(1, len(embedding))) AS u(i)
),
nrm AS (SELECT vec_id, sqrt(sum(x * x)) AS n FROM elems GROUP BY 1),
dots AS (
  SELECT l.ia, l.ib, sum(a.x * b.x) AS dot
  FROM lex l
  JOIN elems a ON a.vec_id = l.ia
  JOIN elems b ON b.vec_id = l.ib AND b.i = a.i
  GROUP BY 1, 2
)
SELECT l.ia, l.ib, l.jac, round(d.dot / (sa.n * sb.n), 4) AS sim
FROM lex l
JOIN dots d ON d.ia = l.ia AND d.ib = l.ib
JOIN nrm sa ON sa.vec_id = l.ia
JOIN nrm sb ON sb.vec_id = l.ib
WHERE round(d.dot / (sa.n * sb.n), 4) < {STALE_COSINE_MAX}
"""


# ---------------------------------------------------------------------------
# DSIR importance weighting (Xie et al. 2023) — score every raw doc by
# how target-like its n-gram features are.  The target slice here is a
# deterministic doc_id stratum (every 7th doc); in production it is the
# high-quality corpus you want more of (e.g. Wikipedia vs Common
# Crawl).  Selection by weight is composed downstream from
# token_budget_select / stratified_sample.
# ---------------------------------------------------------------------------

DSIR_TGT_MOD = 7  # docs with doc_id % 7 == 1 form the target slice


def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc DSIR log importance ratio of the raw slice vs the
    target slice (mean over unigram+bigram feature occurrences of
    ln p_tgt(f) - ln p_raw(f), add-1 smoothed over the union vocab).

    Plan shape (see operators/dsir.py): one JVM gram projection, two
    map-side partially-aggregated censuses on 8-byte xxhash64 keys, a
    vocabulary-sized (NOT corpus-sized) log-ratio table joined back on
    the hash, totals broadcast as a 1-row literal.  No window, no
    Python, no strings through any exchange; `n_buckets` (unused here
    so the oracle is exact) pins the ratio table to constant size at
    100 TB."""
    from file_dedup_rust_spark.operators.dsir import (
        dsir_log_ratios,
        ngram_features,
    )

    feats = ngram_features(docs_corpus(spark, sf_dir))
    return dsir_log_ratios(
        feats, F.col("doc_id") % DSIR_TGT_MOD == 1
    )


SQL_DSIR_WEIGHTS = f"""
WITH corpus AS (
  SELECT doc_id, lower(coalesce(text, '')) AS t FROM documents
),
wd AS (SELECT doc_id, string_split(t, ' ') AS w FROM corpus),
feats AS (
  SELECT doc_id, u.x AS f FROM wd, unnest(w) AS u(x)
  UNION ALL
  SELECT doc_id, w[i-1] || ' ' || w[i] AS f
  FROM wd, unnest(generate_series(2, len(w))) AS g(i)
),
tgt AS (SELECT f, count(*) AS ct FROM feats
        WHERE doc_id % {DSIR_TGT_MOD} = 1 GROUP BY 1),
raw AS (SELECT f, count(*) AS cr FROM feats
        WHERE doc_id % {DSIR_TGT_MOD} <> 1 GROUP BY 1),
vocab AS (
  SELECT coalesce(tgt.f, raw.f) AS f,
         coalesce(ct, 0) AS ct, coalesce(cr, 0) AS cr
  FROM tgt FULL OUTER JOIN raw ON tgt.f = raw.f
),
tots AS (SELECT sum(ct) AS tt, sum(cr) AS tr, count(*) AS v FROM vocab)
SELECT feats.doc_id,
       CAST(count(*) AS INT) AS n_feats,
       round(avg(ln(ct + 1) - ln(tt + v) - ln(cr + 1) + ln(tr + v)), 4)
         AS dsir_logratio
FROM feats JOIN vocab USING (f) CROSS JOIN tots
WHERE feats.doc_id % {DSIR_TGT_MOD} <> 1
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# UniMax language-budget allocation (Chung et al. 2023, ICLR) — the
# third mixture rule beside mixture_weights (DoReMi-style targets) and
# temperature_mix (XLM-R alpha-sampling): spread the training budget
# UNIFORMLY across languages, but cap every language at E epochs of
# its available tokens and water-fill the leftover into the uncapped
# (high-resource) languages.  Closed form once languages are sorted by
# cap: the capped set is a prefix of the ascending order (if
# cap_i >= remaining/slots then cap_{i+1} >= remaining'/slots' too), so
# one cumulative-sum window over the LANGUAGE CENSUS — bounded rows,
# never the corpus — decides capped/uncapped, and one tiny aggregate
# redistributes.
# ---------------------------------------------------------------------------

UNIMAX_EPOCHS = 2         # per-language epoch ceiling E
UNIMAX_BUDGET_FRAC = 1.5  # training budget B = floor(1.5 * corpus tokens)


def q_unimax_alloc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language UniMax token allocation (n_tokens available,
    alloc_tokens granted, epochs = alloc/available).

    Plan shape: ONE corpus-wide shuffle (the per-language token
    census, map-side partially aggregated); everything after runs on
    the bounded language table — the row_number/cumsum window is over
    |langs| rows, totals and the capped-prefix aggregate broadcast as
    1-row literals.  All comparisons are exact integer-in-double
    arithmetic; the only float division is the final share, rounded on
    both sides."""
    from file_dedup_rust_spark.functions.sampling import unimax_allocation

    toks = _docs(spark, sf_dir).select(
        F.coalesce("lang", F.lit("und")).alias("lang"),
        F.size(F.split(F.lower(F.coalesce("text", F.lit(""))), " ")).alias("n"),
    )
    census = toks.groupBy("lang").agg(F.sum("n").alias("tok"))
    return unimax_allocation(
        census, "lang", "tok", UNIMAX_EPOCHS, UNIMAX_BUDGET_FRAC
    )


SQL_UNIMAX_ALLOC = f"""
WITH toks AS (
  SELECT coalesce(lang, 'und') AS lang,
         len(string_split(lower(coalesce(text, '')), ' ')) AS n
  FROM documents
),
census AS (SELECT lang, sum(n) AS tok FROM toks GROUP BY 1),
tots AS (SELECT sum(tok) AS tt, count(*) AS nl FROM census),
t AS (
  SELECT lang, tok, nl,
         CAST(tok * {UNIMAX_EPOCHS} AS DOUBLE) AS cap,
         CAST(floor(tt * {UNIMAX_BUDGET_FRAC}) AS DOUBLE) AS b,
         row_number() OVER
           (ORDER BY CAST(tok * {UNIMAX_EPOCHS} AS DOUBLE), lang) AS i,
         coalesce(sum(CAST(tok * {UNIMAX_EPOCHS} AS DOUBLE)) OVER
           (ORDER BY CAST(tok * {UNIMAX_EPOCHS} AS DOUBLE), lang
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pref
  FROM census CROSS JOIN tots
),
t2 AS (SELECT *, cap * (nl - i + 1) < (b - pref) AS capped FROM t),
caggs AS (
  SELECT sum(CASE WHEN capped THEN cap ELSE 0 END) AS csum,
         sum(CASE WHEN capped THEN 1 ELSE 0 END) AS ncap
  FROM t2
)
SELECT lang,
       CAST(tok AS BIGINT) AS n_tokens,
       round(CASE WHEN capped THEN cap
                  ELSE (b - csum) / (nl - ncap) END, 4) AS alloc_tokens,
       round(round(CASE WHEN capped THEN cap
                        ELSE (b - csum) / (nl - ncap) END, 4) / tok, 4)
         AS epochs
FROM t2 CROSS JOIN caggs
"""


def q_dsir_selected(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Close the DSIR loop: admit raw docs in descending importance
    order until half the raw slice's tokens are spent — the paper's
    resampling step under the engine's deterministic rank-prefix
    budget rule (same relaxation as token_budget_select, same SQL
    oracle semantics).

    Scale shape: the DSIR scoring plan (see q_dsir_weights) feeds the
    two-pass distributed prefix sum ordered by (-score, doc_id) — no
    single-task global window; n_tok falls out of n_feats for free
    (unigrams n + bigrams n-1 = 2n-1 features, so n = (n_feats+1)/2 —
    no second corpus scan); the ordering key is the ROUNDED score
    scaled to an integer, so the scan order is exactly the oracle's
    ORDER BY and float summation noise cannot flip ranks."""
    from file_dedup_rust_spark.operators.packing import exclusive_prefix_sum

    scores = (
        q_dsir_weights(spark, sf_dir)
        .select(
            "doc_id",
            ((F.col("n_feats") + 1) / 2).cast("long").alias("n_tok"),
            "dsir_logratio",
        )
        .persist()
    )
    budget = int(scores.agg(F.sum("n_tok")).first()[0] or 0) // 2
    p = exclusive_prefix_sum(
        scores.withColumn(
            "_ord",
            round_dd(F.col("dsir_logratio") * -10000, 0).cast("long"),
        ),
        "doc_id",
        "n_tok",
        order_col="_ord",
    )
    return p.filter(
        F.col("_prefix") + F.col("n_tok") <= F.lit(budget)
    ).select(
        "doc_id", "n_tok", "dsir_logratio",
        F.col("_prefix").alias("tok_before"),
    )


SQL_DSIR_SELECTED = f"""
WITH sc AS (
  SELECT doc_id,
         CAST((n_feats + 1) / 2 AS BIGINT) AS n_tok,
         dsir_logratio
  FROM ({SQL_DSIR_WEIGHTS}) AS dsir
),
c AS (
  SELECT doc_id, n_tok, dsir_logratio,
         CAST(coalesce(SUM(n_tok) OVER (
           ORDER BY dsir_logratio DESC, doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS BIGINT) AS tok_before
  FROM sc
)
SELECT doc_id, n_tok, dsir_logratio, tok_before
FROM c
WHERE tok_before + n_tok <= (SELECT sum(n_tok) // 2 FROM sc)
"""


# ---------------------------------------------------------------------------
# Fixed-block chunk-store savings — the storage view of dedup (what a
# block-level store keeps), the SQL-expressible analog of the Gear CDC
# tier in operators/cdc.py.  Runs over the tiered corpus (exact copies
# share every block; 60%-prefix copies share their aligned prefix
# blocks), so the savings number decomposes exactly into the planted
# structure.  CDC itself has data-dependent boundaries (not SQL);
# tests/test_cdc.py pins its shift-robustness advantage over this
# fixed-block rule.
# ---------------------------------------------------------------------------

CHUNK_BLOCK = 32  # fixed block size (chars == bytes on this corpus)


def q_chunk_dedup_savings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row chunk-store accounting under fixed-size blocking:
    blocks stored with vs without dedup.

    Plan shape: one sequence/explode projection (JVM), md5 inside the
    same codegen pass, ONE groupBy on the 16-byte digest, two
    map-side-combined aggregates joined as broadcast 1-row literals.
    Linear in corpus bytes; no strings longer than a block through any
    exchange."""
    from file_dedup_rust_spark.operators.cdc import cdc_savings

    c = corpus_tiered(spark, sf_dir)
    blk = F.expr(f"substring(t, (i-1)*{CHUNK_BLOCK}+1, {CHUNK_BLOCK})")
    blocks = c.select(
        F.explode(
            F.sequence(
                F.lit(1),
                F.greatest(
                    F.ceil(F.length("t") / CHUNK_BLOCK).cast("int"), F.lit(1)
                ),
            )
        ).alias("i"),
        "t",
    ).select(F.md5(blk).alias("chunk_sha"), F.length(blk).alias("n_bytes"))
    # one shared savings-accounting implementation with the CDC tier
    return cdc_savings(blocks).select(
        F.col("n_chunks").alias("n_blocks"),
        F.col("n_unique_chunks").alias("n_unique_blocks"),
        "total_bytes",
        "unique_bytes",
        "savings_pct",
    )


SQL_CHUNK_DEDUP_SAVINGS = f"""
WITH corpus AS (
  SELECT doc_id, lower(coalesce(text, '')) AS t FROM documents
  UNION ALL
  SELECT doc_id + {EXACT_ID_OFFSET}, lower(coalesce(text, ''))
  FROM documents WHERE doc_id % {EXACT_COPY_MOD} = 0
  UNION ALL
  SELECT doc_id + {TRUNC_ID_OFFSET},
         array_to_string(
           (string_split(lower(coalesce(text, '')), ' '))[
             1 : greatest(CAST(floor(len(string_split(lower(coalesce(text, '')), ' ')) * 3 / 5) AS INT), 1)
           ], ' ')
  FROM documents WHERE doc_id % {TRUNC_COPY_MOD} = 0
),
blocks AS (
  SELECT md5(substring(t, (i - 1) * {CHUNK_BLOCK} + 1, {CHUNK_BLOCK})) AS bh,
         len(substring(t, (i - 1) * {CHUNK_BLOCK} + 1, {CHUNK_BLOCK})) AS bl
  FROM corpus,
       unnest(generate_series(
         1, greatest(CAST(ceil(len(t) / {CHUNK_BLOCK}.0) AS INT), 1)
       )) AS g(i)
),
tot AS (SELECT count(*) AS n_blocks, sum(bl) AS total_bytes FROM blocks),
uniq AS (
  SELECT count(*) AS n_unique_blocks, sum(bl) AS unique_bytes
  FROM (SELECT bh, min(bl) AS bl FROM blocks GROUP BY 1)
)
SELECT n_blocks, n_unique_blocks, total_bytes, unique_bytes,
       round((1 - unique_bytes / CAST(total_bytes AS DOUBLE)) * 100, 4)
         AS savings_pct
FROM tot CROSS JOIN uniq
"""


# ---------------------------------------------------------------------------
# HLL distinct-count sketch — per-source distinct transcripts WITHOUT
# shuffling the distinct set (operators/corpus_sketch.py::
# hll_distinct_by).  Like the MinHash source sketch, the md5-hex
# derivation makes the ESTIMATE itself bit-identical in both engines,
# so the sketch — not just its expectation — is the oracle surface.
# ---------------------------------------------------------------------------


def q_hll_distinct_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source (n_exact, hll_estimate, rel_err).  Scale shape: the
    register groupBy carries at most 256 rows per source through the
    shuffle — never texts; the exact count rides along for the report
    and is what you DROP at 100 TB."""
    from file_dedup_rust_spark.operators.corpus_sketch import (
        hll_distinct_by,
    )

    d = _docs(spark, sf_dir).select(
        "source", F.lower(F.coalesce("text", F.lit(""))).alias("t")
    )
    return hll_distinct_by(d, "source", "t")


def _sql_hll_alpha_mm() -> str:
    from file_dedup_rust_spark.operators.corpus_sketch import HLL_ALPHA_MM

    return repr(HLL_ALPHA_MM)


SQL_HLL_DISTINCT_BY_SOURCE = f"""
WITH d AS (
  SELECT source AS g,
         md5(lower(coalesce(text, ''))) AS h,
         lower(coalesce(text, '')) AS t
  FROM documents
),
r AS (
  SELECT g, substring(h, 1, 2) AS b,
         len(regexp_extract(substring(h, 3, 30), '^0*')) * 4 +
         CASE substring(
                regexp_replace(substring(h, 3, 30), '^0*', '') || '1', 1, 1)
           WHEN '1' THEN 3 WHEN '2' THEN 2 WHEN '3' THEN 2
           WHEN '4' THEN 1 WHEN '5' THEN 1 WHEN '6' THEN 1 WHEN '7' THEN 1
           ELSE 0 END + 1 AS rho
  FROM d
),
regs AS (SELECT g, b, max(rho) AS mr FROM r GROUP BY 1, 2),
est AS (
  -- standard small-range switch: raw harmonic estimate counts empty
  -- registers as 2^0 = 1 each; linear counting only while raw <= 2.5m
  SELECT g,
         round(CASE WHEN count(*) < 256
                     AND {_sql_hll_alpha_mm()}
                         / (sum(power(2.0, -mr)) + (256 - count(*)))
                         <= 640.0
                    THEN 256 * ln(256.0 / (256 - count(*)))
                    ELSE {_sql_hll_alpha_mm()}
                         / (sum(power(2.0, -mr)) + (256 - count(*))) END,
               2) AS hll_estimate
  FROM regs GROUP BY 1
),
ex AS (SELECT g, count(DISTINCT t) AS n_exact FROM d GROUP BY 1)
SELECT ex.g AS source, n_exact, hll_estimate,
       round(abs(hll_estimate - n_exact) / n_exact, 4) AS rel_err
FROM ex JOIN est USING (g)
"""


# ---------------------------------------------------------------------------
# Winnowing fingerprints (Schleimer, Wilkerson & Aiken, SIGMOD 2003) —
# the MOSS local fingerprinting tier: min-hash-per-window with
# rightmost tie-break gives a GUARANTEE (every shared run of
# >= w + k - 1 tokens yields a shared fingerprint) at ~2/(w+1) of the
# full gram posting volume — the middle ground between the exact
# every-gram join and the probabilistic MinHash sample.  Both the
# selected SET (via a sorted checksum) and the match pairs are
# oracle-checked; see operators/winnowing.py for the cross-engine
# determinism argument (md5-hex sort keys, identical frame clipping).
# ---------------------------------------------------------------------------

def q_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc winnowing fingerprint census over the planted-copy
    corpus: (doc_id, n_grams, n_fps, density, fp_checksum).  The
    checksum is md5 over the ','-joined sorted selected keys, so the
    oracle verifies the fingerprint SET bit-for-bit, not just its
    size.  One shuffle: the per-doc window exchange, reused by the
    census groupBy."""
    from file_dedup_rust_spark.operators.winnowing import winnow_census

    return winnow_census(corpus_exact(spark, sf_dir).select("doc_id", "t"))


SQL_WINNOW_FINGERPRINTS = f"""
WITH {SQL_CORPUS_EXACT},
toks AS (SELECT doc_id, string_split(t, ' ') AS wd FROM corpus),
gpos AS (
  SELECT doc_id, len(wd) - 3 AS n_grams, i AS pos,
         md5(array_to_string(wd[i:i+3], ' ')) AS h
  FROM toks, unnest(generate_series(1, greatest(len(wd) - 3, 0))) AS u(i)
  WHERE len(wd) >= 4
),
keyed AS (
  SELECT doc_id, n_grams, pos,
         h || '#' || lpad(CAST(1000000000 - pos AS VARCHAR), 10, '0') AS sk
  FROM gpos
),
wm AS (
  SELECT doc_id, n_grams, pos,
         min(sk) OVER (PARTITION BY doc_id ORDER BY pos
                       ROWS BETWEEN CURRENT ROW AND 4 FOLLOWING) AS sel
  FROM keyed
),
picked AS (
  SELECT DISTINCT doc_id, n_grams, sel FROM wm
  WHERE pos <= greatest(n_grams - 4, 1)
)
SELECT doc_id, CAST(any_value(n_grams) AS BIGINT) AS n_grams,
       CAST(count(*) AS BIGINT) AS n_fps,
       round(count(*) * 1.0 / any_value(n_grams), 4) AS density,
       md5(string_agg(sel, ',' ORDER BY sel)) AS fp_checksum
FROM picked GROUP BY doc_id
"""


def q_winnow_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS-style match pairs from shared winnowing fingerprints:
    (doc_a, doc_b, shared_fps), df-capped (stop-fingerprint rule,
    mirrored in the oracle) with shared_fps >= 3.  Planted exact
    copies share their entire fingerprint set, so every
    (doc, doc + offset) pair appears; the guarantee catches any pair
    sharing 3 disjoint 8-token runs.  Engine joins on 8-byte
    xxhash64 keys; oracle on the md5 strings (dup_spans collision
    convention)."""
    from file_dedup_rust_spark.operators.winnowing import winnow_matches

    return winnow_matches(corpus_exact(spark, sf_dir).select("doc_id", "t"))


SQL_WINNOW_MATCHES = f"""
WITH {SQL_CORPUS_EXACT},
toks AS (SELECT doc_id, string_split(t, ' ') AS wd FROM corpus),
gpos AS (
  SELECT doc_id, len(wd) - 3 AS n_grams, i AS pos,
         md5(array_to_string(wd[i:i+3], ' ')) AS h
  FROM toks, unnest(generate_series(1, greatest(len(wd) - 3, 0))) AS u(i)
  WHERE len(wd) >= 4
),
keyed AS (
  SELECT doc_id, n_grams, pos,
         h || '#' || lpad(CAST(1000000000 - pos AS VARCHAR), 10, '0') AS sk
  FROM gpos
),
wm AS (
  SELECT doc_id, n_grams, pos,
         min(sk) OVER (PARTITION BY doc_id ORDER BY pos
                       ROWS BETWEEN CURRENT ROW AND 4 FOLLOWING) AS sel
  FROM keyed
),
fps AS (
  SELECT DISTINCT doc_id, substring(sel, 1, 32) AS h FROM wm
  WHERE pos <= greatest(n_grams - 4, 1)
),
ok AS (SELECT h FROM fps GROUP BY 1 HAVING count(*) <= 16)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(count(*) AS BIGINT) AS shared_fps
FROM fps a JOIN ok USING (h) JOIN fps b USING (h)
WHERE a.doc_id < b.doc_id
GROUP BY 1, 2
HAVING count(*) >= 3
"""


def q_allpairs_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same result set as q_ngram_jaccard_pairs, produced by the THIRD
    join strategy: AllPairs prefix filtering (Bayardo et al. WWW 2007,
    operators/allpairs.py) — exact output with a deterministic
    sub-linear pruning, completing the ladder every-gram (exact,
    expensive) / LSH (cheap, probabilistic) / prefix-filter (exact AND
    pruned, no miss probability).  Only each doc's rarest
    ~(1-t)*n + 1 grams enter the posting join; the prefix length is
    computed in exact integer arithmetic (IEEE ceil(0.8*55) = 45
    would silently break the completeness guarantee).  The oracle is
    the SAME exact-Jaccard SQL as the other two derivations."""
    from file_dedup_rust_spark.operators.allpairs import allpairs_jaccard_pairs

    return allpairs_jaccard_pairs(shingles(docs_corpus(spark, sf_dir)), 4, 5)


def q_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-time Bloom prefilter for the incremental new-vs-corpus
    probe: per arriving doc, (doc_id, bloom_hit, exact_hit).  bloom_hit
    comes from a partitioned Bloom sketch of the corpus
    (operators/corpus_sketch.py: 4 md5 lanes x 4096 hex-keyed buckets,
    mergeable, bounded state independent of corpus rows); exact_hit is
    the authoritative distinct-text join.  The sketch guarantees zero
    false negatives (bloom_hit >= exact_hit row-for-row — the hash
    match proves it, since the oracle recomputes both flags), so an
    ingest worker can discard bloom_hit=0 rows before the exact join
    ever runs; only true dups plus the measured false-positive trickle
    pay the join.  Scale shape: batch explodes x4, sketch side is
    bounded (broadcast at demo m, hash-join at production m), one
    partial-agg verdict per doc; the exact tier keys on the 8-byte
    content hash per the repo convention."""
    from file_dedup_rust_spark.operators.corpus_sketch import (
        bloom_bits,
        bloom_probe,
    )

    base = docs_corpus(spark, sf_dir)
    new = _new_batch(spark, sf_dir)
    bloom = bloom_probe(bloom_bits(base), new, "doc_id")
    base_k = base.select(F.xxhash64("t").alias("tk")).distinct()
    exact = (
        new.select("doc_id", F.xxhash64("t").alias("tk"))
        .join(base_k.withColumn("hit", F.lit(1)), "tk", "left")
        .select(
            "doc_id", F.coalesce("hit", F.lit(0)).cast("int").alias("exact_hit")
        )
    )
    return bloom.join(exact, "doc_id")


SQL_BLOOM_PREFILTER = f"""
WITH base AS (
  SELECT doc_id, lower(coalesce(text, '')) AS t FROM documents
),
newb AS (
  SELECT doc_id + {EXACT_ID_OFFSET} AS doc_id, t
  FROM base WHERE doc_id % {EXACT_COPY_MOD} = 0
  UNION ALL
  SELECT doc_id + {TRUNC_ID_OFFSET},
         array_to_string(
           w[1 : greatest(CAST(floor(len(w) * 3 / 5) AS INT), 1)], ' ')
  FROM (SELECT doc_id, string_split(t, ' ') AS w FROM base)
  WHERE doc_id % {TRUNC_COPY_MOD} = 0
  UNION ALL
  SELECT doc_id + {EDIT_ID_OFFSET},
         array_to_string(
           list_transform(generate_series(1, len(w)),
             i -> CASE WHEN (i-1) % 30 = 0 THEN 'zzz' ELSE w[i] END), ' ')
  FROM (SELECT doc_id, string_split(t, ' ') AS w FROM base)
  WHERE doc_id % {EDIT_COPY_MOD} = 3
  UNION ALL
  SELECT doc_id + {SCRAM_ID_OFFSET},
         array_to_string(list_reverse(string_split(t, ' ')), ' ')
  FROM base WHERE doc_id % {SCRAM_COPY_MOD} = 5
),
bits AS (
  SELECT DISTINCT lane,
         substring(md5(CAST(lane AS VARCHAR) || ':' || t), 1, 3) AS bkt
  FROM base, unnest([0, 1, 2, 3]) AS l(lane)
),
probes AS (
  SELECT doc_id, lane,
         substring(md5(CAST(lane AS VARCHAR) || ':' || t), 1, 3) AS bkt
  FROM newb, unnest([0, 1, 2, 3]) AS l(lane)
),
bloom AS (
  SELECT doc_id,
         CAST(CASE WHEN count(b.bkt) = 4 THEN 1 ELSE 0 END AS INT)
           AS bloom_hit
  FROM probes p LEFT JOIN bits b USING (lane, bkt)
  GROUP BY doc_id
),
bt AS (SELECT DISTINCT t FROM base),
exact AS (
  SELECT n.doc_id,
         CAST(CASE WHEN bt.t IS NULL THEN 0 ELSE 1 END AS INT) AS exact_hit
  FROM newb n LEFT JOIN bt ON n.t = bt.t
)
SELECT doc_id, bloom_hit, exact_hit FROM bloom JOIN exact USING (doc_id)
"""


def q_dedup_threshold_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup yield curve — the "pick your threshold" dashboard: for
    each Jaccard cutoff in [0.3 .. 0.9], (threshold, n_pairs,
    n_docs_flagged).  Answers what each notch of dedup aggressiveness
    would cost in flagged documents BEFORE committing a corpus-wide
    prune — the tuning companion to tier_dedup_summary's per-tier
    yield.  Scale shape: the exact pair set is computed ONCE at the
    loosest cutoff (the posting join is threshold-independent); the
    sweep is a 7-row literal explode over the pair table — a narrow
    map + two partial-agg groupBys, no re-scan per threshold.  At
    100 TB the pair base comes from the LSH/AllPairs candidate path
    (same result set, sub-quadratic), with the loosest cutoff bounding
    the band config."""
    sh = shingles(docs_corpus(spark, sf_dir))
    # the pair table is read by BOTH the pair count and the flagged-doc
    # count; materialize the posting join once (it is the whole cost)
    pairs = jaccard_pairs(sh, 0.3).localCheckpoint(eager=True)
    grid = F.explode(
        F.array(*[F.lit(t / 10.0) for t in range(3, 10)])
    ).alias("threshold")
    hit = (
        pairs.select("ia", "ib", "jac", grid)
        .filter(F.col("jac") >= F.col("threshold"))
    )
    n_pairs = hit.groupBy("threshold").agg(F.count("*").alias("n_pairs"))
    n_docs = (
        hit.select("threshold", F.explode(F.array("ia", "ib")).alias("d"))
        .distinct()
        .groupBy("threshold")
        .agg(F.count("*").alias("n_docs_flagged"))
    )
    return n_pairs.join(n_docs, "threshold")


SQL_DEDUP_THRESHOLD_CURVE = f"""
WITH {_sql_shingles(SQL_DOCS_CORPUS)},
{SQL_JACCARD_PAIRS},
base AS (SELECT ia, ib, jac FROM jpairs WHERE jac >= 0.3),
grid AS (SELECT CAST(t AS DOUBLE) AS threshold
         FROM unnest([0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS g(t)),
hit AS (
  SELECT threshold, ia, ib FROM base JOIN grid ON jac >= threshold
),
np AS (SELECT threshold, count(*) AS n_pairs FROM hit GROUP BY 1),
nd AS (
  SELECT threshold, count(*) AS n_docs_flagged FROM (
    SELECT DISTINCT threshold, d
    FROM hit, unnest([ia, ib]) AS u(d)
  ) GROUP BY 1
)
SELECT threshold, n_pairs, n_docs_flagged FROM np JOIN nd USING (threshold)
"""


def q_snm_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood near-dup pairs (operators/snm.py — the
    FOURTH candidate-generation family: merge/purge windowing after a
    two-pass canonical-key sort, candidates exactly n*w per pass, no
    posting skew, no caps) verified by exact shingle Jaccard at the
    standard threshold.  The oracle reproduces the windowing itself
    (row_number over the same two keys), so the hash match pins the
    DISTRIBUTED RANK — range repartition + per-partition row_number +
    broadcast offsets, never a single-partition window — against plain
    SQL row_number(), misses and all (SNM's sort-key blind spot is
    documented in the module; recall vs the exact pair set is pinned
    in tests/test_snm.py)."""
    from file_dedup_rust_spark.operators.snm import snm_candidates

    corpus = docs_corpus(spark, sf_dir)
    cand = snm_candidates(corpus)
    # sh feeds three subtrees with DIFFERENT join keys (sizes by
    # doc_id, verify sides by ia / (ib, gh)) — no exchange reuse
    # applies, so materialize the 16-byte hashed gram table once
    sh = shingles(corpus).select(
        "doc_id", F.xxhash64("g").alias("gh")
    ).localCheckpoint(eager=True)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    inter = (
        cand.join(sh.select(F.col("doc_id").alias("ia"), "gh"), "ia")
        .join(sh.select(F.col("doc_id").alias("ib"), "gh"), ["ib", "gh"])
        .groupBy("ia", "ib")
        .agg(F.count("*").alias("c"))
    )
    return (
        inter.join(sizes.select(F.col("doc_id").alias("ia"), F.col("n").alias("na")), "ia")
        .join(sizes.select(F.col("doc_id").alias("ib"), F.col("n").alias("nb")), "ib")
        .select(
            "ia",
            "ib",
            round_dd(F.col("c") / (F.col("na") + F.col("nb") - F.col("c")), 4)
            .alias("jac"),
        )
        .filter(F.col("jac") >= JACCARD_T)
    )


SQL_SNM_NEARDUP_PAIRS = f"""
WITH {_sql_shingles(SQL_DOCS_CORPUS)},
{SQL_JACCARD_PAIRS},
r1 AS (
  SELECT doc_id AS id,
         row_number() OVER (ORDER BY substring(t, 1, 24), doc_id) - 1 AS r
  FROM corpus
),
r2 AS (
  SELECT doc_id AS id,
         row_number() OVER (ORDER BY substring(reverse(t), 1, 24), doc_id)
           - 1 AS r
  FROM corpus
),
cand AS (
  SELECT least(a.id, b.id) AS ia, greatest(a.id, b.id) AS ib
  FROM r1 a JOIN r1 b ON b.r - a.r BETWEEN 1 AND 8
  UNION
  SELECT least(a.id, b.id), greatest(a.id, b.id)
  FROM r2 a JOIN r2 b ON b.r - a.r BETWEEN 1 AND 8
)
SELECT j.ia, j.ib, j.jac
FROM jpairs j JOIN cand USING (ia, ib)
WHERE j.jac >= {JACCARD_T}
"""


def q_user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization over the events table via Spark's
    NATIVE session_window operator (the same operator Structured
    Streaming uses for stateful session aggregation, so the SQL oracle
    pins its batch semantics): events of a user belong to one session
    while consecutive gaps stay under 30 minutes; a gap of exactly
    30:00.000000 starts a new session (session windows are
    end-exclusive).  Per user: session count, busiest session, and the
    longest session span in seconds (microsecond-exact arithmetic on
    both engines — the events table has sub-second timestamps, so a
    seconds-truncating oracle would disagree near the boundary).

    Scale shape: ONE hashpartitioning exchange on user_id feeds the
    session-window aggregation and the per-user rollup — gap logic
    runs inside the sort-based session agg, never a driver loop; at
    10^12 events this is the standard sessionize-then-rollup plan with
    map-side partial aggregation on the rollup."""
    e = _events(spark, sf_dir)
    per_session = (
        e.groupBy("user_id", F.session_window("ts", "30 minutes").alias("sw"))
        .agg(
            F.count("*").alias("n"),
            F.min("ts").alias("mn"),
            F.max("ts").alias("mx"),
        )
        .select(
            "user_id",
            "n",
            # timestampdiff handles TIMESTAMP_NTZ (unix_micros does not)
            (
                F.expr("timestampdiff(MICROSECOND, mn, mx)") / F.lit(1000000.0)
            ).alias("span_secs"),
        )
    )
    return per_session.groupBy("user_id").agg(
        F.count("*").alias("n_sessions"),
        F.max("n").alias("max_session_events"),
        F.max("span_secs").alias("max_session_secs"),
    )


SQL_USER_SESSIONS = """
WITH o AS (
  SELECT user_id, ts, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
              OR date_diff('microsecond', lag(ts) OVER w, ts)
                 >= 1800 * 1000000 THEN 1 ELSE 0 END AS brk
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
s AS (
  SELECT user_id, ts,
         sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS UNBOUNDED PRECEDING) AS sid
  FROM o
),
g AS (
  SELECT user_id, sid, count(*) AS n,
         date_diff('microsecond', min(ts), max(ts)) / 1000000.0 AS span_secs
  FROM s GROUP BY 1, 2
)
SELECT user_id, count(*) AS n_sessions, max(n) AS max_session_events,
       max(span_secs) AS max_session_secs
FROM g GROUP BY 1
"""


def q_table_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE-style per-column statistics over documents — the stats
    a cost-based optimizer (and a human capacity-planning a 100-TB
    job) wants before choosing join sides and partition counts:
    (column, n_rows, n_nulls, ndv, avg_len).  One scan computes every
    column's metrics as a single wide aggregate row (Spark plans the
    multi-distinct via one Expand — still one pass over the data),
    then a literal 4-way stack pivots it to rows.  At 10^12 rows the
    exact ndv becomes the HLL sketch (hll_distinct_by_source's
    machinery — <=256 registers per column instead of a distinct
    shuffle); the exact form here is the oracle surface."""
    d = _docs(spark, sf_dir)
    cols = ["text", "lang", "source", "n_chars"]
    aggs = [F.count("*").alias("n_rows")]
    for c in cols:
        aggs += [
            F.sum(F.col(c).isNull().cast("long")).alias(f"{c}__nulls"),
            F.countDistinct(c).alias(f"{c}__ndv"),
            # explicit IEEE floor-rounding (events_window_agg's
            # hardening): Spark round() rounds the shortest-decimal
            # rendering, DuckDB the binary value — spell the op out
            (
                F.floor(
                    F.avg(F.length(F.col(c).cast("string"))) * 10000
                    + F.lit(0.5)
                )
                / 10000
            ).alias(f"{c}__avg_len"),
        ]
    one = d.agg(*aggs)
    stacked = one.select(
        F.expr(
            "stack({n}, {body}) as (column, n_nulls, ndv, avg_len)".format(
                n=len(cols),
                body=", ".join(
                    f"'{c}', {c}__nulls, {c}__ndv, {c}__avg_len"
                    for c in cols
                ),
            )
        ),
        "n_rows",
    )
    return stacked.select("column", "n_rows", "n_nulls", "ndv", "avg_len")


SQL_TABLE_STATS = """
WITH one AS (
  SELECT count(*) AS n_rows,
         sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS text_nulls,
         count(DISTINCT text) AS text_ndv,
         floor(avg(length(CAST(text AS VARCHAR))) * 10000 + 0.5) / 10000 AS text_avg,
         sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS lang_nulls,
         count(DISTINCT lang) AS lang_ndv,
         floor(avg(length(CAST(lang AS VARCHAR))) * 10000 + 0.5) / 10000 AS lang_avg,
         sum(CASE WHEN source IS NULL THEN 1 ELSE 0 END) AS source_nulls,
         count(DISTINCT source) AS source_ndv,
         floor(avg(length(CAST(source AS VARCHAR))) * 10000 + 0.5) / 10000 AS source_avg,
         sum(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END) AS nc_nulls,
         count(DISTINCT n_chars) AS nc_ndv,
         floor(avg(length(CAST(n_chars AS VARCHAR))) * 10000 + 0.5) / 10000 AS nc_avg
  FROM documents
)
SELECT 'text' AS column, n_rows, text_nulls AS n_nulls, text_ndv AS ndv,
       text_avg AS avg_len FROM one
UNION ALL
SELECT 'lang', n_rows, lang_nulls, lang_ndv, lang_avg FROM one
UNION ALL
SELECT 'source', n_rows, source_nulls, source_ndv, source_avg FROM one
UNION ALL
SELECT 'n_chars', n_rows, nc_nulls, nc_ndv, nc_avg FROM one
"""

def q_bag_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiset (bag) Jaccard near-dup pairs over word-3-gram
    OCCURRENCES: J_bag = Σ_g min(ca,cb) / Σ_g max(ca,cb) with
    Σmax = Na + Nb − Σmin — the generalized Jaccard on counted
    multisets (Ioffe 2010's exact form; CWS is its sketch).  Set
    Jaccard (ngram_jaccard_pairs) collapses repeated grams to one
    element, so a doc padded by repeating its own boilerplate still
    scores ~1.0 against the unpadded original; the bag form keeps
    counting and the score decays with the padding ratio — the
    repetition-robust fifth verification metric beside set-Jaccard,
    SimHash-Hamming, edit ratio, and containment (reference threshold
    analog: deduplication_service.rs:348).

    Plan shape: one multiset gram projection (word_ngrams
    distinct=False — no per-doc distinct), per-(doc, gram) counts with
    the gram carried as xxhash64 so only 8-byte keys cross the
    exchange, a posting self-join on the gram hash with
    Σ least(ca,cb) as a map-side-combined partial agg per pair, two
    size joins, threshold filter.  Posting lists for 3-gram hashes are
    short (same O(collisions) regime as jaccard_pairs); the capped
    LSH path is the >sf1 fallback."""
    from file_dedup_rust_spark.operators.decontaminate import word_ngrams

    grams = word_ngrams(
        docs_corpus(spark, sf_dir).select("doc_id", "t"), 3, distinct=False
    )
    cnt = grams.groupBy(
        "doc_id", F.xxhash64("g").alias("h")
    ).agg(F.count("*").alias("cn"))
    tot = cnt.groupBy("doc_id").agg(F.sum("cn").alias("n"))
    a = cnt.select(F.col("doc_id").alias("ia"), "h", F.col("cn").alias("ca"))
    b = cnt.select(F.col("doc_id").alias("ib"), "h", F.col("cn").alias("cb"))
    inter = (
        a.join(b, "h")
        .filter(F.col("ia") < F.col("ib"))
        .groupBy("ia", "ib")
        .agg(F.sum(F.least("ca", "cb")).alias("m"))
    )
    ta = tot.select(F.col("doc_id").alias("ia"), F.col("n").alias("na"))
    tb = tot.select(F.col("doc_id").alias("ib"), F.col("n").alias("nb"))
    return (
        inter.join(ta, "ia")
        .join(tb, "ib")
        .select(
            "ia",
            "ib",
            round_dd(
                F.col("m") / (F.col("na") + F.col("nb") - F.col("m")), 4
            ).alias("bag_jac"),
        )
        .filter(F.col("bag_jac") >= JACCARD_T)
    )


SQL_BAG_JACCARD_PAIRS = f"""
WITH {SQL_DOCS_CORPUS},
toks AS (SELECT doc_id, string_split(t, ' ') AS w FROM corpus),
gm AS (
  SELECT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS g
  FROM toks, unnest(generate_series(1, greatest(len(w) - 2, 0))) AS u(i)
),
cnt AS (SELECT doc_id, g, count(*) AS c FROM gm GROUP BY 1, 2),
tot AS (SELECT doc_id, sum(c) AS n FROM cnt GROUP BY 1),
inter AS (
  SELECT a.doc_id AS ia, b.doc_id AS ib, sum(least(a.c, b.c)) AS m
  FROM cnt a JOIN cnt b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
j AS (
  SELECT ia, ib, round(m * 1.0 / (ta.n + tb.n - m), 4) AS bag_jac
  FROM inter
  JOIN tot ta ON ta.doc_id = ia
  JOIN tot tb ON tb.doc_id = ib
)
SELECT ia, ib, bag_jac FROM j WHERE bag_jac >= {JACCARD_T}
"""


def q_cluster_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster size distribution — the pipeline-health
    histogram a 100-TB dedup run is judged by (real corpora are
    power-law: a fat head of boilerplate mega-clusters and a long
    tail of pairs; a missing tail or an exploding head is the first
    sign of a broken tier).  Batch analog of the reference's
    per-cluster stats rollup (deduplication_service.rs:509-530),
    aggregated once more to the distribution.

    Plan shape: two partial-agg groupBys back to back — content-hash
    → cluster size, then size → (n_clusters, n_docs).  The second
    exchange carries at most one row per distinct size (≤ a few
    hundred at any scale); no window, no join, text never shuffles
    (md5 is computed in the scan projection).  Runs over the
    keep_capped_copies corpus (corpus_exact + a second copy of every
    9th doc, REPEAT_EXTRA_MOD) so sizes 1, 2 AND 3 all appear."""
    c = corpus_exact(spark, sf_dir).unionByName(
        _docs(spark, sf_dir)
        .filter(F.col("doc_id") % REPEAT_EXTRA_MOD == 0)
        .select(
            (F.col("doc_id") + REPEAT_ID_OFFSET).alias("doc_id"),
            F.lower(F.coalesce("text", F.lit(""))).alias("t"),
            "n_chars",
        )
    )
    sizes = (
        c.select(F.md5("t").alias("h"))
        .groupBy("h")
        .agg(F.count("*").alias("cluster_size"))
    )
    return (
        sizes.groupBy("cluster_size")
        .agg(
            F.count("*").alias("n_clusters"),
            F.sum("cluster_size").alias("n_docs"),
        )
        .orderBy("cluster_size")
    )


SQL_CLUSTER_SIZE_HISTOGRAM = f"""
WITH {SQL_CORPUS_EXACT},
corpus3 AS (
  SELECT * FROM corpus
  UNION ALL
  SELECT doc_id + {REPEAT_ID_OFFSET}, lower(coalesce(text, '')), n_chars
  FROM documents WHERE doc_id % {REPEAT_EXTRA_MOD} = 0
),
g AS (SELECT md5(t) AS h, count(*) AS cluster_size FROM corpus3 GROUP BY 1)
SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_clusters,
       CAST(sum(cluster_size) AS BIGINT) AS n_docs
FROM g GROUP BY 1 ORDER BY 1
"""


def q_tfidf_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IDF-weighted shingle cosine near-dup pairs — the sixth
    verification metric (set-Jaccard, bag-Jaccard, SimHash-Hamming,
    edit ratio, containment, and now weighted cosine): two docs that
    share only corpus-frequent boilerplate shingles score LOW, while
    sharing rare shingles scores HIGH — exactly the discounting the
    unweighted Jaccard tiers lack on boilerplate-heavy corpora.
    tf = occurrence count of the word-3-gram in the doc,
    idf = ln((N+1)/(df+1)), cos = Σ wa·wb / (‖a‖‖b‖).

    Plan shape: the bag_jaccard posting machinery with a weight
    payload — per-(doc, gram-hash) counts, a gram-level df census
    joined back ON THE 8-BYTE HASH (never the gram string), per-doc
    norms as one partial agg, then the posting self-join accumulating
    Σ wa·wb map-side.  3-gram posting lists are short, so no cap is
    needed here; at the boilerplate extreme the winnow/LSH capped
    paths take over.  N rides along as a broadcast 1-row literal."""
    from file_dedup_rust_spark.operators.decontaminate import word_ngrams

    corpus = docs_corpus(spark, sf_dir)
    grams = word_ngrams(corpus.select("doc_id", "t"), 3, distinct=False)
    # (round 6: materializing cnt/w here was tried and measured flat —
    # the multi-reference recomputes overlap on idle cores and the
    # posting join dominates; kept lazy)
    cnt = grams.groupBy("doc_id", F.xxhash64("g").alias("h")).agg(
        F.count("*").alias("tf")
    )
    n_docs = corpus.select(F.count("*").alias("nd"))
    df_census = cnt.groupBy("h").agg(F.count("*").alias("df"))
    w = (
        cnt.join(df_census, "h")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "h",
            (
                F.col("tf")
                * F.log((F.col("nd") + F.lit(1.0)) / (F.col("df") + F.lit(1.0)))
            ).alias("w"),
        )
    )
    norms = w.groupBy("doc_id").agg(
        F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("nrm")
    )
    a = w.select(F.col("doc_id").alias("ia"), "h", F.col("w").alias("wa"))
    b = w.select(F.col("doc_id").alias("ib"), "h", F.col("w").alias("wb"))
    dot = (
        a.join(b, "h")
        .filter(F.col("ia") < F.col("ib"))
        .groupBy("ia", "ib")
        .agg(F.sum(F.col("wa") * F.col("wb")).alias("dot"))
    )
    na = norms.select(F.col("doc_id").alias("ia"), F.col("nrm").alias("na"))
    nb = norms.select(F.col("doc_id").alias("ib"), F.col("nrm").alias("nb"))
    return (
        dot.join(na, "ia")
        .join(nb, "ib")
        .select(
            "ia",
            "ib",
            round_dd(F.col("dot") / (F.col("na") * F.col("nb")), 4).alias(
                "tfidf_cos"
            ),
        )
        .filter(F.col("tfidf_cos") >= JACCARD_T)
    )


SQL_TFIDF_COSINE_PAIRS = f"""
WITH {SQL_DOCS_CORPUS},
toks AS (SELECT doc_id, string_split(t, ' ') AS w FROM corpus),
gm AS (
  SELECT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS g
  FROM toks, unnest(generate_series(1, greatest(len(w) - 2, 0))) AS u(i)
),
cnt AS (SELECT doc_id, g, count(*) AS tf FROM gm GROUP BY 1, 2),
nd AS (SELECT count(*) AS nd FROM corpus),
dfc AS (SELECT g, count(*) AS df FROM cnt GROUP BY 1),
w AS (
  SELECT doc_id, g, tf * ln((nd.nd + 1.0) / (df + 1.0)) AS w
  FROM cnt JOIN dfc USING (g), nd
),
nrm AS (SELECT doc_id, sqrt(sum(w * w)) AS nrm FROM w GROUP BY 1),
dt AS (
  SELECT a.doc_id AS ia, b.doc_id AS ib, sum(a.w * b.w) AS dot
  FROM w a JOIN w b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
j AS (
  SELECT ia, ib, round(dot / (na.nrm * nb.nrm), 4) AS tfidf_cos
  FROM dt
  JOIN nrm na ON na.doc_id = ia
  JOIN nrm nb ON nb.doc_id = ib
)
SELECT ia, ib, tfidf_cos FROM j WHERE tfidf_cos >= {JACCARD_T}
"""


def q_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc token Shannon entropy + evenness — the intrinsic
    gibberish/repetition quality signal (no corpus model needed,
    unlike unigram_nll): a doc stuck repeating one token has H → 0,
    natural text sits near ln(vocab-in-doc), so `evenness` =
    H / ln(n_types) flags loops and keyboard-mash at any length.
    H = ln(n) − (Σ c·ln c)/n over per-doc token counts c — the
    numerically stable census form (one partial agg; no per-token
    p·ln p row math).

    Plan shape: counts on (doc_id, xxhash64(token)) — 8-byte keys,
    the token string never crosses an exchange — then ONE per-doc
    partial agg computing n, n_types, and Σ c·ln c together; no join,
    no window, linear in corpus tokens."""
    from file_dedup_rust_spark.operators.decontaminate import word_ngrams

    corpus = docs_corpus(spark, sf_dir)
    toks = word_ngrams(corpus.select("doc_id", "t"), 1, distinct=False)
    cnt = toks.groupBy("doc_id", F.xxhash64("g").alias("h")).agg(
        F.count("*").alias("c")
    )
    agg = cnt.groupBy("doc_id").agg(
        F.sum("c").alias("n_tokens"),
        F.count("*").alias("n_types"),
        F.sum(F.col("c") * F.log("c")).alias("clnc"),
    )
    h = F.log("n_tokens") - F.col("clnc") / F.col("n_tokens")
    return agg.select(
        "doc_id",
        "n_tokens",
        "n_types",
        round_dd(h, 4).alias("entropy"),
        round_dd(
            F.when(F.col("n_types") > 1, h / F.log("n_types")).otherwise(
                F.lit(0.0)
            ),
            4,
        ).alias("evenness"),
    )


SQL_TOKEN_ENTROPY = """
WITH corpus AS (
  SELECT doc_id, lower(coalesce(text, '')) AS t FROM documents
),
toks AS (
  SELECT doc_id, unnest(string_split(t, ' ')) AS w FROM corpus
),
cnt AS (SELECT doc_id, w, count(*) AS c FROM toks GROUP BY 1, 2),
agg AS (
  SELECT doc_id, sum(c) AS n_tokens, count(*) AS n_types,
         sum(c * ln(c)) AS clnc
  FROM cnt GROUP BY 1
)
SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(n_types AS BIGINT) AS n_types,
       round(ln(n_tokens) - clnc / n_tokens, 4) AS entropy,
       round(CASE WHEN n_types > 1
                  THEN (ln(n_tokens) - clnc / n_tokens) / ln(n_types)
                  ELSE 0.0 END, 4) AS evenness
FROM agg
"""


def q_cms_freq_estimates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch point-frequency estimates for the corpus's 25
    most frequent tokens, next to their exact counts — the THIRD
    mergeable-sketch family in the engine (HLL = distinct counts,
    Bloom = membership, CMS = frequencies), the bounded-state
    "how hot is this term/key" dashboard a 100-TB ingest keeps
    without a vocab-sized census per window.  One-sided error by
    construction: overcount = estimate − exact ≥ 0 on EVERY row
    (the oracle checks the estimates exactly, not just the bound).

    Plan shape: one map-side-combining token census (vocab-bounded),
    the d-lane explode runs over the census NOT the occurrences, the
    counter table is ≤ d·16^w rows, and the probe joins it on
    (lane, bkt) — broadcast-sized here, hash join at production
    width.  See operators/corpus_sketch.py for the md5-hex lane
    scheme that makes the sketch bit-identical across engines."""
    from file_dedup_rust_spark.operators.corpus_sketch import (
        cms_counters,
        cms_estimate,
    )
    from file_dedup_rust_spark.operators.decontaminate import word_ngrams

    corpus = docs_corpus(spark, sf_dir)
    toks = word_ngrams(corpus, 1, distinct=False)
    census = toks.groupBy(F.col("g").alias("w")).agg(
        F.count("*").alias("c")
    )
    counters = cms_counters(census)
    top = census.orderBy(F.desc("c"), "w").limit(25)
    est = cms_estimate(counters, top.select("w"))
    return (
        top.join(est, "w")
        .select(
            F.col("w").alias("term"),
            F.col("c").alias("n_exact"),
            "cms_estimate",
            (F.col("cms_estimate") - F.col("c")).alias("overcount"),
        )
    )


SQL_CMS_FREQ_ESTIMATES = """
WITH corpus AS (
  SELECT doc_id, lower(coalesce(text, '')) AS t FROM documents
),
toks AS (SELECT unnest(string_split(t, ' ')) AS w FROM corpus),
census AS (SELECT w, count(*) AS c FROM toks GROUP BY 1),
keys AS (
  SELECT w, c, lane,
         substring(md5(CAST(lane AS VARCHAR) || ':' || w), 1, 3) AS bkt
  FROM census, unnest([0, 1, 2, 3]) AS l(lane)
),
sketch AS (SELECT lane, bkt, sum(c) AS bc FROM keys GROUP BY 1, 2),
top AS (SELECT w, c FROM census ORDER BY c DESC, w LIMIT 25),
probe AS (
  SELECT t.w, t.c, k.lane,
         substring(md5(CAST(k.lane AS VARCHAR) || ':' || t.w), 1, 3) AS bkt
  FROM top t, unnest([0, 1, 2, 3]) AS k(lane)
),
est AS (
  SELECT p.w, any_value(p.c) AS c, min(s.bc) AS cms_estimate
  FROM probe p JOIN sketch s USING (lane, bkt)
  GROUP BY p.w
)
SELECT w AS term, CAST(c AS BIGINT) AS n_exact,
       CAST(cms_estimate AS BIGINT) AS cms_estimate,
       CAST(cms_estimate - c AS BIGINT) AS overcount
FROM est
"""


def q_pmi_top_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strong collocations by pointwise mutual information — the
    tokenizer/phrase-mining census (which adjacent token pairs
    co-occur far above chance): pmi = ln((c_ab/B) / ((c_a/N)(c_b/N)))
    over corpus-wide unigram and bigram occurrence counts, reported
    for pairs with n_pair ≥ 5 and pmi ≥ 3.  This is the
    word2phrase / BPE-merge-candidate signal: boilerplate bigrams
    ("the the"-style chance pairs) sit near pmi 0 while true phrases
    score ln-scale high.

    The raw documents table is RANDOM text — its 900 most frequent
    bigrams all measure |pmi| < 0.72 (pure chance), so the corpus
    plants two true collocations deterministically (every 4th doc
    gains "gradient descent optimizer", every 4th+1 "byte pair
    encoding" — words absent from the synthetic vocab, same
    derivation in both engines): the query must score the planted
    phrases ln-scale high while the n_pair ≥ 5 boilerplate floor
    stays excluded by pmi ≥ 3 — BOTH filters bind.

    Plan shape: two map-side-combining censuses (unigram census is
    vocab-bounded → BROADCAST to the bigram census on each side; the
    bigram census is the big distributed side), totals ride along as
    1-row broadcast literals; no window, no posting join, linear in
    corpus tokens."""
    from file_dedup_rust_spark.operators.decontaminate import word_ngrams

    corpus = docs_corpus(spark, sf_dir).select(
        "doc_id",
        F.concat(
            F.col("t"),
            F.when(
                F.col("doc_id") % 4 == 0, F.lit(" gradient descent optimizer")
            )
            .when(F.col("doc_id") % 4 == 1, F.lit(" byte pair encoding"))
            .otherwise(F.lit("")),
        ).alias("t"),
    )
    uni = (
        word_ngrams(corpus, 1, distinct=False)
        .groupBy(F.col("g").alias("w"))
        .agg(F.count("*").alias("cu"))
    )
    bi = (
        word_ngrams(corpus, 2, distinct=False)
        .groupBy(F.col("g").alias("g"))
        .agg(F.count("*").alias("cb"))
        .select(
            F.split("g", " ").getItem(0).alias("w1"),
            F.split("g", " ").getItem(1).alias("w2"),
            "cb",
        )
    )
    totals = uni.agg(
        F.sum("cu").alias("n_tok")
    ).crossJoin(bi.agg(F.sum("cb").alias("n_bi")))
    u1 = uni.select(F.col("w").alias("w1"), F.col("cu").alias("c1"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("cu").alias("c2"))
    pmi = (
        bi.join(F.broadcast(u1), "w1")
        .join(F.broadcast(u2), "w2")
        .crossJoin(F.broadcast(totals))
        .select(
            "w1",
            "w2",
            F.col("cb").alias("n_pair"),
            round_dd(
                F.log(
                    (
                        F.col("cb").cast("double")
                        * F.col("n_tok")
                        * F.col("n_tok")
                    )
                    / (
                        F.col("n_bi").cast("double")
                        * F.col("c1")
                        * F.col("c2")
                    )
                ),
                4,
            ).alias("pmi"),
        )
    )
    return pmi.filter((F.col("n_pair") >= 5) & (F.col("pmi") >= 3.0))


SQL_PMI_TOP_BIGRAMS = """
WITH corpus AS (
  SELECT doc_id,
         lower(coalesce(text, '')) ||
         CASE WHEN doc_id % 4 = 0 THEN ' gradient descent optimizer'
              WHEN doc_id % 4 = 1 THEN ' byte pair encoding'
              ELSE '' END AS t
  FROM documents
),
tk AS (SELECT doc_id, string_split(t, ' ') AS wd FROM corpus),
uni AS (
  SELECT w, count(*) AS cu FROM (
    SELECT unnest(wd) AS w FROM tk
  ) GROUP BY 1
),
bi AS (
  SELECT wd[i] AS w1, wd[i+1] AS w2, count(*) AS cb
  FROM tk, unnest(generate_series(1, greatest(len(wd) - 1, 0))) AS u(i)
  GROUP BY 1, 2
),
tot AS (
  SELECT (SELECT sum(cu) FROM uni) AS n_tok,
         (SELECT sum(cb) FROM bi) AS n_bi
),
pmi AS (
  SELECT w1, w2, cb AS n_pair,
         round(ln((CAST(cb AS DOUBLE) * n_tok * n_tok)
                  / (CAST(n_bi AS DOUBLE) * c1 * c2)), 4) AS pmi
  FROM bi
  JOIN (SELECT w AS w1, cu AS c1 FROM uni) USING (w1)
  JOIN (SELECT w AS w2, cu AS c2 FROM uni) USING (w2)
  CROSS JOIN tot
)
SELECT w1, w2, CAST(n_pair AS BIGINT) AS n_pair, pmi
FROM pmi WHERE n_pair >= 5 AND pmi >= 3.0
"""


def q_cluster_delete_repair(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decremental cluster maintenance — the right-to-be-forgotten /
    takedown path: delete every doc_id ≡ 7 (mod 10) from the clustered
    corpus and emit the repaired assignments.  The ENGINE repairs
    incrementally (operators/maintenance.py::repair_after_removal —
    untouched components pass through verbatim via semi/anti joins;
    components that lost a member re-run connected components over
    their surviving edges, with exact-tier hash groups whose star HUB
    was removed recovered through connector vertices — byte-identical
    survivors stay together).  The ORACLE rebuilds the surviving
    corpus FROM SCRATCH — re-derives the exact stars and Jaccard
    pairs over the filtered documents, then takes the recursive
    transitive closure — so the hash equality here is the full
    repair == rebuild claim: exact groups re-star (equivalence is
    transitive through a removed hub), near-dup chains split when
    their only bridge leaves (a rebuild finds no surviving direct
    pair either).  Removals hit star hubs, bridge endpoints, and
    min-id representatives, so every hard case is exercised.

    At 10^12 rows the full re-solve is days of compute for a delete
    batch touching a vanishing fraction of components; the repair
    cost is proportional to the AFFECTED subgraph.  (The prior
    assignments are computed here for self-containment; production
    reads them and the checkpointed edge set from the job ledger.)"""
    from file_dedup_rust_spark.operators.connected_components import (
        connected_components,
    )
    from file_dedup_rust_spark.operators.maintenance import (
        repair_after_removal,
    )

    # derived corpus with SIZE-3 exact groups (documents ∪ copyA of
    # every 3rd doc ∪ copyB of every 7th doc; the +1/+3 offsets break
    # the mod-10 alignment so a removed base hub leaves TWO surviving
    # copies — e.g. base 147 ≡ 7 (mod 10) is removed while copyA
    # 1000148 and copyB 2000150 survive and must be re-starred by the
    # connector solve, the case pure graph-surgery gets WRONG)
    d = docs_corpus(spark, sf_dir)
    corpus = (
        d.unionByName(
            d.filter(F.col("doc_id") % 3 == 0).select(
                (F.col("doc_id") + DR_OFF_A).alias("doc_id"), "t"
            )
        ).unionByName(
            d.filter(F.col("doc_id") % 7 == 0).select(
                (F.col("doc_id") + DR_OFF_B).alias("doc_id"), "t"
            )
        )
    )
    w = Window.partitionBy("h")
    exact = (
        corpus.select("doc_id", F.md5("t").alias("h"))
        .withColumn("rep", F.min("doc_id").over(w))
        .filter(F.col("doc_id") != F.col("rep"))
        .select(
            F.col("rep").alias("a"), F.col("doc_id").alias("b"),
            F.lit(1.0).alias("sim"), F.lit("exact").alias("kind"),
        )
    )
    jac = q_ngram_jaccard_pairs(spark, sf_dir).select(
        F.col("ia").alias("a"), F.col("ib").alias("b"),
        F.col("jac").alias("sim"), F.lit("jaccard").alias("kind"),
    )
    # edges feed the CC solve AND the repair pass — materialize once
    # (CC's internal persist is released before repair runs)
    edges = exact.unionByName(jac).localCheckpoint(eager=True)
    verts = corpus.select(F.col("doc_id").alias("clip_id"))
    # assignments feed three routing joins inside repair_after_removal
    # (hit-cluster probe, untouched anti-join, affected semi-join) —
    # materialize the label table once (CLI runs read it from the job
    # ledger; this query computes it inline for self-containment)
    assignments = connected_components(
        edges.select("a", "b"), verts
    ).localCheckpoint(eager=True)
    removed = verts.filter(F.col("clip_id") % 10 == 7)
    repaired = repair_after_removal(
        assignments, edges, removed, equivalence_kinds=("exact",)
    )
    return repaired.select(
        F.col("clip_id").alias("doc_id"), "cluster_id"
    )


# rebuild-from-scratch oracle over the SURVIVING corpus
# (doc_id % 10 != 7): exact stars re-form among surviving copies,
# Jaccard pairs keep only surviving direct evidence, then the
# recursive closure — repair == rebuild, with planted size-3 groups
# whose hub removal forces the connector recovery
SQL_CLUSTER_DELETE_REPAIR = f"""
WITH RECURSIVE corpus AS (
  SELECT doc_id, lower(coalesce(text, '')) AS t FROM documents
  UNION ALL
  SELECT doc_id + {DR_OFF_A}, lower(coalesce(text, '')) FROM documents
  WHERE doc_id % 3 = 0
  UNION ALL
  SELECT doc_id + {DR_OFF_B}, lower(coalesce(text, '')) FROM documents
  WHERE doc_id % 7 = 0
),
surv AS (SELECT * FROM corpus WHERE doc_id % 10 != 7),
lbl AS (
  SELECT doc_id, min(doc_id) OVER (PARTITION BY md5(t)) AS rep FROM surv
),
exact_edges AS (
  SELECT rep AS a, doc_id AS b FROM lbl WHERE doc_id != rep
),
toks AS (SELECT doc_id, string_split(t, ' ') AS w FROM surv
         WHERE doc_id < {EXACT_ID_OFFSET}),
sh AS (
  SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS g
  FROM toks, unnest(generate_series(1, greatest(len(w) - 2, 0))) AS u(i)
),
sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS c
  FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1, 2
),
jac_edges AS (
  SELECT ia AS a, ib AS b
  FROM inter
  JOIN sz za ON za.doc_id = ia
  JOIN sz zb ON zb.doc_id = ib
  WHERE c * 1.0 / (za.n + zb.n - c) >= {JACCARD_T}
),
edges AS (SELECT a, b FROM exact_edges UNION ALL SELECT a, b FROM jac_edges),
sym AS (SELECT a, b FROM edges UNION SELECT b, a FROM edges),
verts AS (SELECT DISTINCT doc_id FROM surv),
reach(id, lbl2) AS (
  SELECT doc_id, doc_id FROM verts
  UNION
  SELECT s.b, r.lbl2 FROM reach r JOIN sym s ON s.a = r.id
)
SELECT id AS doc_id, min(lbl2) AS cluster_id FROM reach GROUP BY id
"""


# ---------------------------------------------------------------------------
# Graph analytics over the dup graph: triangles + clustering coefficients
# (candidate-quality audit — see operators/graph.py docstring: dense
#  triangles = transitive near-dup evidence; chains = threshold-hopping
#  false merges.  Degree orientation neutralizes the exact-tier star
#  hubs that would otherwise make wedge generation quadratic.)
# ---------------------------------------------------------------------------

def q_node_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle count + local clustering coefficient over the
    dup graph (_doc_edges: exact stars ∪ Jaccard>=0.8), for every node
    of degree >= 2 (where the coefficient is defined).  local_cc =
    triangles / C(degree, 2)."""
    from file_dedup_rust_spark.operators.graph import (
        node_triangle_counts,
        undirected_edges,
    )

    # ue feeds the degree aggregation and both triangle joins —
    # materialize the (tiny) canonical edge set once
    ue = undirected_edges(
        _doc_edges(spark, sf_dir).select("a", "b")
    ).localCheckpoint(eager=True)
    nt = node_triangle_counts(ue).filter(F.col("degree") >= 2)
    return nt.select(
        F.col("id").alias("doc_id"),
        "degree",
        "triangles",
        round_dd(
            F.col("triangles") * 2.0
            / (F.col("degree") * (F.col("degree") - F.lit(1))),
            4,
        ).alias("local_cc"),
    ).orderBy("doc_id")


SQL_NODE_TRIANGLES = f"""
WITH {SQL_DOC_EDGES},
ue AS (
  SELECT DISTINCT least(a, b) AS a, greatest(a, b) AS b
  FROM edges WHERE a != b
),
deg AS (
  SELECT id, count(*) AS degree
  FROM (SELECT a AS id FROM ue UNION ALL SELECT b FROM ue)
  GROUP BY id
),
tri AS (
  SELECT e1.a AS x, e1.b AS y, e2.b AS z
  FROM ue e1
  JOIN ue e2 ON e2.a = e1.a AND e2.b > e1.b
  JOIN ue e3 ON e3.a = e1.b AND e3.b = e2.b
),
per AS (
  SELECT id, count(*) AS triangles
  FROM (SELECT x AS id FROM tri UNION ALL SELECT y FROM tri
        UNION ALL SELECT z FROM tri)
  GROUP BY id
)
SELECT d.id AS doc_id, d.degree,
       CAST(coalesce(p.triangles, 0) AS BIGINT) AS triangles,
       round(coalesce(p.triangles, 0) * 2.0
             / (d.degree * (d.degree - 1)), 4) AS local_cc
FROM deg d LEFT JOIN per p ON p.id = d.id
WHERE d.degree >= 2
ORDER BY doc_id
"""


def q_triangle_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row corpus health summary of the dup graph: node/edge
    counts, wedge count (paths of length 2), triangle count, and the
    global (transitivity) clustering coefficient 3*T / wedges."""
    from file_dedup_rust_spark.operators.graph import (
        degrees,
        triangles,
        undirected_edges,
    )

    ue = undirected_edges(
        _doc_edges(spark, sf_dir).select("a", "b")
    ).localCheckpoint(eager=True)
    deg = degrees(ue).localCheckpoint(eager=True)
    nodes_wedges = deg.agg(
        F.count("*").alias("n_nodes"),
        (
            F.sum(F.col("degree") * (F.col("degree") - F.lit(1))) / F.lit(2)
        ).cast("long").alias("n_wedges"),
    )
    n_edges = ue.agg(F.count("*").alias("n_edges"))
    n_tri = triangles(ue, deg).agg(F.count("*").alias("n_triangles"))
    return (
        nodes_wedges.crossJoin(n_edges)
        .crossJoin(n_tri)
        .select(
            "n_nodes",
            "n_edges",
            "n_wedges",
            "n_triangles",
            F.when(F.col("n_wedges") > 0, round_dd(
                F.col("n_triangles") * 3.0 / F.col("n_wedges"), 6
            )).otherwise(F.lit(0.0)).alias("global_cc"),
        )
    )


SQL_TRIANGLE_SUMMARY = f"""
WITH {SQL_DOC_EDGES},
ue AS (
  SELECT DISTINCT least(a, b) AS a, greatest(a, b) AS b
  FROM edges WHERE a != b
),
deg AS (
  SELECT id, count(*) AS degree
  FROM (SELECT a AS id FROM ue UNION ALL SELECT b FROM ue)
  GROUP BY id
),
tri AS (
  SELECT count(*) AS n_triangles
  FROM ue e1
  JOIN ue e2 ON e2.a = e1.a AND e2.b > e1.b
  JOIN ue e3 ON e3.a = e1.b AND e3.b = e2.b
),
dd AS (
  SELECT count(*) AS n_nodes,
         CAST(sum(degree * (degree - 1)) / 2 AS BIGINT) AS n_wedges
  FROM deg
),
ec AS (SELECT count(*) AS n_edges FROM ue)
SELECT dd.n_nodes, ec.n_edges, dd.n_wedges, tri.n_triangles,
       CASE WHEN dd.n_wedges > 0
            THEN round(tri.n_triangles * 3.0 / dd.n_wedges, 6)
            ELSE 0.0 END AS global_cc
FROM dd, ec, tri
"""


PAGERANK_ITERS = 6
PAGERANK_DAMPING = 0.85


def q_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-k PageRank over the dup graph — centrality-based
    canonical-representative signal (the most centrally-attested copy
    of a dup cluster, vs the arbitrary min-id convention).  Exactly
    PAGERANK_ITERS power steps from the uniform vector, so the value
    set is deterministic and the oracle can unroll the identical
    iteration as chained CTEs."""
    from file_dedup_rust_spark.operators.graph import (
        pagerank,
        undirected_edges,
    )

    ue = undirected_edges(_doc_edges(spark, sf_dir).select("a", "b"))
    pr = pagerank(ue, iterations=PAGERANK_ITERS, damping=PAGERANK_DAMPING)
    return pr.select(
        F.col("id").alias("doc_id"),
        "degree",
        round_dd("rank", 6).alias("pagerank"),
    ).orderBy("doc_id")


def _pagerank_sql_steps(iters: int, d: float) -> str:
    """r1..rK CTEs — one power step each.  Inner join is exact: every
    node of the undirected deg>=1 graph has an in-neighbour."""
    steps = []
    prev = "r0"
    for i in range(1, iters + 1):
        cur = f"r{i}"
        steps.append(
            f"""{cur} AS (
  SELECT ad.dst AS id,
         CAST((1 - {d}) AS DOUBLE) / nn.n
         + CAST({d} AS DOUBLE) * sum(p.rank / ad.degree) AS rank
  FROM adjd ad JOIN {prev} p ON p.id = ad.src CROSS JOIN nn
  GROUP BY ad.dst, nn.n
)"""
        )
        prev = cur
    return ",\n".join(steps)


SQL_GRAPH_PAGERANK = f"""
WITH {SQL_DOC_EDGES},
ue AS (
  SELECT DISTINCT least(a, b) AS a, greatest(a, b) AS b
  FROM edges WHERE a != b
),
bidir AS (
  SELECT a AS src, b AS dst FROM ue
  UNION ALL SELECT b AS src, a AS dst FROM ue
),
deg AS (SELECT src AS id, count(*) AS degree FROM bidir GROUP BY src),
adjd AS (
  SELECT b.src, b.dst, d.degree FROM bidir b JOIN deg d ON d.id = b.src
),
nn AS (SELECT count(*) AS n FROM deg),
r0 AS (SELECT id, CAST(1.0 AS DOUBLE) / nn.n AS rank FROM deg CROSS JOIN nn),
{_pagerank_sql_steps(PAGERANK_ITERS, PAGERANK_DAMPING)}
SELECT d.id AS doc_id, d.degree, round(r.rank, 6) AS pagerank
FROM deg d JOIN r{PAGERANK_ITERS} r ON r.id = d.id
ORDER BY doc_id
"""


def q_clustering_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical-vs-semantic clustering agreement by pair-confusion
    algebra (operators/clustering_audit.py): the corpus-level answer
    to "what does each tier buy / miss".  Clustering A = connected
    components over word-3-gram Jaccard >= 0.8 pairs; clustering B =
    connected components over embedding cosine >= COSINE_T pairs —
    same element set (vec_id == doc_id).  pairs_sem - pairs_both is
    the paraphrase mass (semantic-only), pairs_lex - pairs_both the
    embedding-drift mass; Rand index and the two conditional
    agreements quantify it in one row, with NO pair set ever
    materialized (closed-form C(n,2) sums over the contingency
    table)."""
    from file_dedup_rust_spark.operators.clustering_audit import (
        pair_confusion,
    )
    from file_dedup_rust_spark.operators.connected_components import (
        connected_components,
    )

    lex_edges = q_ngram_jaccard_pairs(spark, sf_dir).select(
        F.col("ia").alias("a"), F.col("ib").alias("b")
    )
    dverts = _docs(spark, sf_dir).select(F.col("doc_id").alias("clip_id"))
    lex = connected_components(lex_edges, dverts).select(
        F.col("clip_id").alias("id"), F.col("cluster_id").alias("ca")
    )
    sem_edges = _neardup_cosine_pairs(spark, sf_dir).select(
        F.col("ia").alias("a"), F.col("ib").alias("b")
    )
    everts = _embeddings(spark, sf_dir).select(F.col("vec_id").alias("clip_id"))
    sem = connected_components(sem_edges, everts).select(
        F.col("clip_id").alias("id"), F.col("cluster_id").alias("cb")
    )
    pc = pair_confusion(lex, sem)
    total = F.expr("n_items * (n_items - 1) DIV 2")
    neither = total - F.col("pairs_a") - F.col("pairs_b") + F.col("pairs_both")
    return pc.select(
        "n_items",
        F.col("pairs_a").alias("pairs_lex"),
        F.col("pairs_b").alias("pairs_sem"),
        "pairs_both",
        round_dd((F.col("pairs_both") + neither) / total, 6).alias("rand_index"),
        round_dd(
            F.when(F.col("pairs_a") > 0, F.col("pairs_both") / F.col("pairs_a")),
            6,
        ).alias("p_sem_given_lex"),
        round_dd(
            F.when(F.col("pairs_b") > 0, F.col("pairs_both") / F.col("pairs_b")),
            6,
        ).alias("p_lex_given_sem"),
    )


SQL_CLUSTERING_AGREEMENT = f"""
WITH RECURSIVE {_sql_shingles(SQL_DOCS_CORPUS)},
{SQL_JACCARD_PAIRS},
lex_edges AS (SELECT ia AS a, ib AS b FROM jpairs WHERE jac >= {JACCARD_T}),
lex_sym AS (SELECT a, b FROM lex_edges UNION SELECT b, a FROM lex_edges),
lex_reach(id, lbl) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT s.b, r.lbl FROM lex_reach r JOIN lex_sym s ON s.a = r.id
),
lex AS (SELECT id, min(lbl) AS ca FROM lex_reach GROUP BY id),
{SQL_COSINE_PAIRS},
sem_edges AS (SELECT ia AS a, ib AS b FROM pairs WHERE sim >= {COSINE_T}),
sem_sym AS (SELECT a, b FROM sem_edges UNION SELECT b, a FROM sem_edges),
sem_reach(id, lbl) AS (
  SELECT vec_id, vec_id FROM embeddings
  UNION
  SELECT s.b, r.lbl FROM sem_reach r JOIN sem_sym s ON s.a = r.id
),
sem AS (SELECT id, min(lbl) AS cb FROM sem_reach GROUP BY id),
cont AS (
  SELECT ca, cb, count(*) AS nij
  FROM lex JOIN sem ON sem.id = lex.id GROUP BY 1, 2
),
tot AS (
  SELECT CAST(sum(nij) AS BIGINT) AS n_items,
         CAST(sum(nij * (nij - 1) // 2) AS BIGINT) AS pairs_both
  FROM cont
),
pa AS (
  SELECT CAST(sum(ai * (ai - 1) // 2) AS BIGINT) AS pairs_lex
  FROM (SELECT sum(nij) AS ai FROM cont GROUP BY ca)
),
pb AS (
  SELECT CAST(sum(bj * (bj - 1) // 2) AS BIGINT) AS pairs_sem
  FROM (SELECT sum(nij) AS bj FROM cont GROUP BY cb)
)
SELECT n_items, pairs_lex, pairs_sem, pairs_both,
       round((pairs_both + (n_items * (n_items - 1) // 2
              - pairs_lex - pairs_sem + pairs_both)) * 1.0
             / (n_items * (n_items - 1) // 2), 6) AS rand_index,
       CASE WHEN pairs_lex > 0
            THEN round(pairs_both * 1.0 / pairs_lex, 6) END
         AS p_sem_given_lex,
       CASE WHEN pairs_sem > 0
            THEN round(pairs_both * 1.0 / pairs_sem, 6) END
         AS p_lex_given_sem
FROM tot, pa, pb
"""


# Transitive contamination spread: direct eval-gram hits are hop 0;
# near-dups of a hit are hop 1; and so on — the multi-hop iteration of
# the fuzzy-decontamination argument (a near-dup of a contaminated doc
# carries the contamination in paraphrase even when the exact gram
# probe misses it).  Fixture plants both rings deterministically: a
# contaminated copy S = eval 8-gram + FULL host text is the direct hit
# (the gram probe fires on the prefix), and its host — a clean train
# doc sharing every shingle of its own text with S, Jaccard >=
# n/(n+10) > 0.8 at >= 60 words — is the provable hop-1 spread.

CONTAM_SPREAD_OFFSET = 7_000_000
CONTAM_SPREAD_HOPS = 3
CONTAM_HOST_MIN_WORDS = 60
CONTAM_HOST_MOD = 4
CONTAM_HOST_RESIDUE = 2


def corpus_contam_spread(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """(train ∪ planted contaminated copies, eval)."""
    d = docs_corpus(spark, sf_dir)
    ev = d.filter(F.col("doc_id") % EVAL_MOD == EVAL_RESIDUE)
    train = d.filter(F.col("doc_id") % EVAL_MOD != EVAL_RESIDUE)
    hosts = train.filter(
        (F.size(F.split("t", " ")) >= CONTAM_HOST_MIN_WORDS)
        & (F.col("doc_id") % CONTAM_HOST_MOD == CONTAM_HOST_RESIDUE)
    )
    partner = (
        F.col("doc_id") - (F.col("doc_id") % EVAL_MOD) + EVAL_RESIDUE
    )
    planted = (
        hosts.withColumn("pid", partner)
        .join(
            ev.filter(F.size(F.split("t", " ")) >= DECONTAM_N).select(
                F.col("doc_id").alias("pid"), F.col("t").alias("et")
            ),
            "pid",
        )
        .select(
            (F.col("doc_id") + CONTAM_SPREAD_OFFSET).alias("doc_id"),
            F.concat(
                F.array_join(
                    F.slice(F.split("et", " "), 1, DECONTAM_N), " "
                ),
                F.lit(" "),
                F.col("t"),
            ).alias("t"),
        )
    )
    return train.unionByName(planted), ev


def q_contam_spread(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, hop_dist, risk) for every corpus doc within
    CONTAM_SPREAD_HOPS of an eval-gram hit over the Jaccard dup graph;
    risk = 0.5^hop_dist.  Routing: drop hop 0, review hop 1,
    sample-audit hop 2+."""
    from file_dedup_rust_spark.operators.graph import (
        min_hop_distance,
        undirected_edges,
    )

    corpus, ev = corpus_contam_spread(spark, sf_dir)
    # the planted corpus (a documents self-join) feeds the Jaccard
    # edge derivation AND the 8-gram seed scan — materialize it once
    corpus = corpus.localCheckpoint(eager=True)
    edges = jaccard_pairs(shingles(corpus), JACCARD_T).select(
        F.col("ia").alias("a"), F.col("ib").alias("b")
    )
    from file_dedup_rust_spark.operators.decontaminate import word_ngrams

    cg = word_ngrams(corpus, DECONTAM_N)
    eg = word_ngrams(ev, DECONTAM_N)
    seeds = (
        cg.join(eg.select("g"), "g", "left_semi")
        .select(F.col("doc_id").alias("id"))
        .distinct()
    )
    dist = min_hop_distance(
        undirected_edges(edges), seeds, CONTAM_SPREAD_HOPS
    )
    return dist.select(
        F.col("id").alias("doc_id"),
        "hop_dist",
        round_dd(F.pow(F.lit(0.5), F.col("hop_dist")), 4).alias("risk"),
    ).orderBy("doc_id")


_SQL_CONTAM_SPREAD_CORPUS = f"""docs_t AS (
  SELECT doc_id, lower(coalesce(text, '')) AS t FROM documents
),
evalset AS (
  SELECT * FROM docs_t WHERE doc_id % {EVAL_MOD} = {EVAL_RESIDUE}
),
train AS (
  SELECT * FROM docs_t WHERE doc_id % {EVAL_MOD} != {EVAL_RESIDUE}
),
hosts AS (
  SELECT * FROM train
  WHERE len(string_split(t, ' ')) >= {CONTAM_HOST_MIN_WORDS}
    AND doc_id % {CONTAM_HOST_MOD} = {CONTAM_HOST_RESIDUE}
),
planted AS (
  SELECT h.doc_id + {CONTAM_SPREAD_OFFSET} AS doc_id,
         array_to_string(
           (string_split(e.t, ' '))[1:{DECONTAM_N}], ' ') || ' ' || h.t AS t
  FROM hosts h
  JOIN evalset e
    ON e.doc_id = h.doc_id - (h.doc_id % {EVAL_MOD}) + {EVAL_RESIDUE}
  WHERE len(string_split(e.t, ' ')) >= {DECONTAM_N}
),
corpus AS (
  SELECT doc_id, t FROM train UNION ALL SELECT doc_id, t FROM planted
)"""


def _contam_spread_hop_sql(max_hops: int) -> str:
    steps = []
    prev = "d0"
    for i in range(1, max_hops + 1):
        cur = f"d{i}"
        steps.append(
            f"""{cur} AS (
  SELECT id, CAST(min(hop) AS INT) AS hop FROM (
    SELECT id, hop FROM {prev}
    UNION ALL
    SELECT s.b AS id, d.hop + 1 AS hop
    FROM {prev} d JOIN sym s ON s.a = d.id
  ) GROUP BY id
)"""
        )
        prev = cur
    return ",\n".join(steps)


SQL_CONTAM_SPREAD = f"""
WITH {_sql_shingles(_SQL_CONTAM_SPREAD_CORPUS)},
{SQL_JACCARD_PAIRS},
e0 AS (SELECT ia AS a, ib AS b FROM jpairs WHERE jac >= {JACCARD_T}),
sym AS (SELECT a, b FROM e0 UNION SELECT b, a FROM e0),
cg AS ({_sql_ngrams('corpus', DECONTAM_N)}),
eg AS ({_sql_ngrams('evalset', DECONTAM_N)}),
seeds AS (SELECT DISTINCT c.doc_id FROM cg c JOIN eg e ON e.g = c.g),
d0 AS (SELECT doc_id AS id, CAST(0 AS INT) AS hop FROM seeds),
{_contam_spread_hop_sql(CONTAM_SPREAD_HOPS)}
SELECT id AS doc_id, hop AS hop_dist,
       round(power(0.5, hop), 4) AS risk
FROM d{CONTAM_SPREAD_HOPS}
ORDER BY doc_id
"""


def q_asof_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of join over the events stream — last-touch
    attribution: for each purchase, the most recent STRICTLY-earlier
    click/view by the same user, plus the exact staleness in
    microseconds; first-touch purchases (no prior click/view) keep
    NULLs.  The same operator answers the engine's ledger questions —
    which config revision / corpus snapshot was in effect when a scan
    event fired (`operators/asof.py` docstring).

    Scale shape: the zero-join formulation — probes and references
    UNION into one relation and a single window over user_id ordered
    by (ts, side, event_id) sweeps each user's timeline once.  ONE
    hashpartitioning exchange, no join operator in the plan at all
    (plan-pinned), so no range blowup and no build side; strictness is
    free (the side tag's sort position at equal ts).  The oracle is an
    independent spec: a correlated LATERAL argmax per probe."""
    from file_dedup_rust_spark.operators.asof import asof_join_backward

    e = _events(spark, sf_dir)
    probes = e.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id"
    )
    refs = e.filter(F.col("event_type").isin("click", "view")).select(
        "user_id",
        "ts",
        "event_id",
        F.col("event_id").alias("touch_event_id"),
        F.col("event_type").alias("touch_type"),
        F.col("ts").alias("touch_ts"),
    )
    out = asof_join_backward(probes, refs, "user_id", "ts", "event_id")
    return out.select(
        "event_id",
        "user_id",
        "touch_event_id",
        "touch_type",
        F.expr("timestampdiff(MICROSECOND, touch_ts, ts)").alias(
            "staleness_us"
        ),
    ).orderBy("event_id")


SQL_ASOF_LAST_TOUCH = """
WITH probes AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
),
refs AS (
  SELECT event_id, user_id, ts, event_type FROM events
  WHERE event_type IN ('click', 'view')
)
SELECT p.event_id, p.user_id,
       t.event_id AS touch_event_id,
       t.event_type AS touch_type,
       date_diff('microsecond', t.ts, p.ts) AS staleness_us
FROM probes p LEFT JOIN LATERAL (
  SELECT r.event_id, r.event_type, r.ts
  FROM refs r
  WHERE r.user_id = p.user_id AND r.ts < p.ts
  ORDER BY r.ts DESC, r.event_id DESC
  LIMIT 1
) t ON TRUE
ORDER BY p.event_id
"""


BLAST_WINDOW_MIN = 30


def q_error_blast_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join (point-in-interval) over the events stream — the
    incident blast-window audit: for every error event, the same
    user's activity inside the half-open [ts, ts+30min) window that
    follows it (event count, purchases, exact value cents).  Errors
    with a quiet window surface with zeros (left completion).  The
    engine-side use is identical in shape: which re-uploads landed
    inside a takedown/quarantine window.

    Scale shape: `operators/rangejoin.py` bucketization — the non-equi
    time predicate becomes a plain shuffled equi-join on (user_id,
    30-min bin) with ≤2× interval replication and NO
    BroadcastNestedLoop/Cartesian anywhere (plan-pinned); the exact
    predicate refines inside the join, the rollup is one map-side-
    combined aggregate, and the zero-window completion is a broadcast-
    able left join back to the (small) error side.  Money sums in
    integer cents — engine-order-independent."""
    from file_dedup_rust_spark.operators.rangejoin import (
        range_join_point_in_interval,
    )

    e = _events(spark, sf_dir)
    errors = e.filter(F.col("event_type") == "error").select(
        "user_id",
        F.col("event_id").alias("err_event_id"),
        F.col("ts").alias("w_start"),
        (F.col("ts") + F.expr(f"INTERVAL {BLAST_WINDOW_MIN} MINUTES")).alias(
            "w_end"
        ),
    )
    pts = e.filter(F.col("event_type") != "error").select(
        "user_id",
        "ts",
        F.col("event_type").alias("p_type"),
        F.col("value").alias("p_value"),
    )
    hits = range_join_point_in_interval(
        errors,
        pts,
        "user_id",
        "w_start",
        "w_end",
        "ts",
        BLAST_WINDOW_MIN * 60 * 1_000_000,
    )
    agg = hits.groupBy("err_event_id").agg(
        F.count("*").alias("n"),
        F.sum((F.col("p_type") == "purchase").cast("long")).alias("np"),
        F.sum(round_dd(F.col("p_value") * 100).cast("long")).alias("vc"),
    )
    return (
        errors.join(agg, "err_event_id", "left")
        .select(
            F.col("err_event_id").alias("event_id"),
            "user_id",
            F.coalesce("n", F.lit(0)).alias("n_in_window"),
            F.coalesce("np", F.lit(0)).alias("n_purchases"),
            F.coalesce("vc", F.lit(0)).alias("value_cents"),
        )
        .orderBy("event_id")
    )


SQL_ERROR_BLAST_WINDOW = f"""
WITH errors AS (
  SELECT event_id, user_id, ts,
         ts + INTERVAL {BLAST_WINDOW_MIN} MINUTE AS w_end
  FROM events WHERE event_type = 'error'
),
pts AS (
  SELECT user_id, ts, event_type, value FROM events
  WHERE event_type != 'error'
)
SELECT e.event_id, e.user_id,
       count(p.ts) AS n_in_window,
       coalesce(sum(CASE WHEN p.event_type = 'purchase'
                         THEN 1 ELSE 0 END), 0) AS n_purchases,
       coalesce(sum(CAST(round(p.value * 100) AS BIGINT)), 0) AS value_cents
FROM errors e LEFT JOIN pts p
  ON p.user_id = e.user_id AND p.ts >= e.ts AND p.ts < e.w_end
GROUP BY e.event_id, e.user_id
ORDER BY e.event_id
"""


WSAMPLE_K = 100
WSAMPLE_CHARS_PER_WEIGHT = 96
WSAMPLE_SEED = "ws1"


def q_weighted_sample_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-k WEIGHTED sampling without replacement (Efraimidis &
    Spirakis 2006) — the length/quality-proportional subsample a
    data-mixing pipeline draws where `eval_carve_k` can only draw
    uniformly: here k=100 docs with probability ∝ a 1..8 length
    bucket.  Engine-exact: for integer weights the ES key u^(1/w) is
    distributionally the MAX of w independent uniforms, so the key is
    greatest() over per-weight md5 lanes — fixed-length hex strings
    order like the integers they encode, no float ln/pow to disagree
    at ulp scale, and the DuckDB oracle reproduces the draw
    bit-for-bit.  Deterministic and replayable from (seed, doc_id,
    weight) alone; partition- and engine-invariant.

    Scale shape: the ES key is one narrow projection (≤8 md5 calls
    per row); the global top-k is the salted two-stage pattern —
    no task sees more than max(n/32, 32k) rows
    (`functions/sampling.py::weighted_take_k`)."""
    from file_dedup_rust_spark.functions.sampling import weighted_take_k

    d = _docs(spark, sf_dir).select(
        "doc_id",
        F.least(
            F.lit(8),
            F.lit(1)
            + F.floor(F.col("n_chars") / F.lit(WSAMPLE_CHARS_PER_WEIGHT)),
        )
        .cast("long")
        .alias("weight"),
    )
    out = weighted_take_k(d, "doc_id", "weight", WSAMPLE_K, seed=WSAMPLE_SEED)
    return out.select(
        "doc_id",
        "weight",
        "es_key",
        F.col("draw_rank").cast("int").alias("draw_rank"),
    ).orderBy("draw_rank")


_WSAMPLE_LANES = ",\n      ".join(
    f"CASE WHEN weight > {j} THEN md5('{WSAMPLE_SEED}:{j}:' || doc_id)"
    f" ELSE '' END"
    for j in range(8)
)

SQL_WEIGHTED_SAMPLE_K = f"""
WITH w AS (
  SELECT doc_id,
         least(8, 1 + n_chars // {WSAMPLE_CHARS_PER_WEIGHT}) AS weight
  FROM documents
),
pr AS (
  SELECT doc_id, weight,
    greatest(
      {_WSAMPLE_LANES}
    ) AS es_key
  FROM w
),
r AS (
  SELECT doc_id, weight, es_key,
         row_number() OVER (ORDER BY es_key DESC, doc_id) AS draw_rank
  FROM pr
)
SELECT doc_id, weight, es_key, CAST(draw_rank AS INT) AS draw_rank
FROM r WHERE draw_rank <= {WSAMPLE_K}
ORDER BY draw_rank
"""


def q_props_json_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured payload profiling — the first query anyone runs
    against a JSON column at 100 TB: which keys exist per event type,
    how often, and the typed stats of the known numeric field.  One
    scan: the key census (json_object_keys explode) and the typed
    extraction (get_json_object path eval) both run as JVM expressions
    inside whole-stage codegen — JSON never reaches Python, and the
    aggregate map-side-combines.  Malformed payloads and non-integer values parse to NULL via
    try_cast (ANSI mode makes a plain cast THROW) and surface in n_rows - n_with_key; engine
    robustness to planted garbage is pytest-pinned.

    Output per (event_type, json key): rows carrying the key, values
    parsing as integers, their sum and max, and the count ≥ 50 — all
    integer columns, no float accumulation."""
    e = _events(spark, sf_dir)
    k = F.get_json_object("props", "$.k").try_cast("long")
    keyed = e.select(
        "event_type",
        F.explode(F.json_object_keys("props")).alias("jkey"),
        k.alias("kv"),
    )
    return (
        keyed.groupBy("event_type", "jkey")
        .agg(
            F.count("*").alias("n_with_key"),
            F.sum(F.col("kv").isNotNull().cast("long")).alias("n_int"),
            F.sum("kv").alias("sum_k"),
            F.max("kv").alias("max_k"),
            F.sum((F.col("kv") >= 50).cast("long")).alias("n_hi"),
        )
        .orderBy("event_type", "jkey")
    )


SQL_PROPS_JSON_PROFILE = """
WITH keyed AS (
  SELECT event_type,
         unnest(json_keys(props)) AS jkey,
         TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS kv
  FROM events
)
SELECT event_type, jkey,
       count(*) AS n_with_key,
       CAST(sum(CASE WHEN kv IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_int,
       CAST(sum(kv) AS BIGINT) AS sum_k,
       max(kv) AS max_k,
       CAST(sum(CASE WHEN kv >= 50 THEN 1 ELSE 0 END) AS BIGINT) AS n_hi
FROM keyed
GROUP BY event_type, jkey
ORDER BY event_type, jkey
"""


def q_session_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-step funnel inside gap-sessions — the sequence-matching
    operator: a session converts at step 2 only if a click follows
    STRICTLY after its first view, and at step 3 only if a purchase
    follows strictly after that click (the standard product-analytics
    semantics: first view, first click after it, first purchase after
    that — out-of-order events do not count).  One summary row:
    session count and survivors of each step.

    Scale shape: session labels come from the lag+cumsum sweep (ONE
    hashpartitioning exchange on user_id); the three step timestamps
    are three chained window aggregates over (user_id, sid) — Spark
    plans consecutive windows over the SAME partitioning with a
    single additional exchange, so the whole funnel is two shuffles
    of (ts, type) rows plus one global count — no joins, no Python,
    no per-session driver loop.  The oracle derives the identical
    sessionization and steps via group-agg + join-back (same
    semantics, different algorithm)."""
    e = _events(spark, sf_dir).select("user_id", "ts", "event_id", "event_type")
    wu = Window.partitionBy("user_id").orderBy("ts", "event_id")
    brk = (
        F.when(
            F.lag("ts").over(wu).isNull()
            | (
                F.expr("timestampdiff(MICROSECOND, lag(ts) OVER "
                       "(PARTITION BY user_id ORDER BY ts, event_id), ts)")
                >= F.lit(1800 * 1_000_000)
            ),
            F.lit(1),
        ).otherwise(F.lit(0))
    )
    s = e.withColumn("brk", brk).withColumn(
        "sid",
        F.sum("brk").over(
            wu.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    ws = Window.partitionBy("user_id", "sid")
    s = s.withColumn(
        "t1", F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(ws)
    )
    s = s.withColumn(
        "t2",
        F.min(
            F.when(
                (F.col("event_type") == "click") & (F.col("ts") > F.col("t1")),
                F.col("ts"),
            )
        ).over(ws),
    )
    s = s.withColumn(
        "t3",
        F.min(
            F.when(
                (F.col("event_type") == "purchase")
                & (F.col("ts") > F.col("t2")),
                F.col("ts"),
            )
        ).over(ws),
    )
    per_session = s.groupBy("user_id", "sid").agg(
        F.max(F.col("t1").isNotNull().cast("long")).alias("s1"),
        F.max(F.col("t2").isNotNull().cast("long")).alias("s2"),
        F.max(F.col("t3").isNotNull().cast("long")).alias("s3"),
    )
    return per_session.agg(
        F.count("*").alias("n_sessions"),
        F.sum("s1").alias("n_view"),
        F.sum("s2").alias("n_view_click"),
        F.sum("s3").alias("n_full_funnel"),
    )


SQL_SESSION_FUNNEL = """
WITH o AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN lag(ts) OVER w IS NULL
              OR date_diff('microsecond', lag(ts) OVER w, ts)
                 >= 1800 * 1000000 THEN 1 ELSE 0 END AS brk
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
s AS (
  SELECT user_id, ts, event_type,
         sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS UNBOUNDED PRECEDING) AS sid
  FROM o
),
t1 AS (
  SELECT user_id, sid,
         min(CASE WHEN event_type = 'view' THEN ts END) AS t1
  FROM s GROUP BY 1, 2
),
t2 AS (
  SELECT s.user_id, s.sid,
         min(CASE WHEN s.event_type = 'click' AND s.ts > t1.t1
                  THEN s.ts END) AS t2
  FROM s JOIN t1 USING (user_id, sid) GROUP BY 1, 2
),
t3 AS (
  SELECT s.user_id, s.sid,
         min(CASE WHEN s.event_type = 'purchase' AND s.ts > t2.t2
                  THEN s.ts END) AS t3
  FROM s JOIN t2 USING (user_id, sid) GROUP BY 1, 2
)
SELECT CAST(count(*) AS BIGINT) AS n_sessions,
       CAST(sum(CASE WHEN t1.t1 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_view,
       CAST(sum(CASE WHEN t2.t2 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_view_click,
       CAST(sum(CASE WHEN t3.t3 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_full_funnel
FROM t1 JOIN t2 USING (user_id, sid) JOIN t3 USING (user_id, sid)
"""


ALERT_TRAIL = 8  # trailing buckets in the anomaly baseline
ALERT_SLACK_PM = 50  # per-mille dead band around the 2x/0.5x rule


def q_dup_rate_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anomaly alerting over the dup-rate drift series — the
    monitoring rule a pipeline owner pages on: per ingestion bucket,
    compare the dup rate (per-mille integer) against the DISCRETE
    lower median of the trailing {ALERT_TRAIL} buckets; 'spike' past
    2x median + slack (crawl started re-fetching — the planted
    re-upload buckets provably fire), 'collapse' below half median −
    slack (a dedup tier silently stopped matching), 'none' while the
    trail is empty.  Everything is INTEGER arithmetic — per-mille
    rates via div(), median as element_at of the sorted trail list —
    so both engines agree bit-for-bit (an avg/stddev z-score would
    hash-diverge at ulp scale).

    Scale shape: the drift census itself is the dup_rate_drift plan
    (map-side-combined min per 8-byte content key + one bounded
    groupBy); the alert pass is a window over the BUCKET CENSUS —
    corpus_size/{DRIFT_BUCKET} rows, not data — so the global
    orderBy window is a deliberate driver-scale step over a bounded
    relation, exactly like mixture_rates' stratum table."""
    c = corpus_exact(spark, sf_dir)
    keyed = c.select("doc_id", F.xxhash64("t").alias("k"))
    mins = keyed.groupBy("k").agg(F.min("doc_id").alias("first_id"))
    firsts = keyed.join(mins, "k")
    drift = firsts.groupBy(
        F.floor(F.col("doc_id") / DRIFT_BUCKET).alias("bucket")
    ).agg(
        F.count("*").alias("n_docs"),
        F.sum((F.col("doc_id") == F.col("first_id")).cast("long")).alias(
            "n_new"
        ),
    ).select(
        "bucket",
        "n_docs",
        F.expr("div((n_docs - n_new) * 1000, n_docs)").alias("dup_pm"),
    )
    w = Window.orderBy("bucket").rowsBetween(-ALERT_TRAIL, -1)
    trail = F.array_sort(F.collect_list("dup_pm").over(w))
    labeled = drift.withColumn("trail", trail).select(
        "bucket",
        "n_docs",
        "dup_pm",
        F.when(
            F.size("trail") > 0,
            F.element_at(
                "trail",
                F.floor((F.size("trail") + 1) / 2).cast("int"),
            ),
        ).alias("median_pm"),
    )
    alert = (
        F.when(F.col("median_pm").isNull(), F.lit("none"))
        .when(
            F.col("dup_pm")
            > F.lit(2) * F.col("median_pm") + F.lit(ALERT_SLACK_PM),
            F.lit("spike"),
        )
        .when(
            F.lit(2) * F.col("dup_pm") + F.lit(ALERT_SLACK_PM)
            < F.col("median_pm"),
            F.lit("collapse"),
        )
        .otherwise(F.lit("ok"))
    )
    return labeled.withColumn("alert", alert).orderBy("bucket")


SQL_DUP_RATE_ALERTS = f"""
WITH {SQL_CORPUS_EXACT},
firsts AS (
  SELECT doc_id, min(doc_id) OVER (PARTITION BY t) AS first_id
  FROM corpus
),
drift AS (
  SELECT CAST(floor(doc_id / {DRIFT_BUCKET}) AS BIGINT) AS bucket,
         count(*) AS n_docs,
         ((count(*) - sum(CASE WHEN doc_id = first_id THEN 1 ELSE 0 END))
          * 1000) // count(*) AS dup_pm
  FROM firsts
  GROUP BY 1
),
trailed AS (
  SELECT bucket, n_docs, CAST(dup_pm AS BIGINT) AS dup_pm,
         list_sort(list(dup_pm) OVER (
           ORDER BY bucket
           ROWS BETWEEN {ALERT_TRAIL} PRECEDING AND 1 PRECEDING)) AS trail
  FROM drift
),
med AS (
  SELECT bucket, n_docs, dup_pm,
         CASE WHEN len(trail) > 0
              THEN CAST(trail[(len(trail) + 1) // 2] AS BIGINT)
         END AS median_pm
  FROM trailed
)
SELECT bucket, n_docs, dup_pm, median_pm,
       CASE WHEN median_pm IS NULL THEN 'none'
            WHEN dup_pm > 2 * median_pm + {ALERT_SLACK_PM} THEN 'spike'
            WHEN 2 * dup_pm + {ALERT_SLACK_PM} < median_pm THEN 'collapse'
            ELSE 'ok' END AS alert
FROM med
ORDER BY bucket
"""


ECC_HOPS = 4


def q_cluster_eccentricity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster STRETCH audit — the distance-structure complement
    to `cluster_coherence`'s density metrics: for every multi-member
    dup cluster, how far (in dup-graph hops) its farthest member sits
    from the representative, and how many members lie beyond
    {ECC_HOPS} hops entirely (n_deep > 0 = the chain is longer than
    the audit horizon — the strongest threshold-hopping-false-merge
    signal, since a legitimate near-dup cluster is a dense ball of
    radius 1-2 around any member, while a chain a~b~c~d merges
    endpoints that share nothing).

    One multi-source BFS serves every cluster at once
    (`operators/graph.py::min_hop_distance` seeded with ALL reps):
    components are disjoint, so a rep's frontier can never leak into
    another cluster and the per-cluster distances come out of a
    single k-round sweep over the shared edge set — never one BFS per
    cluster.  The oracle recomputes CC via the recursive min-label
    CTE and unrolls the same k relaxation rounds."""
    from file_dedup_rust_spark.operators.connected_components import (
        connected_components,
    )
    from file_dedup_rust_spark.operators.graph import (
        min_hop_distance,
        undirected_edges,
    )

    # one edge derivation feeds BOTH the CC labels and the BFS (the
    # former q_cc_clusters call re-derived _doc_edges a second time);
    # the cc label table is read by reps + the final join, so it is
    # materialized once too
    edges = _doc_edges(spark, sf_dir).select("a", "b")
    verts = corpus_exact(spark, sf_dir).select(
        F.col("doc_id").alias("clip_id")
    )
    cc = (
        connected_components(edges, verts)
        .select(F.col("clip_id").alias("doc_id"), "cluster_id")
        .localCheckpoint(eager=True)
    )
    reps = cc.select(F.col("cluster_id").alias("id")).distinct()
    dist = min_hop_distance(undirected_edges(edges), reps, ECC_HOPS)
    joined = cc.join(
        dist.withColumnRenamed("id", "doc_id"), "doc_id", "left"
    )
    return (
        joined.groupBy("cluster_id")
        .agg(
            F.count("*").alias("size"),
            F.max("hop_dist").alias("max_hop"),
            F.sum(F.col("hop_dist").isNull().cast("long")).alias("n_deep"),
        )
        .filter(F.col("size") >= 2)
        .orderBy("cluster_id")
    )


def _ecc_hop_sql(max_hops: int) -> str:
    steps = []
    prev = "e0"
    for i in range(1, max_hops + 1):
        cur = f"e{i}"
        steps.append(
            f"""{cur} AS (
  SELECT id, CAST(min(hop) AS INT) AS hop FROM (
    SELECT id, hop FROM {prev}
    UNION ALL
    SELECT s.b AS id, d.hop + 1 AS hop
    FROM {prev} d JOIN sym s ON s.a = d.id
  ) GROUP BY id
)"""
        )
        prev = cur
    return ",\n".join(steps)


SQL_CLUSTER_ECCENTRICITY = f"""
WITH RECURSIVE {SQL_DOC_EDGES},
sym AS (SELECT a, b FROM edges UNION SELECT b, a FROM edges),
verts AS (SELECT DISTINCT doc_id FROM corpus),
reach(id, lbl) AS (
  SELECT doc_id, doc_id FROM verts
  UNION
  SELECT s.b, r.lbl FROM reach r JOIN sym s ON s.a = r.id
),
cc AS (SELECT id AS doc_id, min(lbl) AS cluster_id FROM reach GROUP BY id),
e0 AS (
  SELECT DISTINCT cluster_id AS id, CAST(0 AS INT) AS hop FROM cc
),
{_ecc_hop_sql(ECC_HOPS)}
SELECT c.cluster_id,
       count(*) AS size,
       max(d.hop) AS max_hop,
       CAST(sum(CASE WHEN d.hop IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_deep
FROM cc c LEFT JOIN e{ECC_HOPS} d ON d.id = c.doc_id
GROUP BY c.cluster_id
HAVING count(*) >= 2
ORDER BY c.cluster_id
"""


MERGE3_THEIRS_CHG_MOD, MERGE3_THEIRS_CHG_RES = 17, 2
MERGE3_THEIRS_ADD_MOD = 15
MERGE3_THEIRS_ADD_OFFSET = 7_000_000


def _merge3_snapshots(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(base, ours, theirs) — two deterministic branches off one base
    planting every merge class: ours deletes %11==5 / revises %13==3 /
    adds +6e6 for %9==0; theirs deletes only the EVEN half of %11==5
    (odd half -> take_ours, even -> both-deleted both_same), revises
    the even %13==3 DIFFERENTLY (conflict; odd -> take_ours), revises
    its own %17==2 (take_theirs), re-adds the SAME +6e6 rows
    (both-added both_same) and its own +7e6 rows (take_theirs)."""
    a = docs_corpus(spark, sf_dir)
    ours = (
        a.filter((F.col("doc_id") % DELTA_DEL_MOD) != DELTA_DEL_RES)
        .select(
            "doc_id",
            F.when(
                (F.col("doc_id") % DELTA_CHG_MOD) == DELTA_CHG_RES,
                F.concat("t", F.lit(" rev-ours")),
            ).otherwise(F.col("t")).alias("t"),
        )
        .unionByName(
            a.filter((F.col("doc_id") % DELTA_ADD_MOD) == 0).select(
                (F.col("doc_id") + DELTA_ADD_OFFSET).alias("doc_id"), "t"
            )
        )
    )
    theirs = (
        a.filter(
            ~(
                ((F.col("doc_id") % DELTA_DEL_MOD) == DELTA_DEL_RES)
                & (F.col("doc_id") % 2 == 0)
            )
        )
        .select(
            "doc_id",
            F.when(
                ((F.col("doc_id") % DELTA_CHG_MOD) == DELTA_CHG_RES)
                & (F.col("doc_id") % 2 == 0),
                F.concat("t", F.lit(" rev-theirs")),
            )
            .when(
                (F.col("doc_id") % MERGE3_THEIRS_CHG_MOD)
                == MERGE3_THEIRS_CHG_RES,
                F.concat("t", F.lit(" patch")),
            )
            .otherwise(F.col("t"))
            .alias("t"),
        )
        .unionByName(
            a.filter((F.col("doc_id") % DELTA_ADD_MOD) == 0).select(
                (F.col("doc_id") + DELTA_ADD_OFFSET).alias("doc_id"), "t"
            )
        )
        .unionByName(
            a.filter((F.col("doc_id") % MERGE3_THEIRS_ADD_MOD) == 0).select(
                (F.col("doc_id") + MERGE3_THEIRS_ADD_OFFSET).alias("doc_id"),
                "t",
            )
        )
    )
    return a, ours, theirs


def q_snapshot_merge3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-way corpus merge (`operators/delta.py::snapshot_merge3`)
    — the git-merge of snapshot versions: a main rebuild and a hotfix
    branch edited the same base independently; classify every touched
    id take_ours / take_theirs / both_same / conflict for the
    reconciler (conflicts feed conflict_repair's majority vote).  All
    four classes are deterministically planted (overlapping deletes,
    divergent and convergent revisions, same-and-different adds).

    Scale shape: per-side md5 fingerprints, then two full-outer joins
    on the SAME id key (second join reuses the first's partitioning);
    only 40-byte rows cross the exchanges; output bounded by churn."""
    from file_dedup_rust_spark.operators.delta import snapshot_merge3

    base, ours, theirs = _merge3_snapshots(spark, sf_dir)
    return snapshot_merge3(base, ours, theirs).orderBy("doc_id")


_SQL_MERGE3_CHG = (
    f"(doc_id % {DELTA_CHG_MOD}) = {DELTA_CHG_RES}"
)

SQL_SNAPSHOT_MERGE3 = f"""
WITH {SQL_DOCS_CORPUS},
base AS (SELECT doc_id, t FROM corpus),
ours AS (
  SELECT doc_id,
         CASE WHEN {_SQL_MERGE3_CHG} THEN t || ' rev-ours' ELSE t END AS t
  FROM base WHERE (doc_id % {DELTA_DEL_MOD}) != {DELTA_DEL_RES}
  UNION ALL
  SELECT doc_id + {DELTA_ADD_OFFSET}, t FROM base
  WHERE (doc_id % {DELTA_ADD_MOD}) = 0
),
theirs AS (
  SELECT doc_id,
         CASE WHEN {_SQL_MERGE3_CHG} AND doc_id % 2 = 0
                THEN t || ' rev-theirs'
              WHEN (doc_id % {MERGE3_THEIRS_CHG_MOD})
                   = {MERGE3_THEIRS_CHG_RES} THEN t || ' patch'
              ELSE t END AS t
  FROM base
  WHERE NOT ((doc_id % {DELTA_DEL_MOD}) = {DELTA_DEL_RES}
             AND doc_id % 2 = 0)
  UNION ALL
  SELECT doc_id + {DELTA_ADD_OFFSET}, t FROM base
  WHERE (doc_id % {DELTA_ADD_MOD}) = 0
  UNION ALL
  SELECT doc_id + {MERGE3_THEIRS_ADD_OFFSET}, t FROM base
  WHERE (doc_id % {MERGE3_THEIRS_ADD_MOD}) = 0
),
b AS (SELECT doc_id AS id, md5(t) AS fb FROM base),
o AS (SELECT doc_id AS id, md5(t) AS fo FROM ours),
th AS (SELECT doc_id AS id, md5(t) AS ft FROM theirs),
j AS (
  SELECT coalesce(b.id, o.id, th.id) AS doc_id, fb, fo, ft
  FROM b FULL JOIN o ON o.id = b.id
         FULL JOIN th ON th.id = coalesce(b.id, o.id)
)
SELECT doc_id,
       CASE WHEN fo IS DISTINCT FROM fb AND ft IS NOT DISTINCT FROM fb
              THEN 'take_ours'
            WHEN ft IS DISTINCT FROM fb AND fo IS NOT DISTINCT FROM fb
              THEN 'take_theirs'
            WHEN fo IS DISTINCT FROM fb AND ft IS DISTINCT FROM fb
                 AND fo IS NOT DISTINCT FROM ft THEN 'both_same'
            WHEN fo IS DISTINCT FROM fb AND ft IS DISTINCT FROM fb
              THEN 'conflict'
       END AS status
FROM j
WHERE fo IS DISTINCT FROM fb OR ft IS DISTINCT FROM fb
ORDER BY doc_id
"""


KANON_K = 5
KANON_LEN_BUCKET = 100


def q_k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity release gate over the corpus metadata — before a
    corpus ships WITH its metadata columns, every quasi-identifier
    combination (lang × source × length bucket) must describe at
    least k={KANON_K} documents, or the combination isolates
    individuals' contributions (Sweeney 2002's re-identification
    argument; the metadata analog of `pii_redaction`'s content gate).
    One row per QI group: its size and whether it violates k — the
    release decision is then suppress/generalize the risky groups.

    Scale shape: ONE map-side-combined groupBy over the QI tuple —
    the same single-shuffle census shape as counts_by_type; the
    length bucket is a pure projection.  Integer-only output."""
    d = _docs(spark, sf_dir)
    return (
        d.groupBy(
            "lang",
            "source",
            F.floor(F.col("n_chars") / KANON_LEN_BUCKET)
            .cast("long")
            .alias("len_bucket"),
        )
        .agg(F.count("*").alias("n"))
        .select(
            "lang",
            "source",
            "len_bucket",
            "n",
            (F.col("n") < KANON_K).cast("int").alias("risky"),
        )
        .orderBy("lang", "source", "len_bucket")
    )


SQL_K_ANONYMITY_AUDIT = f"""
SELECT lang, source,
       CAST(floor(n_chars / {KANON_LEN_BUCKET}) AS BIGINT) AS len_bucket,
       count(*) AS n,
       CAST(CASE WHEN count(*) < {KANON_K} THEN 1 ELSE 0 END AS INT)
         AS risky
FROM documents
GROUP BY 1, 2, 3
ORDER BY 1, 2, 3
"""


VENN_PAD_MOD, VENN_PAD_RES = 21, 1
VENN_PAD_OFFSET = 8_000_000
VENN_COPY_MOD, VENN_COPY_RES = 23, 2
VENN_COPY_OFFSET = 9_000_000


def q_tier_venn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verification-tier agreement census — the redundancy audit that
    says which detector you could turn off: over the union of the
    set-Jaccard and bag-Jaccard pair sets (both at {JACCARD_T}), each
    pair carries three flags — caught by set-Jaccard, caught by
    bag-Jaccard, exactly identical content — and the output is the
    3-bit Venn cell census (≤ 7 rows).  set-only cells are the
    repetition-padded pairs the bag metric correctly demotes;
    bag-only cells are count-pattern matches the set metric dilutes;
    exact pairs should sit in the both-cell (a tier missing its own
    exact dups is broken — pytest pins that cell is populated).
    Disagreement is deterministically planted: tripled-text copies of
    the %{VENN_PAD_MOD}=={VENN_PAD_RES} hosts keep the shingle SET
    (set-Jaccard ~0.97) while the occurrence counts diverge 3x
    (bag ~0.33 < {JACCARD_T}) — the set-only cell is provably
    non-empty, and identical +{VENN_COPY_OFFSET} copies populate the
    exact both-cell (the raw table has zero exact dups).

    Scale shape: the two pair derivations are the existing posting
    joins (short word-3-gram posting lists); the Venn itself is one
    full-outer join of (ia, ib) keys, two broadcast-ready fingerprint
    attach joins, and a ≤8-group partial-agg census — the audit adds
    no new quadratic surface."""
    base = docs_corpus(spark, sf_dir)
    padded = base.filter(
        (F.col("doc_id") % VENN_PAD_MOD == VENN_PAD_RES)
        & (F.size(F.split("t", " ")) >= 30)
    ).select(
        (F.col("doc_id") + VENN_PAD_OFFSET).alias("doc_id"),
        F.concat_ws(" ", "t", "t", "t").alias("t"),
    )
    copies = base.filter(
        (F.col("doc_id") % VENN_COPY_MOD == VENN_COPY_RES)
        & (F.size(F.split("t", " ")) >= 3)
    ).select((F.col("doc_id") + VENN_COPY_OFFSET).alias("doc_id"), "t")
    # the planted corpus feeds the set-Jaccard path, the bag-count
    # path, and the fingerprint attach — materialize once
    corpus = base.unionByName(padded).unionByName(copies).localCheckpoint(
        eager=True
    )
    sj = jaccard_pairs(shingles(corpus), JACCARD_T).select(
        "ia", "ib", F.lit(1).alias("in_set")
    )
    from file_dedup_rust_spark.operators.decontaminate import word_ngrams

    grams = word_ngrams(corpus.select("doc_id", "t"), 3, distinct=False)
    # cnt feeds totals + both bag-posting sides (different join keys)
    cnt = grams.groupBy("doc_id", F.xxhash64("g").alias("h")).agg(
        F.count("*").alias("cn")
    ).localCheckpoint(eager=True)
    tot = cnt.groupBy("doc_id").agg(F.sum("cn").alias("n"))
    ba = cnt.select(F.col("doc_id").alias("ia"), "h", F.col("cn").alias("ca"))
    bb = cnt.select(F.col("doc_id").alias("ib"), "h", F.col("cn").alias("cb"))
    binter = (
        ba.hint("SHUFFLE_HASH").join(bb, "h")
        .filter(F.col("ia") < F.col("ib"))
        .groupBy("ia", "ib")
        .agg(F.sum(F.least("ca", "cb")).alias("m"))
    )
    bj = (
        binter.join(tot.select(F.col("doc_id").alias("ia"),
                               F.col("n").alias("na")), "ia")
        .join(tot.select(F.col("doc_id").alias("ib"),
                         F.col("n").alias("nb")), "ib")
        .filter(
            round_dd(F.col("m") / (F.col("na") + F.col("nb") - F.col("m")), 4)
            >= JACCARD_T
        )
        .select("ia", "ib", F.lit(1).alias("in_bag"))
    )
    uni = sj.join(bj, ["ia", "ib"], "full_outer")
    fp = corpus.select("doc_id", F.md5("t").alias("fpr"))
    flagged = (
        uni.join(fp.select(F.col("doc_id").alias("ia"),
                           F.col("fpr").alias("fa")), "ia")
        .join(fp.select(F.col("doc_id").alias("ib"),
                        F.col("fpr").alias("fb")), "ib")
        .select(
            F.coalesce("in_set", F.lit(0)).alias("in_set"),
            F.coalesce("in_bag", F.lit(0)).alias("in_bag"),
            (F.col("fa") == F.col("fb")).cast("int").alias("is_exact"),
        )
    )
    return (
        flagged.groupBy("in_set", "in_bag", "is_exact")
        .agg(F.count("*").alias("n_pairs"))
        .orderBy("in_set", "in_bag", "is_exact")
    )


_SQL_VENN_CORPUS = f"""docs_base AS (
  SELECT doc_id, lower(coalesce(text, '')) AS t FROM documents
),
corpus AS (
  SELECT doc_id, t FROM docs_base
  UNION ALL
  SELECT doc_id + {VENN_PAD_OFFSET}, t || ' ' || t || ' ' || t
  FROM docs_base
  WHERE doc_id % {VENN_PAD_MOD} = {VENN_PAD_RES}
    AND len(string_split(t, ' ')) >= 30
  UNION ALL
  SELECT doc_id + {VENN_COPY_OFFSET}, t
  FROM docs_base
  WHERE doc_id % {VENN_COPY_MOD} = {VENN_COPY_RES}
    AND len(string_split(t, ' ')) >= 3
)"""

SQL_TIER_VENN = f"""
WITH {_sql_shingles(_SQL_VENN_CORPUS)},
{SQL_JACCARD_PAIRS},
sj AS (SELECT ia, ib FROM jpairs WHERE jac >= {JACCARD_T}),
bgm AS (
  SELECT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS g
  FROM toks, unnest(generate_series(1, greatest(len(w) - 2, 0))) AS u(i)
),
bcnt AS (SELECT doc_id, g, count(*) AS c FROM bgm GROUP BY 1, 2),
btot AS (SELECT doc_id, sum(c) AS n FROM bcnt GROUP BY 1),
binter AS (
  SELECT a.doc_id AS ia, b.doc_id AS ib, sum(least(a.c, b.c)) AS m
  FROM bcnt a JOIN bcnt b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
bj AS (
  SELECT ia, ib
  FROM binter
  JOIN btot ta ON ta.doc_id = ia
  JOIN btot tb ON tb.doc_id = ib
  WHERE round(m * 1.0 / (ta.n + tb.n - m), 4) >= {JACCARD_T}
),
uni AS (
  SELECT coalesce(sj.ia, bj.ia) AS ia, coalesce(sj.ib, bj.ib) AS ib,
         CASE WHEN sj.ia IS NULL THEN 0 ELSE 1 END AS in_set,
         CASE WHEN bj.ia IS NULL THEN 0 ELSE 1 END AS in_bag
  FROM sj FULL JOIN bj ON bj.ia = sj.ia AND bj.ib = sj.ib
),
fp AS (SELECT doc_id, md5(t) AS fpr FROM corpus)
SELECT u.in_set, u.in_bag,
       CAST(CASE WHEN fa.fpr = fb.fpr THEN 1 ELSE 0 END AS INT) AS is_exact,
       count(*) AS n_pairs
FROM uni u
JOIN fp fa ON fa.doc_id = u.ia
JOIN fp fb ON fb.doc_id = u.ib
GROUP BY 1, 2, 3
ORDER BY 1, 2, 3
"""


WSRC_MIRROR_MOD = 7
WSRC_MIRROR_OFFSET = 1_000_000


def q_wasted_space_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source storage-waste attribution — `wasted_space` answers
    "how much would dedup reclaim"; this answers "WHICH FEED is
    wasting it": every duplicate copy's bytes (n_chars as the proxy)
    are charged to the COPY's source, first occurrences are free (the
    global first-seen = min doc_id per content hash, the dedup
    pipeline's keep rule).  A planted 'mirror' feed re-crawls every
    %{WSRC_MIRROR_MOD}==0 doc, so its rows are 100% duplicates — the
    audit provably isolates the re-crawling feed while the organic
    sources keep reclaim ~0.

    Scale shape: the dup_rate_drift plan — map-side-combined min per
    8-byte xxhash64 content key + join back — then one bounded
    groupBy on source; waste rates as integer per-mille (div), no
    float accumulation."""
    base = _docs(spark, sf_dir).select(
        "doc_id",
        F.lower(F.coalesce("text", F.lit(""))).alias("t"),
        "source",
        "n_chars",
    )
    mirror = base.filter(F.col("doc_id") % WSRC_MIRROR_MOD == 0).select(
        (F.col("doc_id") + WSRC_MIRROR_OFFSET).alias("doc_id"),
        "t",
        F.lit("mirror").alias("source"),
        "n_chars",
    )
    c = base.unionByName(mirror)
    keyed = c.select("doc_id", "source", "n_chars", F.xxhash64("t").alias("k"))
    mins = keyed.groupBy("k").agg(F.min("doc_id").alias("first_id"))
    firsts = keyed.join(mins, "k")
    return (
        firsts.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(
                (F.col("doc_id") != F.col("first_id")).cast("long")
            ).alias("n_dup_copies"),
            F.sum(
                F.when(
                    F.col("doc_id") != F.col("first_id"), F.col("n_chars")
                ).otherwise(F.lit(0))
            ).alias("wasted_chars"),
            F.sum("n_chars").alias("total_chars"),
        )
        .select(
            "source",
            "n_docs",
            "n_dup_copies",
            "wasted_chars",
            F.expr("div(wasted_chars * 1000, total_chars)").alias(
                "reclaim_pm"
            ),
        )
        .orderBy("source")
    )


SQL_WASTED_SPACE_BY_SOURCE = f"""
WITH base AS (
  SELECT doc_id, lower(coalesce(text, '')) AS t, source, n_chars
  FROM documents
),
c AS (
  SELECT doc_id, t, source, n_chars FROM base
  UNION ALL
  SELECT doc_id + {WSRC_MIRROR_OFFSET}, t, 'mirror', n_chars
  FROM base WHERE doc_id % {WSRC_MIRROR_MOD} = 0
),
firsts AS (
  SELECT doc_id, source, n_chars,
         min(doc_id) OVER (PARTITION BY t) AS first_id
  FROM c
),
g AS (
  SELECT source,
         count(*) AS n_docs,
         CAST(sum(CASE WHEN doc_id != first_id THEN 1 ELSE 0 END) AS BIGINT)
           AS n_dup_copies,
         CAST(sum(CASE WHEN doc_id != first_id THEN n_chars ELSE 0 END)
              AS BIGINT) AS wasted_chars,
         sum(n_chars) AS total_chars
  FROM firsts GROUP BY 1
)
SELECT source, n_docs, n_dup_copies, wasted_chars,
       (wasted_chars * 1000) // total_chars AS reclaim_pm
FROM g
ORDER BY source
"""


TPCH_Q1_CUTOFF = "2001-06-30 00:00:00"


def q_tpch_q1_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 (pricing summary) over the star-schema half of the
    driver tables — the first exercise of `lineitem` in the contract,
    proving the engine's plain-OLAP side next to the dedup surface:
    per (returnflag, linestatus), row/quantity counts and the
    base / discounted / charged monetary sums for shipments up to the
    cutoff.  All money in EXACT integers — cents for the base sum,
    cents×10⁻² for discounted (price_cents × (100−disc_pct)),
    cents×10⁻⁴ for charge (× (100+tax_pct)) — so the engines agree
    bit-for-bit where double accumulation would diverge at ulp scale;
    the 2-dp source doubles convert exactly via round(x*100).

    Scale shape: the cutoff filter reaches the parquet scan
    (PushedFilters, plan-pinned) and the single groupBy map-side-
    combines into 4 groups — the canonical one-pass scan+agg; at
    10^12 rows this is a pure scan-bandwidth workload."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").filter(
        F.col("l_shipdate") <= F.lit(TPCH_Q1_CUTOFF).cast("timestamp")
    )
    qty = round_dd(F.col("l_quantity")).cast("long")
    cents = round_dd(F.col("l_extendedprice") * 100).cast("long")
    dpct = round_dd(F.col("l_discount") * 100).cast("long")
    tpct = round_dd(F.col("l_tax") * 100).cast("long")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(qty).alias("sum_qty"),
            F.sum(cents).alias("sum_base_cents"),
            F.sum(cents * (F.lit(100) - dpct)).alias("sum_disc_e4"),
            F.sum(
                cents * (F.lit(100) - dpct) * (F.lit(100) + tpct)
            ).alias("sum_charge_e6"),
            F.sum(dpct).alias("sum_disc_pct"),
        )
        .select(
            "l_returnflag",
            "l_linestatus",
            "n_rows",
            "sum_qty",
            "sum_base_cents",
            "sum_disc_e4",
            "sum_charge_e6",
            round_dd(F.col("sum_qty") / F.col("n_rows"), 4).alias("avg_qty"),
            round_dd(
                F.col("sum_base_cents") / (F.col("n_rows") * 100), 4
            ).alias("avg_price"),
            round_dd(
                F.col("sum_disc_pct") / (F.col("n_rows") * 100), 4
            ).alias("avg_disc"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


SQL_TPCH_Q1_PRICING = f"""
WITH li AS (
  SELECT l_returnflag, l_linestatus,
         CAST(round(l_quantity) AS BIGINT) AS qty,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
         CAST(round(l_discount * 100) AS BIGINT) AS dpct,
         CAST(round(l_tax * 100) AS BIGINT) AS tpct
  FROM lineitem
  WHERE l_shipdate <= TIMESTAMP '{TPCH_Q1_CUTOFF}'
)
SELECT l_returnflag, l_linestatus,
       count(*) AS n_rows,
       CAST(sum(qty) AS BIGINT) AS sum_qty,
       CAST(sum(cents) AS BIGINT) AS sum_base_cents,
       CAST(sum(cents * (100 - dpct)) AS BIGINT) AS sum_disc_e4,
       CAST(sum(cents * (100 - dpct) * (100 + tpct)) AS BIGINT)
         AS sum_charge_e6,
       round(sum(qty) * 1.0 / count(*), 4) AS avg_qty,
       round(sum(cents) * 1.0 / (count(*) * 100), 4) AS avg_price,
       round(sum(dpct) * 1.0 / (count(*) * 100), 4) AS avg_disc
FROM li
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


TPCH_Q3_SEGMENT = "BUILDING"
TPCH_Q3_DATE = "2000-12-01 00:00:00"
TPCH_Q3_TOPN = 10


def q_tpch_q3_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 (shipping priority) — the join-shaped OLAP exercise:
    top-{TPCH_Q3_TOPN} undelivered orders by revenue for one market
    segment (orders placed before the date whose lineitems ship
    after it), through customer ⋈ orders ⋈ lineitem.

    Scale shape: both dimension filters are pushed to their parquet
    scans (segment on customer, date on orders — PushedFilters
    plan-pinned); the filtered customer side is explicitly
    `broadcast()` (1/5 of a dimension table — never shuffle the fact
    table for it) and Catalyst broadcasts the filtered orders side
    under AQE sizing, so lineitem — the 100-TB table — is never
    re-partitioned before the joins; one map-side-combined groupBy on
    (orderkey, date) and a TakeOrdered top-N replace a global sort.
    Revenue in exact cents×10⁻² integers: ranking ties are impossible
    to mis-order across engines (deterministic orderkey tiebreak)."""
    cust = (
        spark.read.parquet(f"{sf_dir}/customer.parquet")
        .filter(F.col("c_mktsegment") == TPCH_Q3_SEGMENT)
        .select("c_custkey")
    )
    orders = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .filter(
            F.col("o_orderdate") < F.lit(TPCH_Q3_DATE).cast("timestamp")
        )
        .select("o_orderkey", "o_custkey", "o_orderdate")
    )
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").filter(
        F.col("l_shipdate") > F.lit(TPCH_Q3_DATE).cast("timestamp")
    )
    cents = round_dd(F.col("l_extendedprice") * 100).cast("long")
    dpct = round_dd(F.col("l_discount") * 100).cast("long")
    return (
        li.join(
            F.broadcast(orders.join(F.broadcast(cust),
                                    orders.o_custkey == cust.c_custkey)),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("l_orderkey", "o_orderdate")
        .agg(
            F.sum(cents * (F.lit(100) - dpct)).alias("revenue_e4")
        )
        .select(
            "l_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "revenue_e4",
        )
        .orderBy(F.desc("revenue_e4"), "l_orderkey")
        .limit(TPCH_Q3_TOPN)
    )


SQL_TPCH_Q3_SHIPPING = f"""
SELECT l.l_orderkey,
       strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate,
       CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)
                * (100 - CAST(round(l.l_discount * 100) AS BIGINT)))
            AS BIGINT) AS revenue_e4
FROM customer c
JOIN orders o ON o.o_custkey = c.c_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = '{TPCH_Q3_SEGMENT}'
  AND o.o_orderdate < TIMESTAMP '{TPCH_Q3_DATE}'
  AND l.l_shipdate > TIMESTAMP '{TPCH_Q3_DATE}'
GROUP BY l.l_orderkey, o.o_orderdate
ORDER BY revenue_e4 DESC, l.l_orderkey
LIMIT {TPCH_Q3_TOPN}
"""


TPCH_Q5_REGION = "ASIA"
TPCH_Q5_FROM = "1999-01-01 00:00:00"
TPCH_Q5_TO = "2000-01-01 00:00:00"


def q_tpch_q5_local_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 (local supplier volume) — the six-table star join
    exercising region, nation, and supplier (with customer, orders,
    lineitem): revenue per nation in one region and order-year where
    the supplying and ordering nations coincide.  With Q1/Q3 this
    makes every driver table an exercised surface.

    Scale shape: the dimension chain region→nation→customer and the
    100-row supplier table are all broadcast; orders carries the
    pushed date range; the fact table joins against broadcast hashes
    only (no SortMergeJoin, negative-pinned) and the local-supplier
    predicate (c_nationkey = s_nationkey) evaluates inside the join's
    codegen.  Revenue in exact cents×10⁻² integers; final rollup is
    25 groups max."""
    region = spark.read.parquet(f"{sf_dir}/region.parquet").filter(
        F.col("r_name") == TPCH_Q5_REGION
    )
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet").join(
        F.broadcast(region),
        F.col("n_regionkey") == F.col("r_regionkey"),
    ).select("n_nationkey", "n_name")
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").join(
        F.broadcast(nation),
        F.col("c_nationkey") == F.col("n_nationkey"),
    ).select("c_custkey", "c_nationkey", "n_name")
    orders = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .filter(
            (F.col("o_orderdate") >= F.lit(TPCH_Q5_FROM).cast("timestamp"))
            & (F.col("o_orderdate") < F.lit(TPCH_Q5_TO).cast("timestamp"))
        )
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .select("o_orderkey", "c_nationkey", "n_name")
    )
    supp = spark.read.parquet(f"{sf_dir}/supplier.parquet").select(
        "s_suppkey", "s_nationkey"
    )
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    cents = round_dd(F.col("l_extendedprice") * 100).cast("long")
    dpct = round_dd(F.col("l_discount") * 100).cast("long")
    return (
        li.join(
            F.broadcast(orders), F.col("l_orderkey") == F.col("o_orderkey")
        )
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
        .groupBy("n_name")
        .agg(F.sum(cents * (F.lit(100) - dpct)).alias("revenue_e4"))
        .orderBy(F.desc("revenue_e4"), "n_name")
    )


SQL_TPCH_Q5_LOCAL_SUPPLIER = f"""
SELECT n.n_name,
       CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)
                * (100 - CAST(round(l.l_discount * 100) AS BIGINT)))
            AS BIGINT) AS revenue_e4
FROM region r
JOIN nation n ON n.n_regionkey = r.r_regionkey
JOIN customer c ON c.c_nationkey = n.n_nationkey
JOIN orders o ON o.o_custkey = c.c_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey
WHERE r.r_name = '{TPCH_Q5_REGION}'
  AND o.o_orderdate >= TIMESTAMP '{TPCH_Q5_FROM}'
  AND o.o_orderdate < TIMESTAMP '{TPCH_Q5_TO}'
  AND c.c_nationkey = s.s_nationkey
GROUP BY n.n_name
ORDER BY revenue_e4 DESC, n.n_name
"""


TPCH_Q14_FROM = "2000-01-01 00:00:00"
TPCH_Q14_TO = "2000-04-01 00:00:00"


def q_tpch_q14_promo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 (promotion effect) — the part ⋈ lineitem exercise
    that closes the last untouched driver table: the share of one
    quarter's revenue attributable to PROMO-type parts.  One row:
    exact-integer promo and total revenue (cents×10⁻²) plus the
    4-dp percentage.

    Scale shape: the 2,000-row part table broadcasts into the
    date-pruned lineitem scan (PushedFilters on l_shipdate,
    negative-pinned no SortMergeJoin); the conditional promo sum and
    the total ride ONE map-side-combined aggregate — a single pass,
    no second scan for the denominator."""
    part = spark.read.parquet(f"{sf_dir}/part.parquet").select(
        "p_partkey", "p_type"
    )
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").filter(
        (F.col("l_shipdate") >= F.lit(TPCH_Q14_FROM).cast("timestamp"))
        & (F.col("l_shipdate") < F.lit(TPCH_Q14_TO).cast("timestamp"))
    )
    cents = round_dd(F.col("l_extendedprice") * 100).cast("long")
    dpct = round_dd(F.col("l_discount") * 100).cast("long")
    rev = cents * (F.lit(100) - dpct)
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            F.sum(
                F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0))
            ).alias("promo_rev_e4"),
            F.sum(rev).alias("total_rev_e4"),
        )
        .select(
            "promo_rev_e4",
            "total_rev_e4",
            round_dd(
                F.col("promo_rev_e4") * 100.0 / F.col("total_rev_e4"), 4
            ).alias("promo_pct"),
        )
    )


SQL_TPCH_Q14_PROMO = f"""
WITH j AS (
  SELECT CAST(round(l.l_extendedprice * 100) AS BIGINT)
         * (100 - CAST(round(l.l_discount * 100) AS BIGINT)) AS rev,
         p.p_type
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
  WHERE l.l_shipdate >= TIMESTAMP '{TPCH_Q14_FROM}'
    AND l.l_shipdate < TIMESTAMP '{TPCH_Q14_TO}'
)
SELECT CAST(sum(CASE WHEN p_type = 'PROMO' THEN rev ELSE 0 END) AS BIGINT)
         AS promo_rev_e4,
       CAST(sum(rev) AS BIGINT) AS total_rev_e4,
       round(sum(CASE WHEN p_type = 'PROMO' THEN rev ELSE 0 END) * 100.0
             / sum(rev), 4) AS promo_pct
FROM j
"""


def q_customer_running_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer running revenue — the cumulative-window OLAP shape
    (account-balance / LTV timelines): every order annotated with its
    1-based sequence number and the customer's cumulative spend in
    exact integer cents up to and including it, ordered by
    (o_orderdate, o_orderkey) so ties are deterministic.

    Scale shape: ONE hashpartitioning exchange on o_custkey feeds the
    sort-based window (row_number + running sum share the frame);
    money converts to cents once in the scan projection — no doubles
    accumulate, so the running sums are bit-identical across engines
    at any prefix length."""
    od = spark.read.parquet(f"{sf_dir}/orders.parquet")
    cents = round_dd(F.col("o_totalprice") * 100).cast("long")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        od.select(
            "o_orderkey",
            "o_custkey",
            "o_orderdate",
            cents.alias("order_cents"),
        )
        .withColumn("order_seq", F.count("*").over(w).cast("int"))
        .withColumn("cum_cents", F.sum("order_cents").over(w))
        .select(
            "o_orderkey",
            "o_custkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "order_cents",
            "order_seq",
            "cum_cents",
        )
        .orderBy("o_custkey", "order_seq")
    )


SQL_CUSTOMER_RUNNING_REVENUE = """
SELECT o_orderkey, o_custkey,
       strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
       CAST(round(o_totalprice * 100) AS BIGINT) AS order_cents,
       CAST(count(*) OVER w AS INT) AS order_seq,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) OVER w
            AS BIGINT) AS cum_cents
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS UNBOUNDED PRECEDING)
ORDER BY o_custkey, order_seq
"""


TPCH_Q18_MIN_QTY = 300


def q_tpch_q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 (large-volume customers) — the aggregate-then-join
    shape: orders whose TOTAL lineitem quantity exceeds
    {TPCH_Q18_MIN_QTY}, enriched with the customer name, ranked by
    quantity.  The classic HAVING-subquery pattern a SQL user writes
    as `WHERE o_orderkey IN (SELECT ... HAVING sum(qty) > T)`.

    Scale shape: the qualifying-order set comes from ONE map-side-
    combined groupBy over the fact table (partial sums collapse the
    4-rows-per-order long before the exchange); that tiny survivor
    set then drives broadcast joins against orders and customer — the
    fact table is aggregated exactly once and never re-shuffled, and
    the big-side HAVING filter runs post-agg where Catalyst placed
    it.  Quantities are integer-valued doubles → exact longs."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(round_dd("l_quantity").cast("long")).alias("total_qty"))
        .filter(F.col("total_qty") > TPCH_Q18_MIN_QTY)
    )
    od = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        "c_custkey", "c_name"
    )
    return (
        od.join(F.broadcast(big), od.o_orderkey == big.l_orderkey)
        .join(F.broadcast(cust), od.o_custkey == cust.c_custkey)
        .select(
            "c_name",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            round_dd(F.col("o_totalprice") * 100)
            .cast("long")
            .alias("total_cents"),
            "total_qty",
        )
        .orderBy(F.desc("total_qty"), "o_orderkey")
    )


SQL_TPCH_Q18_LARGE_ORDERS = f"""
WITH big AS (
  SELECT l_orderkey,
         CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT)
           AS total_qty
  FROM lineitem
  GROUP BY 1
  HAVING sum(CAST(round(l_quantity) AS BIGINT)) > {TPCH_Q18_MIN_QTY}
)
SELECT c.c_name, o.o_orderkey,
       strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate,
       CAST(round(o.o_totalprice * 100) AS BIGINT) AS total_cents,
       b.total_qty
FROM big b
JOIN orders o ON o.o_orderkey = b.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
ORDER BY b.total_qty DESC, o.o_orderkey
"""


EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def q_events_day_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day × event-type PIVOT — the wide-format report surface
    (`df.groupBy(...).pivot(...)`): one row per calendar day with a
    count column per event type plus the row total.  The pivot column
    set is DECLARED (the five known types), which is the 100-TB
    contract: an undeclared pivot forces an extra distinct-values
    job over the fact table before the real aggregation can even be
    planned — declared values make it a single one-pass conditional
    aggregation, identical to the CASE-based SQL the oracle runs.

    Scale shape: one map-side-combined groupBy on the day key;
    every pivot cell is a conditional partial count inside the same
    aggregate — no join, no second pass, day-bounded output."""
    e = _events(spark, sf_dir)
    out = (
        e.withColumn("day", F.date_format("ts", "yyyy-MM-dd"))
        .groupBy("day")
        .pivot("event_type", EVENT_TYPES)
        .agg(F.count(F.lit(1)))
        .na.fill(0, EVENT_TYPES)
    )
    total = None
    for t in EVENT_TYPES:
        total = F.col(t) if total is None else total + F.col(t)
    return out.withColumn("total", total.cast("long")).orderBy("day")


SQL_EVENTS_DAY_PIVOT = """
SELECT strftime(ts, '%Y-%m-%d') AS day,
       CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT)
         AS click,
       CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT)
         AS error,
       CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
            AS BIGINT) AS purchase,
       CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT)
         AS signup,
       CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT)
         AS view,
       count(*) AS total
FROM events
GROUP BY 1
ORDER BY 1
"""


def q_revenue_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Segment × order-year ROLLUP — the multi-level subtotal surface
    (`df.rollup(...)`): detail rows, per-segment subtotals, and the
    grand total from ONE aggregation, with explicit GROUPING flags so
    subtotal NULLs are distinguishable from NULL data (the contract
    every BI layer depends on).  Exact integer cents throughout.

    Scale shape: Spark plans rollup as a single Expand (3 grouping
    sets) feeding one map-side-combined aggregate — the fact-dim join
    happens once, not once per level, and the broadcast customer side
    keeps orders un-shuffled; output is bounded by segments × years +
    segments + 1."""
    od = spark.read.parquet(f"{sf_dir}/orders.parquet")
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        "c_custkey", "c_mktsegment"
    )
    cents = round_dd(F.col("o_totalprice") * 100).cast("long")
    j = od.join(F.broadcast(cust), od.o_custkey == cust.c_custkey).select(
        F.col("c_mktsegment").alias("segment"),
        F.year("o_orderdate").cast("long").alias("order_year"),
        cents.alias("cents"),
    )
    return (
        j.rollup("segment", "order_year")
        .agg(
            F.grouping("segment").cast("int").alias("g_segment"),
            F.grouping("order_year").cast("int").alias("g_year"),
            F.count("*").alias("n_orders"),
            F.sum("cents").alias("revenue_cents"),
        )
        .select(
            "segment",
            "order_year",
            "g_segment",
            "g_year",
            "n_orders",
            "revenue_cents",
        )
        .orderBy("g_segment", "g_year", "segment", "order_year")
    )


SQL_REVENUE_ROLLUP = """
WITH j AS (
  SELECT c.c_mktsegment AS segment,
         CAST(year(o.o_orderdate) AS BIGINT) AS order_year,
         CAST(round(o.o_totalprice * 100) AS BIGINT) AS cents
  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
)
SELECT segment, order_year,
       CAST(GROUPING(segment) AS INT) AS g_segment,
       CAST(GROUPING(order_year) AS INT) AS g_year,
       count(*) AS n_orders,
       CAST(sum(cents) AS BIGINT) AS revenue_cents
FROM j
GROUP BY ROLLUP(segment, order_year)
ORDER BY g_segment, g_year, segment, order_year
"""


DORMANT_FROM = "2000-01-01 00:00:00"
DORMANT_TO = "2001-01-01 00:00:00"


def q_dormant_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with ZERO orders in a year — the LeftAnti surface at
    driver-query level (the engine uses anti-joins internally for
    incremental dedup; this is the user-facing churn/retention shape):
    per dormant customer, their segment and lifetime order count
    outside the window (0 = never ordered at all — acquisition-list
    rows — kept via the left join's coalesce).

    Scale shape: the window-filtered orders project to DISTINCT
    custkeys BEFORE the anti-join (pre-aggregation shrinks the build
    side to ≤ one row per active customer), the anti-join broadcasts
    that bounded key set, and the lifetime count attaches via one
    more broadcast-able aggregate — the customer table streams
    through two broadcast probes, never shuffling."""
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        "c_custkey", "c_name", "c_mktsegment"
    )
    od = spark.read.parquet(f"{sf_dir}/orders.parquet")
    active = (
        od.filter(
            (F.col("o_orderdate") >= F.lit(DORMANT_FROM).cast("timestamp"))
            & (F.col("o_orderdate") < F.lit(DORMANT_TO).cast("timestamp"))
        )
        .select("o_custkey")
        .distinct()
    )
    lifetime = od.groupBy("o_custkey").agg(
        F.count("*").alias("lifetime_orders")
    )
    return (
        cust.join(
            F.broadcast(active), cust.c_custkey == active.o_custkey, "left_anti"
        )
        .join(
            F.broadcast(lifetime),
            cust.c_custkey == lifetime.o_custkey,
            "left",
        )
        .select(
            "c_custkey",
            "c_name",
            "c_mktsegment",
            F.coalesce("lifetime_orders", F.lit(0))
            .cast("long")
            .alias("lifetime_orders"),
        )
        .orderBy("c_custkey")
    )


SQL_DORMANT_CUSTOMERS = f"""
SELECT c.c_custkey, c.c_name, c.c_mktsegment,
       CAST(coalesce(lt.n, 0) AS BIGINT) AS lifetime_orders
FROM customer c
LEFT JOIN (
  SELECT o_custkey, count(*) AS n FROM orders GROUP BY 1
) lt ON lt.o_custkey = c.c_custkey
WHERE NOT EXISTS (
  SELECT 1 FROM orders o
  WHERE o.o_custkey = c.c_custkey
    AND o.o_orderdate >= TIMESTAMP '{DORMANT_FROM}'
    AND o.o_orderdate < TIMESTAMP '{DORMANT_TO}'
)
ORDER BY c.c_custkey
"""


def q_order_vs_customer_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each order against its OWN customer's average — the correlated
    scalar-subquery shape (`WHERE price > (SELECT avg(...) WHERE same
    customer)`), decorrelated the way an optimizer does it: ONE
    window over the customer key computes every per-customer
    aggregate in a single pass instead of re-running a subquery per
    row.  Output: above-average orders with their exact deviation.
    Comparisons in exact integers — order_cents × n vs sum_cents —
    so no division touches the PREDICATE; the reported ratio is the
    only rounded value.

    Scale shape: one hashpartitioning exchange on o_custkey (the
    window), predicate and deviation inside codegen, no join at all
    (negative-pinned) — the decorrelation IS the optimization."""
    od = spark.read.parquet(f"{sf_dir}/orders.parquet")
    cents = round_dd(F.col("o_totalprice") * 100).cast("long")
    w = Window.partitionBy("o_custkey")
    base = od.select(
        "o_orderkey", "o_custkey", cents.alias("order_cents")
    ).withColumn("n", F.count("*").over(w)).withColumn(
        "sum_cents", F.sum("order_cents").over(w)
    )
    return (
        base.filter(
            F.col("order_cents") * F.col("n") > F.col("sum_cents")
        )
        .select(
            "o_orderkey",
            "o_custkey",
            "order_cents",
            F.col("n").cast("long").alias("n_orders"),
            "sum_cents",
            round_dd(
                F.col("order_cents") * F.col("n") / F.col("sum_cents"), 4
            ).alias("x_of_avg"),
        )
        .orderBy("o_orderkey")
    )


SQL_ORDER_VS_CUSTOMER_AVG = """
WITH b AS (
  SELECT o_orderkey, o_custkey,
         CAST(round(o_totalprice * 100) AS BIGINT) AS order_cents,
         count(*) OVER w AS n,
         sum(CAST(round(o_totalprice * 100) AS BIGINT)) OVER w AS sum_cents
  FROM orders
  WINDOW w AS (PARTITION BY o_custkey)
)
SELECT o_orderkey, o_custkey, order_cents,
       CAST(n AS BIGINT) AS n_orders,
       CAST(sum_cents AS BIGINT) AS sum_cents,
       round(order_cents * n * 1.0 / sum_cents, 4) AS x_of_avg
FROM b
WHERE order_cents * n > sum_cents
ORDER BY o_orderkey
"""


def q_embedding_component_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector component statistics via HIGHER-ORDER array
    functions — the vector-column API surface with zero Python:
    `transform` (abs), `filter` (positive-component census),
    `array_max` / `array_position` (dominant coordinate), and the
    `aggregate` fold (squared norm) all run as JVM codegen
    expressions over the array<float> column.  Per row: positive
    count, dominant |component| and its 1-based index, squared norm.

    Engine-exactness: every float op here is PER-ROW and the fold is
    a SEQUENTIAL left-to-right accumulation in both engines (probed
    bit-identical), so no cross-row float aggregation order exists to
    diverge; ties in the dominant coordinate resolve to the first
    index in both engines.  At 100 TB this is the narrow projection
    shape — no shuffle, no Arrow hop, fused into the scan."""
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    a = F.transform("embedding", lambda x: F.abs(x.cast("double")))
    sq = F.aggregate(
        "embedding",
        F.lit(0.0),
        lambda acc, x: acc + x.cast("double") * x.cast("double"),
    )
    return (
        e.select(
            "vec_id",
            "label",
            F.size(F.filter("embedding", lambda x: x > 0))
            .cast("int")
            .alias("pos_n"),
            round_dd(F.array_max(a), 4).alias("max_abs"),
            F.array_position(a, F.array_max(a)).cast("long").alias("arg_max"),
            round_dd(sq, 4).alias("sq_norm"),
        )
        .orderBy("vec_id")
    )


SQL_EMBEDDING_COMPONENT_STATS = """
WITH t AS (
  SELECT vec_id, label,
         list_transform(embedding, x -> abs(CAST(x AS DOUBLE))) AS a,
         len(list_filter(embedding, x -> x > 0)) AS pos_n,
         list_sum(list_transform(embedding,
                  x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS sq
  FROM embeddings
)
SELECT vec_id, label,
       CAST(pos_n AS INT) AS pos_n,
       round(list_max(a), 4) AS max_abs,
       CAST(list_indexof(a, list_max(a)) AS BIGINT) AS arg_max,
       round(sq, 4) AS sq_norm
FROM t
ORDER BY vec_id
"""


def q_revenue_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Segment × order-year CUBE — rollup's complete sibling: all
    FOUR grouping sets (detail, per-segment, per-year, grand total)
    from one aggregation, so the per-year marginal — which ROLLUP
    cannot produce — comes at no extra pass.  GROUPING flags separate
    the levels; exact integer cents.

    Scale shape: one Expand into 4 grouping sets feeding a single
    map-side-combined aggregate; the fact-dim broadcast join runs
    once; output bounded by (segments+1) × (years+1)."""
    od = spark.read.parquet(f"{sf_dir}/orders.parquet")
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        "c_custkey", "c_mktsegment"
    )
    cents = round_dd(F.col("o_totalprice") * 100).cast("long")
    j = od.join(F.broadcast(cust), od.o_custkey == cust.c_custkey).select(
        F.col("c_mktsegment").alias("segment"),
        F.year("o_orderdate").cast("long").alias("order_year"),
        cents.alias("cents"),
    )
    return (
        j.cube("segment", "order_year")
        .agg(
            F.grouping("segment").cast("int").alias("g_segment"),
            F.grouping("order_year").cast("int").alias("g_year"),
            F.count("*").alias("n_orders"),
            F.sum("cents").alias("revenue_cents"),
        )
        .select(
            "segment",
            "order_year",
            "g_segment",
            "g_year",
            "n_orders",
            "revenue_cents",
        )
        .orderBy("g_segment", "g_year", "segment", "order_year")
    )


SQL_REVENUE_CUBE = """
WITH j AS (
  SELECT c.c_mktsegment AS segment,
         CAST(year(o.o_orderdate) AS BIGINT) AS order_year,
         CAST(round(o.o_totalprice * 100) AS BIGINT) AS cents
  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
)
SELECT segment, order_year,
       CAST(GROUPING(segment) AS INT) AS g_segment,
       CAST(GROUPING(order_year) AS INT) AS g_year,
       count(*) AS n_orders,
       CAST(sum(cents) AS BIGINT) AS revenue_cents
FROM j
GROUP BY CUBE(segment, order_year)
ORDER BY g_segment, g_year, segment, order_year
"""


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "exact_dup_groups": q_exact_dup_groups,
    "dedup_ratio": q_dedup_ratio,
    "avg_cluster_size": q_avg_cluster_size,
    "wasted_space": q_wasted_space,
    "top_events_listing": q_top_events_listing,
    "status_filter_counts": q_status_filter_counts,
    "knn_topk": q_knn_topk,
    "embedding_neardup_pairs": q_embedding_neardup_pairs,
    "sim_histogram": q_sim_histogram,
    "sim_value_counts": q_sim_value_counts,
    "ngram_jaccard_pairs": q_ngram_jaccard_pairs,
    "minhash_lsh_pairs": q_minhash_lsh_pairs,
    "containment_pairs": q_containment_pairs,
    "tier_dedup_summary": q_tier_dedup_summary,
    "cc_clusters": q_cc_clusters,
    "cluster_summary": q_cluster_summary,
    "cluster_coherence": q_cluster_coherence,
    "source_overlap_matrix": q_source_overlap_matrix,
    "lang_id": q_lang_id,
    "lang_mismatch": q_lang_mismatch,
    "quality_score": q_quality_score,
    "token_counts": q_token_counts,
    "doc_fingerprint": q_doc_fingerprint,
    "sha256_hash": q_sha256_hash,
    "counts_by_type": q_counts_by_type,
    "extension_dispatch": q_extension_dispatch,
    "display_top3": q_display_top3,
    "events_window_agg": q_events_window_agg,
    "embedding_clusters": q_embedding_clusters,
    "clean_corpus_stats": q_clean_corpus_stats,
    "events_page2": q_events_page2,
    "events_keyset_page": q_events_keyset_page,
    "job_lookup": q_job_lookup,
    "jobs_delete_remaining": q_jobs_delete_remaining,
    "topk_neighbors_pipeline": q_topk_neighbors_pipeline,
    "lsh_cosine_neardup_pairs": q_lsh_cosine_neardup_pairs,
    "semdedup_prune": q_semdedup_prune,
    "dedup_new_vs_corpus": q_dedup_new_vs_corpus,
    "corpus_delta": q_corpus_delta,
    "decontam_hits": q_decontam_hits,
    "fuzzy_decontam_hits": q_fuzzy_decontam_hits,
    "stratified_sample": q_stratified_sample,
    "eval_carve_k": q_eval_carve_k,
    "corpus_build_funnel": q_corpus_build_funnel,
    "keep_capped_copies": q_keep_capped_copies,
    "ann_ivf_topk": q_ann_ivf_topk,
    "hard_negatives": q_hard_negatives,
    "ann_ivf_pq_topk": q_ann_ivf_pq_topk,
    "repetition_flags": q_repetition_flags,
    "dup_span_stats": q_dup_span_stats,
    "novelty_scores": q_novelty_scores,
    "unigram_nll": q_unigram_nll,
    "bigram_nll": q_bigram_nll,
    "pii_redaction": q_pii_redaction,
    "bpe_token_counts": q_bpe_token_counts,
    "tfidf_top_terms": q_tfidf_top_terms,
    "redacted_dup_groups": q_redacted_dup_groups,
    "pack_chunks": q_pack_chunks,
    "shard_manifest": q_shard_manifest,
    "block_dedup": q_block_dedup,
    "token_budget_select": q_token_budget_select,
    "cluster_best_rep": q_cluster_best_rep,
    "bucketed_batches": q_bucketed_batches,
    "boilerplate_prune": q_boilerplate_prune,
    "leakage_safe_split": q_leakage_safe_split,
    "mixture_weights": q_mixture_weights,
    "temperature_mix": q_temperature_mix,
    "conflict_repair": q_conflict_repair,
    "consensus_transcript": q_consensus_transcript,
    "mixture_applied": q_mixture_applied,
    "edit_verified_pairs": q_edit_verified_pairs,
    "source_token_quota": q_source_token_quota,
    "corpus_diversity": q_corpus_diversity,
    "vocab_top_terms": q_vocab_top_terms,
    "length_percentiles": q_length_percentiles,
    "zipf_slope": q_zipf_slope,
    "soft_dedup_weights": q_soft_dedup_weights,
    "bow_dup_groups": q_bow_dup_groups,
    "ngram_containment_pairs": q_ngram_containment_pairs,
    "embedding_decontam_hits": q_embedding_decontam_hits,
    "contam_by_source": q_contam_by_source,
    "dup_rate_drift": q_dup_rate_drift,
    "source_jaccard_sketch": q_source_jaccard_sketch,
    "paraphrase_pairs": q_paraphrase_pairs,
    "stale_embedding_pairs": q_stale_embedding_pairs,
    "contam_coverage": q_contam_coverage,
    "dsir_weights": q_dsir_weights,
    "unimax_alloc": q_unimax_alloc,
    "chunk_dedup_savings": q_chunk_dedup_savings,
    "dsir_selected": q_dsir_selected,
    "hll_distinct_by_source": q_hll_distinct_by_source,
    "winnow_fingerprints": q_winnow_fingerprints,
    "winnow_matches": q_winnow_matches,
    "allpairs_jaccard": q_allpairs_jaccard,
    "bloom_prefilter": q_bloom_prefilter,
    "dedup_threshold_curve": q_dedup_threshold_curve,
    "snm_neardup_pairs": q_snm_neardup_pairs,
    "user_sessions": q_user_sessions,
    "table_stats": q_table_stats,
    "bag_jaccard_pairs": q_bag_jaccard_pairs,
    "cluster_size_histogram": q_cluster_size_histogram,
    "contam_redact": q_contam_redact,
    "tfidf_cosine_pairs": q_tfidf_cosine_pairs,
    "token_entropy": q_token_entropy,
    "cms_freq_estimates": q_cms_freq_estimates,
    "pmi_top_bigrams": q_pmi_top_bigrams,
    "cluster_delete_repair": q_cluster_delete_repair,
    "node_triangles": q_node_triangles,
    "triangle_summary": q_triangle_summary,
    "graph_pagerank": q_graph_pagerank,
    "clustering_agreement": q_clustering_agreement,
    "contam_spread": q_contam_spread,
    "asof_last_touch": q_asof_last_touch,
    "error_blast_window": q_error_blast_window,
    "weighted_sample_k": q_weighted_sample_k,
    "props_json_profile": q_props_json_profile,
    "session_funnel": q_session_funnel,
    "dup_rate_alerts": q_dup_rate_alerts,
    "cluster_eccentricity": q_cluster_eccentricity,
    "snapshot_merge3": q_snapshot_merge3,
    "k_anonymity_audit": q_k_anonymity_audit,
    "tier_venn": q_tier_venn,
    "wasted_space_by_source": q_wasted_space_by_source,
    "tpch_q1_pricing": q_tpch_q1_pricing,
    "tpch_q3_shipping": q_tpch_q3_shipping,
    "tpch_q5_local_supplier": q_tpch_q5_local_supplier,
    "tpch_q14_promo": q_tpch_q14_promo,
    "customer_running_revenue": q_customer_running_revenue,
    "tpch_q18_large_orders": q_tpch_q18_large_orders,
    "events_day_pivot": q_events_day_pivot,
    "revenue_rollup": q_revenue_rollup,
    "dormant_customers": q_dormant_customers,
    "order_vs_customer_avg": q_order_vs_customer_avg,
    "embedding_component_stats": q_embedding_component_stats,
    "revenue_cube": q_revenue_cube,
}

ORACLES: dict[str, str] = {
    "exact_dup_groups": SQL_EXACT_DUP_GROUPS,
    "dedup_ratio": SQL_DEDUP_RATIO,
    "avg_cluster_size": SQL_AVG_CLUSTER_SIZE,
    "wasted_space": SQL_WASTED_SPACE,
    "top_events_listing": SQL_TOP_EVENTS_LISTING,
    "status_filter_counts": SQL_STATUS_FILTER_COUNTS,
    "knn_topk": SQL_KNN_TOPK,
    "embedding_neardup_pairs": SQL_EMBEDDING_NEARDUP_PAIRS,
    "sim_histogram": SQL_SIM_HISTOGRAM,
    "sim_value_counts": SQL_SIM_VALUE_COUNTS,
    "ngram_jaccard_pairs": SQL_NGRAM_JACCARD_PAIRS,
    "minhash_lsh_pairs": SQL_NGRAM_JACCARD_PAIRS,  # LSH must reproduce exact
    "containment_pairs": SQL_CONTAINMENT_PAIRS,
    "tier_dedup_summary": SQL_TIER_DEDUP_SUMMARY,
    "cc_clusters": SQL_CC_CLUSTERS,
    "cluster_summary": SQL_CLUSTER_SUMMARY,
    "cluster_coherence": SQL_CLUSTER_COHERENCE,
    "source_overlap_matrix": SQL_SOURCE_OVERLAP_MATRIX,
    "lang_id": SQL_LANG_ID,
    "lang_mismatch": SQL_LANG_MISMATCH,
    "quality_score": SQL_QUALITY_SCORE,
    "token_counts": SQL_TOKEN_COUNTS,
    "doc_fingerprint": SQL_DOC_FINGERPRINT,
    "sha256_hash": SQL_SHA256_HASH,
    "counts_by_type": SQL_COUNTS_BY_TYPE,
    "extension_dispatch": SQL_EXTENSION_DISPATCH,
    "display_top3": SQL_DISPLAY_TOP3,
    "events_window_agg": SQL_EVENTS_WINDOW_AGG,
    "embedding_clusters": SQL_EMBEDDING_CLUSTERS,
    "clean_corpus_stats": SQL_CLEAN_CORPUS_STATS,
    "events_page2": SQL_EVENTS_PAGE2,
    "events_keyset_page": SQL_EVENTS_KEYSET_PAGE,
    "job_lookup": SQL_JOB_LOOKUP,
    "jobs_delete_remaining": SQL_JOBS_DELETE_REMAINING,
    "topk_neighbors_pipeline": SQL_TOPK_NEIGHBORS_PIPELINE,
    "lsh_cosine_neardup_pairs": SQL_LSH_COSINE_NEARDUP_PAIRS,
    "semdedup_prune": SQL_SEMDEDUP_PRUNE,
    "dedup_new_vs_corpus": SQL_DEDUP_NEW_VS_CORPUS,
    "corpus_delta": SQL_CORPUS_DELTA,
    "decontam_hits": SQL_DECONTAM_HITS,
    "fuzzy_decontam_hits": SQL_FUZZY_DECONTAM_HITS,
    "stratified_sample": SQL_STRATIFIED_SAMPLE,
    "eval_carve_k": SQL_EVAL_CARVE_K,
    "corpus_build_funnel": SQL_CORPUS_BUILD_FUNNEL,
    "keep_capped_copies": SQL_KEEP_CAPPED_COPIES,
    # the IVF pair runs on the planted clustered corpus where the
    # probe budget provably covers every true top-10 pair, so the
    # exact brute-force SQL is the oracle (both queries produce the
    # same exact answer by construction — one shared SQL, like
    # minhash_lsh_pairs); the isotropic approximate regime stays
    # recall-gated in tests/test_ann_quality.py
    "ann_ivf_topk": SQL_ANN_IVF_TOPK,
    "hard_negatives": SQL_HARD_NEGATIVES,
    "ann_ivf_pq_topk": SQL_ANN_IVF_TOPK,
    "repetition_flags": SQL_REPETITION_FLAGS,
    "dup_span_stats": SQL_DUP_SPAN_STATS,
    "novelty_scores": SQL_NOVELTY_SCORES,
    "unigram_nll": SQL_UNIGRAM_NLL,
    "bigram_nll": SQL_BIGRAM_NLL,
    "pii_redaction": SQL_PII_REDACTION,
    "bpe_token_counts": SQL_BPE_TOKEN_COUNTS,
    "tfidf_top_terms": SQL_TFIDF_TOP_TERMS,
    "redacted_dup_groups": SQL_REDACTED_DUP_GROUPS,
    "pack_chunks": SQL_PACK_CHUNKS,
    "shard_manifest": SQL_SHARD_MANIFEST,
    "block_dedup": SQL_BLOCK_DEDUP,
    "token_budget_select": SQL_TOKEN_BUDGET_SELECT,
    "cluster_best_rep": SQL_CLUSTER_BEST_REP,
    "bucketed_batches": SQL_BUCKETED_BATCHES,
    "boilerplate_prune": SQL_BOILERPLATE_PRUNE,
    "leakage_safe_split": SQL_LEAKAGE_SAFE_SPLIT,
    "mixture_weights": SQL_MIXTURE_WEIGHTS,
    "temperature_mix": SQL_TEMPERATURE_MIX,
    "conflict_repair": SQL_CONFLICT_REPAIR,
    "consensus_transcript": SQL_CONSENSUS_TRANSCRIPT,
    "mixture_applied": SQL_MIXTURE_APPLIED,
    "edit_verified_pairs": SQL_EDIT_VERIFIED_PAIRS,
    "source_token_quota": SQL_SOURCE_TOKEN_QUOTA,
    "corpus_diversity": SQL_CORPUS_DIVERSITY,
    "vocab_top_terms": SQL_VOCAB_TOP_TERMS,
    "length_percentiles": SQL_LENGTH_PERCENTILES,
    "zipf_slope": SQL_ZIPF_SLOPE,
    "soft_dedup_weights": SQL_SOFT_DEDUP_WEIGHTS,
    "bow_dup_groups": SQL_BOW_DUP_GROUPS,
    "ngram_containment_pairs": SQL_NGRAM_CONTAINMENT_PAIRS,
    "embedding_decontam_hits": SQL_EMBEDDING_DECONTAM_HITS,
    "contam_by_source": SQL_CONTAM_BY_SOURCE,
    "dup_rate_drift": SQL_DUP_RATE_DRIFT,
    "source_jaccard_sketch": SQL_SOURCE_JACCARD_SKETCH,
    "paraphrase_pairs": SQL_PARAPHRASE_PAIRS,
    "stale_embedding_pairs": SQL_STALE_EMBEDDING_PAIRS,
    "contam_coverage": SQL_CONTAM_COVERAGE,
    "dsir_weights": SQL_DSIR_WEIGHTS,
    "unimax_alloc": SQL_UNIMAX_ALLOC,
    "chunk_dedup_savings": SQL_CHUNK_DEDUP_SAVINGS,
    "dsir_selected": SQL_DSIR_SELECTED,
    "hll_distinct_by_source": SQL_HLL_DISTINCT_BY_SOURCE,
    "winnow_fingerprints": SQL_WINNOW_FINGERPRINTS,
    "winnow_matches": SQL_WINNOW_MATCHES,
    "allpairs_jaccard": SQL_NGRAM_JACCARD_PAIRS,
    "bloom_prefilter": SQL_BLOOM_PREFILTER,
    "dedup_threshold_curve": SQL_DEDUP_THRESHOLD_CURVE,
    "snm_neardup_pairs": SQL_SNM_NEARDUP_PAIRS,
    "user_sessions": SQL_USER_SESSIONS,
    "table_stats": SQL_TABLE_STATS,
    "bag_jaccard_pairs": SQL_BAG_JACCARD_PAIRS,
    "cluster_size_histogram": SQL_CLUSTER_SIZE_HISTOGRAM,
    "contam_redact": SQL_CONTAM_REDACT,
    "tfidf_cosine_pairs": SQL_TFIDF_COSINE_PAIRS,
    "token_entropy": SQL_TOKEN_ENTROPY,
    "cms_freq_estimates": SQL_CMS_FREQ_ESTIMATES,
    "pmi_top_bigrams": SQL_PMI_TOP_BIGRAMS,
    "cluster_delete_repair": SQL_CLUSTER_DELETE_REPAIR,
    "node_triangles": SQL_NODE_TRIANGLES,
    "triangle_summary": SQL_TRIANGLE_SUMMARY,
    "graph_pagerank": SQL_GRAPH_PAGERANK,
    "clustering_agreement": SQL_CLUSTERING_AGREEMENT,
    "contam_spread": SQL_CONTAM_SPREAD,
    "asof_last_touch": SQL_ASOF_LAST_TOUCH,
    "error_blast_window": SQL_ERROR_BLAST_WINDOW,
    "weighted_sample_k": SQL_WEIGHTED_SAMPLE_K,
    "props_json_profile": SQL_PROPS_JSON_PROFILE,
    "session_funnel": SQL_SESSION_FUNNEL,
    "dup_rate_alerts": SQL_DUP_RATE_ALERTS,
    "cluster_eccentricity": SQL_CLUSTER_ECCENTRICITY,
    "snapshot_merge3": SQL_SNAPSHOT_MERGE3,
    "k_anonymity_audit": SQL_K_ANONYMITY_AUDIT,
    "tier_venn": SQL_TIER_VENN,
    "wasted_space_by_source": SQL_WASTED_SPACE_BY_SOURCE,
    "tpch_q1_pricing": SQL_TPCH_Q1_PRICING,
    "tpch_q3_shipping": SQL_TPCH_Q3_SHIPPING,
    "tpch_q5_local_supplier": SQL_TPCH_Q5_LOCAL_SUPPLIER,
    "tpch_q14_promo": SQL_TPCH_Q14_PROMO,
    "customer_running_revenue": SQL_CUSTOMER_RUNNING_REVENUE,
    "tpch_q18_large_orders": SQL_TPCH_Q18_LARGE_ORDERS,
    "events_day_pivot": SQL_EVENTS_DAY_PIVOT,
    "revenue_rollup": SQL_REVENUE_ROLLUP,
    "dormant_customers": SQL_DORMANT_CUSTOMERS,
    "order_vs_customer_avg": SQL_ORDER_VS_CUSTOMER_AVG,
    "embedding_component_stats": SQL_EMBEDDING_COMPONENT_STATS,
    "revenue_cube": SQL_REVENUE_CUBE,
}
