"""Corpus-level MinHash sketches: estimate the Jaccard overlap between
SOURCES (whole sub-corpora) without ever joining them.

The exact cross-source overlap matrix
(entry.testdata_queries.q_source_overlap_matrix) hash-joins every
distinct text against every other — the right answer at test scale,
but between two 10-TB crawls the distinct-text join is itself a
corpus-sized shuffle.  The classic fix (Broder 1997, "On the
resemblance and containment of documents" — applied here at corpus
granularity) is a k-lane MinHash signature PER SOURCE: lane l's value
is min over the source's distinct texts of a lane-salted hash, and
E[fraction of agreeing lanes] = Jaccard(A, B).  Each source reduces to
k values; the pairwise comparison is O(n_sources^2 * k) — driver-cheap
for any real source count — and adding a source never reprocesses the
others.

Determinism/oracle contract: the lane hash is the LEXICOGRAPHIC min of
the md5 hex digest of "<lane>:<text>" — md5 and string min are
bit-identical in Spark and DuckDB, so the ESTIMATE itself (not just
its expectation) is exactly reproducible by a SQL oracle.  MinHash
needs only a total order on a uniform hash; the hex-string order is as
good as an integer order and needs no hex->int conversion that one
engine lacks.

Scale shape: distinct (source, text) contracts first (one map-side-
combined shuffle); the k-lane explode multiplies rows by k but the
groupBy min map-side-combines each task down to (sources x k) partial
rows before the exchange — the shuffle carries signatures, never
texts.  k=64 gives std(est) = sqrt(p(1-p)/64) <= 0.0625.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from file_dedup_rust_spark.functions.rounding import round_dd


def source_minhash_sketch(
    corpus: DataFrame, k: int = 64
) -> DataFrame:
    """(source, t) rows -> (source, lane, sig) k-lane signatures.

    sig is the lexicographic min md5("<lane>:<t>") over the source's
    DISTINCT texts.  Re-hashing per lane (k md5 calls per row) keeps
    the lanes independent; all of it runs in whole-stage codegen."""
    lanes = F.explode(
        F.array(*[F.lit(i) for i in range(k)])
    ).alias("lane")
    hashed = (
        corpus.select("source", "t")
        .distinct()
        .select("source", "t", lanes)
        .select(
            "source",
            "lane",
            F.md5(
                F.concat_ws(":", F.col("lane").cast("string"), F.col("t"))
            ).alias("h"),
        )
    )
    return hashed.groupBy("source", "lane").agg(F.min("h").alias("sig"))


def sketch_jaccard(sketch: DataFrame, k: int = 64) -> DataFrame:
    """(source, lane, sig) -> (src_a, src_b, agree_lanes, jacc_est) for
    every unordered source pair.  agree_lanes counts lanes whose min
    hashes coincide; jacc_est = agree_lanes / k.  The join is
    signatures-only: n_sources x k rows per side."""
    a = sketch.select(
        F.col("source").alias("src_a"), "lane", F.col("sig").alias("sig_a")
    )
    b = sketch.select(
        F.col("source").alias("src_b"), "lane", F.col("sig").alias("sig_b")
    )
    return (
        a.join(b, "lane")
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(
            F.sum(
                (F.col("sig_a") == F.col("sig_b")).cast("long")
            ).alias("agree_lanes")
        )
        .select(
            "src_a",
            "src_b",
            "agree_lanes",
            round_dd(F.col("agree_lanes") / k, 4).alias("jacc_est"),
        )
    )


# ---------------------------------------------------------------------------
# HyperLogLog distinct counting (Flajolet et al. 2007) — cardinality
# without ever holding the distinct set.  count(distinct t) per group
# is exact but shuffles every distinct value; at two 10-TB crawls the
# distinct set IS the corpus.  HLL reduces each group to m=256 5-bit
# registers: hash each value, route to a bucket on the first hex byte,
# record the max leading-zero run of the remaining 120 bits, estimate
# n from the harmonic mean (linear counting below m*2.5 where raw HLL
# biases — the standard small-range correction).
#
# Determinism/oracle contract (same trick as the MinHash sketch
# above): everything derives from the md5 HEX STRING — bucket =
# substr(1,2), nibble-zero run via regexp '^0*', the sub-nibble bit
# count via a 15-way CASE on the first non-zero hex digit — all
# bit-identical in Spark and DuckDB, so the ESTIMATE itself is
# oracle-checkable, and a pure-Python hashlib reference reproduces it
# exactly (pytest).
#
# Scale shape: one partial-agg groupBy (group, bucket) max — the
# shuffle carries at most m rows per group, never values; then a
# per-group sum over <= m register rows.  Mergeable by construction
# (max of maxes), like every sketch in this module.
# ---------------------------------------------------------------------------

HLL_M = 256  # 2-hex-digit bucket index; alpha per the HLL paper
HLL_ALPHA_MM = 0.7213 / (1.0 + 1.079 / HLL_M) * HLL_M * HLL_M


def _hll_rho() -> "F.Column":
    """Leading-zero-bit run (+1) of the 120-bit tail of md5(t), from
    the hex string: 4 bits per leading '0' nibble, plus 0-3 bits from
    the first non-zero digit (8-f -> 0, 4-7 -> 1, 2-3 -> 2, 1 -> 3)."""
    tail = F.substring("h", 3, 30)
    zeros = F.length(F.regexp_extract(tail, "^0*", 0))
    first = F.substring(F.concat(F.regexp_replace(tail, "^0*", ""), F.lit("1")), 1, 1)
    sub = (
        F.when(first.isin("8", "9", "a", "b", "c", "d", "e", "f"), 0)
        .when(first.isin("4", "5", "6", "7"), 1)
        .when(first.isin("2", "3"), 2)
        .otherwise(3)
    )
    return (zeros * 4 + sub + 1).alias("rho")


def hll_registers(
    df: DataFrame, group_col: str, text_col: str
) -> DataFrame:
    """Per-group HLL register table (g, b, mr) — the mergeable sketch
    state.  At most HLL_M rows per group, built by one partial-agg
    max."""
    h = df.select(
        F.col(group_col).alias("g"), F.md5(F.col(text_col)).alias("h")
    )
    return (
        h.select("g", F.substring("h", 1, 2).alias("b"), _hll_rho())
        .groupBy("g", "b")
        .agg(F.max("rho").alias("mr"))
    )


def hll_estimate(regs: DataFrame) -> DataFrame:
    """Registers -> (g, hll_estimate): harmonic-mean HLL with the
    STANDARD small-range switch (Flajolet et al. 2007 fig. 3): the raw
    harmonic estimate counts empty registers as 2^0 = 1 each, and
    linear counting replaces it only while raw <= 2.5m AND empty
    registers exist — NOT whenever any register is empty, which
    underestimates by up to ~20% in the one-empty-register mid range
    (a review-caught defect, pinned by the mid-range pytest case)."""
    m = HLL_M
    raw = F.lit(HLL_ALPHA_MM) / (
        F.col("s") + (F.lit(float(m)) - F.col("nb"))  # empties add 2^0
    )
    return regs.groupBy("g").agg(
        F.count("*").alias("nb"),
        F.sum(F.pow(F.lit(2.0), -F.col("mr"))).alias("s"),
    ).select(
        "g",
        round_dd(
            F.when(
                (F.col("nb") < m) & (raw <= 2.5 * m),
                m * F.log(F.lit(float(m)) / (m - F.col("nb"))),
            ).otherwise(raw),
            2,
        ).alias("hll_estimate"),
    )


# ---------------------------------------------------------------------------
# Partitioned Bloom filter (Bloom 1970; the one-partition-per-hash
# variant analyzed in Kirsch & Mitzenmacher 2006) — set membership with
# bounded state and ZERO false negatives.  The exact new-vs-corpus
# probe (q_dedup_new_vs_corpus) hash-joins the batch against the full
# distinct-key table; a Bloom prefilter answers "definitely new" from a
# sketch whose size is fixed by (lanes x buckets), independent of
# corpus row count, so an ingest worker can drop the provably-new bulk
# of a batch before the exact join ever runs.  Only "maybe dup" rows
# (true dups + the measured false-positive trickle) proceed to the
# authoritative tier — the same cheap-tier-first contract as the dedup
# ladder itself.
#
# Determinism/oracle contract (same trick as the MinHash/HLL sketches
# above): lane l routes a text to bucket substr(md5("<l>:<t>"), 1, w) —
# a HEX-STRING bucket key, bit-identical in Spark and DuckDB, so the
# probe verdicts themselves (not just their expectation) are exactly
# reproducible by a SQL oracle.  One md5 per lane keeps lanes
# independent; w hex digits give 16^w buckets per lane.
#
# Representation: the DISTINCT (lane, bkt) set — the sparse form of the
# bit array.  It is mergeable by construction (set union is
# associative/commutative/idempotent: append == rebuild, replay is a
# no-op, the same LSM contract as every sketch in this module) and
# bounded by lanes * 16^w rows regardless of corpus size.  At demo
# m=4096 the whole sketch broadcasts (<=16 K rows); at production m
# (w=8 -> 4.3 G buckets/lane for ~10^10-distinct corpora at ~1% FP^4)
# the same table is a shuffle-partitioned distributed bloom probed by
# hash join, or packs 64 buckets/long via bitwise-OR agg if the dense
# form is wanted — the probe semantics are identical either way.
# ---------------------------------------------------------------------------

BLOOM_LANES = 4   # independent hash functions (one bucket space each)
BLOOM_HEX_W = 3   # bucket key width: 16^3 = 4096 buckets per lane


def _bloom_keys(df: DataFrame, text_col: str, extra: list[str]) -> DataFrame:
    """Explode each row into its BLOOM_LANES (lane, bkt) probe keys."""
    lanes = F.explode(
        F.array(*[F.lit(i) for i in range(BLOOM_LANES)])
    ).alias("lane")
    return df.select(*extra, F.col(text_col).alias("t"), lanes).select(
        *extra,
        "lane",
        F.substring(
            F.md5(F.concat_ws(":", F.col("lane").cast("string"), F.col("t"))),
            1,
            BLOOM_HEX_W,
        ).alias("bkt"),
    )


def bloom_bits(corpus: DataFrame, text_col: str = "t") -> DataFrame:
    """Corpus -> distinct (lane, bkt) occupied-bucket set.  One
    partial-agg distinct; the shuffle carries at most
    BLOOM_LANES * 16^BLOOM_HEX_W rows, never texts."""
    return _bloom_keys(corpus, text_col, []).distinct()


def bloom_probe(
    bits: DataFrame, batch: DataFrame, id_col: str, text_col: str = "t"
) -> DataFrame:
    """Per batch row: (id, bloom_hit) — bloom_hit = 1 iff ALL lanes'
    buckets are occupied (the Bloom AND).  Zero false negatives by
    construction; false positives at rate ~ prod_l(occupancy_l).

    Plan shape: the batch explodes to BLOOM_LANES rows/doc, the bits
    side is sketch-sized (broadcast at demo m, hash join at production
    m), and the verdict is one partial-agg count per doc."""
    probes = _bloom_keys(batch, text_col, [id_col])
    marked = probes.join(
        bits.withColumn("hit", F.lit(1)), ["lane", "bkt"], "left"
    )
    return marked.groupBy(id_col).agg(
        (F.sum(F.coalesce("hit", F.lit(0))) == BLOOM_LANES)
        .cast("int")
        .alias("bloom_hit")
    )


def hll_distinct_by(
    df: DataFrame, group_col: str, text_col: str
) -> DataFrame:
    """Per-group HLL cardinality estimate next to the exact count:
    (group, n_exact, hll_estimate, rel_err).  The exact count is there
    for the report; at scale you drop it and keep the sketch."""
    est = hll_estimate(hll_registers(df, group_col, text_col))
    exact = df.select(
        F.col(group_col).alias("g"), F.col(text_col).alias("t")
    ).groupBy("g").agg(F.countDistinct("t").alias("n_exact"))
    return exact.join(est, "g").select(
        F.col("g").alias(group_col),
        "n_exact",
        "hll_estimate",
        round_dd(
            F.abs(F.col("hll_estimate") - F.col("n_exact"))
            / F.col("n_exact"),
            4,
        ).alias("rel_err"),
    )


# ---------------------------------------------------------------------------
# Count-Min sketch (Cormode & Muthukrishnan 2005) — the third mergeable
# sketch family (HLL = distinct counts, Bloom = membership, CMS = point
# FREQUENCIES): estimate any term's occurrence count from
# CMS_LANES x 16^CMS_HEX_W counters with a ONE-SIDED error guarantee
# (estimate >= truth always; overcount <= e/w * N with prob 1-(1/2)^d).
# Same cross-engine determinism scheme as the Bloom filter above: lane
# l routes a term to bucket substr(md5("<l>:<term>"), 1, w) — hex
# string keys a SQL oracle reproduces bit-for-bit.  Counter merge is
# (lane, bkt) SUM, so per-batch sketches fold associatively
# (append == rebuild), the streaming/backfill contract the HLL and
# Bloom stores already satisfy.
# ---------------------------------------------------------------------------

CMS_LANES = 4    # depth d: independent hash rows
CMS_HEX_W = 3    # width w: 16^3 = 4096 counters per row


def _cms_keys(df: DataFrame, term_col: str, extra: list[str]) -> DataFrame:
    """Explode each row into its CMS_LANES (lane, bkt) counter keys;
    the term rides along as `w` (the ONE routing implementation — the
    build and probe sides must never diverge)."""
    lanes = F.explode(
        F.array(*[F.lit(i) for i in range(CMS_LANES)])
    ).alias("lane")
    return df.select(*extra, F.col(term_col).alias("w"), lanes).select(
        *extra,
        "w",
        "lane",
        F.substring(
            F.md5(F.concat_ws(":", F.col("lane").cast("string"), F.col("w"))),
            1,
            CMS_HEX_W,
        ).alias("bkt"),
    )


def cms_counters(term_census: DataFrame) -> DataFrame:
    """(w, c) term census -> (lane, bkt, bc) counter table.

    Takes the CENSUS, not raw occurrences: counting per term first
    (map-side combining groupBy, vocab-bounded output) then exploding
    d lanes keeps the lane explode off the token-occurrence path —
    d x vocab rows into the counter agg instead of d x corpus-tokens.
    The counter table itself is at most CMS_LANES * 16^CMS_HEX_W rows
    regardless of corpus size."""
    return (
        _cms_keys(term_census, "w", ["c"])
        .groupBy("lane", "bkt")
        .agg(F.sum("c").alias("bc"))
    )


def cms_estimate(counters: DataFrame, probes: DataFrame,
                 term_col: str = "w") -> DataFrame:
    """Per probe term: (w, cms_estimate) = min over lanes of the
    term's counter — the CMS point query.  Plan shape: probes explode
    to CMS_LANES rows, the counter side is sketch-sized (broadcast at
    demo w, hash join at production w), and the min is one partial
    agg per term."""
    keys = _cms_keys(probes, term_col, [])
    return (
        keys.join(counters, ["lane", "bkt"])
        .groupBy("w")
        .agg(F.min("bc").alias("cms_estimate"))
    )
