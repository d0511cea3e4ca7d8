"""Exact verification of candidate pairs — entirely JVM-side.

Reference semantics: keep hits with similarity > 0.8 (P3,
/root/reference/backend/src/worker/deduplication_service.rs:347-348)
and cap at k=10 neighbours per probe (T2, :309,319-323).

Verification never touches Python: MinHash lane agreement is
zip_with/filter/size over array<long>, SimHash similarity is
1 - bit_count(a^b)/64 — both whole-stage-codegen expressions, so the
verify stage is a pair-table join plus vectorized expressions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from file_dedup_rust_spark.config import DedupConfig


def _attach(pairs: DataFrame, signatures: DataFrame, cols: list[str]) -> DataFrame:
    """pairs(a,b) joined with per-side signature columns (suffixed _a/_b)."""
    sig_a = signatures.select(
        F.col("clip_id").alias("a"), *[F.col(c).alias(f"{c}_a") for c in cols]
    )
    sig_b = signatures.select(
        F.col("clip_id").alias("b"), *[F.col(c).alias(f"{c}_b") for c in cols]
    )
    return pairs.join(sig_a, "a").join(sig_b, "b")


def verify_minhash(pairs: DataFrame, signatures: DataFrame, cfg: DedupConfig) -> DataFrame:
    """pairs(a,b) -> (a, b, kind='transcript', sim) with sim =
    fraction of agreeing MinHash lanes, filtered at jaccard_threshold.

    The estimator (lane agreement) matches the numpy oracle
    (oracle.py) bit-for-bit."""
    joined = _attach(pairs, signatures, ["minhash"])
    agree = F.size(
        F.filter(
            F.zip_with("minhash_a", "minhash_b", lambda x, y: x == y),
            lambda v: v,
        )
    )
    sim = agree / F.lit(float(cfg.num_perm))
    return (
        joined
        # empty-transcript signatures are all -1 sentinels; never match them
        .filter((F.element_at("minhash_a", 1) >= 0) & (F.element_at("minhash_b", 1) >= 0))
        .select("a", "b", sim.alias("sim"))
        .filter(F.col("sim") >= F.lit(cfg.jaccard_threshold))
        .withColumn("kind", F.lit("transcript"))
        .select("a", "b", "kind", "sim")
    )


def verify_simhash(pairs: DataFrame, signatures: DataFrame, cfg: DedupConfig) -> DataFrame:
    """pairs(a,b) -> (a, b, kind='audio', sim) with sim = 1 - d/bits,
    filtered at hamming_max (<=12/64 -> sim >= 0.8125 >= reference 0.8)."""
    joined = _attach(pairs, signatures, ["simhash", "decode_ok"])
    d = F.bit_count(
        F.col("simhash_a").bitwiseXOR(F.col("simhash_b"))
    )
    sim = F.lit(1.0) - d / F.lit(float(cfg.simhash_bits))
    return (
        joined.filter(F.col("decode_ok_a") & F.col("decode_ok_b"))
        .withColumn("hamming", d)
        .filter(F.col("hamming") <= F.lit(cfg.hamming_max))
        .select("a", "b", F.lit("audio").alias("kind"), sim.alias("sim"))
    )


def simhash_edges_in_bucket(
    reps: DataFrame, cfg: DedupConfig, cap: int
) -> DataFrame:
    """SimHash LSH candidates verified INSIDE the bucket stage.

    The simhash is 8 bytes, so unlike the 1 KB MinHash signature it can
    ride along the exploded posting rows for free.  Pairs are expanded
    from each (capped) bucket's collected members and the Hamming
    filter runs in the same whole-stage-codegen pass — candidate pairs
    that fail verification NEVER enter a shuffle.  Measured at 640k
    clips: 41.7M raw bucket pairs (structured spectral collisions grow
    ~n^2) -> only the ~30k verified edges reach the distinct exchange;
    the former plan shuffled all 41.7M through a distinct plus two
    signature re-join exchanges.  Verification before or after distinct
    is equivalent — Hamming is a pure function of the pair."""
    from file_dedup_rust_spark.operators.candidates import bucket_stats

    posting = reps.select(
        F.explode("sim_keys").alias("key"), "clip_id", "simhash"
    )
    ok, _ = bucket_stats(posting.select("key", "clip_id"), cap)
    p = posting.join(ok, "key")
    # the bucket stage's cost is QUADRATIC in bucket size (the pair
    # explode below) while its shuffle BYTES are tiny (8-byte simhash
    # rows) — AQE's bytes-based coalescing therefore packs it onto far
    # too few tasks (measured at 1.28M clips / local[8]: the stage ran
    # 0.52-efficient vs 2 cores).  An explicit user repartition by key
    # pins the partition count (AQE never coalesces user-specified
    # counts) and the groupBy reuses the hash partitioning, so this
    # adds NO extra exchange — it just sizes the one that exists.
    spark = reps.sparkSession
    n_part = 4 * int(spark.conf.get("spark.sql.shuffle.partitions"))
    p = p.repartition(n_part, "key")
    grouped = p.groupBy("key").agg(
        F.sort_array(
            F.collect_list(F.struct("clip_id", "simhash"))
        ).alias("xs")
    )
    x = F.col("x")
    d = F.bit_count(F.col("x.simhash").bitwiseXOR(F.col("y.simhash")))
    sim = F.lit(1.0) - d / F.lit(float(cfg.simhash_bits))
    return (
        grouped.select(F.explode("xs").alias("x"), "xs")
        .select(
            x,
            F.explode(
                F.filter("xs", lambda y: y["clip_id"] > x["clip_id"])
            ).alias("y"),
        )
        .filter(d <= F.lit(cfg.hamming_max))
        .select(
            F.col("x.clip_id").alias("a"),
            F.col("y.clip_id").alias("b"),
            F.lit("audio").alias("kind"),
            sim.alias("sim"),
        )
        .distinct()
    )


def top_k_neighbors(edges: DataFrame, k: int) -> DataFrame:
    """Reference T2 parity: k best neighbours per probe clip.

    Edges are unordered (a<b); a pair is a neighbour of both
    endpoints, so mirror before ranking.  Deterministic tie-break on
    neighbour id."""
    mirrored = edges.select("a", "b", "sim").union(
        edges.select(F.col("b").alias("a"), F.col("a").alias("b"), "sim")
    )
    w = Window.partitionBy("a").orderBy(F.desc("sim"), F.asc("b"))
    return (
        mirrored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select(
            F.col("a").alias("clip_id"),
            F.col("b").alias("neighbor_id"),
            "sim",
            F.col("rn").alias("rank"),
        )
    )
