"""Same-content / conflicting-attribute detection with majority-vote
repair.

A 10^12-clip corpus assembled from multiple vendors routinely carries
the SAME recording several times with DIFFERENT transcripts (or
claimed durations, language tags, ...).  Whole-row exact dedup cannot
see this — the rows differ — and near-dup tiers would happily merge
them while silently keeping an arbitrary transcript.  The right
primitive is: group rows by a content identity, flag groups whose
attribute disagrees, and repair by majority vote (deterministic
tie-break) so downstream keeps ONE canonical attribution per content.

The reference repo has no analog (it ingests any new hash,
deduplicator.rs:61-84); the operation is standard corpus hygiene for
paired audio+transcript data (e.g. the "multiple reference
transcripts" handling in Common Voice / LibriVox-derived sets).

Scale design: two chained hash aggregations, both with map-side
partial agg — (key, val) -> count, then key -> (total, variants,
majority via min(struct(-count, val)), a declarative aggregate: no
window, no per-group sort, no Python).  One shuffle on the content
key; output is bounded by the number of CONFLICTED groups only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def value_conflicts(
    df: DataFrame, key_col: str, val_col: str
) -> DataFrame:
    """Rows (key, val, ...) -> one row per key whose val is not
    unanimous: (key, n_rows, n_variants, majority_val, majority_n).

    majority_val is the most frequent val; ties break to the smallest
    val (total order), so the repair is deterministic and
    partition-invariant on any engine.
    """
    g1 = df.groupBy(key_col, val_col).agg(F.count("*").alias("c"))
    g2 = g1.groupBy(key_col).agg(
        F.sum("c").cast("long").alias("n_rows"),
        F.count("*").cast("long").alias("n_variants"),
        F.min(
            F.struct((-F.col("c")).alias("nc"), F.col(val_col).alias("v"))
        ).alias("m"),
    )
    return g2.filter(F.col("n_variants") >= 2).select(
        key_col,
        "n_rows",
        "n_variants",
        F.col("m.v").alias("majority_val"),
        (-F.col("m.nc")).cast("long").alias("majority_n"),
    )


def medoid_repair(
    df: DataFrame,
    key_col: str,
    val_col: str,
    variant_cap: int = 64,
) -> DataFrame:
    """Rows (key, val, ...) -> one row per CONFLICTED key repaired to
    the MEDOID variant: the val minimizing the multiplicity-weighted
    sum of character edit distances to every other row of the group
    (sum_w c_w * lev(v, w)).

    Majority vote (`value_conflicts`) is right when one variant
    dominates; with paired audio+transcript data three vendors often
    ship three transcripts that differ by a word each — no majority
    exists, and an arbitrary pick discards the signal that one
    transcript is CENTRAL (closest to all others).  The medoid is the
    standard consensus choice (ROVER-style transcript voting reduced
    to whole-string distance).  Ties break to the smallest cost, then
    the smallest val, so the repair is deterministic on any engine.

    Scale shape: variants are first contracted to (key, val, c) by a
    map-side-combined agg — the pairwise stage joins VARIANTS, never
    rows, so its cost is O(variants^2) per key with `lev` on the
    JVM (no Python).  Vendor multiplicity bounds variants per key in
    practice; `variant_cap` drops groups beyond it (count them with
    `oversize_groups` — the engine's capped+counted convention, same
    as the LSH posting caps).  Output is bounded by the conflicted
    group count.

    Returns (key, n_rows, n_variants, medoid_val, medoid_cost).
    """
    g1 = df.groupBy(key_col, val_col).agg(F.count("*").alias("c"))
    nv = g1.groupBy(key_col).agg(
        F.sum("c").cast("long").alias("n_rows"),
        F.count("*").cast("long").alias("n_variants"),
    )
    live = g1.join(
        nv.filter(
            (F.col("n_variants") >= 2) & (F.col("n_variants") <= variant_cap)
        ).select(key_col),
        key_col,
        "left_semi",
    )
    a = live.select(key_col, F.col(val_col).alias("va"))
    b = live.select(key_col, F.col(val_col).alias("vb"), F.col("c").alias("cb"))
    # pin the pairwise stage's partition count: its shuffle BYTES are
    # tiny (variant pairs) while its CPU is O(len²) levenshtein per
    # row, so AQE's bytes-based coalescing packs the whole stage onto
    # 1-2 tasks (measured round 6: 8.6 s single-task vs ~1 s spread —
    # the same pathology verify.simhash_edges_in_bucket pins).  An
    # explicit user repartition is never coalesced, and the groupBy
    # below reuses the (key, va) hash partitioning — no extra
    # exchange, just a correctly-sized one.
    spark = df.sparkSession
    n_part = 4 * int(spark.conf.get("spark.sql.shuffle.partitions"))
    cost = (
        a.join(b, key_col)
        .repartition(n_part, key_col, "va")
        .groupBy(key_col, "va")
        .agg(
            F.sum(F.col("cb") * F.levenshtein("va", "vb"))
            .cast("long")
            .alias("cost")
        )
    )
    best = cost.groupBy(key_col).agg(
        F.min(F.struct(F.col("cost"), F.col("va"))).alias("m")
    )
    return (
        best.join(nv, key_col)
        .select(
            key_col,
            "n_rows",
            "n_variants",
            F.col("m.va").alias("medoid_val"),
            F.col("m.cost").alias("medoid_cost"),
        )
    )


def oversize_groups(
    df: DataFrame, key_col: str, val_col: str, variant_cap: int = 64
) -> DataFrame:
    """The groups `medoid_repair` refused (more distinct vals than
    variant_cap — a hot key, e.g. one checksum-colliding blob with
    thousands of scraped captions): (key, n_rows, n_variants), so the
    drop can be counted rather than silent."""
    g1 = df.groupBy(key_col, val_col).agg(F.count("*").alias("c"))
    return (
        g1.groupBy(key_col)
        .agg(
            F.sum("c").cast("long").alias("n_rows"),
            F.count("*").cast("long").alias("n_variants"),
        )
        .filter(F.col("n_variants") > variant_cap)
    )
