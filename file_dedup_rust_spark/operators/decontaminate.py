"""Benchmark decontamination: flag training documents that share any
word-n-gram with an evaluation set.

The reference has no decontamination surface (its dedup loop is
per-upload, /root/reference/backend/src/worker/deduplication_service.rs:143-182);
this is one of the beyond-reference training-data-pipeline operators
(SURVEY.md §2.10): before a corpus feeds model training, any document
containing a benchmark/eval n-gram must be dropped or flagged, or the
downstream eval numbers measure memorization.  The standard public
recipe is long word-n-gram overlap (8-13 words — Brown et al. 2020
appendix C, Chowdhery et al. 2022 §6.1); n defaults to 8 here, long
enough that natural collisions between independent documents are
improbable.

Scale shape (100 TB corpus vs eval sets of 1e3-1e6 docs): the eval
n-gram set is tiny next to the corpus, so it is BROADCAST and the
train side streams through one hash join — no shuffle of the corpus
grams, no cartesian.  The output is bounded by the contaminated-doc
count, not the corpus size.  On a real cluster the same plan holds
until the eval gram set outgrows the broadcast threshold (~1e8 grams);
past that the join key is an equi-join either way and AQE picks a
shuffled hash join — the operator is declarative, Catalyst owns the
physical strategy.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from file_dedup_rust_spark.functions.rounding import round_dd


def word_ngrams(
    docs_with_t: DataFrame, n: int, distinct: bool = True
) -> DataFrame:
    """(doc_id, t) -> (doc_id, g) word-n-gram rows, per-doc-distinct by
    default (set semantics — the Jaccard/containment/decontam
    contract); distinct=False keeps every occurrence (multiset
    semantics — the diversity / type-token-ratio contract).

    Generalizes entry.testdata_queries.shingles (n=3) to any n; the
    sliding window is a JVM `transform(sequence(...))` expression —
    no Python in the gram path.

    Scale note (round 6): `doc_id` is a key (one row per doc — true of
    every caller), so per-doc distinctness is computed with
    `array_distinct` INSIDE the row before the explode instead of a
    post-explode `.distinct()` — that removes a full shuffle of every
    gram occurrence from the single most-shared subplan in the query
    suite (the Jaccard/containment/decontam family all start here)."""
    lanes = ", ".join(f"w[i+{j}-1]" for j in range(n))
    toks = docs_with_t.select("doc_id", F.split("t", " ").alias("w"))
    grams = F.when(
        F.size("w") >= n,
        F.expr(
            f"transform(sequence(1, size(w) - {n - 1}),"
            f" i -> concat_ws(' ', {lanes}))"
        ),
    ).otherwise(F.array().cast("array<string>"))
    if distinct:
        grams = F.array_distinct(grams)
    return toks.select("doc_id", F.explode(grams).alias("g"))


def contamination_hits(
    train: DataFrame, eval_docs: DataFrame, n: int = 8
) -> DataFrame:
    """Flag train docs sharing any word-n-gram with the eval set.

    train/eval_docs: (doc_id, t).  Returns one row per CONTAMINATED
    train doc: (doc_id, n_gram_hits, n_eval_docs) — how many distinct
    eval grams it contains and how many distinct eval documents those
    grams came from.  Clean docs produce no row (take the anti-join
    against this output to materialize the decontaminated corpus).

    The eval side is pre-aggregated to ONE row per gram carrying the
    set of eval doc ids: a boilerplate gram shared by k eval docs
    would otherwise multiply every matching corpus row k-fold through
    the join (the hot-key blowup the LSH paths cap) — here the
    multiplicity rides in a bounded array instead, and the broadcast
    shrinks to the distinct-gram count.  Tradeoff (deliberate): a
    pathologically contaminated train doc accumulates its matched
    eval-id arrays in one aggregation buffer rather than as
    spillable rows — bounded by the eval-set size, which this
    operator assumes is small (that assumption is what justifies the
    broadcast in the first place)."""
    tg = word_ngrams(train, n)
    eg = word_ngrams(eval_docs, n).groupBy("g").agg(
        F.collect_set("doc_id").alias("eval_ids")
    )
    return (
        tg.join(F.broadcast(eg), "g")
        .groupBy("doc_id")
        .agg(
            F.count_distinct("g").alias("n_gram_hits"),
            F.size(
                F.array_distinct(F.flatten(F.collect_list("eval_ids")))
            ).cast("long").alias("n_eval_docs"),
        )
    )


def contamination_coverage(
    train: DataFrame, eval_docs: DataFrame, n: int = 8
) -> DataFrame:
    """Token-level contamination fraction per contaminated doc — the
    'dirtiness' metric the public decontamination recipes REPORT (not
    just the hit flag): what fraction of a train document's token
    positions sit inside at least one word-n-gram that also occurs in
    the eval set (Brown et al. 2020 appendix C measure overlap at
    token granularity; Chowdhery et al. 2022 §6.1 likewise).  A doc
    with one boilerplate 8-gram hit and a doc that IS an eval document
    both flag in contamination_hits; this operator separates them
    (covered_frac 0.09 vs 1.0) so the pipeline can route
    drop-vs-redact decisions.

    Returns (doc_id, n_tokens, matched_grams, covered_tokens,
    covered_frac) for contaminated docs only.

    Scale shape: identical to contamination_hits — the distinct eval
    gram set broadcasts, POSITIONED train grams stream through one
    BroadcastHashJoin (the corpus is never shuffled on the gram key),
    and the per-doc interval union is the same JVM aggregate as the
    dup-span census (operators.dup_spans.covered_tokens_expr), bounded
    by each doc's own token count."""
    from file_dedup_rust_spark.operators.dup_spans import (
        covered_tokens_expr,
    )

    lanes = ", ".join(f"w[i+{j}-1]" for j in range(n))
    toks = train.select(
        "doc_id", F.split("t", " ").alias("w")
    ).select("doc_id", "w", F.size("w").alias("n_tokens"))
    grams = F.when(
        F.size("w") >= n,
        F.expr(
            f"transform(sequence(1, size(w) - {n - 1}),"
            f" i -> concat_ws(' ', {lanes}))"
        ),
    ).otherwise(F.array().cast("array<string>"))
    pos = toks.select(
        "doc_id", "n_tokens", F.posexplode(grams).alias("p0", "g")
    ).select("doc_id", "n_tokens", (F.col("p0") + 1).alias("i"), "g")
    eg = word_ngrams(eval_docs, n).select("g").distinct()
    per_doc = (
        pos.join(F.broadcast(eg), "g")
        .groupBy("doc_id", "n_tokens")
        .agg(
            F.count("*").alias("matched_grams"),
            F.sort_array(F.collect_list("i")).alias("dps"),
        )
    )
    covered = covered_tokens_expr(n)
    return per_doc.select(
        "doc_id",
        "n_tokens",
        "matched_grams",
        covered.alias("covered_tokens"),
        round_dd(covered / F.col("n_tokens"), 4).alias("covered_frac"),
    )


def redact_contaminated(
    train: DataFrame, eval_docs: DataFrame, n: int = 8
) -> DataFrame:
    """The REMOVE side of contamination coverage — surgical
    decontamination: cut only the token positions inside an
    eval-matching n-gram window and keep the rest of the document
    (the GPT-3 appendix-C recipe removes a window around each
    collision rather than the whole doc; Brown et al. 2020).  Docs
    where the covered fraction reaches 1/2 are routed to 'drop'
    (redacting most of a doc leaves gibberish) — the integer test
    covered*2 >= n_tokens keeps the threshold float-free in both
    engines.

    Returns, for CONTAMINATED docs only: (doc_id, n_tokens,
    covered_tokens, covered_frac, action, redacted_text) with
    redacted_text NULL on drop rows.  covered_tokens here is derived
    from the kept-token mask (n_tokens - size(kept)) — an independent
    derivation of the same quantity contamination_coverage computes
    via the interval-union aggregate; the pytest pins their equality.

    Scale shape: same single BroadcastHashJoin as the other decontam
    operators (positioned train grams vs the broadcast distinct eval
    gram set — the corpus never shuffles on gram keys), one groupBy on
    doc_id, then ONE join back to the token arrays on doc_id to build
    the mask.  The mask filter is a JVM lambda over the doc's own
    tokens x its matched positions — bounded by the doc's own length
    like holding its text (for mega-documents the merged-interval
    variant of the same lambda cuts it to tokens x intervals)."""
    lanes = ", ".join(f"w[i+{j}-1]" for j in range(n))
    toks = train.select(
        "doc_id", F.split("t", " ").alias("w")
    ).select("doc_id", "w", F.size("w").alias("n_tokens"))
    grams = F.when(
        F.size("w") >= n,
        F.expr(
            f"transform(sequence(1, size(w) - {n - 1}),"
            f" i -> concat_ws(' ', {lanes}))"
        ),
    ).otherwise(F.array().cast("array<string>"))
    pos = toks.select(
        "doc_id", F.posexplode(grams).alias("p0", "g")
    ).select("doc_id", (F.col("p0") + 1).alias("i"), "g")
    eg = word_ngrams(eval_docs, n).select("g").distinct()
    matched = (
        pos.join(F.broadcast(eg), "g")
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_set("i")).alias("dps"))
    )
    kept = F.expr(
        f"filter(w, (x, i0) -> !exists(dps, "
        f"p -> p >= i0 + 2 - {n} AND p <= i0 + 1))"
    )
    masked = matched.join(toks, "doc_id").withColumn("kept", kept)
    covered = (F.col("n_tokens") - F.size("kept")).cast("long")
    is_drop = covered * 2 >= F.col("n_tokens")
    return masked.select(
        "doc_id",
        "n_tokens",
        covered.alias("covered_tokens"),
        round_dd(covered / F.col("n_tokens"), 4).alias("covered_frac"),
        F.when(is_drop, F.lit("drop")).otherwise(F.lit("redact")).alias(
            "action"
        ),
        F.when(is_drop, F.lit(None).cast("string"))
        .otherwise(F.array_join("kept", " "))
        .alias("redacted_text"),
    )


def fuzzy_contamination_hits(
    train: DataFrame,
    eval_docs: DataFrame,
    cfg,
    threshold: float = 0.8,
    n: int = 3,
) -> DataFrame:
    """Paraphrase-robust decontamination: flag train docs whose
    word-n-gram Jaccard against ANY eval doc reaches `threshold`.

    Exact-gram decontamination (contamination_hits) misses eval
    leakage that was lightly edited — words dropped or substituted
    break every long n-gram window they touch while the document
    remains ≥80% the same text.  This operator runs the engine's
    near-dup machinery ASYMMETRICALLY against the eval set:

      1. MinHash band signatures for both sides over word-n-gram
         shingles (operators.candidates.word_minhash_bands — the
         same kernels as the self-join dedup path);
      2. candidate (train_doc, eval_doc) pairs via a band-key
         posting join with the EVAL side broadcast — the corpus
         streams through one BroadcastHashJoin, exactly the
         contamination_hits plan shape, and is never shuffled on
         the band key;
      3. exact shingle-set Jaccard verification on candidates ONLY,
         with the train shingle derivation re-run just for the
         bounded candidate-doc set (the full-corpus shingles feed
         only the signature step, which reduces them to fixed-width
         bands before anything is collected).

    Returns one row per contaminated train doc:
    (doc_id, n_eval_matches, max_jac).  Clean docs emit nothing.

    At threshold 0.8 with the engine's 32x4 band config the LSH miss
    probability per true pair is < 5e-8 ((1 - 0.8^4)^32), so an
    exact-Jaccard oracle checks this hash-green given a corpus whose
    pair-similarity distribution keeps a margin around the threshold.

    Scale note: a band key shared by many eval docs multiplies the
    matching corpus rows through the join; the eval set is assumed
    small (the broadcast premise), and candidates are de-duplicated
    per (train, eval) pair before any verification work."""
    from file_dedup_rust_spark.operators.candidates import word_minhash_bands

    tband = word_minhash_bands(train, cfg, n)
    eband = word_minhash_bands(eval_docs, cfg, n)
    tpost = tband.select(F.explode("mh_bands").alias("key"), "doc_id")
    epost = eband.select(
        F.explode("mh_bands").alias("key"), F.col("doc_id").alias("eval_id")
    )
    cand = tpost.join(F.broadcast(epost), "key").select(
        "doc_id", "eval_id"
    ).distinct()
    # the candidate set is bounded (true near-dups + band collisions)
    # but referenced three times below — materialize it once so the
    # signature mapInPandas stage doesn't recompute per reference
    cand = cand.localCheckpoint(eager=True)

    # exact verification on the bounded candidate set only
    cand_ids = cand.select("doc_id").distinct()
    tsh = word_ngrams(train.join(F.broadcast(cand_ids), "doc_id"), n)
    esh = word_ngrams(eval_docs, n).withColumnRenamed("doc_id", "eval_id")
    tsz = tsh.groupBy("doc_id").agg(F.count("*").alias("na"))
    esz = esh.groupBy("eval_id").agg(F.count("*").alias("nb"))
    inter = (
        tsh.join(F.broadcast(cand), "doc_id")
        .join(F.broadcast(esh), ["eval_id", "g"])
        .groupBy("doc_id", "eval_id")
        .agg(F.count("*").alias("c"))
    )
    pairs = (
        inter.join(tsz, "doc_id")
        .join(F.broadcast(esz), "eval_id")
        .select(
            "doc_id",
            "eval_id",
            round_dd(
                F.col("c") / (F.col("na") + F.col("nb") - F.col("c")), 4
            ).alias("jac"),
        )
        .filter(F.col("jac") >= threshold)
    )
    return pairs.groupBy("doc_id").agg(
        F.count("*").alias("n_eval_matches"),
        F.max("jac").alias("max_jac"),
    )


def embedding_contamination_hits(
    corpus_e: DataFrame, eval_e: DataFrame, threshold: float
) -> DataFrame:
    """SEMANTIC decontamination: flag corpus vectors whose cosine
    similarity to ANY eval-set vector reaches `threshold` — the
    embedding-space analog of contamination_hits, catching rewrites
    and translations that share no n-gram (and, for audio, re-recorded
    readings of eval prompts that no PCM/frame hash can see).

    Returns one row per contaminated corpus vector:
    (vec_id, best_eval_id, sim) — the best-matching eval vector by
    ROUNDED cosine (4 decimals), ties to the smallest eval id (the
    same argmax contract as operators.semdedup.assign_to_seeds, so a
    SQL oracle reproduces the choice).  Clean vectors emit nothing.

    Scale shape: the eval matrix is bounded (the broadcast premise of
    every decontamination surface here) — it is collected ONCE to a
    (k x d) numpy matrix, same bounded-collect contract as semdedup's
    seed matrix, and shipped in the task closure; the corpus then
    streams through ONE mapInPandas BLAS pass ((n x d) @ (d x k) per
    Arrow batch).  ZERO shuffle, no join, output bounded by the
    contaminated count.  Past broadcast scale (~1e7 eval vectors) the
    right tool is the IVF index (operators.ann) probed with eval
    vectors instead.
    """
    import numpy as np
    import pandas as pd

    rows = eval_e.select("vec_id", "embedding").orderBy("vec_id").collect()
    if not rows:
        # empty eval set: nothing can be contaminated — return an
        # empty frame of the output schema instead of feeding a
        # zero-row matrix to the BLAS kernel
        return corpus_e.sparkSession.createDataFrame(
            [], "vec_id long, best_eval_id long, sim double"
        )
    eid = np.array([r["vec_id"] for r in rows], dtype=np.int64)
    E = np.array([r["embedding"] for r in rows], dtype=np.float64)
    E = E / np.maximum(np.linalg.norm(E, axis=1, keepdims=True), 1e-300)

    def kernel(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            V = V / np.maximum(np.linalg.norm(V, axis=1, keepdims=True), 1e-300)
            raw = V @ E.T
            # argmax over ROUNDED sims so the winner equals the
            # oracle's ORDER BY round(sim,4) DESC, eval_id ASC (the
            # eval axis is sorted by id; np.argmax takes the first
            # maximum) — the semdedup assign-kernel contract
            best = np.round(raw, 4).argmax(axis=1)
            mx = raw[np.arange(len(V)), best]
            # pre-filter with a raw-value margin; the BINDING
            # threshold compare runs JVM-side on F.round (HALF_UP,
            # matching DuckDB round()) below
            keep = mx >= threshold - 1e-3
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(dtype=np.int64)[keep],
                    "best_eval_id": eid[best[keep]],
                    "raw_sim": mx[keep],
                }
            )

    scored = corpus_e.select("vec_id", "embedding").mapInPandas(
        kernel, schema="vec_id long, best_eval_id long, raw_sim double"
    )
    return scored.select(
        "vec_id", "best_eval_id", round_dd("raw_sim", 4).alias("sim")
    ).filter(F.col("sim") >= threshold)
