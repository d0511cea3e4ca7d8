"""Checkpoint/resume semantics (SURVEY.md section 5 item 5): kill after
stage k, re-run, identical output, committed stages not recomputed."""

from __future__ import annotations

import json
import os

import pytest

from file_dedup_rust_spark import datagen as DG
from file_dedup_rust_spark.config import DedupConfig
from file_dedup_rust_spark.plans.pipeline import run_pipeline

N = 150
SEED = 9


@pytest.fixture(scope="module")
def clips_df(spark):
    pdf = DG.generate_clips_pandas(N, SEED)
    return spark.createDataFrame(pdf, schema=DG.CLIP_SCHEMA).cache()


def _manifest(ckpt: str, stage: str) -> dict:
    with open(os.path.join(ckpt, "_manifest", f"{stage}.json")) as f:
        return json.load(f)


def test_kill_and_resume(spark, cfg, clips_df, tmp_path):
    ckpt = str(tmp_path / "ckpt")

    # run 1: killed after the signatures stage commits
    out = run_pipeline(spark, clips_df, cfg, ckpt, stop_after="signatures")
    assert out is None
    m1 = _manifest(ckpt, "signatures")
    assert m1["status"] == "committed"
    assert not os.path.exists(os.path.join(ckpt, "_manifest", "edges.json"))

    # run 2: resumes — signatures must NOT be recomputed
    res = run_pipeline(spark, clips_df, cfg, ckpt)
    assert res is not None
    m2 = _manifest(ckpt, "signatures")
    assert m2["committed_at"] == m1["committed_at"], "stage was recomputed"
    sig_stage = [s for s in res.stages if s.name == "signatures"][0]
    assert sig_stage.skipped

    # run 3: full resume — every stage skipped, same output
    a1 = res.assignments.toPandas().sort_values("clip_id").reset_index(drop=True)
    res2 = run_pipeline(spark, clips_df, cfg, ckpt)
    assert all(s.skipped for s in res2.stages)
    # the resumed run record lists every stage the computing run listed
    assert [s.name for s in res2.stages] == [s.name for s in res.stages]
    a2 = res2.assignments.toPandas().sort_values("clip_id").reset_index(drop=True)
    assert a1.equals(a2)


def test_config_change_invalidates_checkpoints(spark, cfg, clips_df, tmp_path):
    ckpt = str(tmp_path / "ckpt2")
    run_pipeline(spark, clips_df, cfg, ckpt, stop_after="signatures")
    other = DedupConfig(jaccard_threshold=0.9)
    res = run_pipeline(spark, clips_df, other, ckpt)
    sig_stage = [s for s in res.stages if s.name == "signatures"][0]
    assert not sig_stage.skipped, "stale checkpoint reused across configs"


def test_manifest_listing_lookup_delete(spark, cfg, clips_df, tmp_path):
    """Jobs-API analogs over the stage ledger (reference jobs.rs:29-51
    listing, :85-121 lookup, :123-166 delete): listing is newest-first
    and capped, lookup returns the committed entry, delete removes data
    + manifest and a re-run rebuilds the stage."""
    from file_dedup_rust_spark.sources.table_io import TableIO

    ckpt = str(tmp_path / "ckpt3")
    run_pipeline(spark, clips_df, cfg, ckpt)
    io = TableIO(spark, ckpt)

    listing = io.manifest_listing()
    names = [e["stage"] for e in listing]
    assert "signatures" in names and "edges" in names
    stamps = [e["committed_at"] for e in listing]
    assert stamps == sorted(stamps, reverse=True), "listing not newest-first"
    assert len(io.manifest_listing(limit=2)) == 2
    assert io.manifest_listing(limit=2, offset=1)[0] == listing[1]

    entry = io.manifest_entry("signatures")  # GET /jobs/{id}
    assert entry["status"] == "committed" and entry["row_count"] == N
    # per-partition skew metrics ride every parquet commit
    assert entry["n_files"] >= 1
    assert 0 < entry["max_file_bytes"] <= entry["bytes"]
    assert io.manifest_entry("nonexistent") is None  # 404

    assert io.delete_stage("edges") is True  # DELETE /jobs/{id}
    assert io.manifest_entry("edges") is None
    assert not os.path.exists(os.path.join(ckpt, "edges"))
    assert io.delete_stage("edges") is False  # already gone -> 404

    # a resumed run rebuilds only the deleted stage
    res = run_pipeline(spark, clips_df, cfg, ckpt)
    by_name = {s.name: s for s in res.stages}
    assert by_name["signatures"].skipped
    assert not by_name["edges"].skipped


def test_iceberg_catalog_path_when_available(spark, tmp_path):
    """Capability-gated Iceberg execution (VERDICT r2 item 7, PIL
    pattern): when an Iceberg runtime jar is on the classpath this
    configures a local hadoop catalog at runtime and drives the
    TableIO catalog branch (write -> resume -> read) for real;
    without the jar it skips — the parquet fallback above covers the
    same semantics either way."""
    import pytest

    from file_dedup_rust_spark.sources.table_io import TableIO

    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.SparkCatalog"
        )
    except Exception:
        pytest.skip("no Iceberg runtime jar on the classpath")

    cat = "it_local"
    spark.conf.set(f"spark.sql.catalog.{cat}",
                   "org.apache.iceberg.spark.SparkCatalog")
    spark.conf.set(f"spark.sql.catalog.{cat}.type", "hadoop")
    spark.conf.set(f"spark.sql.catalog.{cat}.warehouse",
                   str(tmp_path / "warehouse"))
    io = TableIO(spark, str(tmp_path / "mani"), iceberg_catalog=cat)
    from pyspark.sql import functions as F

    df = spark.range(100).select(F.col("id").alias("clip_id"),
                                 (F.col("id") % 7).alias("v"))
    _, res1 = io.stage("ice_t", "fp1", lambda: df)
    assert not res1.skipped and res1.row_count == 100
    back, res2 = io.stage("ice_t", "fp1", lambda: df.limit(1))
    assert res2.skipped and back.count() == 100  # resumed, not rebuilt
