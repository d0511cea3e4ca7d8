"""corpus_queries: the six headline leaves of bench.py over seeded tables
with the shapes of sf0.1 (5,000 documents, 2,000 64-d embeddings),
checked against the DuckDB oracles and a numpy brute-force top-10."""

from __future__ import annotations

import time
from pathlib import Path

import pandas as pd

from perfbench import checks
from perfbench import inputs as I
from perfbench.harness import cached_dir, cpu_count, last_job_id

LEAVES = ["minhash_lsh_pairs", "knn_topk", "ann_ivf_topk", "ann_ivf_pq_topk",
          "cc_clusters", "cc_distributed"]
ORACLE_LEAVES = {"minhash_lsh_pairs", "knn_topk", "cc_clusters"}
IVF_RECALL_MIN = 0.9


def _cc_distributed(spark, sf_dir: str):
    """bench.py's forced-distributed CC over the document dup edges."""
    from pyspark.sql import functions as F

    from file_dedup_rust_spark.entry import testdata_queries as Q
    from file_dedup_rust_spark.operators.connected_components import connected_components

    edges = Q._doc_edges(spark, sf_dir).select("a", "b")
    verts = Q.corpus_exact(spark, sf_dir).select(F.col("doc_id").alias("clip_id"))
    return connected_components(edges, verts, driver_threshold=0, coded_threshold=0)


class CorpusQueries:
    def __init__(self, spark, seed: int, run_dir: Path, tracer) -> None:
        self.spark = spark
        self.seed = seed
        self.tr = tracer
        self.rounds: list[dict] = []
        self._oracle: dict | None = None

    @staticmethod
    def ensure_pool() -> None:
        pass

    def prepare_inputs(self) -> None:
        def build(tmp: Path) -> None:
            I.write_documents(tmp, self.seed)
            I.write_embeddings(tmp, self.seed)

        self.sf_dir = str(cached_dir(f"tables-s{self.seed}", build))

    def stop(self) -> None:
        pass

    def max_rounds(self) -> int:
        return 1_000_000

    def op_names(self) -> list[str]:
        return LEAVES

    def _leaf(self, name: str):
        from file_dedup_rust_spark.entry import testdata_queries as Q

        return {
            "minhash_lsh_pairs": Q.q_minhash_lsh_pairs,
            "knn_topk": Q.q_knn_topk,
            "ann_ivf_topk": Q.q_ann_ivf_topk_iso,
            "ann_ivf_pq_topk": Q.q_ann_ivf_pq_topk_iso,
            "cc_clusters": Q.q_cc_clusters,
            "cc_distributed": _cc_distributed,
        }[name]

    def run_op(self, name: str, k: int) -> float:
        if k == len(self.rounds):
            self.rounds.append({})
        j0 = last_job_id(self.spark)
        t0 = time.perf_counter()
        with self.tr.span(f"queries.{name}"):
            # an Arrow collect of the (small) result: the rows are checked
            out = self._leaf(name)(self.spark, self.sf_dir).toPandas()
        wall = time.perf_counter() - t0
        self.rounds[k][name] = {"s": wall, "jobs": last_job_id(self.spark) - j0, "out": out}
        return wall

    # ------------------------------------------------------------ checks

    def _oracles(self) -> dict:
        """Expected results, once per run.  minhash_lsh_pairs: its DuckDB
        oracle SQL.  cc_clusters: the oracle SQL's dup edges (DuckDB),
        closed by a union-find here instead of its recursive CTE.
        knn_topk: the oracle's definition in numpy.  The recursive CTE and
        the all-pairs SQL take ~22 s on 4 cores, more than the leaves
        they check."""
        if self._oracle is None:
            import duckdb

            from file_dedup_rust_spark.entry import testdata_queries as Q

            con = duckdb.connect(config={"threads": cpu_count()})
            for t in ("documents", "embeddings"):
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{self.sf_dir}/{t}.parquet'")
            o = {"minhash_lsh_pairs": con.sql(Q.ORACLES["minhash_lsh_pairs"]).df()}
            edges = con.sql(f"WITH {Q.SQL_DOC_EDGES} SELECT a, b FROM edges").df()
            verts = con.sql(f"WITH {Q.SQL_DOC_EDGES} SELECT DISTINCT doc_id FROM corpus").df()
            con.close()
            lbl = checks.min_member_labels(verts["doc_id"].tolist(), zip(edges["a"], edges["b"]))
            o["cc_clusters"] = pd.DataFrame({"doc_id": list(lbl), "cluster_id": list(lbl.values())})
            v = I.embedding_matrix(self.seed)
            o["knn_topk"] = checks.knn_table(v, Q.TOP_K)
            o["top10"] = o["knn_topk"]["neighbor_id"].to_numpy().reshape(len(v), Q.TOP_K)
            self._oracle = o
        return self._oracle

    def check_op(self, name: str, k: int) -> list[str]:
        o = self._oracles()
        r = self.rounds[k][name]
        out = r["out"]
        if name in ORACLE_LEAVES:
            return checks.same_rows(out, o[name])
        if name == "cc_distributed":
            want = o["cc_clusters"]
            return checks.same_grouping(
                dict(zip(out["clip_id"], out["cluster_id"])),
                dict(zip(want["doc_id"], want["cluster_id"])),
            )
        r["recall"], r["precision"] = checks.topk_scores(out, o["top10"])
        if r["recall"] < IVF_RECALL_MIN:
            return [f"{name} recall@10 {r['recall']:.4f} < {IVF_RECALL_MIN}"]
        return []

    # ------------------------------------------------------------ metrics

    def end_to_end(self) -> dict[str, float]:
        """Mean recall@10 / precision@10 of the two IVF leaves (first
        round; every round sees the same tables)."""
        r = self.rounds[0]
        ivf = [r[n] for n in ("ann_ivf_topk", "ann_ivf_pq_topk") if "recall" in r.get(n, {})]
        if not ivf:
            return {"recall": 0.0, "precision": 0.0}
        return {"recall": sum(x["recall"] for x in ivf) / len(ivf),
                "precision": sum(x["precision"] for x in ivf) / len(ivf)}

    def details(self) -> dict[str, float]:
        from perfbench.harness import median

        out = {}
        for n in LEAVES:
            xs = [r[n]["s"] for r in self.rounds if n in r]
            out[f"{n}_s"] = median(xs) if xs else 0.0
        return out
