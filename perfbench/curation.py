"""Curation ops: the LLM-data curation pipeline over a seeded corpus,
run by the warehouse_query workload alongside its reads.

Setup writes 500 seeded documents (with injected near-duplicates) and
500 embeddings and computes every op's reference answer once with
DuckDB: the entry's ``oracle_sql()`` twin over the same parquet (the
corpus never changes within a run). The ops are ``__spark_entry__``
compositions over ``metrique_spark.functions``: MinHash dedup,
classifier training, BPE merges, IVF-PQ train/encode/probe and the
CCNet-shaped curation table, plus a token-budget selection with a
seeded budget.
"""

from __future__ import annotations

import time

import numpy as np

from perfbench import check, datagen
from perfbench.harness import Op

# ``__spark_entry__.queries()`` compositions, checked against their
# ``oracle_sql()`` twins, plus ``token_budget`` (below)
ENTRIES = ("dedup_minhash_pairs", "text_quality_classifier", "text_bpe_merges",
           "sim_ivfpq_topk", "pipeline_curate")
# pipeline order: dedup, quality filter, token-budget sample, tokenizer,
# embedding index, final curation table. A fixed order also gives every
# seed the same first-run (JIT, code generation) costs per job.
KINDS = ("dedup_minhash_pairs", "text_quality_classifier", "token_budget",
         "text_bpe_merges", "sim_ivfpq_topk", "pipeline_curate")

# the IVF-PQ op's probe geometry (``sim_ivfpq_topk``)
IVF_NLIST, IVF_NPROBE, IVF_QUERIES = 8, 2, 10


class CurationOps:
    def __init__(self, spark):
        self.spark = spark

    def setup(self, data_dir: str, seed: int) -> float:
        """Write the corpus; returns the seconds that took. The reference
        answers are computed after, untimed."""
        import __spark_entry__ as entry

        t0 = time.perf_counter()
        self.data_dir = data_dir
        datagen.write_curation_inputs(data_dir, seed)
        build_s = time.perf_counter() - t0
        self.entries, oracles = entry.queries(), entry.oracle_sql()
        self.con = check.connect(data_dir, ("documents", "embeddings"))
        self.want = {k: self.con.execute(oracles[k]).fetchdf() for k in ENTRIES}
        return build_s

    def op(self, kind: str, rng) -> Op:
        if kind == "token_budget":
            return self._token_budget(int(rng.integers(4_000, 20_000)))
        return Op(kind, lambda: self.entries[kind](self.spark, self.data_dir),
                  lambda: self.want[kind], check.frame_diff)

    def _token_budget(self, budget: int) -> Op:
        """Quality-first selection under a seeded token budget
        (``sampling.select_by_token_budget``). The quality is the alpha
        share of the characters, one division in both engines, so the
        selection order is the same in both; ``sample_token_budget``
        would rank by ``text.quality_score``, whose 4-decimal rounding
        differs from DuckDB's at half-way values."""
        from pyspark.sql import functions as F

        from metrique_spark.functions import sampling, text

        def build():
            docs = self.spark.read.parquet(f"{self.data_dir}/documents.parquet")
            cc = text.char_classes("text")
            scored = docs.select(
                "doc_id",
                (cc["alpha"] / F.greatest(cc["total"], F.lit(1)).cast("double"))
                .alias("quality"),
                text.token_count("text").cast("long").alias("n_tokens"))
            return sampling.select_by_token_budget(scored, budget=budget)

        return Op(
            "token_budget", build,
            lambda: self.con.execute(
                "WITH s AS (SELECT doc_id, CAST(length(regexp_replace(text, "
                "'[^\\p{L}]', '', 'g')) AS DOUBLE) / greatest(length(text), 1) "
                "AS quality, CAST(len(regexp_extract_all(lower(text), '[^\\W_]+')) "
                "AS BIGINT) AS n_tokens FROM documents), "
                "r AS (SELECT *, sum(n_tokens) OVER (ORDER BY quality DESC, doc_id "
                "ROWS UNBOUNDED PRECEDING) AS c FROM s) "
                f"SELECT doc_id, quality, n_tokens FROM r WHERE c <= {budget}").fetchdf(),
            check.frame_diff)

    def ratios(self) -> dict:
        """The wasted-work ratios (traced run, after the measured ops)."""
        return {
            "functions.dedup.verified_per_candidate": self._verified_per_candidate(),
            "functions.similarity.candidates_per_result": self._candidates_per_result(),
        }

    def _verified_per_candidate(self) -> float:
        """Verified near-duplicate pairs per LSH candidate pair of
        ``dedup_minhash_pairs`` (same hashes, bands and shingles)."""
        from metrique_spark.functions import dedup

        docs = self.spark.read.parquet(f"{self.data_dir}/documents.parquet")
        cand = dedup.minhash_lsh_candidates(docs, shingle_n=3,
                                            max_band_bucket=None).count()
        return len(self.want["dedup_minhash_pairs"]) / max(cand, 1)

    def _candidates_per_result(self) -> float:
        """Corpus vectors scored per top-k row returned by
        ``sim_ivfpq_topk``: each query scores every vector but itself in
        its ``IVF_NPROBE`` nearest lists (rounded cosine, ties to the
        lower list id, as the probe does)."""
        from metrique_spark.functions import similarity

        emb = self.spark.read.parquet(f"{self.data_dir}/embeddings.parquet")
        cents = similarity.kmeans_fit(emb, k=IVF_NLIST, iters=1)
        lists = similarity.kmeans_assign(emb, cents).toPandas()
        size = lists["cluster"].value_counts().to_dict()
        own = dict(zip(lists["vec_id"], lists["cluster"]))
        rows = sorted((r["centroid_id"], np.asarray(r["cvec"])) for r in cents.collect())
        qs = (emb.where(f"vec_id < {IVF_QUERIES}").select("vec_id", "embedding")
              .toPandas())
        scanned = 0
        for vid, vec in zip(qs["vec_id"], qs["embedding"]):
            q = np.asarray(vec, dtype=np.float64)
            sims = [(-round(float(q @ c / (np.linalg.norm(q) * np.linalg.norm(c))), 6), cid)
                    for cid, c in rows]
            probed = [cid for _s, cid in sorted(sims)[:IVF_NPROBE]]
            scanned += sum(size.get(c, 0) for c in probed) - (own[vid] in probed)
        return scanned / max(len(self.want["sim_ivfpq_topk"]), 1)
