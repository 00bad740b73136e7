"""End-to-end vector-corpus pipeline: dedup -> index -> serve.

The embedding-side twin of ``examples/pretrain_pipeline.py`` — the workflow
a retrieval / RAG-corpus team runs over an embedding table (the reference
has no vector surface; this composes the engine's LLM-extension operators
into the deployment shape they exist for):

1. **near-dup drop** — banded-RHP candidate pairs at a high cosine
   threshold (4x16 geometry: recall ~1 for true near-dups, ~6e-5
   orthogonal collisions), connected components over the pair graph, keep
   one canonical vector per component (min vec_id). Never a cross join;
   output linear in vectors (operators/dedup.py).
2. **index build** — IVF-PQ over the SURVIVORS: corpus encoded once to
   ``PQ_M`` bytes/vector (32x smaller scan side), broadcast ADC lookup
   tables per query, exact re-rank of the shortlist only
   (operators/similarity.py:pq_topk — the 100 TB vector-index shape).
3. **serve** — top-k per probe from the deduped index; brute-force cosine
   over the same survivors is the exactness referee
   (tests/test_examples.py asserts serve-vs-referee hit overlap).

Every stage is declarative DataFrame ops; the only caches are the
write-once signature/code tables the self-joins read twice.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from responsive_pub_spark.operators import dedup, similarity

#: Near-dup drop threshold: only genuinely redundant vectors collapse.
DEDUP_COSINE = 0.98


def dedup_vectors(emb: DataFrame, threshold: float = DEDUP_COSINE) -> DataFrame:
    """Drop near-duplicate vectors, keeping the canonical (min vec_id) of
    every cosine>=threshold connected component. Returns the surviving
    (vec_id, embedding) rows."""
    pairs = dedup.embedding_dup_pairs(emb, threshold=threshold, bands=4, bits=16)
    comps = dedup.cluster_pairs(
        emb.select(F.col("vec_id").alias("doc_id")),
        pairs.select(
            F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b")
        ),
    )
    keep = comps.filter(~F.col("is_duplicate")).select(
        F.col("doc_id").alias("vec_id")
    )
    return emb.join(keep, "vec_id").select("vec_id", "embedding")


def serve_topk(
    index: DataFrame, k: int = 5, n_queries: int = 25, rerank: int = 40
) -> DataFrame:
    """ANN top-k from the deduped index via IVF-PQ (ADC + exact re-rank).

    ``rerank`` is the exact-re-rank shortlist depth — the serve-quality
    knob: ADC orders candidates approximately, the top-``rerank`` get the
    exact cosine. Deeper = better recall, cost ~rerank raw-vector fetches
    per query (still nothing next to the code-table scan it avoids)."""
    return similarity.pq_topk(index, k=k, n_queries=n_queries, rerank=rerank)


def referee_topk(
    index: DataFrame, k: int = 5, n_queries: int = 25
) -> DataFrame:
    """Exact brute-force top-k over the same index — the recall referee."""
    return similarity.brute_force_topk(index, k=k, n_queries=n_queries)

