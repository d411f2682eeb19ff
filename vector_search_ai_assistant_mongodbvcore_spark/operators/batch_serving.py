"""Batched multi-query serving helpers for the materialized indexes.

A retrieval-eval or RAG-batch pipeline serves Q queries at once; looping
`index.search(q)` pays Q Spark jobs and Q index scans.  Each materialized
index (PartitionedHnswIndex / IvfIndex / LshIndex / Bm25Index) therefore
grows a `search_many(queries, k)` that broadcasts the whole query batch
into ONE serving pass — every segment / probed partition / posting bucket
is read once and serves all the queries that route to it — and merges
per query with a bounded window (candidate rows <= S×Q×k, the same
discipline as `similarity.knn_brute_force`).

This module holds the shared plumbing:

  collect_query_batch     normalize the accepted input shapes (a small
                          DataFrame or a plain sequence of (id, payload)
                          pairs) into a driver-side list — a query batch
                          is bounded by definition, exactly like the
                          `queries` argument of knn_brute_force
  make_cosine_scores_by_query
                          Arrow-batched scorer for (query_id, vector)
                          rows: per Arrow batch, group rows by query id
                          and run the SAME stack_vectors -> matvec ops as
                          functions.vector.make_cosine_scores_pandas, so
                          batched scores are bit-identical to the
                          per-query pandas scorer
  topk_per_query          the global merge: row_number window per query
                          (score desc, id asc — the engine-wide ranking
                          contract) cut to k, emitting a 1-based `rank`
  cosine_topk_per_query   score (query_id, vector) candidates, apply the
                          score hygiene, cut per query — the IVF/LSH tail
  exact_rerank /          the quantized IVF/LSH indexes' full-precision
  exact_rerank_many       rerank of a k*expand shortlist against the
                          source table (one broadcast join per call)

Output contract shared by every search_many: one row per (query, hit),
columns (query_id, <id_col>, score, rank), rank 1..k by (score desc,
id asc) — feed straight into operators.eval.evaluate_retrieval.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from vector_search_ai_assistant_mongodbvcore_spark.functions.vector import (
    cosine_similarity,
)
from vector_search_ai_assistant_mongodbvcore_spark.operators.vector_search import (
    vector_search,
)


def _spark_type_of(value) -> str:
    """Spark DDL type for a driver-side query id (the VALUES the routing
    frames and output schemas are built from)."""
    if isinstance(value, bool):
        return "boolean"
    if isinstance(value, (int, np.integer)):
        return "bigint"
    if isinstance(value, str):
        return "string"
    raise TypeError(
        f"query ids must be int or string, got {type(value).__name__}"
    )


def collect_query_batch(
    queries,
    query_id_col: str = "query_id",
    payload_col: str = "query_vector",
) -> "tuple[list[tuple], str]":
    """Normalize a query batch into driver-side (id, payload) pairs.

    Accepts a small DataFrame with (query_id_col, payload_col) columns —
    collected here: the batch is bounded by definition (it is the
    argument of one serving call, not a data table) — or any sequence of
    (id, payload) pairs.  Returns (pairs, query_id_ddl_type).  Raises on
    an empty batch or duplicate ids (a duplicate id would silently merge
    two queries' result sets)."""
    if isinstance(queries, DataFrame):
        rows = queries.select(query_id_col, payload_col).collect()
        pairs = [(r[query_id_col], r[payload_col]) for r in rows]
    else:
        pairs = [(qid, payload) for qid, payload in queries]
    if not pairs:
        raise ValueError("search_many: empty query batch")
    seen = set()
    for qid, _ in pairs:
        if qid in seen:
            raise ValueError(f"search_many: duplicate query id {qid!r}")
        seen.add(qid)
    return pairs, _spark_type_of(pairs[0][0])


def normalized_query_matrix(pairs: "list[tuple]") -> "dict[object, np.ndarray]":
    """{query_id: unit-normalized float64 vector} — the exact
    normalization make_cosine_scores_pandas applies to its single query."""
    out: dict[object, np.ndarray] = {}
    for qid, vec in pairs:
        q = np.asarray([float(x) for x in vec], dtype=np.float64)
        n = np.linalg.norm(q)
        out[qid] = q / n if n else q
    return out


def make_cosine_scores_by_query(qn_by_id: "dict[object, np.ndarray]"):
    """Arrow-batched pairwise scorer: (query_id, vector) -> cosine.

    Bit-parity with the per-query path: within each Arrow batch the rows
    are grouped by query id and each group runs the IDENTICAL pipeline as
    functions.vector.make_cosine_scores_pandas — stack_vectors (nulls ->
    zero rows), row norms with the zero guard, one `m @ qn` matvec.  A
    BLAS matvec scores each row independently (one dot product per row),
    so scoring a subset of rows yields the same per-row floats as scoring
    them inside any larger batch."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import DoubleType

    from vector_search_ai_assistant_mongodbvcore_spark.functions.vector import (
        stack_vectors,
    )

    dims = len(next(iter(qn_by_id.values())))

    @pandas_udf(DoubleType())
    def scores(
        it: Iterator[tuple[pd.Series, pd.Series]]
    ) -> Iterator[pd.Series]:
        for qid_s, vec_s in it:
            out = np.zeros(len(qid_s), dtype=np.float64)
            for qid, pos in qid_s.groupby(qid_s, sort=False).groups.items():
                idx = qid_s.index.get_indexer(pos)
                m = stack_vectors(vec_s.iloc[idx], dims=dims)
                norms = np.linalg.norm(m, axis=1)
                norms[norms == 0.0] = 1.0
                out[idx] = (m @ qn_by_id[qid]) / norms
            yield pd.Series(out)

    return scores


def topk_per_query(
    scored: DataFrame,
    query_id_col: str,
    id_col: str,
    score_col: str,
    k: int,
) -> DataFrame:
    """Per-query global top-k over a bounded candidate frame: ONE window
    keyed by query id, ordered (score desc, id asc) — identical ranking
    key to every per-query `.orderBy(desc(score), asc(id)).limit(k)`
    serve, so the batched cut selects the identical rows.  The shuffle
    into Q reducer groups carries only candidates (<= S×Q×k rows)."""
    w = Window.partitionBy(query_id_col).orderBy(
        F.desc(score_col), F.asc(id_col)
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, score_col, "rank")
    )


def finish_scores(
    scored: DataFrame, score_col: str, round_scores: "int | None"
) -> DataFrame:
    """The engine-wide score hygiene applied before every ranking cut:
    NULL scores -> 0.0 (the cos(x, 0) = 0 convention) and optional
    quantization BEFORE ranking so an oracle ranking on rounded scores
    selects identical rows (vector_search's contract)."""
    out = scored.withColumn(score_col, F.coalesce(F.col(score_col), F.lit(0.0)))
    if round_scores is not None:
        out = out.withColumn(score_col, F.round(F.col(score_col), round_scores))
    return out


def cosine_topk_per_query(
    cand: DataFrame,
    pairs: "list[tuple]",
    id_col: str,
    vector_col: str,
    k: int,
    use_pandas: bool,
    round_scores: "int | None",
) -> DataFrame:
    """Per-query cosine top-k over (query_id, <id_col>, <vector_col>)
    candidates: the Arrow-batched scorer (use_pandas) or the codegen
    cosine against a `_qvec` column the caller routed in, then
    finish_scores and topk_per_query."""
    if use_pandas:
        scorer = make_cosine_scores_by_query(normalized_query_matrix(pairs))
        scored = cand.withColumn("score", scorer(F.col("query_id"), F.col(vector_col)))
    else:
        scored = cand.withColumn(
            "score",
            cosine_similarity(F.col(vector_col).cast("array<double>"), F.col("_qvec")),
        )
    scored = finish_scores(scored, "score", round_scores)
    return topk_per_query(scored, "query_id", id_col, "score", k)


def exact_rerank(
    approx: DataFrame,
    exact_source: DataFrame,
    query,
    k: int,
    vector_col: str,
    id_col: "str | None",
    use_pandas: bool,
    round_scores: "int | None",
) -> DataFrame:
    """Full-precision rerank of one query's quantized shortlist: the
    shortlist ids (`id_col`, else approx's first column) are broadcast
    into a semi join against the source table and rescored exactly. At
    warehouse scale keep the source bucketed by id so the semi join
    prunes instead of scanning."""
    key = id_col if id_col is not None else approx.columns[0]
    exact_cands = exact_source.join(F.broadcast(approx.select(key)), key, "left_semi")
    return vector_search(
        exact_cands,
        query,
        k=k,
        vector_col=vector_col,
        use_pandas=use_pandas,
        id_col=id_col,
        round_scores=round_scores,
    )


def exact_rerank_many(
    approx: DataFrame,
    exact_source: DataFrame,
    pairs: "list[tuple]",
    qid_type: str,
    k: int,
    id_col: str,
    vector_col: str,
    use_pandas: bool,
    round_scores: "int | None",
) -> DataFrame:
    """exact_rerank for a whole query batch in ONE join: the Q×shortlist
    (query_id, id) set is broadcast against the source table."""
    shortlist = approx.select("query_id", id_col)
    exact_cands = exact_source.join(F.broadcast(shortlist), id_col).select(
        "query_id", id_col, vector_col
    )
    if not use_pandas:
        qvecs = exact_source.sparkSession.createDataFrame(
            [(qid, [float(x) for x in vec]) for qid, vec in pairs],
            f"query_id {qid_type}, _qvec array<double>",
        )
        exact_cands = exact_cands.join(F.broadcast(qvecs), "query_id")
    return cosine_topk_per_query(
        exact_cands, pairs, id_col, vector_col, k, use_pandas, round_scores
    )
