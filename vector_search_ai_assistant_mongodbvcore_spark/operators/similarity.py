"""Similarity search & join over embedding columns.

Extended surface (BASELINE.json north star): approximate-nearest-neighbor
over `array<float>` embeddings.

  knn_brute_force       exact top-k for a query BATCH (one matmul per Arrow
                        batch, one scan for all queries)
  cosine_pairs_exact    all pairs with cosine >= threshold (self-join; the
                        sf-scale oracle path)
  lsh_ann               one-shot random-hyperplane LSH query (ad-hoc path)
  LshIndex              MATERIALIZED bucket-partitioned LSH (serving path:
                        build once, partition-prune per query)
  embedding_neardup     near-duplicate pairs by embedding cosine
                        (bucket posting lists -> in-list pair expansion)

Scale notes: brute force is a full scan per query batch — fine when queries
are batched (Q vectors broadcast in one pass: cost O(N·Q·D) FLOPS via one
numpy matmul per Arrow batch, embarrassingly parallel). The LSH variants cut
candidate sets by 2^bits buckets; recall is tunable with `tables` (OR of
several hash tables), the standard random-hyperplane construction (Charikar).
"""

from __future__ import annotations

from typing import Iterator, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from vector_search_ai_assistant_mongodbvcore_spark.functions.vector import (
    cosine_similarity,
    stack_vectors,
)
from vector_search_ai_assistant_mongodbvcore_spark.operators.index_base import (
    MaterializedIndex,
    apply_duplicate_policy,
    data_fingerprint,
    decode_vectors,
    encode_vectors,
)
from vector_search_ai_assistant_mongodbvcore_spark.plans import scan_cache as _scan_cache


def knn_candidates(
    df: DataFrame,
    queries: Sequence[Sequence[float]],
    k: int = 10,
    vector_col: str = "embedding",
    id_col: str = "vec_id",
    round_scores: int | None = None,
) -> DataFrame:
    """Per-PARTITION top-k candidates for a batch of query vectors.

    One mapInPandas pass: each task scores its whole partition against all Q
    queries (one numpy matmul per Arrow batch) and emits ONLY its local
    top-k per query — at most P×Q×k rows total leave the scan stage, never
    the N×Q scored table. Scores are quantized (`round_scores`) BEFORE the
    local selection so the local and global rankings use identical keys
    (score desc, id asc)."""
    from pyspark.sql import types as T

    Q = np.asarray(queries, dtype=np.float64)  # (q, d)
    Qn = Q / np.linalg.norm(Q, axis=1, keepdims=True)
    nq = Q.shape[0]

    out_schema = T.StructType(
        [
            T.StructField("query_id", T.IntegerType()),
            df.schema[id_col],
            T.StructField("score", T.DoubleType()),
        ]
    )

    def local_topk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        acc_ids: list[list] = [[] for _ in range(nq)]
        acc_sc: list[list] = [[] for _ in range(nq)]
        for pdf in batches:
            if not len(pdf):
                continue
            m = stack_vectors(pdf[vector_col], dims=Q.shape[1])  # nulls -> zeros
            norms = np.linalg.norm(m, axis=1, keepdims=True)
            norms[norms == 0.0] = 1.0
            sims = (m / norms) @ Qn.T  # (rows, q)
            if round_scores is not None:
                sims = np.round(sims, round_scores)
            ids = pdf[id_col].to_numpy()
            for qi in range(nq):
                s = sims[:, qi]
                order = np.lexsort((ids, -s))[:k]  # score desc, id asc
                acc_ids[qi].append(ids[order])
                acc_sc[qi].append(s[order])
        frames = []
        for qi in range(nq):
            if not acc_ids[qi]:
                continue
            ids = np.concatenate(acc_ids[qi])
            s = np.concatenate(acc_sc[qi])
            order = np.lexsort((ids, -s))[:k]
            frames.append(
                pd.DataFrame(
                    {
                        "query_id": np.full(len(order), qi, dtype=np.int32),
                        id_col: ids[order],
                        "score": s[order],
                    }
                )
            )
        if frames:
            yield pd.concat(frames, ignore_index=True)

    return df.select(id_col, vector_col).mapInPandas(local_topk, out_schema)


def knn_brute_force(
    df: DataFrame,
    queries: Sequence[Sequence[float]],
    k: int = 10,
    vector_col: str = "embedding",
    id_col: str = "vec_id",
    round_scores: int | None = None,
) -> DataFrame:
    """Exact top-k for a BATCH of query vectors in one scan.

    Two stages: per-partition local top-k (knn_candidates — at most P×Q×k
    rows leave the scan), then ONE window over the surviving candidates
    picks the global top-k per query. The shuffle into Q reducer groups
    carries only candidates, so reducer fan-in is bounded by P×k however
    large the table grows. Output: (query_id, id, score).

    `round_scores` quantizes scores BEFORE ranking (with an id tiebreak) so
    an oracle ranking on equally-rounded scores selects identical rows;
    quantizing before the LOCAL selection too keeps both stages' orderings
    identical (a raw-score local cut could drop a lower-id row that ties at
    the rounded precision)."""
    from pyspark.sql import Window

    cand = knn_candidates(
        df, queries, k=k, vector_col=vector_col, id_col=id_col, round_scores=round_scores
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc(id_col))
    return (
        cand.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .select("query_id", F.col(id_col), "score")
    )


def cosine_pairs_exact(
    df: DataFrame,
    threshold: float = 0.9,
    vector_col: str = "embedding",
    id_col: str = "vec_id",
    use_pandas: bool = True,
) -> DataFrame:
    """All (a, b) pairs with cosine >= threshold — exact, via self-join.

    At large N this is the quadratic baseline the LSH path exists to avoid;
    it remains the correctness oracle and is fine for dimension tables and
    per-bucket verification. The join is a broadcast-nested-loop; Spark
    broadcasts the smaller (projected) side."""
    a = df.select(F.col(id_col).alias("id_a"), F.col(vector_col).alias("_va"))
    b = df.select(F.col(id_col).alias("id_b"), F.col(vector_col).alias("_vb"))
    joined = a.join(b, F.col("id_a") < F.col("id_b"))
    if use_pandas:
        from pyspark.sql.functions import pandas_udf
        from pyspark.sql.types import DoubleType

        @pandas_udf(DoubleType())
        def pair_cos(it: Iterator[tuple[pd.Series, pd.Series]]) -> Iterator[pd.Series]:
            for va, vb in it:
                # infer dims from whichever side has a real vector — an
                # all-null va batch must not shrink vb (stack_vectors raises
                # on any true dimension mismatch)
                dims = next(
                    (len(v) for s in (va, vb) for v in s if v is not None and len(v)),
                    None,
                )
                ma = stack_vectors(va, dims=dims)
                mb = stack_vectors(vb, dims=dims)
                na = np.linalg.norm(ma, axis=1)
                nb = np.linalg.norm(mb, axis=1)
                na[na == 0] = 1.0
                nb[nb == 0] = 1.0
                yield pd.Series((ma * mb).sum(axis=1) / (na * nb))

        scored = joined.withColumn("cosine", pair_cos(F.col("_va"), F.col("_vb")))
    else:
        scored = joined.withColumn(
            "cosine",
            cosine_similarity(F.col("_va").cast("array<double>"), F.col("_vb").cast("array<double>")),
        )
    return scored.filter(F.col("cosine") >= threshold).select("id_a", "id_b", "cosine")


def _hyperplanes(dims: int, bits: int, tables: int, seed: int = 42) -> np.ndarray:
    rng = np.random.RandomState(seed)
    return rng.randn(tables, bits, dims)


def lsh_bucket_ids(
    df: DataFrame,
    dims: int,
    bits: int = 12,
    tables: int = 2,
    vector_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
    carry_vector: bool = False,
) -> DataFrame:
    """Random-hyperplane (sign) LSH: (id, table, bucket). bucket = the
    `bits`-bit sign pattern of projections onto fixed Gaussian hyperplanes.

    `carry_vector=True` additionally carries the vector itself through
    the explode as `_v` (cast array<double>) — for consumers that score
    candidates right after bucketing (embedding_neardup): the explode
    duplicates the vector per table exactly as the id-keyed join-back it
    replaces did, but without a second scan of `df` or the join (r16,
    guide §2.4: bucket+window prefix 0.50 -> 0.28 s min-of-4 at sf0.1,
    rows identical)."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, LongType

    H = _hyperplanes(dims, bits, tables, seed)  # (t, b, d)
    weights = (1 << np.arange(bits)).astype(np.int64)

    @pandas_udf(ArrayType(LongType()))
    def buckets(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for s in batches:
            m = stack_vectors(s, dims=dims)  # (n, d), nulls -> zero vectors
            out = []
            signs = np.einsum("nd,tbd->ntb", m, H) > 0  # (n, t, b)
            codes = signs @ weights  # (n, t)
            out = list(codes)
            yield pd.Series(out)

    # guide §4.4: posexplode's implicit `size(..)>0 AND isnotnull(..)`
    # generator filter is pushed below the projection and the optimizer
    # then evaluates the UDF TWICE (once under the filter, once in the
    # project) — confirmed in the r15 plan audit (two ArrowEvalPython
    # nodes per scan branch). The function is semantically deterministic;
    # the nondeterministic mark only forbids Catalyst from duplicating
    # or reordering it, halving the Python-boundary work per branch.
    buckets = buckets.asNondeterministic()
    if carry_vector:
        coded = df.select(
            F.col(id_col),
            F.col(vector_col).cast("array<double>").alias("_v"),
            buckets(F.col(vector_col)).alias("_codes"),
        )
        return coded.select(
            id_col, "_v", F.posexplode("_codes").alias("table", "bucket")
        )
    coded = df.select(F.col(id_col), buckets(F.col(vector_col)).alias("_codes"))
    return coded.select(id_col, F.posexplode("_codes").alias("table", "bucket"))


def _query_codes(
    query: Sequence[float], bits: int, tables: int, seed: int
) -> list[int]:
    dims = len(query)
    H = _hyperplanes(dims, bits, tables, seed)
    q = np.asarray(query, dtype=np.float64)
    weights = (1 << np.arange(bits)).astype(np.int64)
    return [int(((H[t] @ q) > 0) @ weights) for t in range(tables)]


def _bucket_filter(codes) -> "F.Column":
    """Predicate selecting the (table, bucket) partitions `codes`."""
    cond = F.lit(False)
    for t, c in codes:
        cond = cond | ((F.col("table") == t) & (F.col("bucket") == c))
    return cond


def lsh_ann(
    df: DataFrame,
    query: Sequence[float],
    k: int = 10,
    bits: int = 12,
    tables: int = 2,
    vector_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
) -> DataFrame:
    """ONE-SHOT approximate top-k: hashes every row of `df` at call time,
    keeps rows sharing an LSH bucket with the query in ANY table, scores the
    survivors. Honest cost model: this is a full scan + Python hash pass per
    call — right for a single ad-hoc query over an unindexed table, WRONG
    for repeated serving. The serving path is `LshIndex`: hash once, write
    bucket-partitioned, prune partitions per query."""
    q_codes = _query_codes(query, bits, tables, seed)
    bucketed = lsh_bucket_ids(df, len(query), bits, tables, vector_col, id_col, seed)
    candidates = bucketed.filter(_bucket_filter(enumerate(q_codes))).select(id_col).distinct()
    pruned = df.join(candidates, id_col, "inner")  # shuffle-less if broadcast
    from vector_search_ai_assistant_mongodbvcore_spark.operators.vector_search import vector_search

    return vector_search(
        pruned, list(query), k=k, vector_col=vector_col, use_pandas=True, id_col=id_col
    )


class LshIndex(MaterializedIndex):
    """Materialized random-hyperplane LSH index: the serving-path twin of
    `lsh_ann`. `build` hashes the table ONCE and writes it parquet-
    partitioned by (table, bucket) — `tables` copies of the data, the
    classic multi-probe space/recall trade. `search` computes the query's
    `tables` bucket codes driver-side (a few dot products) and reads only
    those partitions: Catalyst partition pruning means the scan touches
    ~tables/2^bits of the files, no per-query hashing of the corpus.

    Same lifecycle as the other indexes (operators/index_base.py); at
    100 TB, partition count = tables * 2^bits — size `bits` so each
    bucket holds many files' worth of rows, not the other way around."""

    _compact_dirs = (("data", ("table", "bucket")),)

    def _bucketed_rows(self, df: DataFrame, p: dict) -> DataFrame:
        """(table, bucket, <df columns>) rows in stored form: one pandas-UDF
        hash pass exploded to `tables` rows per vector, int8-encoded on a
        quantized index."""
        bucketed = lsh_bucket_ids(
            df, p["dims"], p["bits"], p["tables"], p["vector_col"], p["id_col"], p["seed"]
        )
        return encode_vectors(
            bucketed.join(df, p["id_col"]), p.get("quantized"), p["vector_col"]
        )

    def build(
        self,
        df: DataFrame,
        dims: int,
        bits: int = 6,
        tables: int = 4,
        vector_col: str = "embedding",
        id_col: str = "vec_id",
        seed: int = 42,
        quantize: bool = False,
    ) -> "LshIndex":
        """quantize=True stores vectors as symmetric per-vector int8
        (functions/vector.quantize_int8: one float scale + tinyint codes)
        instead of float arrays — a ~4x cut of the index's dominant column,
        which at 100 TB is 4x less serving IO per pruned bucket read AND 4x
        less of the `tables`-fold write amplification this layout pays.
        Serving dequantizes in the scan projection (pure column exprs);
        score error is bounded by the per-element quantization step (~1e-2
        on unit vectors, see tests) — pass `exact_source` to search() to
        re-rank a shortlist at full precision."""
        import os

        params = {
            "dims": dims,
            "bits": bits,
            "tables": tables,
            "vector_col": vector_col,
            "id_col": id_col,
            "seed": seed,
            "quantized": quantize,
        }
        # co-locate buckets before the partitioned write — otherwise every
        # task writes a sliver into every bucket dir (tasks x buckets tiny
        # files). Default shuffle partitioning: each (table, bucket) combo
        # hashes to exactly ONE partition (one file per dir) while write
        # parallelism stays at the full partition count, not `tables`.
        self._bucketed_rows(df, params).repartition(
            F.col("table"), F.col("bucket")
        ).write.mode("overwrite").partitionBy("table", "bucket").parquet(
            os.path.join(self.path, "data")
        )
        _scan_cache.invalidate(self.spark, self.path)
        self._write_meta({**params, "fingerprint": data_fingerprint(df)})
        return self

    def add_documents(
        self, df: DataFrame, on_duplicate: str = "error", id_col: "str | None" = None
    ) -> "LshIndex":
        """Absorb new vectors near-real-time — the ANN twin of the
        reference's add path (AddRemoveData.cs 'add' → upsert → immediately
        searchable) and of Bm25Index.add_documents. LSH keeps NO global
        statistics (no df/avgdl), so an add is exactly an APPEND of the new
        rows into their (table, bucket) partitions: after add_documents,
        search() is IDENTICAL to a fresh build over the union corpus
        (asserted in tests), with no rescoring caveats.

        Duplicate-id guard: index_base.apply_duplicate_policy ('trust'
        saves a column-pruned id scan of the index; at warehouse scale keep
        a doc-id side table as Bm25Index does and trust here)."""
        import os

        m = self.meta()
        id_col = self._id_col(m, id_col)
        data_dir = os.path.join(self.path, "data")
        df = apply_duplicate_policy(
            df, id_col, on_duplicate,
            lambda _: self.spark.read.parquet(data_dir).select(id_col),
        )
        self._bucketed_rows(df, m).repartition(F.col("table"), F.col("bucket")).write.mode(
            "append"
        ).partitionBy("table", "bucket").parquet(data_dir)
        self.spark.catalog.refreshByPath(data_dir)
        _scan_cache.invalidate(self.spark, self.path)
        return self

    def remove_documents(self, ids: "Sequence", id_col: "str | None" = None) -> "LshIndex":
        """Delete vectors near-real-time: the removed ids' (table, bucket)
        partitions are rewritten copy-on-write minus the doomed rows
        (sources/maintenance.cow_delete_ids); untouched partitions' files
        are never rewritten, and a partition left empty is dropped
        outright. After remove_documents, search() is IDENTICAL to a fresh
        build over the survivors (asserted in tests). Unknown ids are
        ignored. Each id occupies `tables` partitions."""
        import os

        from vector_search_ai_assistant_mongodbvcore_spark.sources.maintenance import (
            cow_delete_ids,
        )

        ids = list(ids)
        if ids:
            cow_delete_ids(
                self.spark, os.path.join(self.path, "data"), ["table", "bucket"],
                self._id_col(self.meta(), id_col), ids, plane=self.plane,
            )
        return self

    def search(
        self,
        query: Sequence[float],
        k: int = 10,
        round_scores: int | None = None,
        use_pandas: bool = True,
        exact_source: DataFrame | None = None,
        expand: int = 4,
    ) -> DataFrame:
        """Partition-pruned top-k. On a quantized index, scores come from
        the dequantized int8 codes (error ~ the quantization step); pass
        `exact_source` (the full-precision table, same id/vector cols) to
        re-rank: the index shortlists k*expand ids from int8 scores and
        batch_serving.exact_rerank rescores them exactly."""
        import os

        from vector_search_ai_assistant_mongodbvcore_spark.operators.batch_serving import (
            exact_rerank,
        )
        from vector_search_ai_assistant_mongodbvcore_spark.operators.vector_search import (
            vector_search,
        )

        m = self.meta()
        id_col, vector_col = m["id_col"], m["vector_col"]
        q_codes = _query_codes(query, m["bits"], m["tables"], m["seed"])
        scan = _scan_cache.cached_parquet(self.spark, os.path.join(self.path, "data"))
        # partition-pruned candidate read; same id may sit in several tables
        candidates = (
            scan.filter(_bucket_filter(enumerate(q_codes)))
            .dropDuplicates([id_col])
            .drop("table", "bucket")
        )
        rerank = bool(m.get("quantized")) and exact_source is not None
        approx = vector_search(
            decode_vectors(candidates, m.get("quantized"), vector_col),
            list(query),
            k=k * expand if rerank else k,
            vector_col=vector_col,
            use_pandas=use_pandas,
            id_col=id_col,
            round_scores=round_scores,
        )
        if not rerank:
            return approx
        return exact_rerank(
            approx, exact_source, list(query), k, vector_col, id_col, use_pandas,
            round_scores,
        )

    def search_many(
        self,
        queries,
        k: int = 10,
        round_scores: int | None = None,
        use_pandas: bool = True,
        exact_source: DataFrame | None = None,
        expand: int = 4,
        query_id_col: str = "query_id",
        query_vec_col: str = "query_vector",
    ) -> DataFrame:
        """Batched bucket-pruned serving: ONE scan of the union of every
        query's (table, bucket) partitions answers the whole batch.  Each
        query's bucket codes are computed driver-side (the same
        _query_codes as search()) and broadcast as a (query_id, table,
        bucket) routing frame; a data row is scored once per query whose
        buckets cover it, after the same per-(query, id) dedup search()
        applies per query.  Output (query_id, <id_col>, score, rank) —
        row-for-row identical to looping search() (asserted in tests).

        `queries` = small DataFrame with (query_id, query_vector) columns
        or a sequence of (id, vector) pairs.  `exact_source` reranks each
        query's k*expand int8 shortlist at full precision in ONE join,
        as in IvfIndex.search_many."""
        import os

        from vector_search_ai_assistant_mongodbvcore_spark.operators.batch_serving import (
            collect_query_batch,
            cosine_topk_per_query,
            exact_rerank_many,
        )

        pairs, qid_type = collect_query_batch(queries, query_id_col, query_vec_col)
        m = self.meta()
        id_col, vector_col = m["id_col"], m["vector_col"]
        rerank = bool(m.get("quantized")) and exact_source is not None

        route_rows = []
        for qid, vec in pairs:
            for t, c in enumerate(_query_codes(list(vec), m["bits"], m["tables"], m["seed"])):
                route_rows.append((qid, t, int(c), [float(x) for x in vec]))
        routing = self.spark.createDataFrame(
            route_rows,
            f"query_id {qid_type}, table int, bucket int, _qvec array<double>",
        )
        hit_parts = {(t, c) for _, t, c, _ in route_rows}
        scan = _scan_cache.cached_parquet(self.spark, os.path.join(self.path, "data"))
        candidates = (
            scan.filter(_bucket_filter(sorted(hit_parts)))
            .join(F.broadcast(routing), ["table", "bucket"])
            .dropDuplicates(["query_id", id_col])
            .drop("table", "bucket")
        )
        approx = cosine_topk_per_query(
            decode_vectors(candidates, m.get("quantized"), vector_col), pairs, id_col,
            vector_col, k * expand if rerank else k, use_pandas, round_scores,
        )
        if not rerank:
            return approx
        return exact_rerank_many(
            approx, exact_source, pairs, qid_type, k, id_col, vector_col, use_pandas,
            round_scores,
        )


def embedding_neardup(
    df: DataFrame,
    threshold: float = 0.95,
    bits: int = 8,
    tables: int = 4,
    vector_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
    exact: bool = False,
    max_bucket: int = 10_000,
    dims: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs by embedding cosine.

    exact=True  -> quadratic exact join (oracle / small tables)
    exact=False -> LSH-blocked: only pairs sharing a bucket are verified
                   with exact cosine; misses pairs LSH never co-buckets
                   (recall < 1, tunable via tables/bits).

    `dims`: the vector dimensionality, needed to draw the hyperplane
    literals. When the caller knows it (the registry's len(_QV_ANN)
    convention, an index meta file), passing it makes construction pure
    plan-building; left None, it is discovered with a one-row first()
    probe — an eager Spark job per construction. The two paths diverge
    on an empty/all-null input (ADVICE r15): the probe path detects it
    and returns a createDataFrame literal, the dims path builds the full
    LSH plan which *evaluates* to the same empty frame — identical
    results, different plan shapes for callers that inspect plans. A
    dims value that disagrees with the data fails loudly at execution:
    stack_vectors raises on any non-null vector whose length != dims
    (mis-bucketing is impossible).

    Verification is a per-bucket BLAS matmul (applyInPandas over the
    (table, bucket) groups — the partitioned_ann pattern): candidate pairs
    are scored inside each bucket and only above-threshold survivors ever
    leave the task, so the N_bucket^2 candidate set is never materialized
    as rows (the earlier pair-join + interpreted-HOF cosine was 4.5x
    slower at sf0.1 and shuffled every candidate). The sim matrix is
    computed in row chunks (~64 MB cap), and buckets hotter than
    `max_bucket` — whose full group would not fit one task — route through
    a streaming equi-join verified with a single dot product over
    pre-normalized vectors. Same pair SET either way; a pair found via
    several tables/routes is collapsed by greatest cosine (the kernels
    agree to float ulps, not bit-for-bit, so max() not distinct())."""
    if exact:
        return cosine_pairs_exact(df, threshold, vector_col, id_col)
    from vector_search_ai_assistant_mongodbvcore_spark.functions.vector import (
        dot_product,
        normalize,
    )

    id_t = df.schema[id_col].dataType.simpleString()
    out_schema = f"id_a {id_t}, id_b {id_t}, cosine double"
    if dims is None:
        probe = df.filter(F.col(vector_col).isNotNull()).select(vector_col).first()
        if probe is None:  # empty / all-null input: empty result, right schema
            return df.sparkSession.createDataFrame([], out_schema)
        dims = len(probe[0])
    # r16: the vector rides through the bucket explode (`carry_vector`)
    # instead of being re-joined on id afterwards — one scan and one join
    # fewer, identical rows (the join duplicated _v per table exactly as
    # the explode does)
    data = lsh_bucket_ids(
        df, dims, bits, tables, vector_col, id_col, seed, carry_vector=True
    )
    # ONE shuffle on (table, bucket): the window count, the applyInPandas
    # grouping, and the hot-bucket join all hash-partition on the same key
    w = Window.partitionBy("table", "bucket")
    sized = data.withColumn("_n", F.count(F.lit(1)).over(w)).filter(F.col("_n") > 1)
    small = sized.filter(F.col("_n") <= max_bucket).drop("_n")
    big = sized.filter(F.col("_n") > max_bucket).drop("_n")

    thr = float(threshold)

    def _score_bucket(pdf: "pd.DataFrame") -> "pd.DataFrame":
        empty = pd.DataFrame(
            {
                "id_a": pdf[id_col].iloc[:0],
                "id_b": pdf[id_col].iloc[:0],
                "cosine": pd.Series([], dtype="float64"),
            }
        )
        if len(pdf) < 2:
            return empty
        # sort by id: then row order == id order, so upper-triangle pairs
        # are already (id_a < id_b) — canonical across tables/routes
        pdf = pdf.sort_values(id_col, kind="mergesort")
        ids = pdf[id_col].to_numpy()
        m = np.stack(pdf["_v"].to_numpy()).astype(np.float64, copy=False)
        norms = np.linalg.norm(m, axis=1)
        norms[norms == 0.0] = 1.0  # cos(x, 0) = 0 convention
        mn = m / norms[:, None]
        n = len(ids)
        # row-chunked sims: chunk x n block caps peak memory (~64 MB)
        chunk = max(1, min(n, (64 << 20) // (n * 8)))
        outs_a, outs_b, outs_c = [], [], []
        for s0 in range(0, n, chunk):
            blk = mn[s0 : s0 + chunk] @ mn.T  # (chunk, n)
            ii, jj = np.nonzero(blk >= thr)
            gi = ii + s0
            keep = jj > gi  # strict upper triangle: i < j, no self-pairs
            if keep.any():
                outs_a.append(ids[gi[keep]])
                outs_b.append(ids[jj[keep]])
                outs_c.append(blk[ii[keep], jj[keep]])
        if not outs_a:
            return empty
        return pd.DataFrame(
            {
                "id_a": np.concatenate(outs_a),
                "id_b": np.concatenate(outs_b),
                "cosine": np.concatenate(outs_c),
            }
        )

    pairs_small = small.groupBy("table", "bucket").applyInPandas(
        _score_bucket, out_schema
    )
    # hot buckets: streaming equi-join (never materializes the group in one
    # task), single-dot verify over pre-normalized vectors
    a = big.select("table", "bucket", F.col(id_col).alias("id_a"))
    b = big.select("table", "bucket", F.col(id_col).alias("id_b"))
    cand_big = (
        a.join(b, ["table", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    normed = df.select(
        id_col, normalize(F.col(vector_col).cast("array<double>")).alias("_nv")
    )
    pairs_big = (
        cand_big.join(
            normed.select(F.col(id_col).alias("id_a"), F.col("_nv").alias("_na")),
            "id_a",
        )
        .join(
            normed.select(F.col(id_col).alias("id_b"), F.col("_nv").alias("_nb")),
            "id_b",
        )
        .withColumn("cosine", dot_product("_na", "_nb"))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )
    return (
        pairs_small.unionByName(pairs_big)
        .groupBy("id_a", "id_b")
        .agg(F.max("cosine").alias("cosine"))
    )
