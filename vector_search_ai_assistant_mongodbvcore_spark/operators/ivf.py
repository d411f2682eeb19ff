"""IVF vector index: KMeans-partitioned store + centroid-pruned search.

Reference: the `vector-ivf` index kind, numLists=2, cosine
(/root/reference/SharedLib/Services/MongoDbService.cs:144-167); search probes
the index via $search.cosmosSearch (:194-223).

Spark-first construction (SURVEY.md §4): there is no ANN server; instead the
*table layout* is the index.

  build:  MLlib KMeans(k=num_lists) on (unit-normalized) vectors
          -> write parquet PARTITIONED BY centroid_id
  search: assign query to its nProbe nearest centroids (driver-side numpy on
          the tiny centroid set) -> read with centroid_id IN (...) —
          Catalyst partition pruning makes the scan touch nProbe/num_lists
          of the files — -> exact top-k inside the probed subset.

At 100 TB with num_lists ~ sqrt(N) this is the classic IVF-flat tradeoff.
The KMeans fit runs on a sample (`fit_fraction`) — centroid quality needs
thousands of vectors per list, not the full table — while the assignment
pass still covers every row. tests/test_ivf.py asserts EXACT equality with
brute force at n_probe = num_lists, monotone recall in n_probe on uniform
random vectors (the no-structure worst case), and recall >= 0.9 at
n_probe=1 of 4 on clustered data (the regime IVF exists for).

HNSW (MongoDbService.cs:119-143) is the sibling kind
operators/hnsw.PartitionedHnswIndex: one graph per hash segment, merged
per query. The four index kinds share the lifecycle in
operators/index_base.py.
"""

from __future__ import annotations

import io
import os
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from vector_search_ai_assistant_mongodbvcore_spark.operators.index_base import (
    MaterializedIndex,
    apply_duplicate_policy,
    data_fingerprint,
    decode_vectors,
    encode_vectors,
)
from vector_search_ai_assistant_mongodbvcore_spark.plans import scan_cache as _scan_cache

from vector_search_ai_assistant_mongodbvcore_spark.operators.vector_search import (
    vector_search,
)

DEFAULT_NUM_LISTS = 2  # MongoDbService.cs:158 numLists


class IvfIndex(MaterializedIndex):
    """IVF-flat index materialized as centroid-partitioned parquet.

    `dataplane` (r13): metadata/centroid objects and partition cleanup
    route through the sources/dataplane.py seam, so the index tablespace
    lives on the same storage universe as the tables (None = the module
    default the table layer resolves — patched in the object-universe
    test fixtures)."""

    _compact_dirs = (("data", ("centroid_id",)),)

    # ---- build -----------------------------------------------------------
    def build(
        self,
        df: DataFrame,
        vector_col: str = "embedding",
        num_lists: int = DEFAULT_NUM_LISTS,
        seed: int = 42,
        max_iter: int = 20,
        fit_fraction: float | None = None,
        quantize: bool | str = False,
        pq_m: int = 8,
        pq_bits: int = 8,
        id_col: str = "vec_id",
    ) -> "IvfIndex":
        """Fit KMeans (on a `fit_fraction` sample when given — at 100 TB the
        centroids only need a representative sample, not the full table),
        then assign EVERY row and write partitioned by centroid_id.

        quantize=True stores vectors int8 (functions/vector.quantize_int8)
        — the same 4x serving-IO cut as LshIndex(quantize=True); search()
        dequantizes in the scan projection and accepts `exact_source` for
        full-precision re-ranking.

        quantize="pq" stores product-quantization codes instead of the
        vectors (operators/pq.py — the FAISS IVF-PQ layout): pq_m one-byte
        codes per vector (16-64x IO cut vs float32), codebooks fit on the
        same bounded-sample discipline and frozen into meta.json, ADC
        scoring at search() with mandatory-in-practice exact rerank via
        `exact_source`."""
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector

        from vector_search_ai_assistant_mongodbvcore_spark.functions.vector import normalize

        # cosine <=> euclidean KMeans on unit-normalized vectors
        normed = df.withColumn(
            "_nv", normalize(F.col(vector_col).cast("array<double>"))
        ).withColumn("_features", array_to_vector(F.col("_nv")))
        fit_input = (
            normed.sample(fraction=fit_fraction, seed=seed)
            if fit_fraction is not None and fit_fraction < 1.0
            else normed
        )
        km = KMeans(k=num_lists, seed=seed, maxIter=max_iter, featuresCol="_features", predictionCol="centroid_id")
        model = km.fit(fit_input)
        pq_model = None
        if quantize == "pq":
            from vector_search_ai_assistant_mongodbvcore_spark.operators.pq import fit_pq

            pq_model = fit_pq(
                df, vector_col=vector_col, id_col=id_col, m=pq_m, bits=pq_bits,
                seed=seed,
            )
        assigned = encode_vectors(
            model.transform(normed).drop("_features", "_nv"), quantize, vector_col, pq_model
        )
        # co-locate each list before writing: without this every write task
        # emits a sliver file into every centroid dir (tasks x lists tiny
        # files — a listing/open bottleneck at query time). One hash
        # partition per centroid -> one well-sized file per list locally; a
        # real deployment scales file count per list via repartition(N, key).
        assigned.repartition(num_lists, F.col("centroid_id")).write.mode(
            "overwrite"
        ).partitionBy("centroid_id").parquet(os.path.join(self.path, "data"))
        _scan_cache.invalidate(self.spark, self.path)
        centroids = np.vstack([np.asarray(c) for c in model.clusterCenters()])
        buf = io.BytesIO()
        np.save(buf, centroids)
        self.plane.write_bytes(os.path.join(self.path, "centroids.npy"), buf.getvalue())
        meta = {
            "num_lists": num_lists,
            "vector_col": vector_col,
            "seed": seed,
            "quantized": quantize,
            "fingerprint": data_fingerprint(df),
        }
        if id_col in df.columns:
            # the unique id the index shortlists and reranks by — the
            # raw-SQL serve validates the SELECT's bare identifier
            # against this (a non-unique column as the shortlist /
            # semi-join rerank key would inflate or collapse the
            # candidate set beyond the documented recall contract).
            # Recorded ONLY when the column is real: `id_col` has a
            # default ("vec_id"), and stamping that default onto a
            # table keyed differently would poison every meta-driven
            # consumer (apply_index_changes keys remove/add off the
            # stored id; the SQL serve would decline or, worse,
            # validate against a phantom). Absent id_col => quantized
            # SQL serving declines to the full scan, and add/remove
            # take the caller's id_col — both the safe directions.
            meta["id_col"] = id_col
        if pq_model is not None:
            meta["pq_model"] = pq_model
        self._write_meta(meta)
        return self

    # ---- incremental maintenance ----------------------------------------
    def _assign_col(self, vector_col: str):
        """centroid_id column for new vectors: nearest FROZEN centroid in
        the normalized space the KMeans fit ran in — argmin ||v̂ - c_k||²
        computed as argmax(v̂·c_k - ||c_k||²/2), one Arrow-batched pass
        with the (num_lists × dims) centroid matrix closed over (a few KB;
        ships with the task like any broadcast literal)."""
        from pyspark.sql.functions import pandas_udf
        from pyspark.sql.types import IntegerType

        c = self._centroids()  # (k, d), in normalized-vector space
        half_sq = 0.5 * (c * c).sum(axis=1)  # (k,)

        @pandas_udf(IntegerType())
        def assign(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
            for s in batches:
                m = np.stack(s.to_numpy()).astype(np.float64)
                norms = np.linalg.norm(m, axis=1)
                norms[norms == 0.0] = 1.0
                mn = m / norms[:, None]
                yield pd.Series(np.argmax(mn @ c.T - half_sq, axis=1).astype("int32"))

        return assign(F.col(vector_col))

    def add_documents(
        self, df: DataFrame, id_col: "str | None" = None, on_duplicate: str = "error"
    ) -> "IvfIndex":
        """Absorb new vectors near-real-time: each is assigned to its
        nearest EXISTING centroid (the centroids stay frozen — the standard
        IVF maintenance contract; re-fit by rebuilding when drift warrants)
        and APPENDed into that centroid's partition. After add_documents,
        search() == a fresh build that reuses the same centroids (asserted
        in tests). Duplicate-id guard: index_base.apply_duplicate_policy."""
        m = self.meta()
        id_col = self._id_col(m, id_col)
        vector_col = m["vector_col"]
        data_dir = os.path.join(self.path, "data")
        df = apply_duplicate_policy(
            df, id_col, on_duplicate,
            lambda _: self.spark.read.parquet(data_dir).select(id_col),
        )
        # frozen PQ codebooks, same as the frozen centroids
        assigned = encode_vectors(
            df.withColumn("centroid_id", self._assign_col(vector_col)),
            m.get("quantized"), vector_col, m.get("pq_model"),
        )
        assigned.repartition(F.col("centroid_id")).write.mode("append").partitionBy(
            "centroid_id"
        ).parquet(data_dir)
        self.spark.catalog.refreshByPath(data_dir)
        _scan_cache.invalidate(self.spark, self.path)
        return self

    def remove_documents(self, ids, id_col: "str | None" = None) -> "IvfIndex":
        """Delete vectors near-real-time: copy-on-write of exactly the
        centroid partitions holding the doomed ids
        (sources/maintenance.cow_delete_ids; an emptied partition is
        dropped). Unknown ids are ignored; search() afterwards == a fresh
        build over the survivors with the same centroids."""
        from vector_search_ai_assistant_mongodbvcore_spark.sources.maintenance import (
            cow_delete_ids,
        )

        ids = list(ids)
        if ids:
            cow_delete_ids(
                self.spark, os.path.join(self.path, "data"), ["centroid_id"],
                self._id_col(self.meta(), id_col), ids, plane=self.plane,
            )
        return self

    # ---- search ----------------------------------------------------------
    def _centroids(self) -> np.ndarray:
        return np.load(
            io.BytesIO(self.plane.read_bytes(os.path.join(self.path, "centroids.npy")))
        )

    def nearest_centroids(self, query: list[float], n_probe: int) -> list[int]:
        c = self._centroids()
        q = np.asarray(query, dtype=np.float64)
        qn = q / (np.linalg.norm(q) or 1.0)
        cn = c / np.maximum(np.linalg.norm(c, axis=1, keepdims=True), 1e-12)
        sims = cn @ qn
        return [int(i) for i in np.argsort(-sims)[:n_probe]]

    def search(
        self,
        query: list[float],
        k: int = 10,
        n_probe: int = 1,
        use_pandas: bool = True,
        id_col: str | None = None,
        round_scores: int | None = None,
        exact_source: DataFrame | None = None,
        expand: int = 4,
    ) -> DataFrame:
        """Centroid-pruned exact top-k, returned as a LAZY DataFrame over the
        index files (no driver-side collect — callers compose further ops on
        it). The IN-filter on the partition column prunes at file-listing
        time (check explain(): PartitionFilters).

        On a quantized index, scores come from the dequantized int8 codes
        (quantize=True) or from PQ ADC lookups over the stored codes with
        the float vectors never read (quantize="pq"); with `exact_source`
        the shortlist of k*expand ids is rescored at full precision
        against the source table (batch_serving.exact_rerank). PQ scores
        are coarse by design: treat no-rerank PQ results as candidate
        sets."""
        from vector_search_ai_assistant_mongodbvcore_spark.operators.batch_serving import (
            exact_rerank,
        )

        meta = self.meta()
        probes = self.nearest_centroids(query, n_probe)
        scan = _scan_cache.cached_parquet(self.spark, os.path.join(self.path, "data")).filter(
            F.col("centroid_id").isin(probes)
        )
        quantized = meta.get("quantized", False)
        rerank = bool(quantized) and exact_source is not None
        shortlist_k = k * expand if rerank else k
        if quantized == "pq":
            from vector_search_ai_assistant_mongodbvcore_spark.operators.pq import (
                adc_score_col,
            )

            # ADC over the probed partitions' CODES — the float vectors are
            # never read; TakeOrderedAndProject picks the shortlist
            key = id_col if id_col is not None else "vec_id"
            approx = (
                scan.select(
                    key,
                    F.round(
                        adc_score_col(meta["pq_model"], query, "_pq"),
                        round_scores if round_scores is not None else 6,
                    ).alias("score"),
                )
                .orderBy(F.col("score").desc(), F.col(key).asc())
                .limit(shortlist_k)
            )
        else:
            approx = vector_search(
                decode_vectors(scan, quantized, meta["vector_col"]),
                query,
                k=shortlist_k,
                vector_col=meta["vector_col"],
                use_pandas=use_pandas,
                id_col=id_col,
                round_scores=round_scores,
            ).drop("centroid_id")
        if not rerank:
            return approx
        return exact_rerank(
            approx, exact_source, query, k, meta["vector_col"], id_col, use_pandas,
            round_scores,
        )

    def search_many(
        self,
        queries,
        k: int = 10,
        n_probe: int = 1,
        use_pandas: bool = True,
        id_col: "str | None" = None,
        round_scores: "int | None" = None,
        exact_source: "DataFrame | None" = None,
        expand: int = 4,
        query_id_col: str = "query_id",
        query_vec_col: str = "query_vector",
    ) -> DataFrame:
        """Batched centroid-pruned serving: ONE scan of the union of every
        query's probe partitions answers the whole batch.  Routing is a
        broadcast (query_id, centroid_id) frame joined onto the partition
        column — each data row is scored once per query that probes its
        partition, so candidate volume is Σ_q rows(probes(q)), never
        N×Q — then a per-query window cuts the top-k.  Output (query_id,
        <id_col>, score, rank); row-for-row identical to looping
        search() with the same arguments (asserted in tests).

        `queries` = small DataFrame with (query_id, query_vector) columns
        or a sequence of (id, vector) pairs.  On a quantized index scores
        come from dequantized int8 / PQ ADC exactly as in search();
        `exact_source` reranks each query's k*expand shortlist at full
        precision (one broadcast join for ALL queries)."""
        from vector_search_ai_assistant_mongodbvcore_spark.operators.batch_serving import (
            collect_query_batch,
            cosine_topk_per_query,
            exact_rerank_many,
            topk_per_query,
        )

        pairs, qid_type = collect_query_batch(queries, query_id_col, query_vec_col)
        meta = self.meta()
        key = id_col if id_col is not None else "vec_id"
        vector_col = meta["vector_col"]
        quantized = meta.get("quantized", False)
        rerank = bool(quantized) and exact_source is not None
        shortlist_k = k * expand if rerank else k

        # driver-side routing: probes per query over the tiny centroid set
        probe_rows = [
            (qid, int(c), [float(x) for x in vec])
            for qid, vec in pairs
            for c in self.nearest_centroids(list(vec), n_probe)
        ]
        routing = self.spark.createDataFrame(
            probe_rows,
            f"query_id {qid_type}, centroid_id int, _qvec array<double>",
        )
        all_probes = sorted({c for _, c, _ in probe_rows})
        scan = _scan_cache.cached_parquet(self.spark, os.path.join(self.path, "data")).filter(
            F.col("centroid_id").isin(all_probes)
        )
        cand = scan.join(F.broadcast(routing), "centroid_id")

        if quantized == "pq":
            # per-query ADC LUTs: the same gather+sum kernel as
            # pq.adc_score_col, grouped by query id within each batch
            from pyspark.sql.types import DoubleType

            model = meta["pq_model"]
            m_sub, dims = model["m"], model["dims"]
            dsub = dims // m_sub
            luts = {}
            for qid, vec in pairs:
                q = np.asarray([float(x) for x in vec], dtype=np.float64)
                qn = np.linalg.norm(q)
                if qn > 0:
                    q = q / qn
                luts[qid] = np.stack(
                    [
                        np.array(model["codebooks"][j], dtype=np.float64)
                        @ q[j * dsub : (j + 1) * dsub]
                        for j in range(m_sub)
                    ]
                )

            @F.pandas_udf(DoubleType())
            def adc_many(
                it: "Iterator[tuple[pd.Series, pd.Series]]",
            ) -> "Iterator[pd.Series]":
                for qid_s, codes in it:
                    out = np.zeros(len(qid_s), dtype=np.float64)
                    for qid, pos in qid_s.groupby(qid_s, sort=False).groups.items():
                        idx = qid_s.index.get_indexer(pos)
                        c = np.stack(codes.iloc[idx].values).astype(np.int64)
                        out[idx] = luts[qid][np.arange(m_sub)[None, :], c].sum(axis=1)
                    yield pd.Series(out)

            scored = cand.withColumn(
                "score",
                F.round(
                    adc_many(F.col("query_id"), F.col("_pq")),
                    round_scores if round_scores is not None else 6,
                ),
            )
            approx = topk_per_query(scored, "query_id", key, "score", shortlist_k)
        else:
            approx = cosine_topk_per_query(
                decode_vectors(cand, quantized, vector_col), pairs, key, vector_col,
                shortlist_k, use_pandas, round_scores,
            )
        if not rerank:
            return approx
        return exact_rerank_many(
            approx, exact_source, pairs, qid_type, k, key, vector_col, use_pandas,
            round_scores,
        )
