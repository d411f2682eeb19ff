"""Shared lifecycle of the four materialized retrieval indexes.

The reference has ONE index lifecycle — create the vector index if it is
missing, upsert or delete a document, then search — with the index kind
a parameter of that path (MongoDbService.cs:76-239). IvfIndex, LshIndex,
PartitionedHnswIndex and Bm25Index follow it through this module:

  data_fingerprint        staleness key of an index's source table
  apply_duplicate_policy  the add path's on_duplicate guard
                          (error | skip | trust)
  encode_vectors /        the stored scoring column of the vector indexes
  decode_vectors          (float, int8 or PQ codes) and its serve-side read
  MaterializedIndex       meta.json on the data-plane seam, exists /
                          build_if_absent with one staleness hook, the
                          id_col check of add/remove, compact() of the
                          append-grown partition dirs

The copy-on-write partition commit lives beside compaction in
sources/maintenance.py; the exact rerank and batched scoring tail lives
in operators/batch_serving.py.
"""

from __future__ import annotations

import json
import os
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from vector_search_ai_assistant_mongodbvcore_spark.plans import scan_cache as _scan_cache


def data_fingerprint(df: DataFrame) -> dict:
    """Fingerprint of an index's source table, used by build_if_absent to
    detect a dataset regenerated under the same path (a stale hit would
    silently serve the old corpus).

    File-backed sources (the normal case): md5 over the sorted
    (path, size, mtime_ns) listing of `df.inputFiles()` — a DRIVER-SIDE
    metadata operation, zero executor work, so the staleness check on the
    serving path costs O(#files) stats however large the table is. This is
    the filesystem equivalent of a catalog snapshot id, with the same
    contract: it versions the SOURCE FILES, not the plan on top of them —
    two different transformations over the same files fingerprint alike, so
    build an index from the scan (or bust the cache yourself), exactly as
    you would with a snapshot-id-keyed index over a view.

    Sources with no file listing (in-memory frames, exotic filesystems where
    stat fails): fall back to a content fingerprint — row count plus max()
    of every scalar column, one column-pruned aggregate scan. Small by
    nature (they fit on the driver) so the scan is acceptable there."""
    import hashlib
    from urllib.parse import urlparse

    files = df.inputFiles()
    if files:
        try:
            stats = []
            for uri in sorted(files):
                p = urlparse(uri).path
                st = os.stat(p)
                stats.append(f"{p}:{st.st_size}:{st.st_mtime_ns}")
            return {
                "mode": "files",
                "n_files": str(len(files)),
                "files_md5": hashlib.md5("\n".join(stats).encode()).hexdigest(),
            }
        except OSError:
            pass  # non-local scheme: fall through to the content scan
    from pyspark.sql import types as T

    scalar_cols = [
        f.name
        for f in df.schema.fields
        if not isinstance(f.dataType, (T.ArrayType, T.MapType, T.StructType, T.BinaryType))
    ]
    aggs = [F.count(F.lit(1)).alias("_rows")] + [
        F.max(c).alias(f"max_{c}") for c in scalar_cols
    ]
    row = df.agg(*aggs).collect()[0]
    return {k: (None if v is None else str(v)) for k, v in row.asDict().items()}


def apply_duplicate_policy(
    df: DataFrame,
    id_col: str,
    on_duplicate: str,
    existing_ids: "Callable[[DataFrame], DataFrame]",
) -> DataFrame:
    """The duplicate-id guard of every add_documents (a re-added id would
    surface twice in candidate reads, or double-count BM25's df/dl/N):

      on_duplicate='error'  raise ValueError naming up to 10 offenders
      on_duplicate='skip'   drop the already-indexed ids, add the rest
      on_duplicate='trust'  skip the check (the caller guarantees new
                            ids and saves the index-side id read)

    `existing_ids(incoming)` returns the indexed ids (column `id_col`)
    the incoming distinct ids are semi-joined against — a callable, so
    'trust' never plans it and an index can prune its read by the
    incoming ids. Returns the frame to add."""
    if on_duplicate not in ("error", "skip", "trust"):
        raise ValueError(f"on_duplicate must be error|skip|trust, got {on_duplicate!r}")
    if on_duplicate == "trust":
        return df
    incoming = df.select(id_col).distinct()
    dups = incoming.join(existing_ids(incoming), id_col, "left_semi")
    if on_duplicate == "skip":
        return df.join(dups, id_col, "left_anti")
    offenders = [r[id_col] for r in dups.limit(10).collect()]
    if offenders:
        raise ValueError(
            f"ids already indexed: {offenders!r}; use on_duplicate='skip' to add only new ids"
        )
    return df


def encode_vectors(
    df: DataFrame, quantized, vector_col: str, pq_model: "dict | None" = None
) -> DataFrame:
    """The stored scoring column: `vector_col` as is, symmetric per-vector
    int8 codes `_q8` (quantized=True), or PQ codes `_pq` (quantized="pq",
    with the frozen codebooks of `pq_model`)."""
    if quantized == "pq":
        from vector_search_ai_assistant_mongodbvcore_spark.operators.pq import (
            pq_encode_col,
        )

        return df.withColumn("_pq", pq_encode_col(pq_model, vector_col)).drop(vector_col)
    if quantized:
        from vector_search_ai_assistant_mongodbvcore_spark.functions.vector import (
            quantize_int8,
        )

        return df.withColumn("_q8", quantize_int8(F.col(vector_col))).drop(vector_col)
    return df


def decode_vectors(scan: DataFrame, quantized, vector_col: str) -> DataFrame:
    """Serve-side read of an int8 index: dequantize `_q8` back into
    `vector_col` in the scan projection (pure column exprs). Float and PQ
    layouts pass through (PQ scores its codes directly, never decodes)."""
    if quantized and quantized != "pq":
        from vector_search_ai_assistant_mongodbvcore_spark.functions.vector import (
            dequantize_int8,
        )

        return scan.withColumn(vector_col, dequantize_int8("_q8")).drop("_q8")
    return scan


class MaterializedIndex:
    """An index directory with a meta.json, built once and maintained
    near-real-time. Metadata objects and partition cleanup route through
    the sources/dataplane.py seam (`dataplane`; None = the module default
    the table layer resolves), so the index tablespace lives on the same
    storage universe as the tables."""

    # (subdir, partition columns) of every hive-partitioned dir the
    # append add-path grows — the dirs compact() maintains
    _compact_dirs: "tuple[tuple[str, tuple[str, ...]], ...]" = ()

    def __init__(self, spark, path: str, dataplane=None):
        from vector_search_ai_assistant_mongodbvcore_spark.sources import (
            managed_table as _mt,
        )

        self.spark = spark
        self.path = path
        self.plane = dataplane if dataplane is not None else _mt._DEFAULT_DATAPLANE

    def _meta_path(self) -> str:
        return os.path.join(self.path, "meta.json")

    def exists(self) -> bool:
        """V5: index-exists check (the reference lists indexes and builds
        only when `vectorSearchIndex` is absent, MongoDbService.cs:76-113)."""
        return self.plane.exists(self._meta_path())

    def meta(self) -> dict:
        return json.loads(self.plane.read_text(self._meta_path()))

    def _write_meta(self, meta: dict) -> None:
        self.plane.write_text(self._meta_path(), json.dumps(meta))

    def _stale(self, meta: dict, df: DataFrame) -> bool:
        """Whether the built index no longer matches `df`: its stored data
        fingerprint differs (a dataset regenerated under the same path)."""
        return meta.get("fingerprint") != data_fingerprint(df)

    def build_if_absent(self, df: DataFrame, **build_kwargs):
        """Create-if-missing OR stale, mirroring
        MongoDbService.CreateVectorIndexIfNotExists — a stale hit would
        silently serve the old corpus."""
        if not self.exists() or self._stale(self.meta(), df):
            self.build(df, **build_kwargs)
        return self

    def _id_col(self, meta: dict, id_col: "str | None") -> str:
        """The id column an add/remove keys on: the stored one by default.
        A different name raises — the index's membership checks and
        deletes read the stored column. Only an IvfIndex built without a
        real id column stores none; its callers name the column."""
        stored = meta.get("id_col")
        if id_col is None:
            if stored is None:
                raise ValueError(f"{self.path}: index records no id column; pass id_col=")
            return stored
        if stored is not None and id_col != stored:
            raise ValueError(f"index is keyed by {stored!r}, got {id_col!r}")
        return id_col

    def compact(self, max_files_per_partition: int = 8) -> int:
        """Maintenance (the OPTIMIZE analog for the append add-path):
        every add_documents call lands one more file set into the touched
        partitions, so under streaming ingest a hot partition's file
        count — and search's candidate-read open cost — grows with BATCH
        COUNT. Rewrites exactly the partitions holding >=
        max_files_per_partition parquet files; returns how many were
        rewritten (0 = zero IO). Search results are unchanged; run it
        from the ingest sink (incremental.py's compact_every) or whenever
        the stream is idle."""
        from vector_search_ai_assistant_mongodbvcore_spark.sources.maintenance import (
            compact_partitioned_dir,
        )

        n = sum(
            compact_partitioned_dir(
                self.spark,
                os.path.join(self.path, sub),
                list(cols),
                max_files_per_partition,
                plane=self.plane,
            )
            for sub, cols in self._compact_dirs
        )
        if n:
            _scan_cache.invalidate(self.spark, self.path)
        return n
