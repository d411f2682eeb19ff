"""Auto-maintenance for append-heavy partitioned stores (the streaming
sinks' OPTIMIZE job).

The near-real-time add paths are APPENDS by design — LshIndex/IvfIndex/
Bm25Index add_documents lands new part-files into existing hive
partitions (operators/similarity.py, ivf.py, keyword_search.py), and
every micro-batch adds another file set. Scan cost therefore grows with
BATCH COUNT, not data size: a partition holding 1,000 tiny files from
1,000 micro-batches lists/opens 1,000 footers to serve what one file
could. This module is the Delta OPTIMIZE analog for those raw
partitioned dirs (BucketedTable has its own compact()): rewrite exactly
the partitions whose file count crossed a threshold, via dynamic-
partition overwrite, leaving every other partition's files untouched.
Its delete twin, `cow_delete_ids`, is the remove path of the same
indexes: rewrite exactly the partitions holding the removed ids.

Both set dynamic overwrite PER WRITE (`.option`), never through the
session-wide `spark.sql.sources.partitionOverwriteMode`: one SparkSession
is shared across threads, and flipping that conf would make a concurrent
build()'s overwrite keep stale partitions — or, once another commit
unset it, make a second copy-on-write's overwrite static and delete
every untouched partition.

Wired into the streaming sinks as a cadence knob
(`streaming/incremental.py start_*_change_stream(compact_every=N)`) so
long-running ingest keeps per-partition file counts — and thus
micro-batch latency — bounded without an external maintenance job.

Concurrency note: dynamic-partition overwrite of a partition that a
concurrent writer is appending into can drop the concurrent append
(read-before-write). Run compaction from the SAME sink that owns the
writes (the wiring here), or under an external schedule when the stream
is idle. The versioned-table layer (managed_table.py) has optimistic
concurrency for stores that need compaction to race writers safely.
"""

from __future__ import annotations

import os
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from vector_search_ai_assistant_mongodbvcore_spark.plans import scan_cache as _scan_cache

__all__ = ["partition_file_counts", "compact_partitioned_dir", "cow_delete_ids"]


def _plane(plane):
    from vector_search_ai_assistant_mongodbvcore_spark.sources import managed_table as _mt

    return plane if plane is not None else _mt._DEFAULT_DATAPLANE


def partition_file_counts(
    data_dir: str, partition_cols: "list[str]", plane=None
) -> dict:
    """{partition-value-tuple: parquet-file count} for a hive-partitioned
    dir — the observability hook the bounded-file-count tests assert on.
    Values are the RAW directory strings (e.g. '3', 'north'), exactly as
    written in the partition path. Listing goes through the data plane
    (r13), so the index tablespace counts files on an object store the
    same way; non-matching dirs (non-`col=` segments) are skipped."""
    plane = _plane(plane)
    root = data_dir.rstrip("/")
    counts: dict[tuple, int] = {}
    for f in plane.list_parquet_at_depth(root, len(partition_cols)):
        segs = f[len(root) + 1 :].split("/")[:-1]
        if len(segs) != len(partition_cols) or not all(
            seg.startswith(f"{c}=") for seg, c in zip(segs, partition_cols)
        ):
            continue
        key = tuple(seg.split("=", 1)[1] for seg in segs)
        counts[key] = counts.get(key, 0) + 1
    return counts


def compact_partitioned_dir(
    spark: SparkSession,
    data_dir: str,
    partition_cols: "list[str]",
    max_files: int = 8,
    plane=None,
) -> int:
    """Rewrite every partition of `data_dir` whose parquet-file count is
    >= max_files down to a repartition(1)-per-partition file set; returns
    the number of partitions rewritten (0 = nothing crossed the
    threshold, zero IO). Touched partitions are selected by comparing
    the partition COLUMNS (string-cast, matching the hive dir encoding)
    so only fat partitions are read and rewritten — dynamic-partition
    overwrite leaves the rest byte-identical."""
    if max_files <= 1:
        raise ValueError(f"max_files must be > 1, got {max_files}")
    fat = [k for k, n in partition_file_counts(data_dir, partition_cols, plane).items()
           if n >= max_files]
    if not fat:
        return 0
    scan = spark.read.parquet(data_dir)
    cond = None
    for key in fat:
        one = None
        for c, v in zip(partition_cols, key):
            # __HIVE_DEFAULT_PARTITION__ is hive's NULL dir; the engine's
            # partition keys are never NULL, but don't mis-prune if one is
            eq = (
                F.col(c).isNull()
                if v == "__HIVE_DEFAULT_PARTITION__"
                else F.col(c).cast("string") == F.lit(v)
            )
            one = eq if one is None else (one & eq)
        cond = one if cond is None else (cond | one)
    (
        scan.filter(cond)
        .repartition(*[F.col(c) for c in partition_cols])
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_cols)
        .parquet(data_dir)
    )
    spark.catalog.refreshByPath(data_dir)
    return len(fat)


def _partitions_filter(partition_cols: "list[str]", keys: "list[tuple]"):
    """Predicate selecting exactly the partitions `keys` (value tuples)."""
    if len(partition_cols) == 1:
        return F.col(partition_cols[0]).isin([k[0] for k in keys])
    return reduce(
        lambda acc, key: acc
        | reduce(lambda a, b: a & b, [F.col(c) == v for c, v in zip(partition_cols, key)]),
        keys,
        F.lit(False),
    )


def cow_delete_ids(
    spark: SparkSession,
    data_dir: str,
    partition_cols: "list[str]",
    id_col: str,
    ids: list,
    touched: "list | None" = None,
    scan: "DataFrame | None" = None,
    plane=None,
) -> None:
    """Copy-on-write delete: rewrite exactly the partitions of `data_dir`
    holding rows whose `id_col` is in `ids`, minus those rows. Untouched
    partitions' files are never rewritten, and a touched partition left
    empty is dropped outright (dynamic overwrite only replaces partitions
    present in the written frame). Cost is O(touched partitions' rows),
    never a full rewrite. `touched` — partition values, scalars for one
    column or tuples for several — skips the discovery scan when the
    caller already knows them; unknown ids are a no-op either way.
    `scan` reuses the caller's read of `data_dir` (each read lists the
    dir and infers the schema).

    The survivors are localCheckpointed first: a write cannot read its
    own target."""
    if scan is None:
        scan = spark.read.parquet(data_dir)
    if touched is None:
        doomed = scan.filter(F.col(id_col).isin(ids)).select(*partition_cols)
        keys = [tuple(r) for r in doomed.distinct().collect()]
    else:
        keys = [k if isinstance(k, tuple) else (k,) for k in touched]
    if not keys:
        return
    survivors = scan.filter(
        _partitions_filter(partition_cols, keys) & ~F.col(id_col).isin(ids)
    ).localCheckpoint(eager=True)
    (
        survivors.repartition(*[F.col(c) for c in partition_cols])
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_cols)
        .parquet(data_dir)
    )
    alive = {tuple(r) for r in survivors.select(*partition_cols).distinct().collect()}
    for key in keys:
        if key not in alive:
            _plane(plane).remove_tree(
                os.path.join(data_dir, *[f"{c}={v}" for c, v in zip(partition_cols, key)])
            )
    spark.catalog.refreshByPath(data_dir)
    _scan_cache.invalidate(spark, data_dir)
