"""One lifecycle contract over the four materialized indexes (IvfIndex,
LshIndex, PartitionedHnswIndex, Bm25Index — operators/index_base.py).

Covers only what the per-index suites do not: the shared on_duplicate
validation, the shared id_col keyword of add/remove, the copy-on-write
remove's isolation from session-wide conf, and LshIndex.build_if_absent's
no-op / rebuild behaviour."""

from __future__ import annotations

import os

import numpy as np
import pytest

from vector_search_ai_assistant_mongodbvcore_spark.operators.hnsw import PartitionedHnswIndex
from vector_search_ai_assistant_mongodbvcore_spark.operators.ivf import IvfIndex
from vector_search_ai_assistant_mongodbvcore_spark.operators.keyword_search import Bm25Index
from vector_search_ai_assistant_mongodbvcore_spark.operators.similarity import LshIndex

KINDS = ["ivf", "lsh", "hnsw", "bm25"]
DIMS = 8
WORDS = ["red", "bike", "sock", "wool", "road", "tire", "helmet", "glove"]


def _vectors(spark, ids, offset=0):
    rng = np.random.default_rng(7)
    vecs = rng.normal(size=(max(ids) + 1, DIMS))
    return spark.createDataFrame(
        [(i + offset, [float(x) for x in vecs[i]]) for i in ids],
        "vec_id long, embedding array<float>",
    )


def _docs(spark, ids):
    return spark.createDataFrame(
        [(i, f"{WORDS[i % 8]} {WORDS[(i * 3) % 8]} item{i}") for i in ids],
        "doc_id long, text string",
    )


def _built(spark, tmp_path, kind):
    """(index built over ids 0..19, rows(ids) -> frame to add)."""
    path = str(tmp_path / kind)
    base = range(20)
    if kind == "ivf":
        idx = IvfIndex(spark, path).build(_vectors(spark, base), num_lists=2)
    elif kind == "lsh":
        idx = LshIndex(spark, path).build(_vectors(spark, base), dims=DIMS, bits=2, tables=2)
    elif kind == "hnsw":
        idx = PartitionedHnswIndex(spark, path).build(_vectors(spark, base), shards=2)
    else:
        idx = Bm25Index(spark, path).build(_docs(spark, base), n_buckets=4)
    if kind == "bm25":
        return idx, lambda ids: _docs(spark, ids)
    return idx, lambda ids: _vectors(spark, ids)


@pytest.mark.parametrize("kind", KINDS)
def test_invalid_on_duplicate_raises_the_same_error(spark, tmp_path, kind):
    idx, rows = _built(spark, tmp_path, kind)
    with pytest.raises(
        ValueError, match=r"^on_duplicate must be error\|skip\|trust, got 'upsert'$"
    ):
        idx.add_documents(rows([25]), on_duplicate="upsert")


@pytest.mark.parametrize("kind", KINDS)
def test_id_col_defaults_to_the_stored_column_and_rejects_another(spark, tmp_path, kind):
    idx, rows = _built(spark, tmp_path, kind)
    stored = idx.meta()["id_col"]
    idx.add_documents(rows([25]))
    with pytest.raises(ValueError, match="keyed by"):
        idx.add_documents(rows([26]), id_col="other_id")
    with pytest.raises(ValueError, match="keyed by"):
        idx.remove_documents([25], id_col="other_id")
    # the stored name, passed explicitly, is the same call as the default
    with pytest.raises(ValueError, match="already indexed"):
        idx.add_documents(rows([25]), id_col=stored)
    idx.remove_documents([25])
    idx.add_documents(rows([25]), id_col=stored)


def _stored_ids(spark, kind, path):
    sub = "docs" if kind == "bm25" else "data"
    col = "doc_id" if kind == "bm25" else "vec_id"
    return {r[0] for r in spark.read.parquet(os.path.join(path, sub)).select(col).collect()}


@pytest.mark.parametrize("kind", ["ivf", "lsh", "bm25"])
def test_cow_remove_never_sets_session_overwrite_mode(spark, tmp_path, kind, monkeypatch):
    """One SparkSession is shared across threads: a COW commit that flips
    the session-wide partitionOverwriteMode would make a concurrent
    build()'s overwrite keep stale partitions, or (once unset by another
    commit) turn a second COW's overwrite static. The mode must ride on
    the write itself."""
    from pyspark.sql.conf import RuntimeConfig

    idx, _rows = _built(spark, tmp_path, kind)
    touched_keys = []
    real_set, real_unset = RuntimeConfig.set, RuntimeConfig.unset

    def recording_set(self, key, value):
        touched_keys.append(key)
        return real_set(self, key, value)

    def recording_unset(self, key):
        touched_keys.append(key)
        return real_unset(self, key)

    monkeypatch.setattr(RuntimeConfig, "set", recording_set)
    monkeypatch.setattr(RuntimeConfig, "unset", recording_unset)
    idx.remove_documents([0, 1])
    assert "spark.sql.sources.partitionOverwriteMode" not in touched_keys
    # the copy-on-write still dropped exactly the removed ids
    assert _stored_ids(spark, kind, idx.path) == set(range(2, 20))


def test_lsh_build_if_absent_skips_unchanged_and_rebuilds_regenerated(
    spark, tmp_path, monkeypatch
):
    builds = []
    real_build = LshIndex.build

    def counting_build(self, *args, **kwargs):
        builds.append(1)
        return real_build(self, *args, **kwargs)

    monkeypatch.setattr(LshIndex, "build", counting_build)
    src = str(tmp_path / "corpus")
    _vectors(spark, range(20)).write.mode("overwrite").parquet(src)
    idx = LshIndex(spark, str(tmp_path / "lsh"))
    opts = dict(dims=DIMS, bits=2, tables=2)

    idx.build_if_absent(spark.read.parquet(src), **opts)
    meta = idx.meta()
    idx.build_if_absent(spark.read.parquet(src), **opts)
    assert len(builds) == 1 and idx.meta() == meta

    # regenerate the dataset in place: same path, different contents
    _vectors(spark, range(20), offset=1000).write.mode("overwrite").parquet(src)
    idx.build_if_absent(spark.read.parquet(src), **opts)
    assert len(builds) == 2
    assert _stored_ids(spark, "lsh", idx.path) == set(range(1000, 1020))
