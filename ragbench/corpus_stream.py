"""The streaming corpus chain, drained once in the untimed set-up of a
traced ``chat`` run.

A backlog of generated document files is drained by one streaming query
(``availableNow``, one file per micro-batch) through
``streaming.corpus.prepare_stream`` into a memory sink. Its rows must equal
``prepare_stream`` applied to the same files read as a batch frame. The
micro-batch phases come from ``StreamingQueryProgress``.
"""

from __future__ import annotations

import json
import os
import time
from collections import Counter
from statistics import median

from ragbench import gen, trace

DOC_SCHEMA = "doc_id LONG, text STRING"
PHASES = {
    "add_batch": "addBatch",
    "get_batch": "getBatch",
    "latest_offset": "latestOffset",
    "query_planning": "queryPlanning",
    "wal_commit": "walCommit",
    "commit_offsets": "commitOffsets",
}


def _content(rows) -> Counter:
    """Rows up to the representative of each exact-duplicate class: the
    stream keeps the first arrival, a batch frame keeps an arbitrary member
    (documented in streaming.corpus), and the id decides the split."""
    return Counter((r["chunk_id"], r["n_tokens"], r["chunk_text"]) for r in rows)


def drain(spark, sizes: dict, seed: int, work: str) -> dict:
    """Generate the backlog, drain it once and check it against the batch
    frame. Returns attempted/failed micro-batches, report lines and the
    ``streaming.corpus.*`` layer metrics."""
    from vector_search_ai_assistant_mongodbvcore_spark.streaming.corpus import (
        collect_benchmark_ngrams,
        prepare_stream,
    )

    inputs = os.path.join(work, "inputs")
    gen_out = gen.write_stream(inputs, seed, sizes)
    docs_dir = os.path.join(inputs, "docs")
    bench = spark.createDataFrame(list(enumerate(gen_out["bench"])), DOC_SCHEMA)
    ngrams = collect_benchmark_ngrams(bench)
    reference = prepare_stream(spark.read.schema(DOC_SCHEMA).json(docs_dir), benchmark_ngrams=ngrams).collect()

    name = "ragbench_stream"
    stream = spark.readStream.schema(DOC_SCHEMA).option("maxFilesPerTrigger", 1).json(docs_dir)
    t0 = time.perf_counter()
    q = (
        prepare_stream(stream, benchmark_ngrams=ngrams)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", os.path.join(work, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(150)
    wall = time.perf_counter() - t0
    if q.isActive:
        q.stop()
        raise RuntimeError(f"stream {name} did not drain in time")
    if q.exception() is not None:
        raise RuntimeError(str(q.exception()))
    batches = [json.loads(p.json) for p in q.recentProgress]
    batches = [p for p in batches if p.get("numInputRows", 0) > 0]
    rows = spark.table(name).collect()
    spark.catalog.dropTempView(name)
    trace.log(f"stream drained: {len(batches)} batches in {wall:.2f}s")

    rows_in = sum(p["numInputRows"] for p in batches)
    ok = (
        rows_in == gen_out["docs"]
        and len(batches) == sizes["files"]
        and _content(rows) == _content(reference)
        and len({r["doc_id"] for r in rows}) == len({r["doc_id"] for r in reference})
    )
    if not ok:
        print(f"corpus stream check failed: {rows_in} rows in, {len(batches)} batches, {len(rows)} rows out vs {len(reference)} in the batch frame")
    lat = [p["durationMs"]["triggerExecution"] / 1000.0 for p in batches]
    report = {
        "stream_rows_per_s": (rows_in / wall, "1/s"),
        "stream_batch_p50_s": (median(lat), f"s (n={len(lat)})"),
        "stream_dropped_frac": (1.0 - len({r["doc_id"] for r in reference}) / gen_out["docs"], "ratio"),
    }
    layers = {f"streaming.corpus.{key}_ms": median(p["durationMs"].get(src, 0) for p in batches) for key, src in PHASES.items()}
    state = [p["stateOperators"][0] for p in batches if p.get("stateOperators")]
    layers["streaming.corpus.state_rows"] = state[-1]["numRowsTotal"] if state else 0
    layers["streaming.corpus.state_bytes"] = state[-1]["memoryUsedBytes"] if state else 0
    layers["streaming.corpus.jobs_per_batch"] = trace.group_jobs(spark, str(q.runId)) / max(len(batches), 1)
    layers["streaming.corpus.rows_out_per_in"] = len(rows) / max(rows_in, 1)
    return {"attempted": len(batches), "failed": 0 if ok else len(batches), "report": report, "layers": layers}
