"""``retrieval``: closed loop, one client, index serving with upserts.

Set-up is the paper's load-and-vectorize: the raw retail JSON collections go
through ``read_json_collection``, ``ingest_and_vectorize`` (with
``usage_col``) and a parquet write, then IVF, HNSW, LSH and BM25 are built
over the products (IVF alongside the other three) and searched once each.
HNSW, LSH and BM25 index every product; IVF indexes the first
``ivf_products`` of them, because its build re-normalizes every vector
element by element (``functions.vector.normalize``) and does not finish in a
run's time at the full count. The measured loop
repeats a fixed cycle of ten operations: single top-k questions on each
index and through ``VectorSqlSession.sql``, two ``search_many`` batches, and
one write that adds (or removes) a small product batch on every index and
checks that the change is visible. Every answer is checked against an exact
numpy oracle over the documents its index holds.
"""

from __future__ import annotations

import os
import time
from concurrent.futures import ThreadPoolExecutor
from statistics import mean, median

import numpy as np

from ragbench import gen, layers, stats, trace

CYCLE = ("ivf", "hnsw", "lsh", "bm25", "sql", "ivf_many", "hnsw_many", "ivf", "hnsw", "write")
SINGLE = {"ivf", "hnsw", "lsh", "bm25", "sql"}
# in a traced run, the second ivf and hnsw questions of each cycle run
# untraced: the controls for the tracing overhead, against the traced
# ivf and hnsw questions at positions 0 and 1
TRACED_PAIR, UNTRACED = (0, 1), (7, 8)
SECONDS_PER_CYCLE = 14.0  # one cycle on a shared 4-core host
K = 10
TOL = 1e-5


class Oracle:
    """Exact cosine top-k over the live documents."""

    def __init__(self):
        self.vecs: dict[str, np.ndarray] = {}

    def add(self, rows) -> None:
        for pid, vec in rows:
            v = np.asarray(vec, dtype=np.float64)
            n = np.linalg.norm(v)
            self.vecs[pid] = v / n if n > 0 else v

    def remove(self, ids) -> None:
        for pid in ids:
            self.vecs.pop(pid, None)

    def scores(self, q) -> dict[str, float]:
        q = np.asarray(q, dtype=np.float64)
        q = q / (np.linalg.norm(q) or 1.0)
        ids = sorted(self.vecs)
        m = np.stack([self.vecs[i] for i in ids])
        return dict(zip(ids, (m @ q).tolist()))

    def topk(self, q, k: int = K) -> list[tuple[str, float]]:
        s = self.scores(q)
        return sorted(s.items(), key=lambda kv: (-kv[1], kv[0]))[:k]


def exact_ok(oracle: Oracle, q, got: list[tuple[str, float]]) -> bool:
    """Same ranked scores as the exact top-k, and every returned id scored
    as the oracle scores it (ids may differ only between equal scores)."""
    want = oracle.topk(q)
    s = oracle.scores(q)
    if len(got) != len(want):
        return False
    if any(abs(a[1] - b[1]) > TOL for a, b in zip(sorted(got, key=lambda x: -x[1]), want)):
        return False
    return all(pid in s and abs(s[pid] - sc) <= TOL for pid, sc in got)


def recall(oracle: Oracle, q, got_ids) -> float:
    want = {pid for pid, _ in oracle.topk(q)}
    return len(want & set(got_ids)) / max(len(want), 1)


def _ingest(spark, tracer, emb, inputs: str, out: str) -> dict:
    from vector_search_ai_assistant_mongodbvcore_spark.sources.ingest import (
        ingest_and_vectorize,
        read_json_collection,
    )

    counts = {}
    for coll in ("products", "customers", "salesOrders"):
        with tracer.span("sources.ingest.read"):
            raw = read_json_collection(spark, os.path.join(inputs, f"{coll}.json"), coll).cache()
            counts[coll] = raw.count()
        with tracer.span("sources.ingest.vectorize"):
            ingest_and_vectorize(raw, embedder=emb, usage_col="tokens").write.parquet(os.path.join(out, coll))
        raw.unpersist()
    return counts


def run(ctx) -> dict:
    from pyspark.sql import functions as F

    from vector_search_ai_assistant_mongodbvcore_spark.functions.embedder import HashNgramEmbedder
    from vector_search_ai_assistant_mongodbvcore_spark.operators.hnsw import PartitionedHnswIndex
    from vector_search_ai_assistant_mongodbvcore_spark.operators.ivf import IvfIndex
    from vector_search_ai_assistant_mongodbvcore_spark.operators.keyword_search import (
        Bm25Index,
        tokenize_query,
    )
    from vector_search_ai_assistant_mongodbvcore_spark.operators.similarity import LshIndex
    from vector_search_ai_assistant_mongodbvcore_spark.plans.sql_rewrite import VectorSqlSession
    from vector_search_ai_assistant_mongodbvcore_spark.sources.ingest import (
        ingest_and_vectorize,
        read_json_collection,
    )

    spark, tracer, work = ctx["spark"], ctx["tracer"], ctx["work"]
    cfg = ctx["spec"]["workloads"]["retrieval"]
    sizes, dims = cfg["sizes"], ctx["spec"]["dims"]
    floors = ctx["spec"]["recall_floor"]
    inputs, data = os.path.join(work, "inputs"), os.path.join(work, "data")
    gen.write_collections(inputs, ctx["seed"], sizes)
    questions = gen.write_questions(inputs, ctx["seed"], sizes)
    emb = HashNgramEmbedder(dims=dims)

    # ---- set-up: raw JSON -> vectors -> four searchable indexes ---------
    t0 = time.perf_counter()
    with tracer.request("setup"):
        counts = _ingest(spark, tracer, emb, inputs, data)
        corpus = spark.read.parquet(os.path.join(data, "products"))
        ivf_ids = sorted(r["id"] for r in corpus.select("id").collect())[: sizes["ivf_products"]]
        ivf_corpus = corpus.filter(F.col("id").isin(ivf_ids))
        texts = corpus.select("id", F.concat_ws(" ", "name", "description").alias("text"))
        paths = {k: os.path.join(work, "index", k) for k in ("ivf", "hnsw", "lsh", "bm25")}

        def build_ivf():
            with tracer.request("setup-ivf"), tracer.span("operators.ivf.build"):
                return IvfIndex(spark, paths["ivf"]).build(
                    ivf_corpus, vector_col="vector", num_lists=cfg["ivf"]["num_lists"], id_col="id"
                )

        # the IVF build runs as single-task stages; the other three builds
        # use the remaining cores meanwhile, as a loader of all four would
        builder = ThreadPoolExecutor(max_workers=1)
        ivf_built = builder.submit(build_ivf)
        with tracer.span("operators.hnsw.build"):
            hnsw = PartitionedHnswIndex(spark, paths["hnsw"]).build(
                corpus, vector_col="vector", id_col="id", m=cfg["hnsw"]["m"],
                ef_construction=cfg["hnsw"]["ef_construction"], shards=cfg["hnsw"]["shards"],
            )
        with tracer.span("operators.similarity.build"):
            lsh = LshIndex(spark, paths["lsh"]).build(
                corpus, dims=dims, bits=cfg["lsh"]["bits"], tables=cfg["lsh"]["tables"],
                vector_col="vector", id_col="id",
            )
        with tracer.span("operators.keyword_search.build"):
            bm25 = Bm25Index(spark, paths["bm25"]).build(texts, text_col="text", id_col="id")
        ivf = ivf_built.result()
        builder.shutdown()
        q0 = emb.embed_numpy([questions[0]])[0].tolist()
        searchable = [
            len(ivf.search(q0, k=K, n_probe=cfg["ivf"]["num_lists"], id_col="id").collect()),
            len(hnsw.search(q0, k=K).collect()),
            len(lsh.search(q0, k=K).collect()),
            len(bm25.search(tokenize_query(questions[0]), k=K).collect()),
        ]
    ingest_s = time.perf_counter() - t0
    upserts = ingest_and_vectorize(
        read_json_collection(spark, os.path.join(inputs, "upserts.json"), "products"), embedder=emb
    )
    upserts.write.parquet(os.path.join(data, "upserts"))
    upserts = spark.read.parquet(os.path.join(data, "upserts")).cache()
    upserts.count()
    vs = VectorSqlSession(spark)
    ivf_corpus.createOrReplaceTempView("products")  # the IVF index's exact source
    vs.register_auto("products", paths["ivf"], n_probe=cfg["ivf"]["num_lists"])
    vs.register_embedder(emb)
    setup_s = time.perf_counter() - t0

    # ingest checks: row counts, 1536-dim unit-norm vectors in every collection
    vectors = {
        coll: [r["vector"] for r in spark.read.parquet(os.path.join(data, coll)).select("vector").collect()]
        for coll in counts
    }
    failed_setup = int(any(len(vectors[c]) != counts[c] for c in counts))
    failed_setup += int(counts["products"] != sizes["products"] or counts["customers"] != sizes["customers"]
                        or counts["salesOrders"] != sizes["sales_orders"] or len(ivf_ids) != sizes["ivf_products"])
    failed_setup += int(any(len(v) != dims or abs(np.linalg.norm(v) - 1.0) > 1e-5 for vs_ in vectors.values() for v in vs_))
    failed_setup += int(any(n == 0 for n in searchable))
    if failed_setup:
        print(f"retrieval check failed: ingest counts {counts}, searchable {searchable}")
    trace.log(f"set-up {setup_s:.2f}s (raw JSON to searchable {ingest_s:.2f}s)")
    oracle, ivf_oracle = Oracle(), Oracle()  # every product / the IVF subset
    oracle.add((r["id"], r["vector"]) for r in corpus.select("id", "vector").collect())
    ivf_oracle.add((pid, oracle.vecs[pid]) for pid in ivf_ids)
    pool = {r["id"]: (r["vector"], f"{r['name']} {r['description']}") for r in upserts.collect()}
    pool_ids = sorted(pool)
    batch = sizes["upsert_batch"]

    n_probe = cfg["ivf"]["num_lists"]
    recalls = {"ivf": [], "hnsw": [], "lsh": []}
    # recall floors are judged on a fixed batch of questions (plus the
    # loop's), so one hard question cannot decide a run
    probe = [(i, v.tolist()) for i, v in enumerate(emb.embed_numpy(questions[-sizes["recall_questions"]:]))]
    for kind, index in (("hnsw", hnsw), ("lsh", lsh)):
        by_q: dict[int, list] = {i: [] for i, _ in probe}
        for r in index.search_many(probe, k=K).collect():
            by_q[r["query_id"]].append(r["id"])
        recalls[kind].extend(recall(oracle, qv, by_q[i]) for i, qv in probe)
    state = {"q": 0, "writes": 0, "pending": None}

    def next_questions(n: int) -> list[str]:
        out = [questions[(state["q"] + i) % len(questions)] for i in range(n)]
        state["q"] += n
        return out

    def op_single(kind: str) -> bool:
        (text,) = next_questions(1)
        qv = emb.embed_numpy([text])[0].tolist()
        if kind == "ivf":
            with tracer.span("operators.ivf.search"):
                rows = ivf.search(qv, k=K, n_probe=n_probe, id_col="id").collect()
            got = [(r["id"], r["score"]) for r in rows]
            recalls["ivf"].append(recall(ivf_oracle, qv, [g[0] for g in got]))
            return exact_ok(ivf_oracle, qv, got)
        if kind == "hnsw":
            with tracer.span("operators.hnsw.search"):
                rows = hnsw.search(qv, k=K).collect()
            recalls["hnsw"].append(recall(oracle, qv, [r["id"] for r in rows]))
            return True
        if kind == "lsh":
            with tracer.span("operators.similarity.search"):
                rows = lsh.search(qv, k=K).collect()
            recalls["lsh"].append(recall(oracle, qv, [r["id"] for r in rows]))
            return True
        if kind == "bm25":
            with tracer.span("operators.keyword_search.search"):
                rows = bm25.search(tokenize_query(text), k=K).collect()
            scores = [r["bm25"] for r in rows]
            return 0 < len(rows) <= K and all(r["id"] in oracle.vecs for r in rows) and scores == sorted(scores, reverse=True)
        sql = f"SELECT id, cosine_sim(vector, embed('{text}')) AS score FROM products ORDER BY score DESC LIMIT {K}"
        with tracer.span("plans.sql_rewrite.serve"):
            rows = vs.sql(sql).collect()
        return exact_ok(ivf_oracle, qv, [(r["id"], r["score"]) for r in rows])

    def op_many(kind: str) -> "tuple[bool, int]":
        texts_ = next_questions(sizes["batch_questions"])
        qvs = [v.tolist() for v in emb.embed_numpy(texts_)]
        pairs = list(enumerate(qvs))
        if kind == "ivf_many":
            with tracer.span("operators.ivf.search_many"):
                rows = ivf.search_many(pairs, k=K, n_probe=n_probe, id_col="id").collect()
        else:
            with tracer.span("operators.hnsw.search_many"):
                rows = hnsw.search_many(pairs, k=K).collect()
        by_q: dict[int, list] = {i: [] for i in range(len(pairs))}
        for r in rows:
            by_q[r["query_id"]].append((r["id"], r["score"]))
        if kind == "ivf_many":
            return all(exact_ok(ivf_oracle, qvs[i], by_q[i]) for i in by_q), len(pairs)
        recalls["hnsw"].extend(recall(oracle, qvs[i], [g[0] for g in by_q[i]]) for i in by_q)
        return all(0 < len(by_q[i]) <= K for i in by_q), len(pairs)

    def op_write() -> bool:
        """Add the next upsert batch (or remove the batch added last) on
        every index, then check each index sees the change."""
        if state["pending"] is None:
            start = (state["writes"] * batch) % len(pool_ids)
            ids = [pool_ids[(start + i) % len(pool_ids)] for i in range(batch)]
            df = upserts.filter(F.col("id").isin(ids))
            docs = df.select("id", F.concat_ws(" ", "name", "description").alias("text"))
            with tracer.span("operators.ivf.write"):
                ivf.add_documents(df, id_col="id")
            with tracer.span("operators.hnsw.write"):
                hnsw.add_documents(df, id_col="id")
            with tracer.span("operators.similarity.write"):
                lsh.add_documents(df)
            with tracer.span("operators.keyword_search.write"):
                bm25.add_documents(docs, text_col="text", id_col="id")
            for o in (oracle, ivf_oracle):
                o.add((i, pool[i][0]) for i in ids)
            state["pending"], present = ids, True
        else:
            ids = state["pending"]
            with tracer.span("operators.ivf.write"):
                ivf.remove_documents(ids, id_col="id")
            with tracer.span("operators.hnsw.write"):
                hnsw.remove_documents(ids, id_col="id")
            with tracer.span("operators.similarity.write"):
                lsh.remove_documents(ids)
            with tracer.span("operators.keyword_search.write"):
                bm25.remove_documents(ids)
            for o in (oracle, ivf_oracle):
                o.remove(ids)
            state["pending"], present = None, False
        state["writes"] += 1
        ok = True
        for pid in ids:
            vec, text = pool[pid]
            found = [
                ivf.search(vec, k=K, n_probe=n_probe, id_col="id").collect(),
                hnsw.search(vec, k=K).collect(),
                lsh.search(vec, k=K).collect(),
                bm25.search(tokenize_query(text), k=K).collect(),
            ]
            ok &= all(any(r["id"] == pid for r in rows) == present for rows in found)
        return ok

    def do(kind: str, traced: bool, rid: str) -> "tuple[float, bool, int]":
        t = time.perf_counter()
        with tracer.request(rid, traced=traced):
            if kind in SINGLE:
                ok, n = op_single(kind), 1
            elif kind == "write":
                ok, n = op_write(), 0
            else:
                ok, n = op_many(kind)
        return time.perf_counter() - t, ok, n

    # warm-up: each read kind once more, untimed (the first calls in set-up
    # and the recall batch leave them still slower than in steady state)
    for kind in ("ivf", "hnsw", "lsh", "bm25", "sql", "ivf_many", "hnsw_many"):
        do(kind, False, f"warm-{kind}")

    trace.log("warm-up done")
    single: list[tuple[float, int]] = []  # (seconds, position in the cycle)
    writes: list[float] = []
    many = [0.0, 0]  # seconds, questions
    attempted = failed = answered = 0
    reading = 0.0  # seconds spent answering questions
    errors: list[BaseException] = []
    start = time.perf_counter()
    # whole cycles only, so every run has the same operation mix; their
    # number follows --seconds at the cycle's nominal length
    n_cycles = max(1, round(ctx["seconds"] / SECONDS_PER_CYCLE))
    for cycle in range(n_cycles):
        for pos, kind in enumerate(CYCLE):
            traced = tracer.enabled and pos not in UNTRACED
            attempted += 1
            try:
                lat, ok, n = do(kind, traced, f"c{cycle}-{pos}-{kind}")
            except Exception as e:  # noqa: BLE001 - a failed operation is counted, not fatal
                errors.append(e)
                failed += 1
                continue
            if not ok:
                failed += 1
                print(f"retrieval check failed: cycle {cycle} op {pos} {kind}")
            answered += n
            if kind != "write":
                reading += lat
            if kind in SINGLE:
                single.append((lat, pos))
            elif kind == "write":
                writes.append(lat)
            else:
                many[0] += lat
                many[1] += n
    elapsed = time.perf_counter() - start
    trace.log(f"measured {n_cycles} cycles in {elapsed:.2f}s: {[round(x, 3) for x, _ in single]}, writes {[round(x, 2) for x in writes]}")
    # approximate indexes: the run's mean recall@10 must hold its floor,
    # else every operation on that index counts as failed
    for kind, n_ops in (("hnsw", CYCLE.count("hnsw") + CYCLE.count("hnsw_many")), ("lsh", CYCLE.count("lsh"))):
        if recalls[kind] and mean(recalls[kind]) < floors[kind]:
            print(f"retrieval check failed: {kind} mean recall@10 {mean(recalls[kind]):.3f} < {floors[kind]}")
            failed += n_ops * n_cycles
    for e in errors[:3]:
        print(f"retrieval op failed: {e!r}")
    attempted += 1  # the set-up ingest counts as one operation
    failed += int(failed_setup > 0)

    lats = [x for x, _ in single]
    d = stats.describe(lats)
    docs = sum(counts.values())
    report = {
        "op_p50_s": (d["p50"], "s"),
        # questions per second spent answering them; the writes between
        # them count through scan-cache invalidation and upsert_visible_p50_s
        "throughput_per_s": (answered / reading, "1/s"),
        "setup_s": (setup_s, "s"),
        "search_p50_s": (d["p50"], "s"),
        f"search_p{d['tail_q'] or 90:g}_s": (d["tail"] if d["tail"] is not None else "n/a", f"s (n={len(lats)})"),
        "batch_search_queries_per_s": (many[1] / many[0] if many[0] else "n/a", "1/s"),
        "upsert_visible_p50_s": (median(writes) if writes else "n/a", f"s (n={len(writes)})"),
        "ingest_docs_per_s": (docs / ingest_s, "1/s"),
    }
    out = {"correct": failed == 0, "attempted": attempted, "failed": failed, "report": report, "layers": {}}
    if tracer.enabled:
        lay = trace.span_metrics(spark, tracer.spans, {**layers.RETRIEVAL_SPANS, **layers.INGEST_SPANS})
        for kind, key in (("ivf", "ivf"), ("hnsw", "hnsw"), ("lsh", "similarity")):
            lay[f"operators.{key}.recall_at_10"] = mean(recalls[kind]) if recalls[kind] else 0.0
        lay["sources.ingest.max_task_share"] = trace.max_task_share(spark, tracer.spans, "sources.ingest.read")
        lay["operators.ivf.build.max_task_share"] = trace.max_task_share(spark, tracer.spans, "operators.ivf.build")
        # ivf and hnsw questions alike: traced at cycle positions 0-1, not at 7-8
        on = [x for x, pos in single if pos in TRACED_PAIR]
        off = [x for x, pos in single if pos in UNTRACED]
        lay["trace.overhead_s"] = (median(on) - median(off)) if on and off else 0.0
        out["layers"] = lay
    return out
