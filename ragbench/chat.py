"""``chat``: closed loop, two clients, one ``chat_turn`` per operation.

Each client owns its own sessions (``sessions_per_client`` in
``ragbench/spec.json``) in one shared ``SessionStore`` and takes its turns on
them in rotation, so the two clients' commits land on the same session and
message tables. Before the timer each session gets a history of
earlier exchanges (questions from the pool, answers from the fake completer)
in one transactional commit, long enough to pass ``MaxConversationTokens``
so the history window trims on every measured turn; then
``summarize_session_name`` renames it. The clients then run untimed turns
until each has finished one, while the engine's plans warm up; the turns
they start after that, for ``--seconds``, are measured. The measured turns ask the pool's
questions as they are.

In a traced run the untimed set-up also drains the streaming corpus
backlog once (``ragbench/corpus_stream.py``): its phases are per-layer
metrics and its check counts with the turns. Untraced runs skip it, since
no end-to-end metric depends on it and a run's time is short.
"""

from __future__ import annotations

import os
import threading
import time
import uuid
from datetime import datetime, timedelta
from statistics import median

from ragbench import corpus_stream, gen, layers, stats, trace

WARM_UP_TURNS = 1  # per client, before the timer starts


class _RecordingEmbedder:
    """Delegates to the engine's embedder and keeps the usage counts it
    returned, for the token-rollup check. One per client."""

    def __init__(self, inner):
        self.inner = inner
        self.counts: list[int] = []

    def embed_with_usage_numpy(self, texts):
        vectors, counts = self.inner.embed_with_usage_numpy(texts)
        self.counts.extend(int(c) for c in counts)
        return vectors, counts


class _RecordingCompleter:
    def __init__(self, inner):
        self.inner = inner
        self.usage: list[tuple[int, int]] = []

    def complete(self, *a, **kw):
        text, prompt_tokens, completion_tokens = self.inner.complete(*a, **kw)
        self.usage.append((int(prompt_tokens), int(completion_tokens)))
        return text, prompt_tokens, completion_tokens


def _setup(spark, emb, products_json: str, root: str):
    from vector_search_ai_assistant_mongodbvcore_spark.operators.sessions import SessionStore
    from vector_search_ai_assistant_mongodbvcore_spark.sources.ingest import (
        ingest_and_vectorize,
        read_json_collection,
    )

    raw = read_json_collection(spark, products_json, "products")
    ingest_and_vectorize(raw, embedder=emb).write.parquet(os.path.join(root, "corpus"))
    corpus = spark.read.parquet(os.path.join(root, "corpus"))
    return corpus, SessionStore(spark, os.path.join(root, "sessions"))


def _prefill(spark, store, emb, completer, sids: list[str], questions: list[str], turns: int) -> dict[str, int]:
    """Commit ``turns`` earlier exchanges to every session in one
    transaction; returns each session's token rollup."""
    from vector_search_ai_assistant_mongodbvcore_spark.sources.ingest import (
        MESSAGE_SCHEMA,
        SESSION_SCHEMA,
    )

    start = datetime(2024, 1, 1)
    messages, rollup = [], {}
    for s, sid in enumerate(sids):
        asked = [questions[(s * turns + t) % len(questions)] for t in range(turns)]
        _, counts = emb.embed_with_usage_numpy(asked)
        rollup[sid] = 0
        for t, (q, n) in enumerate(zip(asked, counts)):
            text, p_tok, c_tok = completer.complete(q, "")
            ts = start + timedelta(seconds=60 * t)
            messages += [
                (str(uuid.uuid4()), "Message", sid, ts, "User", int(n), 0, q),
                (str(uuid.uuid4()), "Message", sid, ts + timedelta(microseconds=1), "Assistant", int(c_tok), int(p_tok), text),
            ]
            rollup[sid] += int(n) + int(p_tok) + int(c_tok)
    sessions = spark.createDataFrame(
        [(sid, "Session", sid, rollup[sid], "New Chat") for sid in sids], SESSION_SCHEMA
    )
    store.txn.upsert_session_batch(sessions, spark.createDataFrame(messages, MESSAGE_SCHEMA))
    return rollup


def run(ctx) -> dict:
    from vector_search_ai_assistant_mongodbvcore_spark.functions.completion import (
        RemoteCompleter,
        RemoteSummarizer,
        fake_completion_transport,
        fake_summarize_transport,
    )
    from vector_search_ai_assistant_mongodbvcore_spark.functions.embedder import HashNgramEmbedder
    from vector_search_ai_assistant_mongodbvcore_spark.operators import chat as chat_mod

    spark, tracer, work = ctx["spark"], ctx["tracer"], ctx["work"]
    cfg = ctx["spec"]["workloads"]["chat"]
    sizes = cfg["sizes"]
    inputs = os.path.join(work, "inputs")
    gen.write_collections(inputs, ctx["seed"], {"products": sizes["products"]})
    questions = gen.write_questions(inputs, ctx["seed"], sizes)
    emb = HashNgramEmbedder(dims=ctx["spec"]["dims"])

    setup_times = []
    for i in range(3):
        t0 = time.perf_counter()
        corpus, store = _setup(spark, emb, os.path.join(inputs, "products.json"), os.path.join(work, f"setup{i}"))
        setup_times.append(time.perf_counter() - t0)
    trace.log(f"set-up x3: {[round(t, 2) for t in setup_times]}")
    stream = {"attempted": 0, "failed": 0, "report": {}, "layers": {}}
    if tracer.enabled:
        stream = corpus_stream.drain(
            spark, ctx["spec"]["workloads"]["corpus_stream"]["sizes"], ctx["seed"], os.path.join(work, "stream")
        )

    n_clients, per_client = cfg["clients"], cfg["sessions_per_client"]
    summarizer = RemoteSummarizer(transport=fake_summarize_transport)
    sids = [store.create_session() for _ in range(n_clients * per_client)]
    rollup = _prefill(
        spark, store, emb, RemoteCompleter(transport=fake_completion_transport), sids, questions, sizes["history_turns"]
    )
    history = {sid: sizes["history_turns"] for sid in sids}  # exchanges persisted per session
    for s, sid in enumerate(sids):
        with tracer.request(f"rename-{s}", traced=tracer.enabled):
            with tracer.span("operators.sessions.rename"):
                chat_mod.summarize_session_name(store, summarizer, sid, questions[s * sizes["history_turns"] % len(questions)])
    trace.log("sessions prefilled and renamed")

    clients = []
    for c in range(n_clients):
        embedder = _RecordingEmbedder(emb)
        completer = _RecordingCompleter(RemoteCompleter(transport=fake_completion_transport))
        if tracer.enabled:
            completer.complete = tracer.wrap(completer.complete, "functions.completion.complete")
            embedder.embed_with_usage_numpy = tracer.wrap(embedder.embed_with_usage_numpy, "functions.embedder.embed")
        clients.append({"id": c, "sids": sids[c * per_client:(c + 1) * per_client], "embedder": embedder,
                        "completer": completer, "turns": 0, "attempts": 0})
    originals = {}
    if tracer.enabled:
        store.get_messages = tracer.wrap_phase(store.get_messages, "operators.conversation.history")
        store.add_turn = tracer.wrap(store.add_turn, "operators.sessions.persist")
        for name, span in (
            ("vector_search_payload_reranked", "operators.vector_search.retrieve"),
            ("build_prompts", "operators.prompt_budget.trim"),
        ):
            originals[name] = getattr(chat_mod, name)
            setattr(chat_mod, name, tracer.wrap_phase(originals[name], span))

    def turn(client: dict, traced: bool) -> float:
        n = client["turns"]
        sid = client["sids"][n % per_client]
        prompt = questions[(client["id"] * 7919 + n) % len(questions)]
        embedder, completer = client["embedder"], client["completer"]
        n_usage = len(completer.usage)
        t0 = time.perf_counter()
        with tracer.request(f"c{client['id']}-t{n}", traced=traced):
            with tracer.span("operators.chat.turn"):
                chat_mod.chat_turn(
                    spark, store, corpus, sid, prompt, embedder, completer,
                    k=10, vector_col="vector", id_cols=("id",),
                    max_conversation_tokens=cfg["max_conversation_tokens"], rerank_candidates=30,
                )
        lat = time.perf_counter() - t0
        p_tok, c_tok = completer.usage[-1] if len(completer.usage) > n_usage else (0, 0)
        rollup[sid] += embedder.counts[-1] + p_tok + c_tok
        history[sid] += 1
        client["turns"] += 1
        return lat

    latencies: list[tuple[float, bool]] = []  # (seconds, traced) of measured turns
    spans: dict[int, list] = {}  # client -> [first measured start, last measured end, turns]
    errors: list[Exception] = []
    warmed = threading.Semaphore(0)
    clock = {"start": float("inf"), "end": float("inf")}

    def client_loop(client: dict) -> None:
        # no barrier: the clients stay at whatever phase their warm-up left
        # them in, rather than starting their measured turns in lockstep
        while True:
            t = time.perf_counter()
            if t >= clock["end"]:
                return
            measured = t >= clock["start"]
            traced = measured and tracer.enabled and client["turns"] % 2 == 0
            client["attempts"] += 1
            try:
                lat = turn(client, traced)
            except Exception as e:  # noqa: BLE001 - a failed turn is counted, not fatal
                errors.append(e)
                lat = float("nan")
            if measured:
                latencies.append((lat, traced))
                span = spans.setdefault(client["id"], [t, t, 0])
                span[1:] = [time.perf_counter(), span[2] + (lat == lat)]
            if client["attempts"] == WARM_UP_TURNS:
                warmed.release()

    threads = [threading.Thread(target=client_loop, args=(c,), name=f"client-{c['id']}") for c in clients]
    v0 = store.sessions.current_version() + store.messages.current_version()
    try:
        for t in threads:
            t.start()
        for _ in clients:
            warmed.acquire()
        trace.log("warm-up turns done")
        clock["start"] = time.perf_counter()
        clock["end"] = clock["start"] + ctx["seconds"]
        for t in threads:
            t.join()
        v1 = store.sessions.current_version() + store.messages.current_version()
    finally:
        clock["end"] = float("-inf")
        for name, fn in originals.items():
            setattr(chat_mod, name, fn)
    lats = [x for x, _ in latencies if x == x]
    # closed loop: each client's measured turns over the time they spanned
    throughput = sum(n / (b - a) for a, b, n in spans.values())
    trace.log(f"measured {len(lats)} turns, {throughput:.3f}/s: {[round(x, 2) for x in lats]}")

    # ---- correctness: 2 messages per turn, tokens_used == reference rollup
    n_msgs = {r["session_id"]: r["n"] for r in store.messages.read().groupBy("session_id").count().withColumnRenamed("count", "n").collect()}
    used = {}
    for r in store.sessions.read().select("session_id", "tokens_used").collect():
        used.setdefault(r["session_id"], []).append(r["tokens_used"])
    attempted = sum(c["attempts"] for c in clients) + stream["attempted"]  # warm-up and measured turns, batches
    failed = len(errors) + stream["failed"]
    bad = [sid for sid in sids if n_msgs.get(sid) != 2 * history[sid] or used.get(sid) != [rollup[sid]]]
    if bad:
        failed = attempted
        for sid in bad:
            print(f"chat check failed: session {sid[:8]}: {n_msgs.get(sid)} messages for {history[sid]} exchanges, "
                  f"tokens_used {used.get(sid)} vs rollup {rollup[sid]}")
    for e in errors[:3]:
        print(f"chat turn failed: {type(e).__name__}: {str(e)[:300]}")

    d = stats.describe(lats)
    report = {
        "op_p50_s": (d["p50"], "s"),
        "throughput_per_s": (throughput, "1/s"),
        "setup_s": (median(setup_times), "s"),
        "chat_turn_p50_s": (d["p50"], "s"),
        f"chat_turn_p{d['tail_q'] or 90:g}_s": (d["tail"] if d["tail"] is not None else "n/a", f"s (n={len(lats)})"),
        "chat_turns_per_s": (throughput, "1/s"),
        **stream["report"],
    }
    out = {"correct": failed == 0, "attempted": attempted, "failed": failed, "report": report, "layers": {}}
    if tracer.enabled:
        lay = trace.span_metrics(spark, tracer.spans, layers.CHAT_SPANS)
        lay["operators.sessions.versions_per_turn"] = (v1 - v0) / max(sum(c["turns"] for c in clients), 1)
        on = [x for x, t in latencies if t and x == x]
        off = [x for x, t in latencies if not t and x == x]
        lay["trace.overhead_s"] = (median(on) - median(off)) if on and off else 0.0
        lay.update(stream["layers"])
        out["layers"] = lay
    return out
