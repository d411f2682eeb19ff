"""The catalogue of per-layer metrics a traced run emits.

Every traced run prints every metric below on its last line; a layer the
workload leaves idle reports 0. Span names are ``<package module>.<call>``.
The ``streaming.corpus.*`` metrics come from the ``StreamingQueryProgress``
of the backlog ``chat`` drains in its set-up.
"""

from __future__ import annotations

CHAT_SPANS = {
    "functions.embedder.embed": "busy_s",
    "operators.vector_search.retrieve": "busy_s",
    "operators.conversation.history": "busy_s",
    "operators.prompt_budget.trim": "busy_s",
    "functions.completion.complete": "busy_s",
    "operators.sessions.persist": "busy_s",
    "operators.sessions.rename": "busy_s",
    "operators.chat.turn": "self_s",
}

INDEXES = ("ivf", "hnsw", "similarity", "keyword_search")

RETRIEVAL_SPANS = {
    **{f"operators.{k}.search": "busy_s" for k in INDEXES},
    "plans.sql_rewrite.serve": "busy_s",
    "operators.ivf.search_many": "busy_s",
    "operators.hnsw.search_many": "busy_s",
    **{f"operators.{k}.write": "busy_s" for k in INDEXES},
}

INGEST_SPANS = {
    "sources.ingest.read": "busy_s",
    "sources.ingest.vectorize": "busy_s",
    **{f"operators.{k}.build": "busy_s" for k in INDEXES},
}

SPANS = {**CHAT_SPANS, **RETRIEVAL_SPANS, **INGEST_SPANS}

STREAM_METRICS = {
    **{f"streaming.corpus.{p}_ms": ("ms", "lower") for p in (
        "add_batch", "get_batch", "latest_offset", "query_planning", "wal_commit", "commit_offsets")},
    "streaming.corpus.state_rows": ("count", "lower"),
    "streaming.corpus.state_bytes": ("B", "lower"),
    "streaming.corpus.jobs_per_batch": ("count", "lower"),
    "streaming.corpus.rows_out_per_in": ("ratio", "lower"),
}

_COUNTER_UNITS = {"jobs": ("count", "lower"), "shuffle_bytes": ("B", "lower"), "input_rows": ("count", "lower")}


def catalogue() -> list[dict]:
    """[{name, unit, better}] in the order BENCHMARK.json lists them."""
    out = []
    for span, timing in SPANS.items():
        out.append({"name": f"{span}.{timing}", "unit": "s", "better": "lower"})
        for key, (unit, better) in _COUNTER_UNITS.items():
            out.append({"name": f"{span}.{key}", "unit": unit, "better": better})
    out += [
        {"name": "operators.ivf.recall_at_10", "unit": "ratio", "better": "higher"},
        {"name": "operators.hnsw.recall_at_10", "unit": "ratio", "better": "higher"},
        {"name": "operators.similarity.recall_at_10", "unit": "ratio", "better": "higher"},
        {"name": "sources.ingest.max_task_share", "unit": "ratio", "better": "lower"},
        {"name": "operators.ivf.build.max_task_share", "unit": "ratio", "better": "lower"},
        {"name": "operators.sessions.versions_per_turn", "unit": "count", "better": "lower"},
        {"name": "trace.overhead_s", "unit": "s", "better": "lower"},
    ]
    out += [{"name": n, "unit": u, "better": b} for n, (u, b) in STREAM_METRICS.items()]
    return out


END_TO_END = [
    {"name": "op_p50_s", "unit": "s", "better": "lower"},
    {"name": "throughput_per_s", "unit": "1/s", "better": "higher"},
    {"name": "setup_s", "unit": "s", "better": "lower"},
]
