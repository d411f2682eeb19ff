"""Tests of the benchmark itself: input determinism, the tail-percentile
rule, metric naming and the agreement of BENCHMARK.json with the code.

    python3 -m pytest ragbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import os

import pytest

from ragbench import gen, layers, stats

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
SPEC = json.load(open(os.path.join(ROOT, "ragbench", "spec.json"), encoding="utf-8"))


def _digest(d: str) -> dict[str, str]:
    out = {}
    for base, _, files in os.walk(d):
        for f in files:
            p = os.path.join(base, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, d)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def _generate(d: str, seed: int) -> None:
    w = SPEC["workloads"]
    gen.write_collections(os.path.join(d, "retrieval"), seed, w["retrieval"]["sizes"])
    gen.write_questions(os.path.join(d, "retrieval"), seed, w["retrieval"]["sizes"])
    gen.write_collections(os.path.join(d, "chat"), seed, {"products": w["chat"]["sizes"]["products"]})
    gen.write_questions(os.path.join(d, "chat"), seed, w["chat"]["sizes"])
    gen.write_stream(os.path.join(d, "stream"), seed, w["corpus_stream"]["sizes"])


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    _generate(str(tmp_path / "a"), 7)
    _generate(str(tmp_path / "b"), 7)
    a, b = _digest(str(tmp_path / "a")), _digest(str(tmp_path / "b"))
    assert a and a == b


def test_other_seed_gives_other_inputs(tmp_path):
    _generate(str(tmp_path / "a"), 7)
    _generate(str(tmp_path / "b"), 8)
    assert _digest(str(tmp_path / "a")) != _digest(str(tmp_path / "b"))


def test_stream_inputs_have_the_stated_shares(tmp_path):
    sizes = SPEC["workloads"]["corpus_stream"]["sizes"]
    out = gen.write_stream(str(tmp_path), 3, sizes)
    n = out["docs"]
    assert n == sizes["files"] * sizes["docs_per_file"]
    for kind, share in (("exact_dup", "exact_dup_share"), ("near_dup", "near_dup_share"), ("contaminated", "contaminated_share")):
        assert abs(out["kinds"][kind] / n - sizes[share]) < 0.05, kind
    texts = []
    for path in out["files"]:
        with open(path, encoding="utf-8") as f:
            texts += [json.loads(line)["text"] for line in f]
    assert len(set(texts)) < len(texts)  # exact duplicates exist
    # contaminated documents quote 12 consecutive words of a benchmark text
    bench_12grams = set()
    for b in out["bench"]:
        w = b.split()
        bench_12grams |= {" ".join(w[i:i + 12]) for i in range(len(w) - 11)}
    hits = sum(any(g in t for g in bench_12grams) for t in texts)
    assert hits >= out["kinds"]["contaminated"] > 0


def test_question_pool_repeat_share():
    import random

    pool = gen.question_pool(random.Random(1), 2000, 0.25)
    repeats = len(pool) - len(set(pool))
    assert 0.2 < repeats / len(pool) < 0.3


def test_collections_follow_the_engine_schemas(tmp_path):
    from vector_search_ai_assistant_mongodbvcore_spark.sources.ingest import COLLECTION_SCHEMAS

    data = gen.write_collections(str(tmp_path), 1, SPEC["workloads"]["retrieval"]["sizes"])
    for coll, schema in COLLECTION_SCHEMAS.items():
        fields = {f.name for f in schema.fields} - {"vector"}
        for rec in data[coll]:
            assert set(rec) == fields, coll


@pytest.mark.parametrize(
    "n, q",
    [(9, None), (10, None), (19, None), (20, 50.0), (40, 75.0), (99, 100.0 * 89 / 99), (100, 90.0), (500, 90.0)],
)
def test_tail_percentile_leaves_ten_samples_beyond(n, q):
    got = stats.tail_percentile(n)
    assert got == pytest.approx(q) if q is not None else got is None
    if got is not None:
        assert n - stats.percentile(list(range(n)), got) - 1 >= stats.TAIL_SAMPLES - 1
        assert n * (1 - got / 100.0) >= stats.TAIL_SAMPLES - 1e-9


def test_percentile_nearest_rank():
    xs = list(range(1, 101))
    assert stats.percentile(xs, 50) == 50
    assert stats.percentile(xs, 90) == 90
    assert stats.percentile(xs, 100) == 100


def test_metric_names_use_the_allowed_charset():
    names = [m["name"] for m in layers.catalogue()] + [m["name"] for m in layers.END_TO_END]
    stats.check_names(names)
    assert len(names) == len(set(names))
    with pytest.raises(ValueError):
        stats.check_names(["bad name"])
    with pytest.raises(ValueError):
        stats.check_names(["bad/name"])


def test_benchmark_json_matches_the_code():
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        bench = json.load(f)
    assert [w["name"] for w in bench["workloads"]] == SPEC["benchmark_workloads"]
    for w in bench["workloads"]:
        assert w["why"] == SPEC["workloads"][w["name"]]["why"]
    assert [{k: m[k] for k in ("name", "unit", "better")} for m in bench["end_to_end"]] == layers.END_TO_END
    assert bench["per_layer"] == layers.catalogue()
    assert len(bench["per_layer"]) <= 128


def test_result_line_shape():
    line = stats.result_line(True, 3, 0, {"op_p50_s": (1.5, "s")})
    assert json.loads(line) == {
        "correct": True, "attempted": 3, "failed": 0,
        "metrics": {"op_p50_s": {"value": 1.5, "unit": "s"}},
    }
