"""Property tests for the quote-blanking / span-finding text layer the
raw-SQL serves are built on (plans/sql_rewrite.py). These parsers are
load-bearing: a mis-split argument or a drifted offset turns into a
wrong probe vector or a mangled rewritten query, so their structural
invariants get hypothesis coverage beyond the example-based suite
(pure Python — no Spark session)."""

from __future__ import annotations

import re

from hypothesis import example, given, settings
from hypothesis import strategies as st

from vector_search_ai_assistant_mongodbvcore_spark.plans.sql_rewrite import (
    VectorSqlSession,
    _call_spans,
    _render_vec_literal,
    _second_arg_span,
)

# text fragments that stress the parsers: quotes, parens, commas, SQL
# keywords, doubled-quote escapes
_frag = st.sampled_from(
    [
        "a", "FROM t", "WHERE x", ",", "(", ")", " ", "''",
        "'from (, )'", "'it''s'", "cosine_sim", "x, y", "(a, b)",
        "array(1.0D, 2.0D)", "'", "select",
    ]
)
_texts = st.lists(_frag, min_size=0, max_size=12).map("".join)


def _quote_spans(s: str) -> "list[tuple[int, int]]":
    """Ground-truth single-quote span scanner ('' escapes included):
    [(open_idx, close_idx_exclusive)] content regions."""
    spans = []
    i, n = 0, len(s)
    while i < n:
        if s[i] != "'":
            i += 1
            continue
        j = i + 1
        while j < n:
            if s[j] == "'":
                if j + 1 < n and s[j + 1] == "'":
                    j += 2
                    continue
                break
            j += 1
        spans.append((i + 1, min(j, n)))
        i = j + 1
    return spans


@settings(max_examples=300, deadline=None)
@given(_texts)
def test_blank_quoted_preserves_offsets_and_structure(s):
    """blanked text has IDENTICAL length (every guard's span arithmetic
    depends on it), every char outside quoted content is unchanged, and
    no paren/comma/keyword CONTENT survives inside a quoted span."""
    b = VectorSqlSession._blank_quoted(s)
    assert len(b) == len(s)
    inside = set()
    for lo, hi in _quote_spans(s):
        inside.update(range(lo, hi))
    for i, (orig, blank) in enumerate(zip(s, b)):
        if i in inside:
            assert blank in (" ", "'"), (i, s)
            assert blank != "(" and blank != ")" and blank != ","
        else:
            assert blank == orig, (i, s)


@settings(max_examples=300, deadline=None)
@given(_texts)
@example("cosine_sim(cosine_sim(a, b), x)")
def test_call_spans_are_balanced_and_nonoverlapping(s):
    b = VectorSqlSession._blank_quoted(s)
    spans = _call_spans(b, "cosine_sim")
    prev_end = -1
    for start, op, end in spans:
        assert 0 <= start < op < end <= len(s)
        assert b[op] == "("
        assert b[end - 1] == ")"
        # depth-balanced on the blanked text
        seg = b[op:end]
        assert seg.count("(") == seg.count(")")
        assert start >= prev_end  # reported in order, non-overlapping
        prev_end = end


@settings(max_examples=200, deadline=None)
@given(
    st.sampled_from(["embedding", "v", "`vec`"]),
    st.sampled_from(
        [
            "array(1.0D, 2.0D)",
            "(SELECT e FROM p WHERE i = 1)",
            "embed('a, (b) from c')",
            "transform(split('x,(y', ','), t -> 1.0D)",
        ]
    ),
    st.sampled_from([None, 2, 6]),
    st.sampled_from(["score", "s", "sim_1"]),
)
def test_parse_and_arg_span_agree(col, lit, round_d, alias):
    """_parse_cosine_item's parsed second argument and _second_arg_span's
    slice of the SAME item must agree exactly — the rewrite slices the
    original query by span while validation uses the parsed text, and a
    disagreement would substitute the literal over the wrong region."""
    core = f"cosine_sim({col}, {lit})"
    item = (f"round({core}, {round_d})" if round_d is not None else core) + f" AS {alias}"
    parsed = VectorSqlSession._parse_cosine_item(item)
    assert parsed is not None
    p_col, p_lit, p_round, p_alias = parsed
    assert p_col == col.strip("`")
    assert p_lit == lit
    assert p_round == round_d and p_alias == alias
    blanked = VectorSqlSession._blank_quoted(item)
    open_paren = blanked.index("cosine_sim(") + len("cosine_sim")
    span = _second_arg_span(blanked, open_paren)
    assert span is not None
    a, b = span
    assert item[a:b].strip() == p_lit


@settings(max_examples=200, deadline=None)
@given(st.lists(st.floats(allow_nan=False, allow_infinity=False, width=64), min_size=1, max_size=8))
def test_render_vec_literal_round_trips_reprs(vec):
    """The substituted literal must carry every component's exact repr —
    repr(float) round-trips IEEE doubles, so parse-back equality here is
    the driver-side half of the bit-parity argument."""
    lit = _render_vec_literal(vec)
    vals = re.findall(r"CAST\('([^']+)' AS DOUBLE\)", lit)
    assert len(vals) == len(vec)
    for got, want in zip(vals, vec):
        assert float(got) == float(want)
