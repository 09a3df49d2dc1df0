"""The extraction UDF's session cache and per-batch dedup: one pattern
broadcast per session and pattern set, and rows equal to the Spark-free
kernel's whether a text is repeated, empty or null, on the direct and the
web path."""

import json

import pytest
from pyspark import SparkContext

from material_parsers_spark.kernel.gazetteer import (
    TokenTrieMatcher,
    crystal_structure_patterns,
)
from material_parsers_spark.kernel.turns import extract_turn
from material_parsers_spark.kernel.web import main_content
from material_parsers_spark.pipeline.extraction import (
    build_default_patterns,
    extract_ordered,
    load_full_patterns,
)
from material_parsers_spark.pipeline.session import build_session
from material_parsers_spark.pipeline.web import (
    extract_materials_from_html,
    wrap_turns_in_html,
)

TEXTS = [
    "The material MgB 2 superconducts at 39 K.",
    "The AlB2-type structure with P6/mmm symmetry was confirmed for "
    "NbB 2 at 9 K.",
    "In the best cases 39 K and 25 K were measured for MgB 2 and NbB 2 , "
    "respectively.",
    "T c = 12.2 K was found for La 2 CuO 4 at 140 GPa.",
    "Nothing to see in this sentence at all, really.",
]

CHROME_ONLY = (
    '<html><body><nav><a href="/">Home</a> <a href="/docs">Docs</a>'
    '</nav><footer>Copyright notice. All rights reserved. '
    '<a href="/tos">Terms</a></footer></body></html>'
)


@pytest.fixture(scope="module")
def spark():
    return build_session(app_name="extraction-udf-tests", master="local[2]",
                         shuffle_partitions=2)


@pytest.fixture(scope="module")
def matcher():
    return TokenTrieMatcher(load_full_patterns())


def _frame(spark, texts):
    """One partition, so every repeat lands in the same Arrow batch."""
    return spark.createDataFrame(
        [("c", i, t) for i, t in enumerate(texts)],
        "conv_id string, turn_idx int, text string").coalesce(1)


def _mixed_texts():
    """Each text three times, interleaved, with empty and null texts."""
    texts = []
    for _ in range(3):
        for text in TEXTS:
            texts.extend([text, "", None])
    return texts


def _as_plain(row) -> dict:
    return json.loads(json.dumps({
        "tokens": [t.asDict() for t in row.tokens],
        "spans": [s.asDict(recursive=True) for s in row.spans],
        "materials": [m.asDict(recursive=True) for m in row.materials],
    }))


def _assert_rows_match_kernel(rows, kernel_texts, matcher, include_tokens):
    """``kernel_texts[turn_idx]`` is the text the kernel reads for that
    row; a row exists exactly where that text is non-empty."""
    by_idx = {r.turn_idx: r for r in rows}
    assert sorted(by_idx) == [i for i, t in enumerate(kernel_texts) if t]
    for i, row in by_idx.items():
        expected = extract_turn(kernel_texts[i], matcher,
                                include_tokens=include_tokens)
        assert _as_plain(row) == json.loads(json.dumps(expected)), i


def _direct(include_tokens):
    return lambda turns, patterns: extract_ordered(
        turns, patterns=patterns, include_tokens=include_tokens)


def _web(turns, patterns):
    return extract_materials_from_html(wrap_turns_in_html(turns),
                                       patterns=patterns)


def test_repeated_calls_make_one_pattern_broadcast(spark, monkeypatch):
    """Three extraction calls with the same patterns in one session
    broadcast the patterns once, whatever their other arguments, and all
    three still extract."""
    broadcasts = []
    original = SparkContext.broadcast

    def counting(self, value):
        broadcasts.append(value)
        return original(self, value)

    monkeypatch.setattr(SparkContext, "broadcast", counting)
    turns = _frame(spark, TEXTS)
    for marker, calls in [
        ("Zr Qx", [_direct(True)] * 3),
        # the direct path with and without tokens, then the web path
        ("Zr Qy", [_direct(True), _direct(False), _web]),
    ]:
        # a pattern set no other test uses, so the first call here is
        # the session's first for it
        patterns = build_default_patterns() + crystal_structure_patterns(
            [marker])
        broadcasts.clear()
        counts = [call(turns, patterns).count() for call in calls]
        assert counts == [len(TEXTS)] * 3, marker
        assert len(broadcasts) == 1, marker


@pytest.mark.parametrize("include_tokens", [True, False])
def test_repeated_empty_and_null_texts_match_the_kernel(
        spark, matcher, include_tokens):
    texts = _mixed_texts()
    rows = extract_ordered(_frame(spark, texts),
                           include_tokens=include_tokens).collect()
    _assert_rows_match_kernel(rows, texts, matcher, include_tokens)


def test_web_path_with_repeated_empty_and_null_pages_matches_the_kernel(
        spark, matcher):
    turns = _frame(spark, _mixed_texts())
    pages = [r.text for r in
             wrap_turns_in_html(turns).orderBy("turn_idx").collect()]
    # wrapping gives an empty text a page with no main text; add pages
    # that are repeated chrome, empty and null as well
    pages += [CHROME_ONLY, CHROME_ONLY, "", None]
    rows = extract_materials_from_html(_frame(spark, pages)).collect()
    kernel_texts = [main_content(p)["text"] if p else p for p in pages]
    _assert_rows_match_kernel(rows, kernel_texts, matcher,
                              include_tokens=False)


def test_a_repeated_text_gets_the_row_it_gets_alone(spark):
    repeated = TEXTS[2]
    alone = extract_ordered(_frame(spark, [repeated])).collect()
    among = extract_ordered(_frame(
        spark, [repeated, TEXTS[0], repeated, "", repeated])).collect()
    rows = {r.turn_idx: _as_plain(r) for r in among}
    assert [rows[i] for i in (0, 2, 4)] == [_as_plain(alone[0])] * 3
