"""The ``longtail`` generator: deterministic per seed, the stated length
profile, nearly unique texts, and no turn the kernel rejects.

Run from the root of a checkout: ``python3 -m pytest perfbench/tests -q``.
"""

import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))                    # perfbench/
sys.path.insert(0, os.path.dirname(os.path.dirname(HERE)))   # the checkout

import pytest

import longtail
from material_parsers_spark.kernel.gazetteer import TokenTrieMatcher
from material_parsers_spark.kernel.turns import extract_turn
from material_parsers_spark.pipeline.extraction import load_full_patterns

# one sentence overshoots a turn's target length by at most this much
MAX_OVERSHOOT = 160


def _lengths(rows):
    return [len(row[3]) for row in rows]


def test_same_seed_same_rows_other_seed_other_rows():
    assert longtail.generate(7, 200) == longtail.generate(7, 200)
    assert longtail.generate(7, 200) != longtail.generate(8, 200)


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_length_quantiles_follow_the_capped_pareto_profile(seed):
    n = 1200
    lengths = sorted(_lengths(longtail.generate(seed, n)))
    for q in (0.1, 0.5, 0.9, 0.99):
        target = longtail.target_length(q)
        observed = lengths[int(q * n)]
        assert target <= observed <= target + MAX_OVERSHOOT, (q, observed)
    assert longtail.MAX_CHARS <= max(lengths) \
        <= longtail.MAX_CHARS + MAX_OVERSHOOT


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_texts_are_nearly_all_distinct(seed):
    texts = [row[3] for row in longtail.generate(seed, 1200)]
    assert len(set(texts)) / len(texts) >= 0.99


def test_balanced_splits_keep_rows_and_even_out_characters():
    rows = longtail.generate(5, 1200)
    split = longtail.balanced_splits(rows, 4)
    assert sorted(split) == sorted(rows)
    chars = [sum(_lengths(split[i * 300:(i + 1) * 300])) for i in range(4)]
    assert max(chars) / min(chars) < 1.02


@pytest.fixture(scope="module")
def matcher():
    return TokenTrieMatcher(load_full_patterns())


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_extract_turn_accepts_every_turn(seed, matcher):
    rows = longtail.generate(seed, 300)
    for row in rows:
        out = extract_turn(row[3], matcher, include_tokens=False)
        assert out["spans"]
    assert statistics.mean(_lengths(rows)) > 200
