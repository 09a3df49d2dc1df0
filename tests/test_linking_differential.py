"""The linking stage against its test-only reference
(``tests/linking_reference.py``): the same distances, links and
``linkable`` marks on random multi-sentence turns, and a long turn of
repeated sentences that no longer costs cubic time."""

import time
from functools import lru_cache
from types import SimpleNamespace
from unittest import mock

from hypothesis import given, settings
from hypothesis import strategies as st

from material_parsers_spark.kernel import turns
from material_parsers_spark.kernel.gazetteer import TokenTrieMatcher
from material_parsers_spark.kernel.resolvers import (
    calculate_distances,
    vicinity_resolution,
)
from material_parsers_spark.kernel.tc_classifier import (
    mark_linkable_temperatures,
)
from material_parsers_spark.kernel.turns import extract_turn
from material_parsers_spark.pipeline.extraction import load_full_patterns
from material_parsers_spark.pipeline.transcripts import (
    CRYSTAL_STRUCTURES,
    FORMULAS,
    SPACE_GROUPS,
    TEMPLATE_SLOTS,
    TEMPLATES,
)
from tests import linking_reference as reference

# sentence shapes beside the corpus templates: parenthesised and bracketed
# Tc values, more "respectively" pairings and a separator inside a word
# ("and" in "band" counts, as in the reference)
EXTRA_SENTENCES = [
    ("%s shows a band gap that closes near %s K.", "FV"),
    ("Havinga synthesized %s (n=3.00, T c =%s.6 K) and the solid "
     "solutions.", "FV"),
    ("%s [T c = %s K] was compared with its parent compound.", "FV"),
    ("The samples %s and %s superconduct at 12 K and 30 K, respectively.",
     "FF"),
    ("Values of %s K and %s K were found, while the films stayed normal.",
     "VV"),
]

# four sentences with materials and Tc values, repeated to 11.3 KB
BLOCK = ("The material MgB 2 superconducts at 39 K. "
         "The Tc of the NbB 2 is 9 K in the bulk samples. "
         "We found that LaH 10 superconducts at 250 K under high pressure. "
         "The critical temperature T c = 12 K was found for MgB 2 and "
         "NbB 2 in thin films. ")
LONG_TURN = BLOCK * 48


@lru_cache(maxsize=1)
def _matcher():
    return TokenTrieMatcher(load_full_patterns())


SLOTS = {
    "F": st.sampled_from(FORMULAS),
    "V": st.integers(3, 299).map(str),
    "D": st.integers(1, 999).map(str),
    "C": st.sampled_from(CRYSTAL_STRUCTURES),
    "G": st.sampled_from(SPACE_GROUPS),
}


@st.composite
def sentences(draw):
    template, slots = draw(st.sampled_from(
        list(zip(TEMPLATES, TEMPLATE_SLOTS)) + EXTRA_SENTENCES))
    return template % tuple(draw(SLOTS[kind]) for kind in slots)


# the kernel's own link stage, in the shape of ``reference``
KERNEL = SimpleNamespace(vicinity_resolution=vicinity_resolution,
                         mark_linkable_temperatures=mark_linkable_temperatures)


def _linked(text, stage):
    """Each span's (id, type, linkable, links) when ``link_paragraph``
    runs ``stage``'s Tc classifier and vicinity resolver, and every
    vicinity call's (doc, destinations, sources)."""
    calls = []

    def recording(doc, destinations, sources):
        calls.append((doc, list(destinations), list(sources)))
        return stage.vicinity_resolution(doc, destinations, sources)

    with mock.patch.object(turns, "vicinity_resolution", recording), \
            mock.patch.object(turns, "mark_linkable_temperatures",
                              stage.mark_linkable_temperatures):
        out = extract_turn(text, _matcher(), include_tokens=False)
    spans = [(s["id"], s["type"], s["linkable"], s["links"])
             for s in out["spans"]]
    return spans, calls


def _distance_rows(calculate, doc, destinations, sources):
    matrix = calculate(destinations, sources, doc)
    return [[(tc.i, d) for tc, d in matrix[m].items()] for m in matrix]


@settings(max_examples=120, deadline=None)
@given(st.lists(sentences(), min_size=1, max_size=12))
def test_links_marks_and_distances_match_the_reference(parts):
    text = " ".join(parts)
    kernel_spans, calls = _linked(text, KERNEL)
    assert kernel_spans == _linked(text, reference)[0]
    for doc, destinations, sources in calls:
        assert (_distance_rows(calculate_distances, doc, destinations,
                               sources)
                == _distance_rows(reference.calculate_distances, doc,
                                  destinations, sources))


def test_long_repeated_turn_is_fast_and_matches_the_reference():
    """The bound is loose on purpose: host speed drifts. On a shared
    4-core VM the reference takes ~8 s here and the kernel ~0.15 s."""
    started = time.perf_counter()
    kernel_spans, _ = _linked(LONG_TURN, KERNEL)
    assert time.perf_counter() - started < 2.0
    assert kernel_spans == _linked(LONG_TURN, reference)[0]
