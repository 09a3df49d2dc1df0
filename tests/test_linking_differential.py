"""The link stage against its test-only reference
(``tests/linking_reference.py``), each side over its own doc: the same
merged texts, offsets and entities on random token streams, the same
links, ``linkable`` marks and distances on random multi-sentence turns,
and a long turn of repeated sentences that no longer costs cubic time."""

import time
from functools import lru_cache
from unittest import mock

from hypothesis import given, settings
from hypothesis import strategies as st

from material_parsers_spark.kernel import resolvers, turns
from material_parsers_spark.kernel.doc import build_doc
from material_parsers_spark.kernel.gazetteer import TokenTrieMatcher
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
# Tc values, more "respectively" pairings, a separator inside a word
# ("and" in "band" counts, as in the reference), and "respectively" inside
# a longer word, on which the reference's classifier raises
EXTRA_SENTENCES = [
    ("%s shows a band gap that closes near %s K.", "FV"),
    ("Havinga synthesized %s (n=3.00, T c =%s.6 K) and the solid "
     "solutions.", "FV"),
    ("%s [T c = %s K] was compared with its parent compound.", "FV"),
    ("The samples %s and %s superconduct at 12 K and 30 K, respectively.",
     "FF"),
    ("Values of %s K and %s K were found, while the films stayed normal.",
     "VV"),
    ("The Tc of %s is %s K, irrespectively of the pressure.", "FV"),
    ("Irrespectively of %s, the film superconducts at %s K.", "FV"),
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


def _linked(text, stage):
    """Each span's (id, type, linkable, links) when ``link_paragraph`` is
    ``stage``'s (``turns`` or ``reference``), and per vicinity call the
    distance matrix ``stage`` computes on its own doc, keyed by token
    index. ``None`` when the stage raises."""
    matrices = []
    vicinity = stage.vicinity_resolution
    calculate = (resolvers.calculate_distances if stage is turns
                 else reference.calculate_distances)

    def recording(doc, destinations, sources):
        matrix = calculate(destinations, sources, doc)
        matrices.append({(material.i, tc.i): distance
                         for material, row in matrix.items()
                         for tc, distance in row.items()})
        return vicinity(doc, destinations, sources)

    with mock.patch.object(stage, "vicinity_resolution", recording), \
            mock.patch.object(turns, "link_paragraph", stage.link_paragraph):
        try:
            out = extract_turn(text, _matcher(), include_tokens=False)
        except IndexError:
            return None
    spans = [(s["id"], s["type"], s["linkable"], s["links"])
             for s in out["spans"]]
    return spans, matrices


@settings(max_examples=120, deadline=None)
@given(st.lists(sentences(), min_size=1, max_size=12))
def test_links_marks_and_distances_match_the_reference(parts):
    text = " ".join(parts)
    kernel = _linked(text, turns)
    assert kernel is not None
    expected = _linked(text, reference)
    if expected is not None:
        kernel_spans, kernel_matrices = kernel
        assert kernel_spans == expected[0]
        assert kernel_matrices == expected[1]


def test_irrespectively_runs_the_per_value_rules():
    """"respectively" inside a longer word is no "respectively" token:
    the reference's rule 1 takes the last of no tokens and raises; the
    kernel runs rules 2-6, which link this Tc value to the material."""
    text = "The Tc of MgB 2 is 39 K, irrespectively of the pressure."
    assert _linked(text, reference) is None
    spans = {s["text"]: s for s in extract_turn(text, _matcher())["spans"]}
    assert spans["39 K"]["linkable"]
    assert [link["targetText"] for link in spans["39 K"]["links"]] == \
        ["MgB 2"]


def test_long_repeated_turn_is_fast_and_matches_the_reference():
    """The bound is loose on purpose: host speed drifts. On a shared
    4-core VM the reference takes ~8 s here and the kernel ~0.15 s."""
    started = time.perf_counter()
    kernel_spans, _ = _linked(LONG_TURN, turns)
    assert time.perf_counter() - started < 2.0
    assert kernel_spans == _linked(LONG_TURN, reference)[0]


# token streams: words, separators and parentheses, single and double
# spaces, a leading space, "\n" and "\t"
TOKENS = st.sampled_from([" ", " ", " ", " ", "\n", "\t", "MgB", "2", "39",
                          "K", ",", ".", "(", ")", "and", "respectively"])


@st.composite
def token_streams(draw):
    """Tokens and spans over them. Half the time sorted, non-overlapping
    spans, as the kernel makes: they may be adjacent, end on the last
    token or be absent. Otherwise any index pairs, as a ``process_link``
    request may hold: unsorted, overlapping, empty, reversed or past the
    end."""
    tokens = draw(st.lists(TOKENS, max_size=40))
    bounds, position = [], 0
    if draw(st.booleans()):
        while draw(st.booleans()):
            start = position + draw(st.integers(0, 3))
            end = start + draw(st.integers(1, 4))
            if end > len(tokens):
                break
            bounds.append((start, end))
            position = end
    else:
        index = st.integers(0, len(tokens) + 1)
        bounds = draw(st.lists(st.tuples(index, index), max_size=6))
    spans = [{
        "id": k, "type": draw(st.sampled_from(
            ["<material>", "<tcValue>", "<tc>"])),
        "token_start": start, "token_end": end,
        "linkable": draw(st.booleans()), "links": [],
    } for k, (start, end) in enumerate(bounds)]
    return tokens, spans


@settings(max_examples=600, deadline=None)
@given(token_streams())
def test_build_doc_matches_the_reference_doc(stream):
    tokens, spans = stream
    words, spaces, remapped = reference.convert_tokens(
        [{"text": token} for token in tokens],
        [dict(span) for span in spans])
    expected = reference.build_doc(words, spaces, remapped)

    doc = build_doc(tokens, spans)

    # the reference's doc text gains a space after an empty entity token
    # that inherits a word's trailing space; the offsets do not
    assert doc.text == "".join(tokens)
    assert doc.texts == [t.text for t in expected.tokens]
    assert doc.starts == [t.idx for t in expected.tokens]
    assert [(t.i, t.text, t.idx, t.ent_type, t.id, t.links, t.linkable)
            for t in doc] == \
        [(t.i, t.text, t.idx, t.ent_type, t.id, t.links, t.linkable)
         for t in expected.tokens if t.ent_type]
