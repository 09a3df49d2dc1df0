"""Property-based tests (hypothesis) for the kernel invariants the fixture
corpus can't exhaustively cover."""

import string
from functools import lru_cache

from hypothesis import given, settings
from hypothesis import strategies as st

from material_parsers_spark.kernel.classify import decompose_formula, get_class
from material_parsers_spark.kernel.doc import (
    build_doc,
    get_sentence_boundaries,
)
from material_parsers_spark.kernel.formulas import formula_to_composition
from material_parsers_spark.kernel.gazetteer import TokenTrieMatcher
from material_parsers_spark.kernel.tagger import tag_spans
from material_parsers_spark.kernel.tokenizer import tokenize, tokenize_and_filter
from material_parsers_spark.kernel.turns import extract_turn
from material_parsers_spark.kernel.variables import expand_formula, replace_variable
from material_parsers_spark.pipeline.extraction import load_full_patterns
from material_parsers_spark.pipeline.transcripts import (
    CRYSTAL_STRUCTURES,
    FORMULAS,
    SPACE_GROUPS,
    TEMPLATE_SLOTS,
    TEMPLATES,
)
from tests.linking_reference import convert_tokens

text_strategy = st.text(
    alphabet=string.ascii_letters + string.digits + " .,;()-−≤<>=/[]{}\n\t",
    max_size=400,
)


@given(text_strategy)
@settings(max_examples=200, deadline=None)
def test_tokenize_partitions_text_exactly(text):
    tokens, offsets = tokenize(text)
    assert "".join(tokens) == text
    cursor = 0
    for token, (start, end) in zip(tokens, offsets):
        assert start == cursor
        assert end - start == len(token)
        assert text[start:end] == token
        cursor = end


@given(text_strategy)
@settings(max_examples=100, deadline=None)
def test_filtered_tokens_keep_valid_offsets(text):
    tokens, offsets = tokenize_and_filter(text)
    for token, (start, end) in zip(tokens, offsets):
        assert text[start:end] == token
        assert token not in (" ", "\t", "\n")


@given(text_strategy)
@settings(max_examples=100, deadline=None)
def test_extract_turn_total_and_consistent(text):
    """The extraction kernel must never raise and must emit offset-true
    spans whatever the input."""
    out = extract_turn(text)
    for span in out["spans"]:
        assert text[span["offset_start"]:span["offset_end"]] == span["text"]
        assert 0 <= span["token_start"] < span["token_end"]
    for material in out["materials"]:
        for resolved in material.get("resolvedFormulas") or []:
            assert resolved["rawValue"]


@lru_cache(maxsize=1)
def _full_matcher():
    return TokenTrieMatcher(load_full_patterns())


@st.composite
def template_sentences(draw):
    template, slots = draw(st.sampled_from(
        list(zip(TEMPLATES, TEMPLATE_SLOTS))))
    return template % tuple(draw(TEMPLATE_VALUES[kind]) for kind in slots)


TEMPLATE_VALUES = {
    "F": st.sampled_from(FORMULAS),   # "(Mo 0.96 Zr 0.04 ) 0.85 B 2" included
    "V": st.integers(3, 299).map(str),
    "D": st.integers(1, 999).map(str),
    "C": st.sampled_from(CRYSTAL_STRUCTURES),
    "G": st.sampled_from(SPACE_GROUPS),
}

# corpus sentences and the fragments that trip the linker: unmatched
# brackets, "respectively" inside and outside a longer word, a unicode
# minus, and the whitespace between them
TURN_PIECES = st.one_of(
    template_sentences(), template_sentences(),
    st.sampled_from(["(", ")", "[", "]", "{", "respectively",
                     "irrespectively", ", respectively.", "−", "1−x",
                     "T c =", "39 K", "MgB 2", "."]))
TURN_SEPARATORS = st.sampled_from([" ", " ", "  ", "\n", " \n ", "\u00a0",
                                   "\u00a0 ", ""])


@given(st.integers(0, 70).flatmap(lambda n: st.lists(
    st.tuples(TURN_PIECES, TURN_SEPARATORS), min_size=n, max_size=n)))
@settings(max_examples=150, deadline=None)
def test_extract_turn_output_invariants_with_the_full_dictionary(pieces):
    """With the full dictionary, on turns of up to ~3 KB, ``extract_turn``
    never raises, its span ids are unique, its spans are sorted and
    disjoint, and every link names another span of the turn that links
    back with the same type."""
    text = "".join(piece + separator for piece, separator in pieces)
    spans = extract_turn(text, _full_matcher(), include_tokens=False)["spans"]
    by_id = {span["id"]: span for span in spans}
    assert len(by_id) == len(spans)
    for before, after in zip(spans, spans[1:]):
        assert before["offset_end"] <= after["offset_start"]
    for span in spans:
        for link in span["links"]:
            assert link["targetId"] != span["id"]
            target = by_id[link["targetId"]]
            assert {"targetId": span["id"], "type": link["type"]} in [
                {"targetId": back["targetId"], "type": back["type"]}
                for back in target["links"]]


# words the tagger turns into spans (Tc values, pressures, Tc mentions,
# shapes, variables and values, formulas) and words around them
TAGGER_WORDS = st.sampled_from([
    "39", "4", ".", "7", "K", "GPa", "Tc", "T", "c", "critical",
    "temperature", "superconducts", "thin", "film", "doped", "annealed",
    "x", "=", "0", ",", "and", "MgB", "2", "La", "Fe", "As", "(", ")", "-",
    "−", "resistivity", "the", "at",
])


@given(st.lists(TAGGER_WORDS, max_size=60),
       st.sampled_from([" ", "", "  "]))
@settings(max_examples=300, deadline=None)
def test_tag_spans_are_sorted_and_disjoint(words, separator):
    """The tagger's scan moves past every span it emits, so its spans come
    out ordered by token and never overlap."""
    text = separator.join(words)
    tokens, offsets = tokenize(text)
    spans = tag_spans(tokens, offsets, text)
    for span in spans:
        assert span["token_start"] < span["token_end"]
    for before, after in zip(spans, spans[1:]):
        assert before["token_end"] <= after["token_start"]


@given(st.text(alphabet=string.ascii_letters + string.digits + "().-−",
               max_size=60),
       st.sampled_from(["x", "y", "z"]),
       st.sampled_from(["0.1", "0.25", "-0.3", "1"]))
@settings(max_examples=200, deadline=None)
def test_replace_variable_total(formula, variable, value):
    out = replace_variable(formula, variable, value)
    assert isinstance(out, str)
    # substitution never grows the string by more than the inserted values
    assert len(out) <= len(formula) + formula.count(variable) * (len(value) + 4)


@given(st.text(alphabet=string.ascii_letters + string.digits + " (),-",
               max_size=60))
@settings(max_examples=200, deadline=None)
def test_expand_formula_total(formula):
    try:
        out = expand_formula(formula)
    except RuntimeError:
        return  # >24 dopants: the reference raises too
    assert isinstance(out, list) and len(out) >= 1


@given(st.text(alphabet=string.ascii_letters + string.digits + " ().-−·⋅*+αβγh",
               max_size=60))
@settings(max_examples=300, deadline=None)
def test_classification_total(formula):
    """Totality over the full grammar incl. the multi-part rung
    (hydrate dots, mixture +/-, phase prefixes): degrade-to-{} on junk,
    never raise."""
    assert isinstance(get_class(formula), str)
    assert isinstance(decompose_formula(formula), list)
    out = formula_to_composition(formula)
    if out:
        assert all(isinstance(v, str) for v in out["composition"].values())


@given(st.lists(
    st.text(alphabet=string.ascii_letters + string.digits + ".,", min_size=1,
            max_size=8),
    min_size=1, max_size=40))
@settings(max_examples=100, deadline=None)
def test_convert_tokens_space_folding(words):
    """Interleave words with single spaces; conversion must reproduce the
    original text and produce aligned words/spaces arrays."""
    tokens = []
    offset = 0
    for i, word in enumerate(words):
        tokens.append({"text": word, "offset_start": offset,
                       "offset_end": offset + len(word)})
        offset += len(word)
        if i != len(words) - 1:
            tokens.append({"text": " ", "offset_start": offset,
                           "offset_end": offset + 1})
            offset += 1
    out_words, out_spaces, _ = convert_tokens(tokens, [])
    assert len(out_words) == len(out_spaces)
    rebuilt = "".join(
        w + (" " if s else "") for w, s in zip(out_words, out_spaces))
    original = " ".join(words)
    assert rebuilt == original
    doc = build_doc([token["text"] for token in tokens], [])
    assert doc.text == original
    # sentence alignment never raises
    get_sentence_boundaries(out_words, out_spaces)


def test_tei_roundtrip_property():
    """Property: for word-aligned, non-adjacent spans over arbitrary word
    sequences, write->parse recovers every span with the reference's
    tag-space quirk applied (a span followed by a space absorbs it)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from material_parsers_spark.sources.tei import (
        parse_tei_paragraphs, write_tei_document)

    words = st.lists(
        st.text(alphabet="abcdefgABC0123", min_size=1, max_size=6),
        min_size=4, max_size=14)

    @settings(max_examples=60, deadline=None)
    @given(words, st.data())
    def run(word_list, data):
        text = " ".join(word_list)
        # pick up to 2 non-adjacent word-aligned spans
        n = len(word_list)
        starts = data.draw(st.lists(
            st.integers(0, n - 1), min_size=0, max_size=2, unique=True))
        starts = sorted(starts)
        spans = []
        used_until = -1
        offsets = []
        pos = 0
        for w in word_list:
            offsets.append((pos, pos + len(w)))
            pos += len(w) + 1
        for index, word_at in enumerate(starts):
            if word_at <= used_until + 1:  # keep a gap word between spans
                continue
            start, end = offsets[word_at]
            spans.append({
                "id": f"s{index}",
                "type": "<material>" if index % 2 == 0 else "<tcValue>",
                "offset_start": start, "offset_end": end,
            })
            used_until = word_at
        xml = write_tei_document([{"text": text, "spans": spans}])
        paragraphs, _, _ = parse_tei_paragraphs(xml)
        body = [p for p in paragraphs if p["section"] == "body"][0]
        assert body["text"] == text
        got = {s_["id"]: s_ for s_ in body["spans"]}
        assert set(got) == {s_["id"] for s_ in spans}
        for span in spans:
            out = got[span["id"]]
            expected = text[span["offset_start"]:span["offset_end"]]
            follows_space = text[span["offset_end"]:
                                 span["offset_end"] + 1] == " "
            if follows_space:
                expected += " "
            assert out["text"] == expected
            assert out["offset_start"] == span["offset_start"]
            assert body["text"][out["offset_start"]:out["offset_end"]] \
                == out["text"]

    run()


@given(st.text(max_size=60))
@settings(max_examples=300, deadline=None)
def test_chemical_name_grammar_total(name):
    """parse_chemical_name is total: any input returns None or a
    well-formed {formula, composition} — never an exception."""
    from material_parsers_spark.kernel.chem_names import (
        parse_chemical_name)

    out = parse_chemical_name(name)
    if out is not None:
        assert out["formula"]
        assert out["composition"]
        assert all(isinstance(k, str) and isinstance(v, str)
                   for k, v in out["composition"].items())


from material_parsers_spark.kernel import chem_names as _cn  # noqa: E402
from material_parsers_spark.kernel import elements as _el  # noqa: E402


@given(st.sampled_from(sorted(_el.ELEMENT_NAMES)),
       st.sampled_from(sorted(_cn.ANIONS_IDE) + sorted(_cn.ANIONS_POLY)))
@settings(max_examples=400, deadline=None)
def test_charge_balance_over_all_cation_anion_pairs(cation, anion):
    """For EVERY element-name x anion-name pair the balance path either
    degrades to None or emits a charge-balanced integer composition —
    the degrade-over-wrong-formula contract checked exhaustively-ish."""
    from material_parsers_spark.kernel.chem_names import (
        ANIONS_IDE,
        ANIONS_POLY,
        CATION_CHARGES,
        COMMON_NAMES,
        MULTI_CATION_OXIDES,
        parse_chemical_name,
    )
    from material_parsers_spark.kernel.elements import ELEMENT_NAMES

    name = f"{cation} {anion}"
    if name in COMMON_NAMES or name in MULTI_CATION_OXIDES:
        return  # dictionary entries pin conventional formulas instead
    out = parse_chemical_name(name)
    element = ELEMENT_NAMES[cation]
    charge = CATION_CHARGES.get(element)
    if charge is None:
        assert out is None, f"{name}: no oxidation state, must degrade"
        return
    if anion in ANIONS_IDE:
        unit, an_charge = ({ANIONS_IDE[anion][0]: 1},
                           ANIONS_IDE[anion][1])
    else:
        unit, an_charge = ANIONS_POLY[anion]
    if element in unit:
        return  # cation element inside the anion unit: counts overlap
    assert out is not None, f"{name}: balanceable pair must parse"
    comp = {k: int(v) for k, v in out["composition"].items()}
    n_cat = comp.pop(element)
    # remaining composition must be an integer multiple of the unit
    key_el = next(iter(unit))
    n_units, rem = divmod(comp[key_el], unit[key_el])
    assert rem == 0 and n_units >= 1
    assert comp == {el: k * n_units for el, k in unit.items()}, name
    assert n_cat * charge + n_units * an_charge == 0, \
        f"{name}: {out['formula']} does not charge-balance"
