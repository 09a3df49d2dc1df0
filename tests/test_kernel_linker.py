"""Link-type, sentence-boundary, round-trip, and metrics
fixtures (reference tests/test_linking_module.py:11-33,302-361 and
tests/test_linking_evaluation.py)."""

import pytest

from material_parsers_spark.kernel.doc import get_sentence_boundaries
from material_parsers_spark.kernel.linker import (
    MATERIAL_TC_TYPE,
    TC_PRESSURE_TYPE,
    get_link_type,
)
from material_parsers_spark.kernel.metrics import (
    compute_metrics_by_type,
    tokenize_chunk,
)
from material_parsers_spark.kernel.service import process_link
from tests.fixture_utils import get_tokens, get_tokens_and_spans
from tests.linking_reference import convert_tokens


def test_get_sentence_boundaries_eight_sentences():
    text = (
        "The relatively high superconducting transition tempera- ture in "
        "La 3 Ir 2 Ge 2 is noteworthy. Recently, the isostructural compound "
        "La 3 Rh 2 Ge 2 was reported to be a superconducting material with "
        "critical temperature T C = 3.5 K. This value was considered to be "
        "the highest in the series of several La-based superconducting "
        "germanides, such as LaGe 2 , LaPd 2 Ge 2 , LaPt 2 Ge 2 , and "
        "LaIr 2 Ge 2 ͑see Ref. 21 and refer- ences therein͒. The critical "
        "temperature T C = 4.7 K discov- ered for La 3 Ir 2 Ge 2 in this "
        "work is by about 1.2 K higher than that found for La 3 Rh 2 Ge 2 . "
        "It is also interesting to note that a Y-based ternary germanide, "
        "namely, Y 2 PdGe 3 , crystallized in the hexagonal AlB 2 structure, "
        "was found to be a type-II su- perconductor with transition "
        "temperature T C =3 K. The re- sults of band calculations for this "
        "system 25,26 reveal that the Y-4d density of states dominates the "
        "Fermi level, and thus the superconductivity in this compound is "
        "believed to origi- nate from Y-4d electrons. In the present case of "
        "La 3 Ir 2 Ge 2 or La 3 Rh 2 Ge 2 , explanation of their "
        "superconductivity requires the knowledge of density of La-5d, "
        "Ir-5d ͑or Rh-4d͒, and Ge- 4p states. Hence band-structure "
        "calculations are necessary. "
    )
    words, spaces, _ = get_tokens(text, [])
    boundaries = get_sentence_boundaries(words, spaces)
    assert len(boundaries) == 8


def test_linker_process_paragraph_links_tc_to_material():
    text = ("The LaFe0.2 Sr 0.4 was discovered to be superconducting at 3K "
            "applying a pressure of 5Gpa.")
    tokens, spans = get_tokens_and_spans(
        text,
        [("LaFe0.2 Sr 0.4", "<material>"), ("superconducting", "<tc>"),
         ("3K", "<tcValue>"), ("5Gpa", "<pressure>")],
    )
    for span in spans:
        span["linkable"] = True

    out = process_link([{"text": text, "spans": spans, "tokens": tokens}])
    assert len(out) == 1
    assert out[0]["text"] == text
    material, _, tc_value, _ = out[0]["spans"]
    # one material and one tcValue: one bidirectional "simple" link
    assert [(l["targetText"], l["type"]) for l in material["links"]] == [
        ("3K", "simple")]
    assert ("LaFe0.2 Sr 0.4", "simple") in {
        (l["targetText"], l["type"]) for l in tc_value["links"]}


def test_get_link_type_pairs():
    assert get_link_type("<material>", "<tcValue>") == MATERIAL_TC_TYPE
    assert get_link_type("<tcValue>", "<material>") == MATERIAL_TC_TYPE
    assert get_link_type("<pressure>", "<tcValue>") == TC_PRESSURE_TYPE
    with pytest.raises(ValueError):
        get_link_type("<material>", "<pressure>")


def test_compute_metrics_reference_golden():
    predicted = [(1, 2, MATERIAL_TC_TYPE), (3, 4, MATERIAL_TC_TYPE),
                 (6, 7, MATERIAL_TC_TYPE)]
    expected = [(2, 1, MATERIAL_TC_TYPE), (3, 4, TC_PRESSURE_TYPE),
                (6, 7, MATERIAL_TC_TYPE)]
    out = compute_metrics_by_type(expected, predicted, MATERIAL_TC_TYPE)
    assert out["precision"] == 0.6666666666666666
    assert out["recall"] == 1.0
    assert out["f1"] == 0.8


def test_tokenize_chunk_sixteen_chunks():
    chunks, end = tokenize_chunk("This is a text I want to tokenize.", 0)
    assert len(chunks) == 16
    assert chunks[2]["offset"] == 5
    assert end == 34


def test_convert_round_trip_fixture():
    # reference test_covert_to_spacy: offsets and token indexes re-validate
    # against the original text after remapping
    text = ("The measured T c 's are 30, 37.7, 36, 27.5 and 20.3 K for "
            "x = 0.10, 0.15, 0.20, 0.22 and 0.24, re- spectively.")
    tokens, _ = get_tokens_and_spans(text, [])
    raw_tokens = [
        {"text": t["text"], "offset": t["offset_start"]} for t in tokens
    ]
    spans = [
        {"id": "648844827", "text": "T c", "type": "<tc>", "linkable": False,
         "offset_start": 13, "offset_end": 16, "token_start": 4,
         "token_end": 8},
        {"id": "1200952374", "text": "30", "type": "<tcValue>",
         "linkable": False, "offset_start": 24, "offset_end": 26,
         "token_start": 13, "token_end": 14},
        {"id": "1195834515", "text": "37.7", "type": "<tc>",
         "linkable": False, "offset_start": 28, "offset_end": 32,
         "token_start": 16, "token_end": 19},
        {"id": "1089309247", "text": "36", "type": "<tc>", "linkable": False,
         "offset_start": 34, "offset_end": 36, "token_start": 21,
         "token_end": 22},
        {"id": "-1938842485", "text": "27.5", "type": "<tc>",
         "linkable": False, "offset_start": 38, "offset_end": 42,
         "token_start": 24, "token_end": 28},
        {"id": "-925986964", "text": "20.3", "type": "<tc>",
         "linkable": False, "offset_start": 47, "offset_end": 51,
         "token_start": 30, "token_end": 34},
        {"id": "-1391142065", "text": "x = 0.10, 0.15, 0.20, 0.22 and 0.24",
         "type": "<material>", "linkable": False, "offset_start": 58,
         "offset_end": 93, "token_start": 38, "token_end": 66},
    ]
    out_words, out_spaces, out_spans = convert_tokens(
        [dict(t) for t in tokens], [dict(s) for s in spans])

    assert len(out_words) == len(out_spaces)
    assert len(out_spans) == len(spans)
    for span in out_spans:
        assert text[span["offset_start"]:span["offset_end"]] == span["text"]
        span_words = out_words[span["token_start"]:span["token_end"]]
        assert "".join(
            span_words[i] + (" " if out_spaces[span["token_start"] + i]
                             and i < len(span_words) - 1 else "")
            for i in range(len(span_words))
        ).strip() == span["text"].strip()
