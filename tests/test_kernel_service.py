"""Service-facade tests: endpoint semantics end-to-end (the reference's
HTTP surface, list-in/list-out)."""

import copy
import random

from material_parsers_spark.kernel import service
from material_parsers_spark.kernel.turns import LINK_CONFIGS
from tests.fixture_utils import get_tokens_and_spans


def test_process_material_batch():
    out = service.process_material([
        "We synthesized underdoped LaFeBO7 single crystals.",
        "nothing here",
    ])
    assert len(out) == 2
    assert out[0][0]["formula"]["rawValue"] == "LaFeBO7"
    assert out[0][0]["doping"] == "underdoped"
    assert out[1] == []


def test_process_tagged_material_matches_reference_fixture():
    tagged = [[
        ("powderss", "B-<shape>"),
        (" ", "O"),
        ("underdoped", "B-<doping>"),
        (" ", "O"),
        ("LaFeBO", "B-<formula>"),
        ("7", "I-<formula>"),
    ]]
    out = service.process_tagged_material(tagged)
    assert out[0][0]["shape"] == "powderss"
    assert out[0][0]["doping"] == "underdoped"
    assert out[0][0]["formula"]["rawValue"] == "LaFeBO7"


def test_process_link_marks_and_links():
    text = ("The LaFe0.2 Sr 0.4 was discovered to be superconducting at 3K "
            "applying a pressure of 5Gpa.")
    tokens, spans = get_tokens_and_spans(
        text,
        [("LaFe0.2 Sr 0.4", "<material>"), ("superconducting", "<tc>"),
         ("3K", "<tcValue>"), ("5Gpa", "<pressure>")],
    )
    out = service.process_link([
        {"text": text, "tokens": tokens, "spans": spans}])
    assert out[0]["text"] == text
    material, _, tc_value, pressure = out[0]["spans"]
    # the classifier marks the tcValue only
    assert [s["linkable"] for s in out[0]["spans"]] == [
        False, False, True, False]
    # one material and one tcValue: a bidirectional "simple" link
    assert ("3K", "simple") in {
        (l["targetText"], l["type"]) for l in material["links"]}
    assert ("LaFe0.2 Sr 0.4", "simple") in {
        (l["targetText"], l["type"]) for l in tc_value["links"]}
    # tcValue also linked to the pressure via the tcValue-pressure config
    assert any(l["targetText"] == "5Gpa" for l in tc_value["links"])
    assert any(l["targetText"] == "3K" for l in pressure["links"])


def test_process_link_without_both_sides_adds_no_links():
    text = "The LaFe0.2 Sr 0.4 was discovered."
    tokens, spans = get_tokens_and_spans(
        text, [("LaFe0.2 Sr 0.4", "<material>")])
    paragraph = {"text": text, "tokens": tokens, "spans": spans}
    before = copy.deepcopy(paragraph)
    out = service.process_link([paragraph])
    assert out == [before]
    assert "links" not in out[0]["spans"][0]


def test_process_link_keeps_input_links_and_span_types():
    """A link the request already holds is not added twice, <formula> and
    <name> spans are not linked as materials (that role is
    extract_turn's), and every entity span gets ``linkable``."""
    text = "The material MgB 2 superconducts at 39 K."
    tokens, spans = get_tokens_and_spans(
        text, [("MgB 2", "<material>"), ("39 K", "<tcValue>")])
    material, tc_value = spans
    material["links"] = [{"targetId": "1", "targetText": "39 K",
                          "targetType": "<tcValue>", "type": "simple"}]
    tc_value["links"] = []
    out = service.process_link(
        [{"text": text, "tokens": tokens, "spans": spans}])
    material, tc_value = out[0]["spans"]
    assert material["links"] == [
        {"targetId": "1", "targetText": "39 K", "targetType": "<tcValue>",
         "type": "simple"}]
    assert tc_value["links"] == [
        {"targetId": "0", "targetText": "MgB 2", "targetType": "<material>",
         "type": "simple"}]
    assert (material["linkable"], tc_value["linkable"]) == (False, True)

    for span_type in ("<formula>", "<name>"):
        tokens, spans = get_tokens_and_spans(
            text, [("MgB 2", span_type), ("39 K", "<tcValue>")])
        for span in spans:
            del span["linkable"]
        out = service.process_link(
            [{"text": text, "tokens": tokens, "spans": spans}])
        assert [s["type"] for s in out[0]["spans"]] == \
            [span_type, "<tcValue>"]
        assert all("links" not in s for s in out[0]["spans"])
        assert [s["linkable"] for s in out[0]["spans"]] == [False, True]


def test_process_link_writes_each_span_its_own_links_under_duplicate_ids():
    """Links and ``linkable`` go onto the span dicts passed in, each span
    its own, even when the request repeats a span id."""
    text = "MgB 2 superconducts at 39 K and NbB 2 superconducts at 9 K."
    tokens, spans = get_tokens_and_spans(
        text, [("MgB 2", "<material>"), ("39 K", "<tcValue>"),
               ("NbB 2", "<material>"), ("9 K", "<tcValue>")])
    for span in spans:
        span["id"] = "0"
        span.pop("links", None)
        del span["linkable"]
    out = service.process_link(
        [{"text": text, "tokens": tokens, "spans": spans}])
    assert out[0]["spans"] is spans
    assert [s["linkable"] for s in spans] == [False, True, False, True]
    assert [[l["targetText"] for l in s["links"]] for s in spans] == [
        ["39 K"], ["MgB 2"], ["9 K"], ["NbB 2"]]


def test_convert_endpoints():
    assert service.convert_formula_to_composition(["CaBr2-x"]) == [
        {"composition": {"Ca": "1", "Br": "2-x"}}]
    assert service.convert_name_to_formula(["Hydrogen"])[0]["formula"] == "H"
    assert service.classify_formulas(["CsFe2As2"]) is not None
    assert service.classify_single("CuFrO2") == "Cuprate"
    assert sorted(service.classify_tags("CsFe2As2")) == [
        "Iron-pnictides", "Pnictides"]


def test_split_batch_input():
    assert service.split_batch_input("a\nb") == ["a", "b"]


def test_link_type_configs_match_reference_orientations():
    """Pin all five (source, destination) orientations against the
    reference's linker wiring (`/root/reference/material_parsers/
    service.py:18-31`). Vicinity resolution is direction-sensitive
    (1xN shortcut + matrix iteration order), so a swapped pair can
    change links on multi-entity sentences."""
    reference = {
        ("<tcValue>", "<material>"),
        ("<pressure>", "<tcValue>"),
        ("<tcValue>", "<me_method>"),
        ("<material>", "<crystal-structure>"),
        ("<material>", "<space-groups>"),
    }
    ours = {(src, dst) for src, dst, _forced in LINK_CONFIGS}
    assert ours == reference


def _template_turns(n_turns, seed=7):
    """Multi-sentence turns joined from the corpus generator's sentence
    templates, each slot filled from the generator's value lists."""
    from material_parsers_spark.pipeline import transcripts as tr

    rng = random.Random(seed)
    values = {"F": tr.FORMULAS, "V": [str(v) for v in range(3, 93)],
              "D": [str(d) for d in range(9)],
              "C": tr.CRYSTAL_STRUCTURES, "G": tr.SPACE_GROUPS}
    turns = []
    for _ in range(n_turns):
        sentences = []
        for _ in range(rng.randint(1, 6)):
            tid = rng.randrange(len(tr.TEMPLATES))
            a, b = (rng.choice(values[kind])
                    for kind in tr.TEMPLATE_SLOTS[tid])
            sentences.append(tr.TEMPLATES[tid] % (a, b))
        turns.append(" ".join(sentences))
    return turns


def test_process_link_links_like_extract_turn():
    """`/process/link` over extract_turn's own tokens and spans, with
    <formula>/<name> playing <material> and links and linkable cleared,
    gives every span the links and linkable that extract_turn gave it."""
    from material_parsers_spark.kernel.gazetteer import TokenTrieMatcher
    from material_parsers_spark.kernel.turns import extract_turn
    from material_parsers_spark.pipeline.extraction import load_full_patterns

    matcher = TokenTrieMatcher(load_full_patterns())
    n_links = 0
    for text in _template_turns(300):
        turn = extract_turn(text, matcher)
        spans = [dict(s, links=[], linkable=False,
                      type=("<material>"
                            if s["type"] in ("<formula>", "<name>")
                            else s["type"]))
                 for s in turn["spans"]]
        out = service.process_link(
            [{"text": text, "tokens": turn["tokens"], "spans": spans}])
        assert ({s["id"]: (s["links"], s["linkable"])
                 for s in out[0]["spans"]}
                == {s["id"]: (s["links"], s["linkable"])
                    for s in turn["spans"]}), text
        n_links += sum(len(s["links"]) for s in turn["spans"])
    assert n_links > 1000
