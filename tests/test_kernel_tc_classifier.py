"""Tc classifier fixtures, ported verbatim from reference
tests/test_linking_module.py:57-297."""

from material_parsers_spark.kernel.service import process_link
from material_parsers_spark.kernel.tc_classifier import (
    mark_linkable_temperatures,
)
from tests.fixture_utils import get_tokens_and_spans, prepare_doc


def linkable_tc_values(doc):
    return [t for t in doc if t.ent_type == "<tcValue>" and t.linkable is True]


def test_simple_1():
    doc = prepare_doc(
        "The Tc of the BaClE2 is 30K.",
        [("Tc", "<tc>"), ("BaClE2", "<material>"), ("30K", "<tcValue>")],
    )
    out = linkable_tc_values(mark_linkable_temperatures(doc))
    assert len(out) == 1
    assert out[0].text == "30K"


def test_simple_2():
    doc = prepare_doc(
        "The material BaClE2 superconducts at 30K.",
        [("BaClE2", "<material>"), ("superconducts", "<tc>"), ("30K", "<tcValue>")],
    )
    out = linkable_tc_values(mark_linkable_temperatures(doc))
    assert len(out) == 1
    assert out[0].text == "30K"


def test_simple_3():
    doc = prepare_doc(
        "We are explaining some important notions. The material BaClE2 "
        "superconducts at 30K. What about going for a beer?",
        [("<tc>", "<tc>"), ("BaClE2", "<material>"), ("30K", "<tcValue>")],
    )
    out = linkable_tc_values(mark_linkable_temperatures(doc))
    assert len(out) == 1
    assert out[0].text == "30K"


def test_simple_4():
    doc = prepare_doc(
        "The material BaClE2 has Tc at 30K.",
        [("BaClE2", "<material>"), ("Tc", "<tc>"), ("30K", "<tcValue>")],
    )
    out = linkable_tc_values(mark_linkable_temperatures(doc))
    assert len(out) == 1
    assert out[0].text == "30K"


def test_simple_5():
    doc = prepare_doc(
        "Perturbative linear-response calculations predict that the phase "
        "P 2 1 / m is a superconductor with T c of 27–34 K for HBr at "
        "160 GPa and 9–14 K for HCl at 280 GPa.",
        [("T c", "<tc>"), ("27–34 K", "<tcValue>"), ("HBr", "<material>"),
         ("160 GPa", "<pressure>"), ("9–14 K", "<tcValue>"),
         ("HCl", "<material>"), ("280 GPa", "<pressure>")],
    )
    out = linkable_tc_values(mark_linkable_temperatures(doc))
    assert len(out) == 1


def test_t_equals_prefix_rejected():
    doc = prepare_doc(
        "We also plot in values of U 0 obtained from flux-creep in a "
        "BaFe 2−x Ni x As 2 crystal with similar T c for H c-axis at "
        "T = 8 K and for H ab-planes at T = 13 K.",
        [("BaFe 2−x Ni x As 2 crystal", "<material>"), ("T c", "<tc>"),
         ("8 K", "<tcValue>"), ("13 K", "<tcValue>")],
    )
    out = linkable_tc_values(mark_linkable_temperatures(doc))
    assert len(out) == 0


def test_tc0_both_marked():
    doc = prepare_doc(
        "(Color online) Effect of electron irradiation on the low-temperature "
        "penetration depth ∆λ of two samples of BaFe2(As1−xPx)2: "
        "(a) Tc0 = 28 K and (b) Tc0 = 29 K.",
        [("BaFe2(As1−xPx)2", "<material>"), ("Tc0", "<tc>"),
         ("28 K", "<tcValue>"), ("Tc0", "<tc>"), ("29 K", "<tcValue>")],
    )
    out = linkable_tc_values(mark_linkable_temperatures(doc))
    assert len(out) == 2


def test_lower_rejected():
    text = (
        "It is also worth noticing that the T C of this structure is slightly "
        "lower (about 5 K lower) than the T C for the 2×7 superlattice where "
        "the two BCO/CCO interfaces are far apart (seven unit cells of CCO) "
        "and no sizeable intralayer interaction is expected.It is also worth "
        "noticing that the T C of this structure is slightly lower (about 5 K "
        "lower) than the T C for the 2×7 superlattice where the two BCO/CCO "
        "interfaces are far apart (seven unit cells of CCO) and no sizeable "
        "intralayer interaction is expected."
    )
    doc = prepare_doc(
        text,
        [("BCO/CCO", "<material>"), ("CCO)", "<material>"),
         ("T C", "<tc>"), ("5 K", "<tcValue>")],
    )
    out = linkable_tc_values(mark_linkable_temperatures(doc))
    assert len(out) == 0


def test_relative_increase_rejected():
    doc = prepare_doc(
        "The R versus T curves (figure 2(c) for samples B1 and B2 (with 6 wt% "
        "Ag) show that the HIP process increases T c by 0.8 K and reduces the "
        "resistance in the normal state by about 10%.",
        [("B1", "<material>"), ("B2 (with 6 wt% Ag)", "<material>"),
         ("0.8 K", "<tcValue>")],
    )
    out = linkable_tc_values(mark_linkable_temperatures(doc))
    assert len(out) == 0


def test_relative_higher_than():
    doc = prepare_doc(
        "The critical temperature T C = 4.7 K discovered for La 3 Ir 2 Ge 2 "
        "in this work is by about 1.2 K higher than that found for "
        "La 3 Rh 2 Ge 2 .",
        [("critical temperature", "<tc>"), ("T C", "<tc>"),
         ("4.7 K", "<tcValue>"), ("La 3 Ir 2 Ge 2", "<material>"),
         ("La 3 Rh 2 Ge 2", "<material>")],
    )
    out = linkable_tc_values(mark_linkable_temperatures(doc))
    assert len(out) == 1
    assert out[0].text == "4.7 K"


def test_higher_after_rejected():
    doc = prepare_doc(
        "The material BaClE2 has Tc at 30K higher than 77K.",
        [("BaClE2", "<material>"), ("<tc>", "<tc>"), ("30K", "<tcValue>")],
    )
    out = linkable_tc_values(mark_linkable_temperatures(doc))
    assert len(out) == 0


def test_respectively_marks_all_before():
    doc = prepare_doc(
        "The T C values for YBCO + BSO2%, YBCO + BSO2% + YOA, and "
        "YBCO + BSO2% + YOB fi lms are 89.7 K, 86.7 K, and 89.7 K respectively",
        [("T C", "<tc>"),
         ("YBCO + BSO2%", "<material>"), ("YBCO + BSO2% + YOA", "<material>"),
         ("YBCO + BSO2% + YOB", "<material>"),
         ("89.7 K", "<tcValue>"), ("86.7 K", "<tcValue>"),
         ("89.7 K", "<tcValue>")],
    )
    out = linkable_tc_values(mark_linkable_temperatures(doc))
    assert len(out) == 3
    assert [t.text for t in out] == ["89.7 K", "86.7 K", "89.7 K"]


def test_complex_case_only_first():
    doc = prepare_doc(
        "Tc varies from 2.7 K in CsFe2As2 to 38 K in A1−xKxFe2As2 "
        "(A = Ba, Sr). Meanwhile, superconductivity could also be induced in "
        "the parent phase by high pressure or by replacing some of the Fe by "
        "Co. More excitingly, large single crystals could be obtained by the "
        "Sn flux method in this family to study the rather low melting "
        "temperature and the intermetallic characteristics.",
        [("Tc", "<tc>"), ("2.7 K", "<tcValue>"), ("CsFe2As2", "<material>"),
         ("38 K", "<tcValue>"), ("A1−xKxFe2As2", "<material>")],
    )
    out = linkable_tc_values(mark_linkable_temperatures(doc))
    assert len(out) == 1
    assert out[0].text == "2.7 K"


def test_mark_temperatures_paragraph_pipeline():
    text = ("The LaFe0.2 Sr 0.4 was discovered to be superconducting at 3K "
            "applying a pressure of 5Gpa.")
    tokens, spans = get_tokens_and_spans(
        text,
        [("LaFe0.2 Sr 0.4", "<material>"), ("superconducting", "<tc>"),
         ("3K", "<tcValue>"), ("5Gpa", "<pressure>")],
    )
    spans[0]["linkable"] = True
    out = process_link([{"text": text, "spans": spans, "tokens": tokens}])[0]

    linkable = [s for s in out["spans"] if s["linkable"] is True]
    assert len(linkable) == 2
    assert out["spans"][0]["linkable"] is True
    assert out["spans"][2]["linkable"] is True
