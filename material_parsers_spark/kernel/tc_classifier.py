"""Critical-temperature linkability classifier (C1, SURVEY.md §2.8).

Re-expresses `linking/linking_module.py:432-539` over the merged-token doc:
a cascade of token-window rules marking <tcValue> spans linkable. All rules
are token-index arithmetic and exact text-window compares over
``doc.texts``/``doc.starts``; the expression lists are grouped by token
width, so each Tc value costs at most 8 window slices. Fixtures at
`tests/test_linking_module.py:57-297`.
"""

from __future__ import annotations

from typing import Dict, List, Set, Tuple

from .doc import MergedDoc

TEMP_TYPES = ["temperature", "tcvalue", "tcValue",
              "<temperature>", "<tcvalue>", "<tcValue>"]
TC_TYPES = ["<tc>", "tc"]

# case sensitive (reference linking_module.py:447-449); entries with a
# trailing space can never match a slice text and are preserved as-is
NON_TC_EXPRESSIONS_BEFORE = [
    "T N", "TN", "t n", "tn", "Curie", "curie", "Neel", "neel", "at T ",
    "at T =", "at T=", "is suppressed at ", "ΔT c", "ΔTc", "Δ T c",
    "T =", "T=", "T = ", "T= ",
]

# case insensitive (reference linking_module.py:451-454)
TC_EXPRESSIONS_BEFORE = [
    "superconducts at", "superconductive at around", "superconducts around",
    "superconductivity at", "superconductivity around",
    "exibits superconductivity at", "T c =", "Tc =",
]

# case insensitive (reference linking_module.py:457)
NON_TC_EXPRESSIONS_AFTER = ["higher", "lower"]


def _by_width(expressions: List[str]) -> List[Tuple[int, Set[str]]]:
    """``(width, expressions)`` pairs: an expression's width is its number
    of " "-separated parts, the number of merged tokens it is compared
    with."""
    groups: Dict[int, Set[str]] = {}
    for expression in expressions:
        groups.setdefault(len(expression.split(" ")), set()).add(expression)
    return sorted(groups.items())


_NON_TC_BEFORE = _by_width(NON_TC_EXPRESSIONS_BEFORE)
_TC_BEFORE = _by_width(TC_EXPRESSIONS_BEFORE)


def mark_linkable_temperatures(doc: MergedDoc) -> MergedDoc:
    """Rule cascade; sets ``linkable`` on qualifying temperature tokens."""
    temps = [t for t in doc if t.ent_type in TEMP_TYPES]
    if not temps:
        return doc

    tc_texts = {t.text for t in doc if t.ent_type in TC_TYPES}

    if "respectively" in doc.text:
        # rule 1: with a tc expression present, every temp before the last
        # "respectively" token is linkable. When "respectively" only
        # occurs inside a longer token ("irrespectively"), rules 2-6 run
        # instead: the reference takes the last of no tokens and raises.
        if not tc_texts:
            return doc
        respectively = doc.indices("respectively")
        if respectively:
            for temp in temps:
                if temp.i < respectively[-1]:
                    temp.linkable = True
            return doc

    text, texts, starts = doc.text, doc.texts, doc.starts
    for index_t, temp in enumerate(temps):
        i = temp.i

        # rule 2: Celsius (or anything not ending in K) rejected
        if not temp.text.rstrip().lower().endswith("k"):
            continue

        # rule 3: reject when followed by "higher"/"lower"
        if i + 1 < len(texts) and \
                texts[i + 1].lower() in NON_TC_EXPRESSIONS_AFTER:
            continue

        # the windows [i - width, i) and [i - width - 1, i - 1) end where
        # merged token i - 1 (i - 2) ends
        end = starts[i - 1] + len(texts[i - 1]) if i >= 1 else 0
        end_before = starts[i - 2] + len(texts[i - 2]) if i >= 2 else 0

        # rule 4: reject when preceded by a non-Tc expression
        if any(i - width >= 0 and text[starts[i - width]:end] in expressions
               for width, expressions in _NON_TC_BEFORE):
            continue

        # rule 5: accept when preceded (with <=1 token slack) by a Tc
        # expression
        if any((i - width >= 0
                and text[starts[i - width]:end].lower() in expressions)
               or (i - width - 1 >= 0
                   and text[starts[i - width - 1]:end_before].lower()
                   in expressions)
               for width, expressions in _TC_BEFORE):
            temp.linkable = True
            continue

        # rule 6: accept when an extracted <tc> entity text occurs
        # between the previous temp and this temp (backward scan); the
        # scanned slices are single tokens, so compare token texts
        previous_temp_index = temps[index_t - 1].i if index_t > 0 else 0
        if not tc_texts.isdisjoint(texts[previous_temp_index:i]):
            temp.linkable = True

    return doc
