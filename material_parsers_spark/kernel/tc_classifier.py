"""Critical-temperature linkability classifier (C1, SURVEY.md §2.8).

Re-expresses `linking/linking_module.py:432-539` over the merged-token doc:
a cascade of token-window rules marking <tcValue> spans linkable. All rules
are token-index arithmetic and exact text-window compares; fixtures at
`tests/test_linking_module.py:57-297`.
"""

from __future__ import annotations

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


def mark_linkable_temperatures(doc: MergedDoc) -> MergedDoc:
    """Rule cascade; sets ``linkable`` on qualifying temperature tokens."""
    temps = [t for t in doc if t.ent_type in TEMP_TYPES]
    if not temps:
        return doc

    tc_texts = {t.text for t in doc if t.ent_type in TC_TYPES}

    # MergedToken hashes by identity: these sets never call __eq__
    marked_as_tc = set()
    marked_as_non_tc = set()

    if "respectively" in str(doc):
        # rule 1: with a tc expression present, every temp before the last
        # "respectively" is linkable
        if tc_texts:
            respectively = [t for t in doc if str(t) == "respectively"]
            last = respectively[-1]
            marked_as_tc.update(t for t in temps if last.i > t.i)
    else:
        for index_t, temp in enumerate(temps):
            if temp in marked_as_tc:
                continue

            # rule 2: Celsius (or anything not ending in K) rejected
            if not temp.text.rstrip().lower().endswith("k"):
                continue

            # rule 3: reject when followed by "higher"/"lower"
            for expr in NON_TC_EXPRESSIONS_AFTER:
                if temp.i + 1 < len(doc) and doc[temp.i + 1].text.lower() == expr:
                    marked_as_non_tc.add(temp)
                    break
            if temp in marked_as_non_tc:
                continue

            # rule 4: reject when preceded by a non-Tc expression
            for expr in NON_TC_EXPRESSIONS_BEFORE:
                width = len(expr.split(" "))
                if temp.i - width >= 0 and doc.slice_text(temp.i - width, temp.i) == expr:
                    marked_as_non_tc.add(temp)
                    break
            if temp in marked_as_non_tc:
                continue

            # rule 5: accept when preceded (with <=1 token slack) by a Tc
            # expression
            for expr in TC_EXPRESSIONS_BEFORE:
                width = len(expr.split(" "))
                if temp.i - width >= 0 and \
                        doc.slice_text(temp.i - width, temp.i).lower() == expr:
                    marked_as_tc.add(temp)
                    break
                if temp.i - width - 1 >= 0 and \
                        doc.slice_text(temp.i - width - 1, temp.i - 1).lower() == expr:
                    marked_as_tc.add(temp)
                    break
            if temp in marked_as_tc:
                continue

            # rule 6: accept when an extracted <tc> entity text occurs
            # between the previous temp and this temp (backward scan);
            # the scanned slices are single tokens, so compare token texts
            previous_temp_index = temps[index_t - 1].i if index_t > 0 else 0
            if any(doc[index].text in tc_texts
                   for index in range(temp.i - 1, previous_temp_index - 1, -1)):
                marked_as_tc.add(temp)

    for temp in marked_as_tc:
        temp.linkable = True
    return doc

