"""Test-only reference for the linking stage: ``calculate_distances``,
``vicinity_resolution`` (with ``assign_in_order`` and
``assign_relationship_in_order``) and ``mark_linkable_temperatures`` as
they were before the linear-index rewrite of ``kernel/resolvers.py`` and
``kernel/tc_classifier.py``. They recompute each tc's neighbours per
(material, tc) pair, re-slice the doc text per pair and scan lists with
dataclass ``__eq__``, which is cubic in turn length; the differential
tests compare the kernel's links and ``linkable`` marks with them."""

from __future__ import annotations

from typing import Dict, List

from material_parsers_spark.kernel.doc import MergedDoc, MergedToken
from material_parsers_spark.kernel.resolvers import (
    CLOSING_PARENTHESIS,
    OPENING_PARENTHESIS,
    SEPARATORS,
    _centroid,
    find_closer_to_pivot,
    find_following_entity,
    find_previous_entity,
    link_spans,
)
from material_parsers_spark.kernel.tc_classifier import (
    NON_TC_EXPRESSIONS_AFTER,
    NON_TC_EXPRESSIONS_BEFORE,
    TC_EXPRESSIONS_BEFORE,
    TC_TYPES,
    TEMP_TYPES,
)


def calculate_distances(materials: List[MergedToken],
                        tc_values: List[MergedToken],
                        doc: MergedDoc) -> Dict[MergedToken, Dict[MergedToken, float]]:
    """J3: distance matrix with parenthesis expansion and separator penalty.

    (a) when the tc sits inside matched parentheses between neighbor
    materials, measure to the opening parenthesis plus half the wrapped text
    (reference's exact — unparenthesized — arithmetic);
    (b) x2 penalty when a separator occurs in the chunk between the pair.
    """
    mapping: Dict[MergedToken, Dict[MergedToken, float]] = {}

    for material in materials:
        pivot_centroid = _centroid(material)
        tc_distances: Dict[MergedToken, float] = {}

        for tc_value in tc_values:
            previous_material = find_previous_entity(tc_value, materials)
            following_material = find_following_entity(tc_value, materials)
            previous_index = previous_material.i if previous_material is not None else -1
            following_index = following_material.i if following_material is not None else len(doc)

            before_text = doc.slice_text(previous_index + 1, tc_value.i)
            after_text = doc.slice_text(tc_value.i + 1, following_index)
            opened = [p for p in OPENING_PARENTHESIS if p in before_text]
            closed = [p for p in CLOSING_PARENTHESIS if p in after_text]
            matched = [
                o for o in opened
                if CLOSING_PARENTHESIS[OPENING_PARENTHESIS.index(o)] in closed
            ]

            # a parenthesis inside a merged entity token is no standalone
            # token: without one on each side, measure unparenthesized
            openings = [t for t in doc[previous_index + 1: tc_value.i]
                        if str(t) in OPENING_PARENTHESIS] if matched else []
            closings = [t for t in doc[tc_value.i + 1: following_index]
                        if str(t) in CLOSING_PARENTHESIS] if matched else []

            if openings and closings:
                starting, ending = openings[0], closings[-1]
                wrapped_len = len(doc.slice_text(starting.i, ending.i))
                tc_distances[tc_value] = abs(
                    pivot_centroid - starting.idx + wrapped_len / 2
                )
                if material.i < tc_value.i:
                    chunk = doc.slice_text(material.i + 1, starting.i) \
                        if material.i + 1 < starting.i else ""
                else:
                    chunk = doc.slice_text(ending.i + 1, material.i) \
                        if ending.i + 1 < material.i else ""
            else:
                tc_distances[tc_value] = abs(pivot_centroid - _centroid(tc_value))
                if material.i < tc_value.i:
                    chunk = doc.slice_text(material.i + 1, tc_value.i) \
                        if material.i + 1 < tc_value.i else ""
                else:
                    chunk = doc.slice_text(tc_value.i + 1, material.i) \
                        if tc_value.i + 1 < material.i else ""

            if any(sep in chunk for sep in SEPARATORS):
                tc_distances[tc_value] *= 2

            mapping[material] = tc_distances

    return mapping


def assign_relationship_in_order(entities1: List[MergedToken],
                                 entities2: List[MergedToken]) -> List[tuple]:
    """J5: per-entity1 nearest unassigned entity2 by centroid distance."""
    assigned: List[MergedToken] = []
    relationships: List[tuple] = []

    if not entities1 or not entities2:
        return relationships

    for material in entities1:
        material_centroid = _centroid(material)
        sorted_values = entities2
        if len(entities2) > 1:
            sorted_values = [
                tc for _, tc in sorted(
                    ((abs(material_centroid - _centroid(tc)), pos), tc)
                    for pos, tc in enumerate(entities2)
                )
            ]

        i = 0
        while i < len(sorted_values) - 1 and sorted_values[i] in assigned:
            i += 1
        if sorted_values[i] not in assigned:
            assigned.append(sorted_values[i])
            assigned.append(material)
            relationships.append(link_spans(material, sorted_values[i], "vicinity"))

    return relationships


def assign_in_order(entities1: List[MergedToken],
                    entities2: List[MergedToken]) -> List[tuple]:
    """J4: positional pairing for "respectively" sentences, trimming the
    longer list head/tail depending on which side comes first."""
    if not entities1 or not entities2:
        return []
    if len(entities1) == len(entities2):
        return assign_relationship_in_order(entities1, entities2)
    if len(entities1) > len(entities2):
        if entities1[0].idx < entities2[0].idx:
            return assign_relationship_in_order(entities1[-len(entities2):], entities2)
        return assign_relationship_in_order(entities1[:len(entities2)], entities2)
    if entities1[0].idx < entities2[0].idx:
        return assign_relationship_in_order(entities1, entities2[:len(entities1)])
    return assign_relationship_in_order(entities1, entities2[-len(entities1):])


def vicinity_resolution(doc: MergedDoc,
                        destination_entities: List[MergedToken],
                        source_entities: List[MergedToken]) -> List[tuple]:
    """J2: greedy nearest-neighbor bipartite assignment
    (`relationships_resolver.py:51-131`)."""
    relationships: List[tuple] = []

    if len(destination_entities) < 1 or len(source_entities) < 1:
        return relationships

    if len(source_entities) == 1:
        closer = find_closer_to_pivot(source_entities[0], destination_entities)
        relationships.append(link_spans(closer, source_entities[0], "vicinity"))
    elif len(destination_entities) == 1:
        closer = find_closer_to_pivot(destination_entities[0], source_entities)
        relationships.append(link_spans(destination_entities[0], closer, "vicinity"))
    elif "respectively" in str(doc):
        respectively_tokens = [t for t in doc if str(t) == "respectively"]
        if len(respectively_tokens) == 1:
            relationships.extend(assign_in_order(destination_entities, source_entities))
        else:
            previous_index = 0
            for resp in respectively_tokens:
                reduced1 = [t for t in destination_entities
                            if resp.i > t.i > previous_index]
                reduced2 = [t for t in source_entities
                            if resp.i > t.i > previous_index]
                relationships.extend(assign_in_order(reduced1, reduced2))
                previous_index = resp.i
    else:
        assigned: List[MergedToken] = []
        material_tc = calculate_distances(destination_entities, source_entities, doc)

        tc_material: Dict[MergedToken, Dict[MergedToken, float]] = {}
        for material, distances in material_tc.items():
            for tc, distance in distances.items():
                tc_material.setdefault(tc, {})[material] = distance

        if len(destination_entities) <= len(source_entities):
            for material, distances in material_tc.items():
                candidates = {tc: d for tc, d in distances.items()
                              if tc not in assigned}
                tc = min(candidates, key=candidates.get)
                if material not in assigned and tc not in assigned:
                    relationships.append(link_spans(material, tc, "distance"))
                    assigned.extend((material, tc))
        else:
            for tc, distances in tc_material.items():
                candidates = {m: d for m, d in distances.items()
                              if m not in assigned}
                material = min(candidates, key=candidates.get)
                if material not in assigned and tc not in assigned:
                    relationships.append(link_spans(material, tc, "distance"))
                    assigned.extend((material, tc))

    return relationships


def mark_linkable_temperatures(doc: MergedDoc) -> MergedDoc:
    """Rule cascade; sets ``linkable`` on qualifying temperature tokens."""
    temps = [t for t in doc if t.ent_type in TEMP_TYPES]
    if not temps:
        return doc

    tc_expressions = [t for t in doc if t.ent_type in TC_TYPES]

    marked_as_tc = []
    marked_as_non_tc = []

    if "respectively" in str(doc):
        # rule 1: with a tc expression present, every temp before the last
        # "respectively" is linkable
        if tc_expressions:
            respectively = [t for t in doc if str(t) == "respectively"]
            last = respectively[-1]
            marked_as_tc.extend(t for t in temps if last.i > t.i)
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
                    marked_as_non_tc.append(temp)
                    break
            if temp in marked_as_non_tc:
                continue

            # rule 4: reject when preceded by a non-Tc expression
            for expr in NON_TC_EXPRESSIONS_BEFORE:
                width = len(expr.split(" "))
                if temp.i - width >= 0 and doc.slice_text(temp.i - width, temp.i) == expr:
                    marked_as_non_tc.append(temp)
                    break
            if temp in marked_as_non_tc:
                continue

            # rule 5: accept when preceded (with <=1 token slack) by a Tc
            # expression
            for expr in TC_EXPRESSIONS_BEFORE:
                width = len(expr.split(" "))
                if temp.i - width >= 0 and \
                        doc.slice_text(temp.i - width, temp.i).lower() == expr:
                    marked_as_tc.append(temp)
                    break
                if temp.i - width - 1 >= 0 and \
                        doc.slice_text(temp.i - width - 1, temp.i - 1).lower() == expr:
                    marked_as_tc.append(temp)
                    break
            if temp in marked_as_tc:
                continue

            # rule 6: accept when an extracted <tc> entity text occurs
            # between the previous temp and this temp (backward scan)
            for tc in tc_expressions:
                expression_length = 1
                start = temp.i
                previous_temp_index = temps[index_t - 1].i if index_t > 0 else 0
                index = start - expression_length
                matched = False
                while index >= max(0, previous_temp_index):
                    if doc.slice_text(index, start) == tc.text:
                        marked_as_tc.append(temp)
                        matched = True
                        break
                    start -= 1
                    index = start - expression_length
                if matched:
                    break

    for temp in marked_as_tc:
        temp.linkable = True
    return doc
