"""Entity-linking resolvers (operators J1-J6, J10 in SURVEY.md §2.7).

Re-expresses `linking/relationships_resolver.py` over the merged-token doc
model. The resolvers link across whatever doc they are given:
`kernel/turns.py::link_paragraph` builds one doc per turn (one per
paragraph for `service.process_link`), so a link can join entities in
different sentences of that turn. Distances are character-centroid
based and must match the reference's golden values digit-for-digit
(`tests/test_relationship_resolver.py:425-468`: 7.5, 18, 27.0, 23.5) —
including the reference's unparenthesized ``abs(pivot - start_idx + L/2)``
distance for parenthesis-wrapped values.

Cost over a doc of n characters with M materials and T Tc values:
``calculate_distances`` is O(n + M·T). Each tc's neighbour materials,
parenthesis window and anchor are found once (O(M) plus the window), and
each (material, tc) pair's separator test is one lookup in an O(n)
"nearest separator end from here" index. The greedy assignment in
``vicinity_resolution`` is O(M·T): ``assigned`` is a set, and
``MergedToken`` hashes by identity, so a lookup calls no dataclass
``__eq__``.
"""

from __future__ import annotations

import math
import re
from itertools import accumulate
from typing import Dict, List, Optional, Set, Tuple

from .doc import MergedDoc, MergedToken

SEPARATORS = [",", ".", ";", "and", "but", "while", "whereas", "which", "although"]
# every start of a separator occurrence, overlapping ones included; the
# shortest separator that matches at a start comes first
_SEPARATOR_STARTS = re.compile("(?=(%s))" % "|".join(
    re.escape(sep) for sep in sorted(SEPARATORS, key=len)))

OPENING_PARENTHESIS = ["(", "[", "{"]
CLOSING_PARENTHESIS = [")", "]", "}"]


def _centroid(token: MergedToken) -> float:
    return token.idx + len(token) / 2


def link_spans(entity1: MergedToken, entity2: MergedToken,
               linking_type: str) -> Tuple[MergedToken, MergedToken]:
    """Append a link onto BOTH endpoints, deduplicating identical links
    (J10, `relationships_resolver.py:5-33`)."""
    forward = {
        "targetId": entity2.id,
        "targetText": entity2.text,
        "targetType": entity2.ent_type,
        "type": linking_type,
    }
    if forward not in entity1.links:
        entity1.links.append(forward)

    backward = {
        "targetId": entity1.id,
        "targetText": entity1.text,
        "targetType": entity1.ent_type,
        "type": linking_type,
    }
    if backward not in entity2.links:
        entity2.links.append(backward)

    return entity1, entity2


def simple_resolution(entities1: List[MergedToken],
                      entities2: List[MergedToken]) -> List[tuple]:
    """J1: link iff exactly one entity on each side."""
    if len(entities1) == 1 and len(entities2) == 1:
        return [link_spans(entities1[0], entities2[0], "simple")]
    return []


def find_closer_to_pivot(pivot: MergedToken,
                         items: List[MergedToken]) -> Optional[MergedToken]:
    """J6: nearest item to the pivot by character centroid."""
    pivot_centroid = _centroid(pivot)
    best_index, best_distance = -1, 0.0
    for index, item in enumerate(items):
        distance = abs(_centroid(item) - pivot_centroid)
        if index == 0 or distance < best_distance:
            best_index, best_distance = index, distance
    return items[best_index] if best_index > -1 else None


def find_previous_entity(pivot: MergedToken, items: List[MergedToken],
                         entity_type: Optional[str] = None) -> Optional[MergedToken]:
    before = [item for item in items if item.idx < pivot.idx]
    if entity_type:
        before = [item for item in before if item.ent_type == entity_type]
    return find_closer_to_pivot(pivot, before)


def find_following_entity(pivot: MergedToken, items: List[MergedToken],
                          entity_type: Optional[str] = None) -> Optional[MergedToken]:
    after = [item for item in items if item.idx > pivot.idx]
    if entity_type:
        after = [item for item in after if item.ent_type == entity_type]
    return find_closer_to_pivot(pivot, after)


def _separator_ends(text: str) -> List[float]:
    """For each position p of ``text`` (and one past its end), the smallest
    end of a ``SEPARATORS`` occurrence that starts at or after p, or
    infinity. ``text[s:e]`` holds a separator iff ``ends[s] <= e``, with
    the substring semantics of ``sep in chunk`` ("and" matches in "band")."""
    ends: List[float] = [math.inf] * (len(text) + 1)
    for match in _SEPARATOR_STARTS.finditer(text):
        ends[match.start()] = match.start() + len(match.group(1))
    return list(accumulate(reversed(ends), min))[::-1]


def calculate_distances(materials: List[MergedToken],
                        tc_values: List[MergedToken],
                        doc: MergedDoc) -> Dict[MergedToken, Dict[MergedToken, float]]:
    """J3: distance matrix with parenthesis expansion and separator penalty.

    (a) when the tc sits inside matched parentheses between neighbor
    materials, measure to the opening parenthesis plus half the wrapped text
    (reference's exact — unparenthesized — arithmetic);
    (b) x2 penalty when a separator occurs in the chunk between the pair.

    Each tc's neighbour materials, parenthesis window and anchor are
    computed once, and each pair's separator test is one lookup in
    ``_separator_ends``.
    """
    separator_ends = _separator_ends(doc.text)

    def has_separator(start: int, end: int) -> bool:
        """Whether ``doc.slice_text(start, end)`` holds a separator."""
        if start >= end:
            return False
        last = doc[end - 1]
        return separator_ends[doc[start].idx] <= last.idx + len(last.text)

    # per tc: the chunk bounds (the opening parenthesis or the tc, the
    # token after the closing parenthesis or after the tc) and the
    # distance terms: abs(pivot_centroid - offset + half)
    anchors = []
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
            anchors.append((starting.i, ending.i + 1, starting.idx,
                            wrapped_len / 2))
        else:
            # x + 0 == x exactly, so this is abs(pivot - centroid)
            anchors.append((tc_value.i, tc_value.i + 1, _centroid(tc_value),
                            0))

    mapping: Dict[MergedToken, Dict[MergedToken, float]] = {}
    for material in materials:
        pivot_centroid = _centroid(material)
        tc_distances: Dict[MergedToken, float] = {}
        for tc_value, (left, right, offset, half) in zip(tc_values, anchors):
            distance = abs(pivot_centroid - offset + half)
            if material.i < tc_value.i:
                separated = has_separator(material.i + 1, left)
            else:
                separated = has_separator(right, material.i)
            tc_distances[tc_value] = distance * 2 if separated else distance
        if tc_values:
            mapping[material] = tc_distances

    return mapping


def assign_relationship_in_order(entities1: List[MergedToken],
                                 entities2: List[MergedToken]) -> List[tuple]:
    """J5: per-entity1 nearest unassigned entity2 by centroid distance."""
    assigned: Set[MergedToken] = set()
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
            assigned.update((sorted_values[i], material))
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
        assigned: Set[MergedToken] = set()
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
                    assigned.update((material, tc))
        else:
            for tc, distances in tc_material.items():
                candidates = {m: d for m, d in distances.items()
                              if m not in assigned}
                material = min(candidates, key=candidates.get)
                if material not in assigned and tc not in assigned:
                    relationships.append(link_spans(material, tc, "distance"))
                    assigned.update((material, tc))

    return relationships
