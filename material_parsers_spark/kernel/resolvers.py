"""Entity-linking resolvers (operators J1-J6, J10 in SURVEY.md §2.7).

Re-expresses `linking/relationships_resolver.py` over the merged-token doc
model. The resolvers link across whatever doc they are given:
`kernel/turns.py::link_paragraph` builds one doc per turn (one per
paragraph for `service.process_link`), so a link can join entities in
different sentences of that turn. Distances are character-centroid
based and must match the reference's golden values digit-for-digit
(`tests/test_relationship_resolver.py:425-468`: 7.5, 18, 27.0, 23.5) —
including the reference's unparenthesized ``abs(pivot - start_idx + L/2)``
distance for parenthesis-wrapped values. Plain tokens are read by index
from ``doc.texts``/``doc.starts``; only entities are ``MergedToken``s.

Cost over a doc of n characters with M materials and T Tc values:
``calculate_distances`` is O(n + M·T). Each tc's neighbour materials,
parenthesis window and anchor are found once (O(M) plus the window), and
each (material, tc) pair's separator test is one compare: the "first
separator end from here" of the chunk's start, looked up once per tc and
once per material by bisection in the index of the doc's separator
occurrences, built once per doc. The greedy assignment in
``vicinity_resolution`` is O(M·T): ``assigned`` is a set, and
``MergedToken`` hashes by identity, so a lookup calls no dataclass
``__eq__``.
"""

from __future__ import annotations

import math
from bisect import bisect_left
from itertools import accumulate
from typing import Dict, List, Optional, Set, Tuple

from .doc import MergedDoc, MergedToken

SEPARATORS = [",", ".", ";", "and", "but", "while", "whereas", "which", "although"]

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


def _separator_index(text: str) -> Tuple[List[int], List[int]]:
    """Every occurrence of a ``SEPARATORS`` entry in ``text``, overlapping
    ones included, as ``(starts, ends)``: the occurrence starts in order,
    and ``ends[k]`` the smallest end of occurrence k and the ones after
    it. ``text[s:e]`` holds a separator iff an occurrence starting at or
    after s ends at or before e (``_separator_end(index, s) <= e``), the
    substring semantics of ``sep in chunk`` ("and" matches in "band")."""
    occurrences = []
    for separator in SEPARATORS:
        start = text.find(separator)
        while start >= 0:
            occurrences.append((start, start + len(separator)))
            start = text.find(separator, start + 1)
    occurrences.sort()
    ends = list(accumulate(reversed([end for _, end in occurrences]), min))
    return [start for start, _ in occurrences], ends[::-1]


def _separator_end(index: Tuple[List[int], List[int]],
                   position: int) -> float:
    """The smallest end of a separator occurrence starting at or after
    ``position``, or infinity."""
    starts, ends = index
    k = bisect_left(starts, position)
    return ends[k] if k < len(ends) else math.inf


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
    the doc's ``_separator_index``, built on its first call.
    """
    if doc.separator_index is None:
        doc.separator_index = _separator_index(doc.text)
    separators = doc.separator_index
    texts, starts = doc.texts, doc.starts

    def end_of(index: int) -> int:
        """Character end of merged token ``index``."""
        return starts[index] + len(texts[index])

    # the chunk between a pair is the slice of the tokens strictly between
    # the material and the tc's anchor window; it holds a separator iff
    # the first separator end from the chunk's start is <= the chunk's
    # end. Per tc: the window [left, right), the distance terms of
    # abs(pivot_centroid - offset + half), the end of the chunk left of
    # the window and the separator end from the chunk right of it.
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
        starting = ending = None
        if matched:
            starting = next((k for k in range(previous_index + 1, tc_value.i)
                             if texts[k] in OPENING_PARENTHESIS), None)
            ending = next((k for k in range(following_index - 1, tc_value.i, -1)
                           if texts[k] in CLOSING_PARENTHESIS), None)

        if starting is not None and ending is not None:
            wrapped_len = len(doc.slice_text(starting, ending))
            left, right = starting, ending + 1
            offset, half = starts[starting], wrapped_len / 2
        else:
            # x + 0 == x exactly, so this is abs(pivot - centroid)
            left, right = tc_value.i, tc_value.i + 1
            offset, half = _centroid(tc_value), 0
        anchors.append((
            tc_value, left, right, offset, half,
            end_of(left - 1) if left > 0 else -1,
            _separator_end(separators, starts[right])
            if right < len(doc) else math.inf,
        ))

    mapping: Dict[MergedToken, Dict[MergedToken, float]] = {}
    for material in materials:
        pivot_centroid = _centroid(material)
        i = material.i
        # the separator end from the chunk right of the material, and the
        # end of the chunk left of it
        after = (_separator_end(separators, starts[i + 1])
                 if i + 1 < len(doc) else math.inf)
        before = end_of(i - 1) if i > 0 else -1
        tc_distances: Dict[MergedToken, float] = {}
        for tc_value, left, right, offset, half, left_end, right_separator \
                in anchors:
            distance = abs(pivot_centroid - offset + half)
            if i < tc_value.i:
                separated = i + 1 < left and after <= left_end
            else:
                separated = right < i and right_separator <= before
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
    elif "respectively" in doc.text:
        respectively = doc.indices("respectively")
        if len(respectively) == 1:
            relationships.extend(assign_in_order(destination_entities, source_entities))
        else:
            previous_index = 0
            for resp in respectively:
                reduced1 = [t for t in destination_entities
                            if resp > t.i > previous_index]
                reduced2 = [t for t in source_entities
                            if resp > t.i > previous_index]
                relationships.extend(assign_in_order(reduced1, reduced2))
                previous_index = resp
    else:
        assigned: Set[MergedToken] = set()
        material_tc = calculate_distances(destination_entities, source_entities, doc)

        if len(destination_entities) <= len(source_entities):
            for material, distances in material_tc.items():
                candidates = {tc: d for tc, d in distances.items()
                              if tc not in assigned}
                tc = min(candidates, key=candidates.get)
                if material not in assigned and tc not in assigned:
                    relationships.append(link_spans(material, tc, "distance"))
                    assigned.update((material, tc))
        else:
            tc_material: Dict[MergedToken, Dict[MergedToken, float]] = {}
            for material, distances in material_tc.items():
                for tc, distance in distances.items():
                    tc_material.setdefault(tc, {})[material] = distance
            for tc, distances in tc_material.items():
                candidates = {m: d for m, d in distances.items()
                              if m not in assigned}
                material = min(candidates, key=candidates.get)
                if material not in assigned and tc not in assigned:
                    relationships.append(link_spans(material, tc, "distance"))
                    assigned.update((material, tc))

    return relationships
