"""Test-only reference for the link stage: ``link_paragraph`` as the
kernel ran it before the array-backed doc, over its own doc model.

- ``convert_tokens`` and ``build_doc`` make the object-per-token doc: the
  Grobid tokens fold into (words, spaces), and every word and entity
  becomes a ``MergedToken``.
- ``calculate_distances``, ``vicinity_resolution`` (with
  ``assign_in_order`` and ``assign_relationship_in_order``) and
  ``mark_linkable_temperatures`` are the resolver and classifier as they
  were before the linear-index rewrite of ``kernel/resolvers.py`` and
  ``kernel/tc_classifier.py``. They recompute each tc's neighbours per
  (material, tc) pair, re-slice the doc text per pair and scan lists with
  dataclass ``__eq__``, which is cubic in turn length.
- ``merge_phrase_spans`` is the noun-chunk merge mechanism (X2) over this
  doc model, for ``tests/test_reference_differential.py``.

The differential tests compare the kernel's docs, links, ``linkable``
marks and distances with these."""

from __future__ import annotations

from dataclasses import dataclass, field, replace
from typing import Dict, List, Optional, Tuple

from material_parsers_spark.kernel.resolvers import (
    CLOSING_PARENTHESIS,
    OPENING_PARENTHESIS,
    SEPARATORS,
    _centroid,
    find_closer_to_pivot,
    find_following_entity,
    find_previous_entity,
    link_spans,
    simple_resolution,
)
from material_parsers_spark.kernel.tc_classifier import (
    NON_TC_EXPRESSIONS_AFTER,
    NON_TC_EXPRESSIONS_BEFORE,
    TC_EXPRESSIONS_BEFORE,
    TC_TYPES,
    TEMP_TYPES,
)
from material_parsers_spark.kernel.turns import LINK_CONFIGS


@dataclass(slots=True)
class MergedToken:
    """One token after entity merging; mirrors the spaCy Token surface.

    ``slots=True`` because the kernel allocates tens of these per turn at
    millions of turns per executor: slotted instances allocate faster and
    make every attribute read in the classifier/resolver hot loops a
    fixed-offset load instead of a dict lookup."""

    text: str
    idx: int                   # character offset into the document text
    i: int = 0                 # token index after merging
    whitespace: bool = False   # trailing space
    ent_type: str = ""         # "" for plain tokens
    id: Optional[str] = None
    links: list = field(default_factory=list)
    linkable: bool = False
    formatted_text: str = ""
    bounding_boxes: list = field(default_factory=list)

    def __len__(self) -> int:  # spaCy Token.__len__ = character count
        return len(self.text)

    def __str__(self) -> str:
        return self.text

    def __hash__(self):
        return id(self)

    @property
    def text_with_ws(self) -> str:
        return self.text + (" " if self.whitespace else "")


class MergedDoc:
    """Token sequence with spaCy Doc slice-text semantics."""

    def __init__(self, tokens: List[MergedToken]):
        self.tokens = tokens
        for index, token in enumerate(tokens):
            token.i = index
        # token TEXTS are immutable after construction (only ent/link
        # attrs mutate), so the document text is computed once and
        # slices are O(1) char ranges into it via token offsets
        self._text: Optional[str] = None

    def __iter__(self):
        return iter(self.tokens)

    def __len__(self):
        return len(self.tokens)

    def __getitem__(self, key):
        return self.tokens[key]

    def slice_text(self, start: int, end: int) -> str:
        """Text of tokens [start, end) — trailing whitespace stripped,
        matching spaCy ``doc[i:j].text``."""
        start = max(start, 0)
        toks = self.tokens[start:end]
        if not toks:
            return ""
        last = toks[-1]
        return self.text[toks[0].idx:last.idx + len(last.text)]

    @property
    def text(self) -> str:
        if self._text is None:
            self._text = "".join(t.text_with_ws for t in self.tokens)
        return self._text

    def __str__(self) -> str:
        return self.text


def build_doc(words: List[str], spaces: List[bool], spans: List[dict]) -> MergedDoc:
    """init_doc equivalent (`linking_module.py:61-121`) without the parser.

    Each span [token_start, token_end) over ``words`` becomes ONE merged
    token carrying the span attributes; all other words become plain tokens.
    Character offsets are accumulated from words+spaces.
    """
    offsets = []
    offset = 0
    for word, space in zip(words, spaces):
        offsets.append(offset)
        offset += len(word) + (1 if space else 0)

    boundaries = sorted(spans, key=lambda s: s["token_start"])
    merged: List[MergedToken] = []
    index = 0
    span_pos = 0
    while index < len(words):
        span = boundaries[span_pos] if span_pos < len(boundaries) else None
        if span is not None and index == span["token_start"]:
            end = span["token_end"]
            text = "".join(
                words[k] + (" " if spaces[k] and k < end - 1 else "")
                for k in range(index, end)
            )
            merged.append(MergedToken(
                text=text,
                idx=offsets[index],
                whitespace=spaces[end - 1],
                ent_type=span.get("type", ""),
                id=str(span["id"]) if span.get("id") is not None else None,
                links=list(span.get("links") or []),
                linkable=bool(span.get("linkable", False)),
                formatted_text=span.get("formattedText", "") or "",
                bounding_boxes=list(span.get("boundingBoxes") or []),
            ))
            index = end
            span_pos += 1
        else:
            merged.append(MergedToken(
                text=words[index], idx=offsets[index],
                whitespace=spaces[index],
            ))
            index += 1

    return MergedDoc(merged)


def merge_phrase_spans(doc: MergedDoc,
                       phrase_spans: List[Tuple[int, int]]) -> MergedDoc:
    """X2: noun-chunk merging mechanism (`linking_module.py:99-117,292-297`).

    Merge each token span [start, end) into ONE plain token, exactly like
    the reference's retokenizer.merge over noun chunks: merged text is the
    covered text (internal whitespace kept, trailing whitespace becomes the
    merged token's flag), char offsets of every other token are unchanged.
    Spans must not overlap each other or entity tokens (the reference
    skips entity-overlapping chunks; overlapping merges raise there too).

    The chunk SELECTION in the reference comes from en_core_web_sm's
    statistical parser and is not reproducible without the model; this
    function provides the merge semantics so any selector can be plugged
    in (see tests/test_reference_differential.py for the proof that no
    selection changes resolver distances).
    """
    ordered = sorted(phrase_spans)
    for (a, b), (c, _) in zip(ordered, ordered[1:]):
        if c < b:
            raise ValueError(f"overlapping phrase spans: ({a},{b}) ({c},_)")
    out: List[MergedToken] = []
    index = 0
    pos = 0
    while index < len(doc.tokens):
        span = ordered[pos] if pos < len(ordered) else None
        if span is not None and index == span[0]:
            start, end = span
            toks = doc.tokens[start:end]
            if any(t.ent_type for t in toks):
                raise ValueError(
                    f"phrase span ({start},{end}) overlaps an entity token")
            out.append(MergedToken(
                text="".join(t.text_with_ws for t in toks[:-1])
                     + toks[-1].text,
                idx=toks[0].idx,
                whitespace=toks[-1].whitespace,
            ))
            index = end
            pos += 1
        else:
            # copy: MergedDoc.__init__ rewrites token.i, and the input
            # doc must keep its own indices
            out.append(replace(doc.tokens[index]))
            index += 1
    return MergedDoc(out)


def convert_tokens(tokens: List[dict], spans: List[dict]) -> Tuple[List[str], List[bool], List[dict]]:
    """Grobid-token -> (words, spaces, remapped spans) conversion (T8).

    Re-expresses `linking_module.py:157-290`: single space tokens following a
    word are folded into a trailing-space flag; span token indexes are
    remapped to the compacted array in the same pass. Mutates the span dicts
    like the reference (callers copy first).
    """
    out_words: List[str] = []
    out_spaces: List[bool] = []
    out_spans: List[dict] = []

    skip = False
    inside = False
    new_index = 0
    span_pos = 0
    span = spans[span_pos] if spans else None

    for index, token in enumerate(tokens):
        if span is not None:
            if index == span["token_start"]:
                span["token_start"] = new_index
                inside = True
            elif index == span["token_end"]:
                span["token_end"] = new_index
                out_spans.append(span)
                inside = False
                if span_pos + 1 < len(spans):
                    span_pos += 1
                    span = spans[span_pos]
                    if index == span["token_start"]:
                        span["token_start"] = new_index
                        inside = True
            elif index + 1 == len(tokens) and inside:
                # last token and the entity is still open
                span["token_end"] = new_index
                out_spans.append(span)
                inside = False

        if skip:
            skip = False
            continue

        text = token["text"]
        out_words.append(text)
        # every token folds a following single-space token into its
        # whitespace flag — except a document-initial space token, which the
        # reference emits with space=False unconditionally
        if (
            (index > 0 or text != " ")
            and index + 1 < len(tokens)
            and tokens[index + 1]["text"] == " "
        ):
            out_spaces.append(True)
            skip = True
        else:
            out_spaces.append(False)

        new_index += 1

    if inside and len(out_spans) != len(spans):
        span["token_end"] = new_index
        out_spans.append(span)

    return out_words, out_spaces, out_spans


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


def link_paragraph(tokens: List[str], spans: List[dict]) -> None:
    """The link stage over this module's doc: converted span copies, one
    doc for every configuration, links appended to ``spans`` by id."""
    words, spaces, remapped = convert_tokens(
        [{"text": token} for token in tokens],
        [dict(span) for span in spans])
    doc = mark_linkable_temperatures(build_doc(words, spaces, remapped))

    entity_tokens = [t for t in doc if t.ent_type]
    spans_by_id = {str(span["id"]): span for span in spans}
    for token in entity_tokens:
        span = spans_by_id.get(str(token.id))
        if span is not None:
            span["linkable"] = token.linkable
    base_linkable = [t.linkable for t in entity_tokens]

    for source_type, destination_type, forced_types in LINK_CONFIGS:
        for token, linkable in zip(entity_tokens, base_linkable):
            token.linkable = linkable or token.ent_type in forced_types
            token.links = []

        destinations = [t for t in entity_tokens
                        if t.ent_type == destination_type and t.linkable]
        sources = [t for t in entity_tokens
                   if t.ent_type == source_type and t.linkable]
        if not destinations or not sources:
            continue

        if not simple_resolution(destinations, sources):
            vicinity_resolution(doc, destinations, sources)

        for token in entity_tokens:
            if not token.links or str(token.id) not in spans_by_id:
                continue
            links = spans_by_id[str(token.id)].setdefault("links", [])
            for link in token.links:
                if link not in links:
                    links.append(link)
