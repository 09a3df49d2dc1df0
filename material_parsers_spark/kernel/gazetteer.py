"""Dictionary/gazetteer matching (D1-D3, SURVEY.md §2.6).

Re-expresses the reference's spaCy EntityRuler path
(`service.py:293-318`, `structure_identifier/json_entity_ruler_reader.py`):
a token-level trie built once from the pattern dictionary and matched
case-insensitively (phrase_matcher_attr='LOWER') with leftmost-longest
semantics, returning original-case text and character offsets.

At Spark scale the pattern list is broadcast and each Python worker
builds its own trie from it once (``pipeline/extraction.py::
_worker_matcher``); matching runs batch-wise inside the Arrow extraction
UDF.
"""

from __future__ import annotations

import re
from itertools import permutations
from typing import Dict, Iterable, List, Optional

from .tokenizer import tokenize_and_filter


class TokenTrieMatcher:
    """Leftmost-longest multi-pattern matcher over filtered tokens."""

    _END = object()

    def __init__(self, patterns: Iterable[dict]):
        """``patterns``: dicts with ``pattern`` (phrase), ``label``, and
        optional ``type`` (the EntityRuler ent_id)."""
        self.trie: Dict = {}
        for entry in patterns:
            tokens, _ = tokenize_and_filter(entry["pattern"].lower())
            if not tokens:
                continue
            node = self.trie
            for token in tokens:
                node = node.setdefault(token, {})
            # first pattern wins on exact duplicates (reference pattern_set
            # dedup keeps the first occurrence)
            node.setdefault(self._END, {
                "label": entry.get("label", ""),
                "type": entry.get("type"),
            })

    def match(self, text: str) -> List[dict]:
        """Match against ``text``; returns entity dicts with original-case
        text and char offsets, non-overlapping, leftmost-longest."""
        tokens, offsets = tokenize_and_filter(text)
        return self.match_filtered(tokens, offsets, text)

    def match_filtered(self, tokens: List[str],
                       offsets: List[tuple], text: str) -> List[dict]:
        """Same as ``match`` over a pre-tokenized, blank-filtered stream —
        callers that already tokenized (the extraction kernel) avoid a
        second pass of the regex splitter."""
        lowered = [t.lower() for t in tokens]
        entities: List[dict] = []

        position = 0
        while position < len(lowered):
            node = self.trie
            best: Optional[tuple] = None
            cursor = position
            while cursor < len(lowered) and lowered[cursor] in node:
                node = node[lowered[cursor]]
                cursor += 1
                if self._END in node:
                    best = (cursor, node[self._END])
            if best is not None:
                end_token, meta = best
                start_char = offsets[position][0]
                end_char = offsets[end_token - 1][1]
                entities.append({
                    "text": text[start_char:end_char],
                    "label": f"<{meta['label']}>",
                    "start": start_char,
                    "end": end_char,
                    "type": meta["type"],
                })
                position = end_token
            else:
                position += 1

        return entities


_ELEMENT_AMOUNT = re.compile(r"([A-Za-z]{1,2})([0-9.]{0,3})")
_TYPE_SUFFIXES = ["-type", "- type", " - type", " -type"]


def crystal_structure_patterns(names: Iterable[str],
                               label: str = "crystal-structure") -> List[dict]:
    """D2: element-permutation x spacing-variant x -type suffix expansion
    (`json_entity_ruler_reader.py:171-264`). Names containing brackets are
    skipped like the reference."""
    patterns: List[dict] = []
    seen = set()

    def emit(pattern: str) -> None:
        if pattern not in seen:
            seen.add(pattern)
            patterns.append({"pattern": pattern, "label": label})

    for name in names:
        if not name or "(" in name or "[" in name:
            continue
        compound = []
        for part in name.split(" "):
            match = _ELEMENT_AMOUNT.match(part)
            if match and match.group():
                compound.append((match.group(1), match.group(2)))
        for perm in permutations(compound):
            compact = "".join(el + amt for el, amt in perm)
            spaced_amounts = " ".join(
                f"{el} {amt}" if amt else el for el, amt in perm)
            spaced = " ".join(el + amt for el, amt in perm)
            for base in (compact, spaced_amounts, spaced):
                for suffix in _TYPE_SUFFIXES:
                    emit(base + suffix)

    return patterns


def space_group_patterns(items: Iterable[dict],
                         label: str = "space-groups") -> List[dict]:
    """D3: underscore/slash spacing variants of space-group symbols plus
    lattice-type labels (`json_entity_ruler_reader.py:267-313`; the shipped
    patterns.jsonl labels these "unit-cell-type", which the deployed
    dictionary pins — the generator source says "lattice-type")."""
    patterns: List[dict] = []
    seen = set()
    structure_types = set()

    def emit(pattern: str, pattern_label: str, type_: Optional[str]) -> None:
        if pattern not in seen:
            seen.add(pattern)
            patterns.append(
                {"pattern": pattern, "label": pattern_label, "type": type_})

    for item in items:
        name = item.get("name", "")
        type_ = item.get("type")
        if type_:
            structure_types.add(type_)
        if not name:
            continue

        variants = [name]
        if "_" in name:
            variants.append(name.replace("_", " "))
            variants.append(name.replace("_", ""))
        slash_expanded = []
        if "/" in name:
            for variant in variants[1:]:
                slash_expanded.append(variant.replace("/", " /"))
                slash_expanded.append(variant.replace("/", " / "))
                slash_expanded.append(variant.replace("/", "/ "))
        variants.extend(slash_expanded)

        for variant in variants:
            emit(variant, label, type_)

    for structure_type in sorted(structure_types):
        emit(structure_type, "unit-cell-type", None)

    return patterns


def match_structures(matcher: TokenTrieMatcher, texts: List[str]) -> List[List[dict]]:
    """`/process/structure` projection (`service.py:293-318`): one entity
    list per input passage."""
    return [matcher.match(text) for text in texts]
