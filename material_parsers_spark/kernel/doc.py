"""Merged-token document model (operators T7-T8, X1-X3 in SURVEY.md §2.2/§2.9).

Replaces the reference's spaCy substrate (`linking/linking_module.py:39-297`)
with parallel arrays. After entity merging, the Tc classifier and the
resolvers need, per merged token, its text and character offset, and per
entity token also its token index (`i`), entity type and link attributes:
the surface spaCy Token exposes in the reference. ``MergedDoc`` keeps the
texts and offsets of all merged tokens in two lists and makes an object,
a ``MergedToken``, only for each entity. Noun-chunk merging (X2,
parser-dependent) is intentionally not replicated; the reference fixtures
are the arbiter (SURVEY.md §7.4.2).
"""

from __future__ import annotations

import hashlib
import re
from dataclasses import dataclass, field
from functools import lru_cache
from itertools import accumulate, compress
from operator import itemgetter
from typing import List, Optional, Tuple


@dataclass(slots=True, eq=False)
class MergedToken:
    """One entity token after merging; mirrors the spaCy Token surface.

    ``slots=True`` because the kernel makes one per entity at millions of
    turns per executor: slotted instances allocate faster and make every
    attribute read in the classifier/resolver hot loops a fixed-offset
    load instead of a dict lookup. ``eq=False`` keeps identity equality
    and the C-level identity hash, which the resolvers' sets and dicts
    call on every lookup."""

    text: str
    idx: int                   # character offset into the document text
    i: int = 0                 # token index after merging
    ent_type: str = ""
    id: Optional[str] = None
    links: list = field(default_factory=list)
    linkable: bool = False

    def __len__(self) -> int:  # spaCy Token.__len__ = character count
        return len(self.text)

    def __str__(self) -> str:
        return self.text


class MergedDoc:
    """Merged tokens as parallel lists, with spaCy Doc slice-text semantics.

    ``texts[k]`` is merged token ``k``'s text and ``starts[k]`` its
    character offset in ``text``; iterating the doc yields its entity
    tokens, in order, and ``len(doc)`` counts all merged tokens.
    ``separator_index`` is the resolvers' index of the separators in
    ``text``, built on first use (``resolvers.calculate_distances``)."""

    __slots__ = ("text", "texts", "starts", "entities", "separator_index")

    def __init__(self, text: str, texts: List[str], starts: List[int],
                 entities: List[MergedToken]):
        self.text = text
        self.texts = texts
        self.starts = starts
        self.entities = entities
        self.separator_index: Optional[tuple] = None

    def __iter__(self):
        return iter(self.entities)

    def __len__(self):
        return len(self.texts)

    def slice_text(self, start: int, end: int) -> str:
        """Text of merged tokens [start, end), ``0 <= start`` and
        ``end <= len(doc)``: from the first one's start to the last one's
        end, so trailing whitespace is stripped, matching spaCy
        ``doc[i:j].text``."""
        if start >= end:
            return ""
        return self.text[self.starts[start]:
                         self.starts[end - 1] + len(self.texts[end - 1])]

    def indices(self, text: str) -> List[int]:
        """Indices of the merged tokens whose text equals ``text``."""
        found, index = [], -1
        try:
            while True:
                index = self.texts.index(text, index + 1)
                found.append(index)
        except ValueError:
            return found


@lru_cache(maxsize=65536)
def compute_span_id(text: str, type_: str, offset_start, offset_end,
                    token_start, token_end, source: str = "") -> str:
    """Deterministic stand-in for the reference's salted ``hash()`` id
    (`data_model.py:80-87`); sha1-truncated for cross-process stability.
    Memoized: identical spans (same surface, type, position) recur heavily
    across a corpus — repeated entities at template-stable offsets — and
    the arguments are exactly the cache key."""
    payload = (f"{text}{type_}{offset_start}{offset_end}"
               f"{token_start}{token_end}{source}")
    return str(int(hashlib.sha1(payload.encode("utf-8")).hexdigest()[:15], 16))


# runs of two or more " " tokens, and a " " token that opens the document,
# over the "token is not a single space" mask
_SPACE_RUNS = re.compile(rb"\x00\x00+|^\x00")


def _word_mask(tokens: List[str]) -> bytes:
    """1 for each token that starts a word, 0 for each " " token folded
    into the word before it as its trailing space (T8,
    `linking_module.py:157-290`).

    A word takes the " " token after it as its trailing space. In a run of
    " " tokens the word before the run takes the first; the second starts
    a word of its own and takes the third, and so on. A document-initial
    " " token has no word before it: it starts a word and takes no space,
    so in a run at the document start the first two start words."""
    mask = bytes([token != " " for token in tokens])
    if not mask.startswith(b"\x00") and b"\x00\x00" not in mask:
        return mask
    unfolded = bytearray(mask)
    for run in _SPACE_RUNS.finditer(mask):
        start, end = run.span()
        unfolded[start + 1:end:2] = b"\x01" * len(range(start + 1, end, 2))
        if start == 0:
            unfolded[0] = 1
    return bytes(unfolded)


def _word_ranges(spans: List[dict], mask: bytes) -> List[list]:
    """``[word_start, word_end, span]`` for each span the reference's
    token conversion keeps, in its order (T8, `linking_module.py:157-290`).

    A span's raw token indices map to word indices: the number of words
    before them. The reference walks the tokens once with one current
    span, rewriting that span's indices in place, so its quirks carry
    over: a span still open at the last token ends before that token's
    word, a span the walk never reaches is dropped, a span that ends
    before it starts keeps its raw start, and the last span can be kept
    twice, both entries showing its final indices. This walk jumps
    between the indices where a branch can fire, so it costs O(spans)
    steps plus one O(tokens) count over the mask."""
    ranges: List[list] = []
    if not spans:
        return ranges
    last = len(mask) - 1
    pos = 0
    current = [spans[0]["token_start"], spans[0]["token_end"], spans[0]]
    inside = False
    index = counted = words = 0   # words = mask.count(1, 0, counted)
    while True:
        start, end = current[0], current[1]
        # the next index at which one of the three branches can fire
        event = last + 1
        if index <= start < event:
            event = start
        if index <= end < event:
            event = end
        if inside and index <= last < event:
            event = last
        if event > last:
            break
        index = event
        words += mask.count(1, counted, index)
        counted = index
        if index == start:
            current[0], inside = words, True
        elif index == end:
            current[1] = words
            ranges.append(current)
            inside = False
            if pos + 1 < len(spans):
                pos += 1
                span = spans[pos]
                current = [span["token_start"], span["token_end"], span]
                if index == current[0]:
                    current[0], inside = words, True
        elif inside:   # index == last
            current[1] = words
            ranges.append(current)
            inside = False
        index += 1
    if inside and len(ranges) != len(spans):
        current[1] = words + mask.count(1, counted)
        ranges.append(current)
    return ranges


def build_doc(tokens: List[str], spans: List[dict]) -> MergedDoc:
    """The merged-token doc of ``tokens`` (the kernel's token strings,
    space tokens included) and ``spans`` (dicts indexing ``tokens`` by
    ``token_start``/``token_end``): the reference's token conversion
    (T8) and ``init_doc`` (X1, `linking_module.py:61-121`) without the
    parser, and with no Python-level step per token.

    Single " " tokens fold into the word before them (``_word_mask``);
    the words and their offsets are ``compress``/``accumulate`` passes
    over the tokens. Each span the conversion keeps (``_word_ranges``, a
    walk over the spans) becomes ONE entity token over its words,
    carrying the span's type, id, links and ``linkable``; every other
    word is a plain merged token. ``doc.text`` is ``"".join(tokens)``.
    The spans are read, never written."""
    text = "".join(tokens)
    mask = _word_mask(tokens)
    words = list(compress(tokens, mask))
    offsets = list(compress(accumulate(map(len, tokens), initial=0), mask))

    texts: List[str] = []
    starts: List[int] = []
    entities: List[MergedToken] = []
    index = 0
    for start, end, span in sorted(_word_ranges(spans, mask),
                                   key=itemgetter(0)):
        if not index <= start < len(words):
            break
        texts += words[index:start]
        starts += offsets[index:start]
        idx = offsets[start]
        merged = (text[idx:offsets[end - 1] + len(words[end - 1])]
                  if end > start else "")
        span_id = span.get("id")
        entities.append(MergedToken(
            merged, idx, len(texts), span.get("type", ""),
            str(span_id) if span_id is not None else None,
            list(span.get("links") or []),
            bool(span.get("linkable", False))))
        texts.append(merged)
        starts.append(idx)
        index = end
    texts += words[index:]
    starts += offsets[index:]
    return MergedDoc(text, texts, starts, entities)


_SENTENCE_BOUNDARY = re.compile(r"[.!?]+[\s]+(?=[\"'(\[]?[A-Z])")


def split_sentences(text: str) -> List[str]:
    """Rule-based sentence splitter standing in for blingfire (T7).

    Boundary = terminator run followed by whitespace followed by an
    uppercase start. Calibrated against the reference's 8-sentence fixture
    (`tests/test_linking_module.py:11-33`); divergence risk documented in
    SURVEY.md §7.4.3.
    """
    sentences = []
    start = 0
    for match in _SENTENCE_BOUNDARY.finditer(text):
        chunk = text[start:match.end()].strip()
        if chunk:
            sentences.append(chunk)
        start = match.end()
    tail = text[start:].strip()
    if tail:
        sentences.append(tail)
    return sentences


def get_sentence_boundaries(words: List[str], spaces: List[bool]) -> List[Tuple[int, int]]:
    """Greedy sentence-to-token alignment (`linking_module.py:123-145`)."""
    offset = 0
    reconstructed = ""
    boundaries: List[Tuple[int, int]] = []
    text = "".join(
        words[i] + (" " if spaces[i] else "") for i in range(len(words))
    )

    for sent in split_sentences(text):
        start = offset
        for token_id in range(offset, len(words)):
            reconstructed += words[token_id]
            if spaces[token_id]:
                reconstructed += " "
            if len(reconstructed.rstrip()) == len(sent):
                offset += 1
                boundaries.append((start, offset))
                reconstructed = ""
                break
            offset += 1

    return boundaries
