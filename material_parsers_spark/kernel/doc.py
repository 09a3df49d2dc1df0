"""Merged-token document model (operators T7-T8, X1-X3 in SURVEY.md §2.2/§2.9).

Replaces the reference's spaCy substrate (`linking/linking_module.py:39-297`)
with a plain parser-free token array. After entity merging, all downstream
code (Tc classifier, resolvers) only needs, per token: its text, character
offset (`idx`), token index (`i`), entity type, and link attributes — exactly
the surface spaCy Token exposes in the reference. Noun-chunk merging (X2,
parser-dependent) is intentionally not replicated; the reference fixtures are
the arbiter (SURVEY.md §7.4.2).
"""

from __future__ import annotations

import hashlib
import re
from dataclasses import dataclass, field, replace
from functools import lru_cache
from typing import List, Optional, Tuple


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


@lru_cache(maxsize=65536)
def compute_span_id(text: str, type_: str, offset_start, offset_end,
                    token_start, token_end, source: str = "") -> str:
    """Deterministic stand-in for the reference's salted ``hash()`` id
    (`data_model.py:80-87`); sha1-truncated for cross-process stability.
    Memoized: identical spans (same surface, type, position) recur heavily
    across a corpus — repeated entities at template-stable offsets — and
    the arguments are exactly the cache key."""
    payload = "".join(
        str(part) for part in
        [text, type_, offset_start, offset_end, token_start, token_end, source]
    )
    return str(int(hashlib.sha1(payload.encode("utf-8")).hexdigest()[:15], 16))


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
