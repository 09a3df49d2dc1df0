"""Deterministic offset-stable tokenizer (operator T1/T2 in SURVEY.md §2.2).

Re-expresses the delimiter-retaining tokenizer of the reference
(`material_parsers/commons/grobid_tokenizer.py:8-79`): a capture-group split
over ~40 delimiter characters (delimiters are kept as tokens) followed by a
letter<->digit boundary split, with accumulated character offsets.

The functions here are pure and row-independent, which is what lets the Spark
layer run them inside Arrow UDFs (one Python call per batch, never per
row).
"""

from __future__ import annotations

import re
from typing import List, Tuple

# Delimiter character inventory (kept as tokens). Same closed set the
# reference uses; includes NBSP, various unicode dashes/quotes and math signs.
DELIMITERS = (
    "\n\r\t\f ([ ^%‰°•⋅·,:;?.!/)-–−"
    "‐=≈~∼<>+\"“”‘’'`#$]*"
    "♦♥♣♠ "
)

_DELIM_ALTERNATION = "|".join(map(re.escape, DELIMITERS))
# zero-width split points between a letter and a digit (either direction)
_SECOND_STEP = r"(?<=[a-zA-Z])(?=\d)|(?<=\d)(?=\D)"

PATTERN = re.compile("(" + _DELIM_ALTERNATION + "|" + _SECOND_STEP + ")")

BLANKS = " \t\n"

# shared whitespace-token set for OUR tagger stages (rule tagger, matrix
# tagger): every whitespace char the DELIMITERS above emit as standalone
# tokens. Deliberately broader than BLANKS: BLANKS mirrors the
# reference's T2 filter exactly (grobid_tokenizer.py:17 `blanks =
# ' \t\n'`) and must stay that way for parity in tokenize_and_filter /
# kernel/turns.py; the taggers are our own stand-ins with no reference
# counterpart, so they use the complete set.
WHITESPACE_TOKENS = frozenset({" ", "\t", "\n", "\r", "\f", " "})


def tokenize(text: str) -> Tuple[List[str], List[Tuple[int, int]]]:
    """Split ``text`` into tokens, keeping delimiters, with char offsets.

    Returns ``(tokens, offsets)`` where ``offsets[i] = (start, end)`` are
    character offsets into ``text`` and ``end - start == len(tokens[i])``.
    Offsets are cumulative, so ``"".join(tokens) == text``.
    """
    offset = 0
    offsets: List[Tuple[int, int]] = []
    tokens: List[str] = []
    for match in PATTERN.split(text):
        if not match:
            continue
        tokens.append(match)
        offsets.append((offset, offset + len(match)))
        offset += len(match)
    return tokens, offsets


def tokenize_simple(text: str) -> List[str]:
    """Tokens only (delimiters retained, whitespace retained)."""
    return tokenize(text)[0]


def tokenize_and_filter(text: str) -> Tuple[List[str], List[Tuple[int, int]]]:
    """Like :func:`tokenize` but with single-blank tokens removed.

    Offsets still refer to the original text (operator T2).
    """
    tokens, offsets = tokenize(text)
    final_tokens: List[str] = []
    final_offsets: List[Tuple[int, int]] = []
    for tok, off in zip(tokens, offsets):
        if tok not in BLANKS:
            final_tokens.append(tok)
            final_offsets.append(off)
    return final_tokens, final_offsets
