"""Seeded generator for the ``longtail`` workload.

Nearly unique, multi-sentence transcript turns with a heavy-tailed length
distribution that reaches a few KB. Sentences
come from the template generator's sentence shapes
(``pipeline.transcripts``), with every slot drawn from the seeded RNG so
that almost no two turns repeat.

Turn lengths are not drawn at random: turn ``i`` of ``n`` gets the
length quantile at ``(i + 0.5) / n`` of a capped Pareto law, and only the
order and the sentence content depend on the seed. Every seed therefore
carries the same length profile and about the same kernel work, which
keeps throughput comparable between seeds.

Two known crashes are steered around (reproducers in NOTES.md):

- ``kernel/resolvers.py`` raises IndexError when the ``)`` found after a
  Tc value sits inside a merged material token, which the parenthesised
  formula ``(Mo 0.96 Zr 0.04 ) 0.85 B 2`` triggers in multi-sentence
  turns. The generator never emits that formula.
- ``assign_in_order`` raises IndexError when a turn holds two
  "respectively" sentences and one stretch between them has links on one
  side only. The generator emits at most one such sentence per turn.
"""

from __future__ import annotations

import random

from material_parsers_spark.pipeline.transcripts import (
    CRYSTAL_STRUCTURES,
    FORMULAS,
    SPACE_GROUPS,
    TEMPLATE_SLOTS,
    TEMPLATES,
)

# Pareto law of turn length in characters, capped: P(len > x) = (MIN / x)^ALPHA.
# Chosen, not fitted to real transcripts; NOTES.md says where each comes from.
MIN_CHARS = 120
ALPHA = 1.1
MAX_CHARS = 3000
TURNS_PER_CONV = 8

SAFE_FORMULAS = [f for f in FORMULAS if "(" not in f]
_PII_TEMPLATE = len(TEMPLATES) - 1   # contact line: no material content
_SENTENCES = [(t, s) for i, (t, s) in enumerate(zip(TEMPLATES, TEMPLATE_SLOTS))
              if i != _PII_TEMPLATE]
# at most one "respectively" sentence per turn (second known crash)
_SINGLE_USE_DONE = [(t, s) for t, s in _SENTENCES if "respectively" not in t]


def target_length(q: float) -> int:
    """Length in characters at quantile ``q`` of the capped Pareto law."""
    return min(MAX_CHARS, int(MIN_CHARS * (1.0 - q) ** (-1.0 / ALPHA)))


def _slot(kind: str, rng: random.Random) -> str:
    if kind == "F":
        return rng.choice(SAFE_FORMULAS)
    if kind == "V":
        return str(rng.randint(3, 299))
    if kind == "D":
        return str(rng.randint(1, 999))
    if kind == "C":
        return rng.choice(CRYSTAL_STRUCTURES)
    return rng.choice(SPACE_GROUPS)


def _sentence(rng: random.Random, choices: list) -> str:
    template, slots = rng.choice(choices)
    return template % tuple(_slot(kind, rng) for kind in slots)


def _turn(length: int, rng: random.Random) -> str:
    parts, size, choices = [], -1, _SENTENCES
    while size < length:
        sentence = _sentence(rng, choices)
        if "respectively" in sentence:
            choices = _SINGLE_USE_DONE
        parts.append(sentence)
        size += len(sentence) + 1
    return " ".join(parts)


SCHEMA = "conv_id string, turn_idx int, role string, text string"


def balanced_splits(rows: list, n_splits: int) -> list:
    """Reorder ``rows`` so that ``n_splits`` equal contiguous slices carry
    about the same number of characters: rows are dealt longest first in
    a snake order, and each slice keeps the rows' original order. The seed
    then changes the content of every split, not which split straggles."""
    order = sorted(range(len(rows)), key=lambda i: (-len(rows[i][3]), i))
    buckets: list = [[] for _ in range(n_splits)]
    for rank, i in enumerate(order):
        lap, pos = divmod(rank, n_splits)
        buckets[pos if lap % 2 == 0 else n_splits - 1 - pos].append(i)
    return [rows[i] for bucket in buckets for i in sorted(bucket)]


def generate(seed: int, n_turns: int) -> list:
    """``n_turns`` rows ``(conv_id, turn_idx, role, text)``, a pure
    function of ``(seed, n_turns)``. Row order is the seeded shuffle of
    the length profile; conversations are consecutive runs of
    ``TURNS_PER_CONV`` rows."""
    rng = random.Random(seed)
    lengths = [target_length((i + 0.5) / n_turns) for i in range(n_turns)]
    rng.shuffle(lengths)
    rows = []
    for i, length in enumerate(lengths):
        text = _turn(length, rng)
        rows.append((f"lt{seed}-{i // TURNS_PER_CONV:06d}",
                     i % TURNS_PER_CONV, ("user", "assistant")[i % 2], text))
    return rows
