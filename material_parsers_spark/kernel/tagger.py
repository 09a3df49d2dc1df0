"""Deterministic rule-based span tagger (stand-in for operator L1).

The reference's BidLSTM_CRF tagger (`material_parser_ml.py:44-56`) is a DL
model outside exact-match scope — its own tests inject tagger output
(`tests/test_ml_material_parser.py:14`, model_path=None). This module is the
pluggable tagging stage of our pipeline: a deterministic token-scan tagger
producing the same span shapes the DL model would, so everything downstream
(clustering, extraction, linking) is exercised for real at scale. Swapping in
a real model is a one-function replacement (batched inference through the
pandas UDF in ``pipeline/inference.py::tag_turns``).

Output span dicts: {text, type, offset_start, offset_end, token_start,
token_end} with token indexes into the UNFILTERED (delimiter-retaining)
grobid token array.
"""

from __future__ import annotations

import re
from functools import lru_cache
from typing import List, Tuple

from .elements import ELEMENT_SET
from .formulas import parse_composition
from .tokenizer import WHITESPACE_TOKENS

TC_KEYWORDS = {"superconducts", "superconductivity", "superconducting",
               "superconductive", "superconductor"}
ME_METHOD_KEYWORDS = {"magnetization", "resistivity", "susceptibility"}
DOPING_KEYWORDS = {"underdoped", "overdoped", "doped", "undoped"}
SHAPE_KEYWORDS = {"crystal", "crystals", "powder", "powders", "film",
                  "films", "wire", "wires", "pellet", "pellets"}
SHAPE_MODIFIERS = {"single", "poly", "thin"}
FABRICATION_KEYWORDS = {"annealed", "quenched", "sintered", "sputtered"}
VARIABLE_TOKENS = {"x", "y", "z"}

_NUMBER = re.compile(r"^\d+(?:\.\d+)?$")
_INT = re.compile(r"^\d+$")


@lru_cache(maxsize=65536)
def _is_formula_token(token: str) -> bool:
    """Compact formula-shaped token, e.g. "MgB", "LaFeBO" (the tokenizer has
    already split trailing digits off). At least two element symbols.
    Memoized: this runs per token in the hottest kernel loop and token
    vocabularies are tiny relative to token counts."""
    if len(token) < 2 or not token[0].isupper():
        return False
    try:
        return len(parse_composition(token)) >= 2
    except ValueError:
        return False


def tag_spans(tokens: List[str], offsets: List[Tuple[int, int]],
              text: str) -> List[dict]:
    """Scan the unfiltered token stream and emit typed spans. The scan
    moves past every span it emits, so the spans come out in token order
    and never overlap."""
    spans: List[dict] = []
    n = len(tokens)

    def nonspace_indices():
        return [i for i in range(n) if tokens[i] not in WHITESPACE_TOKENS]

    def add(type_: str, tok_start: int, tok_end: int) -> None:
        start_char = offsets[tok_start][0]
        end_char = offsets[tok_end - 1][1]
        spans.append({
            "text": text[start_char:end_char],
            "type": type_,
            "offset_start": start_char,
            "offset_end": end_char,
            "token_start": tok_start,
            "token_end": tok_end,
            "linkable": False,
        })

    idx_list = nonspace_indices()

    def word(k: int) -> str:
        return tokens[idx_list[k]] if 0 <= k < len(idx_list) else ""

    m = len(idx_list)
    k = 0
    while k < m:
        tok = word(k)

        # <tcValue>: NUMBER [ '.' NUMBER ] 'K'  (covers "30K" and "4.7 K";
        # the tokenizer splits both into the same digit/dot/K tokens)
        if _INT.match(tok):
            j = -1
            if word(k + 1) == "." and _INT.match(word(k + 2) or "") and word(k + 3) == "K":
                j = k + 3
            elif word(k + 1) == "K":
                j = k + 1
            if j > k:
                add("<tcValue>", idx_list[k], idx_list[j] + 1)
                k = j + 1
                continue
            # <pressure>: NUMBER 'GPa'
            if word(k + 1) in ("GPa", "Gpa"):
                add("<pressure>", idx_list[k], idx_list[k + 1] + 1)
                k += 2
                continue

        # <tc>: keyword forms and "T c" / "Tc" / "critical temperature"
        low = tok.lower()
        if low in TC_KEYWORDS:
            add("<tc>", idx_list[k], idx_list[k] + 1)
            k += 1
            continue
        if tok == "Tc" or (tok == "T" and word(k + 1) in ("c", "C")):
            end = k + 1 if tok == "Tc" else k + 2
            add("<tc>", idx_list[k], idx_list[end - 1] + 1)
            k = end
            continue
        if low == "critical" and word(k + 1).lower() == "temperature":
            add("<tc>", idx_list[k], idx_list[k + 1] + 1)
            k += 2
            continue

        # <me_method>: measurement-method mentions
        if low in ME_METHOD_KEYWORDS:
            add("<me_method>", idx_list[k], idx_list[k] + 1)
            k += 1
            continue

        # <doping> / <fabrication>
        if low in DOPING_KEYWORDS:
            add("<doping>", idx_list[k], idx_list[k] + 1)
            k += 1
            continue
        if low in FABRICATION_KEYWORDS:
            add("<fabrication>", idx_list[k], idx_list[k] + 1)
            k += 1
            continue

        # <shape>: optional modifier + shape keyword
        if low in SHAPE_MODIFIERS and word(k + 1).lower() in SHAPE_KEYWORDS:
            add("<shape>", idx_list[k], idx_list[k + 1] + 1)
            k += 2
            continue
        if low in SHAPE_KEYWORDS:
            add("<shape>", idx_list[k], idx_list[k] + 1)
            k += 1
            continue

        # <variable> '=' <value>[, <value>...]
        if tok in VARIABLE_TOKENS and word(k + 1) == "=":
            add("<variable>", idx_list[k], idx_list[k] + 1)
            j = k + 2
            while j < m:
                if _INT.match(word(j)):
                    end = j
                    if word(j + 1) == "." and _INT.match(word(j + 2) or "x"):
                        end = j + 2
                    add("<value>", idx_list[j], idx_list[end] + 1)
                    j = end + 1
                    if word(j) == ",":
                        j += 1
                        continue
                    if word(j) == "and":
                        j += 1
                        continue
                break
            k = j
            continue

        # <formula>: run of formula-ish tokens — compact formula tokens,
        # element symbols, amounts, variables glued by -/−/./()
        if _is_formula_token(tok) or tok in ELEMENT_SET:
            run_end = k
            j = k
            element_count = 1 if tok in ELEMENT_SET else 2
            while j + 1 < m:
                nxt = word(j + 1)
                if (nxt in ELEMENT_SET or _is_formula_token(nxt)
                        or _NUMBER.match(nxt)
                        or nxt in ("-", "−", ".", "(", ")")
                        or nxt in VARIABLE_TOKENS):
                    j += 1
                    if nxt in ELEMENT_SET or _is_formula_token(nxt):
                        element_count += 1
                        run_end = j
                    elif _NUMBER.match(nxt) or nxt in VARIABLE_TOKENS:
                        run_end = j
                    continue
                break
            # trim trailing bare '(' / '-' etc. (run_end tracks last solid)
            if element_count >= 2 or _is_formula_token(tok):
                add("<formula>", idx_list[k], idx_list[run_end] + 1)
                k = run_end + 1
                continue

        k += 1

    return spans
