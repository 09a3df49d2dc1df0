"""Fingerprint and time the Spark-free extraction kernel.

Prints one sha256 per input set of ``extract_turn``'s JSON output
(``sort_keys``), with ``include_tokens`` True and False, then the best
of ``PASSES`` passes in µs/turn (``include_tokens=False``). Two checkouts
that print the same hashes give the same kernel output on these inputs.

Inputs, all seeded:

- ``longtail-1``, ``longtail-2``: the ``longtail`` benchmark turns of
  seeds 1 and 2, 1,500 each (``perfbench/longtail.py``, imported as is);
- ``templates``: 1,500 joins of the corpus sentence templates with every
  formula (the parenthesised one included), whitespace variants between
  sentences (double spaces, newlines, NBSP) and "respectively" /
  "irrespectively" sentences.

A turn that raises hashes as its exception's type name.

Usage: python tools/kernel_output_hash.py [--root CHECKOUT]

``--root`` is the checkout whose kernel is imported (default: this one),
so one copy of the script compares two checkouts.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import random
import sys
import time

N_TURNS = 1500
PASSES = 5


def template_turns(transcripts, seed: int = 7) -> list:
    """``N_TURNS`` joins of 1-8 template sentences."""
    rng = random.Random(seed)
    values = {"F": transcripts.FORMULAS,
              "V": [str(v) for v in range(3, 300)],
              "D": [str(d) for d in range(1, 1000)],
              "C": transcripts.CRYSTAL_STRUCTURES,
              "G": transcripts.SPACE_GROUPS}
    shapes = list(zip(transcripts.TEMPLATES, transcripts.TEMPLATE_SLOTS)) + [
        ("The samples %s and %s superconduct at 12 K and 30 K, "
         "respectively.", "FF"),
        ("The Tc of %s is %s K, irrespectively of the pressure.", "FV"),
    ]
    separators = [" ", " ", "  ", "\n", " \n ", "\u00a0", "\u00a0 "]
    turns = []
    for _ in range(N_TURNS):
        parts = []
        for _ in range(rng.randint(1, 8)):
            template, slots = rng.choice(shapes)
            parts.append(template % tuple(rng.choice(values[kind])
                                          for kind in slots))
            parts.append(rng.choice(separators))
        turns.append("".join(parts[:-1]))
    return turns


def fingerprint(extract_turn, texts: list, matcher,
                include_tokens: bool) -> str:
    digest = hashlib.sha256()
    for text in texts:
        try:
            out = extract_turn(text, matcher, include_tokens=include_tokens)
        except Exception as error:   # a raising turn is part of the output
            out = {"error": type(error).__name__}
        digest.update(json.dumps(out, sort_keys=True).encode("utf-8"))
        digest.update(b"\n")
    return digest.hexdigest()


def best_us_per_turn(extract_turn, texts: list, matcher) -> float:
    best = float("inf")
    for _ in range(PASSES):
        started = time.perf_counter()
        for text in texts:
            try:
                extract_turn(text, matcher, include_tokens=False)
            except Exception:
                pass
        best = min(best, time.perf_counter() - started)
    return best / len(texts) * 1e6


def main() -> None:
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    parser = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    parser.add_argument("--root", default=here,
                        help="checkout whose kernel is imported")
    args = parser.parse_args()
    root = os.path.abspath(args.root)
    sys.path[:0] = [root, os.path.join(root, "perfbench")]

    import longtail

    from material_parsers_spark.kernel.gazetteer import TokenTrieMatcher
    from material_parsers_spark.kernel.turns import extract_turn
    from material_parsers_spark.pipeline import transcripts
    from material_parsers_spark.pipeline.extraction import load_full_patterns

    matcher = TokenTrieMatcher(load_full_patterns())
    inputs = {f"longtail-{seed}": [row[3] for row in
                                   longtail.generate(seed, N_TURNS)]
              for seed in (1, 2)}
    inputs["templates"] = template_turns(transcripts)

    print("root", root)
    for name, texts in inputs.items():
        for include_tokens in (True, False):
            print(f"sha256 {name} include_tokens={include_tokens} "
                  f"{fingerprint(extract_turn, texts, matcher, include_tokens)}")
    for name, texts in inputs.items():
        us = best_us_per_turn(extract_turn, texts, matcher)
        print(f"us_per_turn {name} best_of_{PASSES} {us:.1f}")


if __name__ == "__main__":
    main()
