"""Spark-free kernel passes with spans around the kernel's public functions.

A traced pass replaces the names that ``kernel.turns`` looks up
(``tokenize``, ``tag_spans``, ``build_doc`` ...) and
``TokenTrieMatcher.match_filtered`` with wrappers that record one span per
call, and restores them afterwards. The harness itself wraps
``extract_turn`` and ``kernel.web.main_content``. Spans stay in memory;
all spans of one turn share that turn's id. A span's self time is its
duration minus the durations of its direct children, so the stage self
times plus the self time of ``extract_turn`` add up to the ``extract_turn``
total exactly.
"""

from __future__ import annotations

import statistics
import time
from contextlib import contextmanager

from material_parsers_spark.kernel import turns as kernel_turns
from material_parsers_spark.kernel import web as kernel_web
from material_parsers_spark.kernel.gazetteer import TokenTrieMatcher

# wrapped name -> kernel stage it is billed to
STAGE_OF = {
    "tokenize": "tokenizer",
    "match_filtered": "gazetteer",
    "tag_spans": "tagger",
    "extract_results": "materials",
    "formula_to_composition": "formulas",
    "name_to_formula": "formulas",
    "convert_tokens": "doc",
    "build_doc": "doc",
    "mark_linkable_temperatures": "tc_classifier",
    "simple_resolution": "resolvers",
    "vicinity_resolution": "resolvers",
    "main_content": "web",
}
STAGES = ("tokenizer", "gazetteer", "tagger", "materials", "formulas",
          "doc", "tc_classifier", "resolvers", "web")

# wrapped name -> work count taken from its result at call time
MEASURE = {
    "tokenize": lambda r: len(r[0]),
    "match_filtered": len,
    "tag_spans": len,
    "extract_results": lambda r: len(r[0]) if isinstance(r[0], list) else 0,
    "mark_linkable_temperatures": lambda doc: sum(
        1 for t in doc if t.ent_type == "<tcValue>" and t.linkable),
    "main_content": lambda r: (r["kept_blocks"], r["n_blocks"]),
}


class Tracer:
    """In-memory span recorder: ``spans`` holds
    ``(turn_id, parent_index, name, start_ns, end_ns, count)``."""

    def __init__(self):
        self.spans: list = []
        self.turn_id = 0
        self._stack: list = []

    def wrap(self, name: str, fn):
        spans, stack = self.spans, self._stack
        measure = MEASURE.get(name)
        clock = time.perf_counter_ns

        def traced(*args, **kwargs):
            index = len(spans)
            spans.append(None)
            parent = stack[-1] if stack else -1
            stack.append(index)
            start = clock()
            try:
                result = fn(*args, **kwargs)
            finally:
                end = clock()
                stack.pop()
                spans[index] = (self.turn_id, parent, name, start, end, None)
            if measure is not None:
                spans[index] = spans[index][:5] + (measure(result),)
            return result
        return traced

    @contextmanager
    def installed(self):
        """Patch the names ``kernel.turns`` calls for the block's duration."""
        saved = {name: getattr(kernel_turns, name) for name in STAGE_OF
                 if hasattr(kernel_turns, name)}
        saved_match = TokenTrieMatcher.match_filtered
        try:
            for name, fn in saved.items():
                setattr(kernel_turns, name, self.wrap(name, fn))
            TokenTrieMatcher.match_filtered = self.wrap(
                "match_filtered", saved_match)
            yield self
        finally:
            for name, fn in saved.items():
                setattr(kernel_turns, name, fn)
            TokenTrieMatcher.match_filtered = saved_match


def untraced_pass(texts: list, matcher) -> dict:
    """Time ``extract_turn`` on each text with nothing wrapped."""
    extract = kernel_turns.extract_turn
    micros, exceptions = [], 0
    clock = time.perf_counter_ns
    started = clock()
    for text in texts:
        t0 = clock()
        try:
            extract(text, matcher, include_tokens=False)
        except Exception:   # a raising turn is a measured outcome
            exceptions += 1
        micros.append((clock() - t0) / 1e3)
    return {"wall_s": (clock() - started) / 1e9, "us": micros,
            "exceptions": exceptions}


def traced_pass(texts: list, pages: list, matcher) -> tuple:
    """One traced pass: ``extract_turn`` on each text, and beside it,
    outside the ``extract_turn`` total, ``main_content`` on the same turn
    wrapped as a web page (the web entry point's first step). Returns
    ``(tracer, wall_s, outputs)``."""
    tracer = Tracer()
    extract = tracer.wrap("extract_turn", kernel_turns.extract_turn)
    main_content = tracer.wrap("main_content", kernel_web.main_content)
    outputs = []
    with tracer.installed():
        started = time.perf_counter()
        for turn_id, (text, page) in enumerate(zip(texts, pages)):
            tracer.turn_id = turn_id
            try:
                outputs.append(extract(text, matcher, include_tokens=False))
            except Exception:   # counted by the untraced pass
                outputs.append(None)
            main_content(page)
        wall = time.perf_counter() - started
    return tracer, wall, outputs


def summarize(tracer: Tracer, outputs: list) -> dict:
    """Per-turn self µs per stage plus the stage work counts."""
    spans = tracer.spans
    n_turns = len(outputs)
    child_ns = [0] * len(spans)
    for _, parent, _, start, end, _ in spans:
        if parent >= 0:
            child_ns[parent] += end - start
    self_ns = dict.fromkeys(STAGES + ("turns",), 0)
    totals = dict.fromkeys(MEASURE, 0)
    total_ns = calls = 0
    formula_calls = kept = blocks = 0
    docs, resolved = set(), {}
    for index, (turn_id, parent, name, start, end, count) in \
            enumerate(spans):
        own = end - start - child_ns[index]
        if name == "extract_turn":
            self_ns["turns"] += own
            total_ns += end - start
            continue
        self_ns[STAGE_OF[name]] += own
        if name == "main_content":
            kept += count[0]
            blocks += count[1]
        elif count is not None:
            totals[name] += count
        if name in ("formula_to_composition", "name_to_formula"):
            formula_calls += 1
        elif name == "build_doc":
            docs.add(turn_id)
        elif name == "simple_resolution":
            resolved[turn_id] = resolved.get(turn_id, 0) + 1
            calls += 1
    links = sum(len(span["links"]) for out in outputs if out
                for span in out["spans"])
    n_configs = len(kernel_turns.LINK_CONFIGS)
    return {
        "self_us": {k: ns / 1e3 / n_turns for k, ns in self_ns.items()},
        "extract_turn_us": total_ns / 1e3 / n_turns,
        "tokens": totals["tokenize"],
        "matches": totals["match_filtered"],
        "tagger_spans": totals["tag_spans"],
        "records": totals["extract_results"],
        "formula_calls": formula_calls,
        "linkable": totals["mark_linkable_temperatures"],
        "links": links,
        "unused_doc_frac": (sum(1 for t in docs if t not in resolved)
                            / len(docs)) if docs else 0.0,
        "configs_resolved_frac": (calls / (n_configs * len(docs))
                                  if docs else 0.0),
        "kept_block_frac": kept / blocks if blocks else 0.0,
    }


def percentile(values: list, q: float) -> float:
    """Nearest-rank percentile, ``q`` in [0, 100]."""
    ordered = sorted(values)
    rank = min(len(ordered), max(1, round(q / 100 * len(ordered))))
    return ordered[rank - 1]


def trie_build_s(patterns: list, repeats: int = 3) -> float:
    """Median time to build the gazetteer trie from ``patterns``."""
    times = []
    for _ in range(repeats):
        started = time.perf_counter()
        TokenTrieMatcher(patterns)
        times.append(time.perf_counter() - started)
    return statistics.median(times)
