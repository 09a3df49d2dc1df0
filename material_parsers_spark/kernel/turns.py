"""Per-turn extraction kernel: text -> (tokens, spans, materials).

The single pure function the Spark layer lifts into an Arrow scalar-iterator
UDF (SURVEY.md §3.1 re-expression). Tokenizes ONCE and reuses the token
array across tagging, clustering, extraction and linking (manual CSE — the
reference re-tokenizes per stage, `material_parser_ml.py:53` +
`linking_module.py:335`).
"""

from __future__ import annotations

from bisect import bisect_left, bisect_right
from operator import itemgetter
from typing import List, Optional

from .doc import build_doc, compute_span_id
from .formulas import formula_to_composition, name_to_formula
from .gazetteer import TokenTrieMatcher
from .materials import extract_results
from .resolvers import simple_resolution, vicinity_resolution
from .tagger import tag_spans
from .tc_classifier import mark_linkable_temperatures
from .tokenizer import BLANKS, tokenize

# the five reference link-type configurations, exact orientation from
# service.py:18-31, with the span type forced linkable per configuration
# from the reference's label_link map (service.py:41-47) — always the
# non-tcValue side; tcValue linkability comes from the classifier.
# (source, destination, forced_linkable_types)
LINK_CONFIGS = [
    ("<tcValue>", "<material>", ("<material>",)),
    ("<pressure>", "<tcValue>", ("<pressure>",)),
    ("<tcValue>", "<me_method>", ("<me_method>",)),
    # for the structure configs the reference relies on upstream linkable
    # marks on the dictionary spans; our gazetteer spans are curated
    # dictionary hits, so both sides are linkable by construction
    ("<material>", "<crystal-structure>", ("<material>", "<crystal-structure>")),
    ("<material>", "<space-groups>", ("<material>", "<space-groups>")),
]

# extract_turn links <formula>/<name> spans in the <material> role; the
# configs without <material> touch neither type, so applying the role once
# gives the links applying it per config would
_MATERIAL_ROLE = {"<formula>": "<material>", "<name>": "<material>"}

# span types whose surface text feeds the material state machine
MATERIAL_LABELS = {"<formula>", "<name>", "<doping>", "<shape>",
                   "<fabrication>", "<substrate>", "<variable>", "<value>"}


def extract_turn(text: Optional[str],
                 matcher: Optional[TokenTrieMatcher] = None,
                 include_tokens: bool = True) -> dict:
    """Full extraction for one turn; deterministic, no I/O.

    ``include_tokens=False`` skips materializing the token array in the
    output (the largest part of the Arrow payload) for consumers that only
    read spans/materials — the computation is identical either way."""
    if not text:
        return {"tokens": [], "spans": [], "materials": []}

    tokens, offsets = tokenize(text)

    # dictionary matches first — they are longest-match, curated entries and
    # take precedence over the heuristic tagger on overlap. The matcher
    # reuses this tokenization (filtered view) instead of re-splitting.
    spans: List[dict] = []
    if matcher is not None:
        filtered = [(t, o) for t, o in zip(tokens, offsets)
                    if t not in BLANKS]
        matched = matcher.match_filtered(
            [t for t, _ in filtered], [o for _, o in filtered], text)
        # tokens are contiguous and non-empty, so both offset lists are
        # strictly increasing: the tokens inside [start, end] are the run
        # from the first start >= start to the last end <= end
        starts = [o[0] for o in offsets]
        ends = [o[1] for o in offsets]
        for ent in matched:
            first = bisect_left(starts, ent["start"])
            stop = bisect_right(ends, ent["end"])
            if first >= stop:
                continue
            spans.append({
                "text": ent["text"],
                "type": ent["label"],
                "offset_start": ent["start"],
                "offset_end": ent["end"],
                "token_start": first,
                "token_end": stop,
                "linkable": False,
            })

    # both lists are in offset order and disjoint, so a tagger span
    # overlaps a match iff it overlaps the first match ending after its
    # start, spans[pending]
    n_matched, pending = len(spans), 0
    for span in tag_spans(tokens, offsets, text):
        while pending < n_matched and \
                spans[pending]["offset_end"] <= span["offset_start"]:
            pending += 1
        if pending < n_matched and \
                spans[pending]["offset_start"] < span["offset_end"]:
            continue
        spans.append(span)

    # each span dict is built once, in SPAN_TYPE's shape, and is itself
    # the output row: the link stage writes linkable and links onto it
    spans.sort(key=itemgetter("offset_start"))
    for span in spans:
        span["id"] = compute_span_id(
            span["text"], span["type"], span["offset_start"],
            span["offset_end"], span["token_start"], span["token_end"])
        span["links"] = []

    # ---- material records (SURVEY §3.1): clusters -> state machine
    clusters = [
        {"text": str.strip(s["text"]), "class": s["type"]}
        for s in spans if s["type"] in MATERIAL_LABELS
    ]
    materials = extract_results(
        [clusters],
        formula_to_composition=formula_to_composition,
        name_to_formula=name_to_formula,
    )[0]
    if isinstance(materials, dict):  # empty-example sentinel
        materials = []

    # ---- linking (SURVEY §3.2), <formula>/<name> in the <material> role
    link_paragraph(tokens, spans, roles=_MATERIAL_ROLE)

    out_tokens = [
        {"text": tokens[i], "start": offsets[i][0], "end": offsets[i][1]}
        for i in range(len(tokens))
    ] if include_tokens else []
    return {"tokens": out_tokens, "spans": spans,
            "materials": [_material_row(m) for m in materials]}


def link_paragraph(tokens: List[str], spans: List[dict], *,
                   roles: Optional[dict] = None) -> None:
    """Classify Tc values, then link spans per ``LINK_CONFIGS``.

    ``tokens`` are the token strings, space tokens included, and ``spans``
    index them by ``token_start``/``token_end``. The stage writes onto the
    spans it is given: ``linkable`` on each span that becomes an entity
    token, and each new link appended once to the span's ``links`` list,
    which every span must hold (a link the span already holds is not
    added again). ``roles`` maps a span type to the type it links as;
    only ``extract_turn`` passes it.

    Each entity token holds its span and shares the span's ``links``
    list, so the resolvers append to the output directly. One merged-token
    doc serves every configuration: the token boundaries never change
    between configs, only the linkable marks do, so each config filters
    the entity tokens of its two types by the classifier's mark or its
    forced types instead of rebuilding the doc (the reference rebuilds
    its spaCy doc per linker; at Arrow-batch scale that dominates)."""
    doc = build_doc(tokens, spans)
    by_type: dict = {}
    for token in doc:
        if roles is not None:
            token.ent_type = roles.get(token.ent_type, token.ent_type)
        if token.ent_type:
            by_type.setdefault(token.ent_type, []).append(token)
    for token in mark_linkable_temperatures(doc):
        if token.ent_type:
            token.span["linkable"] = token.linkable

    for source_type, destination_type, forced_types in LINK_CONFIGS:
        destinations = [t for t in by_type.get(destination_type, ())
                        if t.linkable or destination_type in forced_types]
        sources = [t for t in by_type.get(source_type, ())
                   if t.linkable or source_type in forced_types]
        if destinations and sources and \
                not simple_resolution(destinations, sources):
            vicinity_resolution(doc, destinations, sources)


def _material_row(material: dict) -> dict:
    material = dict(material)
    formula = material.get("formula")
    formula_row = None
    if formula:
        formula_row = {
            "rawValue": formula.get("rawValue"),
            "formulaComposition": formula.get("formulaComposition"),
        }
    resolved = [
        {
            "rawValue": f.get("rawValue"),
            "formulaComposition": f.get("formulaComposition"),
        }
        for f in material.get("resolvedFormulas") or []
    ]
    variables = material.get("variables") or None
    return {
        "formula": formula_row,
        "name": material.get("name"),
        "doping": material.get("doping"),
        "shape": material.get("shape"),
        "fabrication": material.get("fabrication"),
        "substrate": material.get("substrate"),
        "variables": variables,
        "resolvedFormulas": resolved or None,
    }
