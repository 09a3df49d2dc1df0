"""Batch facade mirroring the reference's HTTP API surface (S1-S2,
`service.py:102-342`): same endpoints, list-in/list-out instead of HTTP.

These are the functions a user of the reference service would call; the
Spark pipeline wraps the same kernels for table-scale runs, and
`process_link` runs the link stage of `turns.extract_turn`.
"""

from __future__ import annotations

from typing import List, Optional

from .classify import classify_formula as _classify
from .classify import get_class, get_classes
from .formulas import formula_to_composition as _compose
from .formulas import name_to_formula as _name_to_formula
from .gazetteer import TokenTrieMatcher, match_structures
from .labels import cluster_by_label
from .linker import get_link_type
from .materials import extract_results, strip_empty
from .tokenizer import tokenize
from .turns import extract_turn, link_paragraph


def process_material(texts: List[str],
                     matcher: Optional[TokenTrieMatcher] = None) -> List[list]:
    """`POST /process/material` (`service.py:129-149`): one material-record
    list per input text, empty-valued keys stripped."""
    results = []
    for text in texts:
        out = extract_turn(text, matcher)
        results.append(strip_empty(out["materials"]))
    return results


def process_tagged_material(tagged: List[list]) -> List[list]:
    """The fixture path: injected (token, BIO-label) sequences, bypassing
    the tagger exactly like the reference's model_path=None tests."""
    clusters = cluster_by_label(tagged)
    return [
        strip_empty(materials if isinstance(materials, list) else [])
        for materials in extract_results(
            clusters, formula_to_composition=_compose,
            name_to_formula=_name_to_formula)
    ]


def process_link(paragraphs: List[dict]) -> List[dict]:
    """`POST /process/link` (`service.py:102-122,151-211`): mark linkable
    temperatures, then run every link-type configuration — the link stage
    of ``extract_turn``, over the texts of the paragraph's token dicts.
    ``linkable`` and the new links are written onto the span dicts passed
    in, each span its own (duplicate ids included); a span without a
    ``links`` key gains one only when it is linked."""
    output = list(paragraphs)
    for paragraph in output:
        spans = paragraph["spans"]
        bare = [span for span in spans if "links" not in span]
        for span in bare:
            span["links"] = []
        link_paragraph([token["text"] for token in paragraph["tokens"]],
                       spans)
        for span in bare:
            if not span["links"]:
                del span["links"]
    return output


def convert_formula_to_composition(formulas: List[str]) -> List[dict]:
    """`POST /convert/formula/composition` (`service.py:248-263`)."""
    return [_compose(f) for f in formulas]


def convert_name_to_formula(names: List[str]) -> List[dict]:
    """`POST /convert/name/formula` (`service.py:213-246`)."""
    return [_name_to_formula(n) for n in names]


def classify_formulas(formulas: List[str]) -> List[list]:
    """`POST /classify/formula` (`service.py:282-291`)."""
    return [_classify(f) for f in formulas]


def classify_single(formula: str) -> str:
    """`Material2Class.get_class` single-label classification."""
    return get_class(formula)


def classify_tags(formula: str) -> dict:
    """`Material2Tags.get_classes` two-level taxonomy."""
    return get_classes(formula)


def process_structure_text(texts: List[str],
                           matcher: TokenTrieMatcher) -> List[List[dict]]:
    """`POST /process/structure` (`service.py:293-318`)."""
    return match_structures(matcher, texts)


def split_batch_input(raw: str) -> List[str]:
    """S2: newline-batch splitter (`service.py:145,222,258`)."""
    return raw.split("\n")


__all__ = [
    "process_material", "process_tagged_material", "process_link",
    "convert_formula_to_composition", "convert_name_to_formula",
    "classify_formulas", "classify_single", "classify_tags",
    "process_structure_text", "split_batch_input", "get_link_type",
    "tokenize",
]
