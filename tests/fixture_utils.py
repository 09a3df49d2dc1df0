"""Fixture builders mirroring the reference's tests/utils.py:29-81 —
spans are located by first substring occurrence, then token-aligned."""

from material_parsers_spark.kernel.doc import build_doc
from material_parsers_spark.kernel.tokenizer import tokenize
from tests.linking_reference import convert_tokens


def get_tokens_and_spans(text, input_spans):
    toks, offsets = tokenize(text)
    tokens = [
        {"text": toks[i], "offset_start": offsets[i][0], "offset_end": offsets[i][1]}
        for i in range(len(toks))
    ]
    spans = calculate_spans(text, input_spans, tokens)
    return tokens, spans


def get_tokens(text, input_spans):
    tokens, spans = get_tokens_and_spans(text, input_spans)
    return convert_tokens(tokens, spans)


def prepare_doc(text, input_spans):
    tokens, spans = get_tokens_and_spans(text, input_spans)
    return build_doc([token["text"] for token in tokens], spans)


def calculate_spans(text, spans, tokens=None):
    calculated = []
    last_offset = 0
    for index, (surface, span_type) in enumerate(spans):
        if surface not in text:
            continue
        start = text.index(surface, last_offset)
        end = start + len(surface)
        span = {
            "id": index,
            "text": text[start:end],
            "offset_start": start,
            "offset_end": end,
            "type": span_type,
            "boundingBoxes": [],
            "formattedText": "",
            "linkable": False,
        }
        last_offset = end
        if tokens is not None:
            indexes = [
                i for i, tok in enumerate(tokens)
                if tok["offset_start"] >= start and tok["offset_end"] <= end
            ]
        span["token_start"] = indexes[0]
        span["token_end"] = indexes[-1] + 1
        calculated.append(span)
    return calculated
