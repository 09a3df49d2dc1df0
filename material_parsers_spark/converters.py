"""Corpus converters (S6, S12, S13) — the annotation-tooling round trips.

S12 `sc_comics_to_tei`: brat standoff (SC-CoMIcs tags) -> SuperMat-tagged
TEI, mirroring `converters/misc/sc_comics2xml.py:104-146` (the entity
mapping) and `:93-101` (inline <rs> injection), with the rule sentence
splitter (kernel T7) standing in for blingfire.

S13 `labelstudio_documents`: annotated paragraphs -> Label Studio task
JSON with a predictions block, mirroring
`converters/misc/xml2LabelStudio.py:72-92`.

S6 `parse_webanno_tsv` / `webanno_to_tei`: WebAnno TSV 3.2 (the S5 sink's
output) back to paragraphs/spans/relations and on to annotated TEI,
re-expressing `converters/xml2tsv/tsv2xml.py`'s direction of travel.
"""

from __future__ import annotations

import re
from html import escape
from typing import Dict, List, Tuple

# ---------------------------------------------------------------------------
# S12: SC-CoMIcs standoff -> SuperMat TEI
# ---------------------------------------------------------------------------

_ME_METHOD_KEYWORDS = ("resistivity", "susceptibility", "specific heat")


def map_sc_comics_entities(entities: List[dict]) -> List[dict]:
    """SC-CoMIcs tag set -> SuperMat labels (`sc_comics2xml.py:104-146`):
    Element/Main -> material, SC -> tc, Property filtered by measurement
    keywords -> me_method, Value -> pressure/tcValue by unit suffix;
    every other tag is dropped."""
    converted = []
    for entity in entities:
        tag = entity["tag"]
        surface = entity["surface"]
        label = None
        if tag in ("Element", "Main"):
            label = "material"
        elif tag == "SC":
            label = "tc"
        elif tag == "Property" and any(
                keyword in surface for keyword in _ME_METHOD_KEYWORDS):
            label = "me_method"
        elif tag == "Value":
            if surface.endswith("Pa") or surface.endswith("bar"):
                label = "pressure"
            elif surface.endswith("K"):
                label = "tcValue"
        if label is not None:
            converted.append(dict(entity, label=label))
    return converted


def inject_spans_in_text(text: str, spans: List[dict],
                         offset: int = 0) -> str:
    """Escaped text with inline ``<rs type=...>`` tags
    (`sc_comics2xml.py:93-101`)."""
    out = []
    last = 0
    for span in sorted(spans, key=lambda s: s["start"]):
        out.append(escape(text[last:span["start"] - offset]))
        out.append(f'<rs type="{span["label"]}">'
                   f'{escape(span["surface"])}</rs>')
        last = span["end"] - offset
    out.append(escape(text[last:]))
    return "".join(out)


def sc_comics_to_tei(text: str, entities: List[dict],
                     split_sentences: bool = False) -> str:
    """One SC-CoMIcs (text, standoff entities) document -> annotated TEI.

    ``split_sentences`` mirrors the reference's blingfire mode, including
    its space-after-the-period offset assumption; the rule splitter (T7)
    provides the boundaries."""
    from .kernel.doc import split_sentences as _split

    spans = map_sc_comics_entities(entities)
    if split_sentences:
        pieces = []
        sentence_offset = 0
        for sentence in _split(text):
            local = [s for s in spans
                     if s["start"] >= sentence_offset
                     and s["end"] < sentence_offset + len(sentence)]
            pieces.append(
                "<s>" + inject_spans_in_text(sentence, local,
                                             sentence_offset) + "</s>")
            sentence_offset += len(sentence) + 1
        body = "".join(pieces)
    else:
        body = inject_spans_in_text(text, spans)
    return (
        '<?xml version="1.0" encoding="UTF-8"?>\n'
        '<tei xmlns="http://www.tei-c.org/ns/1.0">\n'
        "<teiHeader><profileDesc><abstract>\n"
        f"<p>{body}</p>\n"
        "</abstract></profileDesc></teiHeader>\n"
        "<text/></tei>\n"
    )


def sc_comics_corpus_to_tei(spark, input_dir: str, output_dir: str,
                            split_sentences: bool = False) -> int:
    """Distributed S12: (.ann, .txt) pairs -> one TEI per document.
    Entities group per file via the S7 reader; serialization runs inside
    applyInPandas; the per-document files are written BY THE EXECUTORS
    (foreachPartition), so nothing funnels through the driver — on a real
    cluster ``output_dir`` is shared storage (NFS/object store mount),
    each task writes through an attempt-unique tmp name and commits with
    an atomic rename, so concurrent speculative/retried attempts cannot
    corrupt a document. Returns the number of documents this run
    converted."""
    import os

    import pandas as pd
    from pyspark.sql import functions as F

    from .sources.ann import read_documents, read_entities

    entities = read_entities(spark, input_dir).groupBy("file").agg(
        F.collect_list(F.struct("tag", "start", "end", "surface"))
        .alias("entities"))
    docs = read_documents(spark, input_dir).join(entities, "file", "left")

    os.makedirs(output_dir, exist_ok=True)

    def build(pdf: "pd.DataFrame") -> "pd.DataFrame":
        rows = []
        for _, row in pdf.iterrows():
            ents = ([dict(e) for e in row["entities"]]
                    if row["entities"] is not None else [])
            rows.append({
                "file": row["file"].replace(".ann", ".tei.xml"),
                "tei": sc_comics_to_tei(row["text"], ents,
                                        split_sentences=split_sentences),
            })
        return pd.DataFrame(rows, columns=["file", "tei"])

    converted = docs.groupBy("file").applyInPandas(
        build, schema="file string, tei string").persist()

    def write_partition(rows) -> None:
        import uuid
        for row in rows:
            path = os.path.join(output_dir, row.file)
            # tmp name unique PER ATTEMPT: a speculative or retried task
            # racing a zombie attempt on shared storage must never
            # interleave writes into one tmp file; os.replace then makes
            # whichever attempt finishes last win atomically with a
            # complete document either way
            tmp = f"{path}.tmp-{os.getpid()}-{uuid.uuid4().hex[:8]}"
            with open(tmp, "w", encoding="utf-8") as fh:
                fh.write(row.tei)
            os.replace(tmp, path)

    converted.foreachPartition(write_partition)
    # the number of documents THIS run wrote (the persisted frame is
    # reused, so this does not re-run the conversion); a pre-populated
    # output_dir does not inflate it
    n_written = converted.count()
    converted.unpersist()
    return n_written


# ---------------------------------------------------------------------------
# S13: paragraphs -> Label Studio task JSON
# ---------------------------------------------------------------------------

def labelstudio_documents(paragraphs: List[dict]) -> List[dict]:
    """`xml2LabelStudio.py:72-92`: one task per paragraph with a
    predictions block; labels are the span types with angle brackets
    stripped."""
    tasks = []
    for paragraph in paragraphs:
        tasks.append({
            "data": {"text": paragraph["text"]},
            "predictions": [{
                "model_version": "1",
                "result": [
                    {
                        "id": index,
                        "from_name": "label",
                        "to_name": "text",
                        "type": "labels",
                        "value": {
                            "start": span["offset_start"],
                            "end": span["offset_end"],
                            "text": span["text"],
                            "labels": [span["type"]
                                       .replace("<", "").replace(">", "")],
                        },
                    }
                    for index, span in enumerate(
                        paragraph.get("spans") or [])
                ],
            }],
        })
    return tasks


# ---------------------------------------------------------------------------
# S6: WebAnno TSV 3.2 -> paragraphs -> TEI
# ---------------------------------------------------------------------------

_TSV_ROW = re.compile(r"^(\d+)-(\d+)\t(\d+)-(\d+)\t")


def parse_webanno_tsv(tsv_text: str) -> List[dict]:
    """Parse the S5 sink's WebAnno TSV 3.2 back into paragraph dicts with
    typed spans and (source->destination) relations. Entity identity
    comes from the ``class[n]`` marks; relation rows live on the
    destination entity and name the source coordinates."""
    paragraphs: List[dict] = []
    entity_spans: Dict[int, dict] = {}
    ent_by_coords: Dict[Tuple[int, int], int] = {}
    relations = []

    current = None
    base = 0
    for line in tsv_text.splitlines():
        if line.startswith("#Text="):
            if current is not None:
                base += len(current["text"]) + 1
            current = {"text": line[len("#Text="):], "spans": [],
                       "relations": []}
            paragraphs.append(current)
            continue
        match = _TSV_ROW.match(line)
        if not match or current is None:
            continue
        par, tok, start, end = (int(match.group(k)) for k in range(1, 5))
        columns = line.rstrip("\n").split("\t")
        tag = columns[5]
        mark_match = re.match(r"(.+)\[(\d+)\]$", tag)
        if mark_match:
            entity_class = mark_match.group(1).replace(r"\_", "_")
            ent_id = int(mark_match.group(2))
            span = entity_spans.get(ent_id)
            if span is None:
                span = {
                    "id": str(ent_id),
                    "type": f"<{entity_class}>",
                    "offset_start": start - base,
                    "offset_end": end - base,
                }
                entity_spans[ent_id] = span
                current["spans"].append(span)
                ent_by_coords[(par, tok)] = ent_id
            else:
                span["offset_end"] = end - base
        if len(columns) >= 8 and columns[6] not in ("_", ""):
            names = columns[6].split("|")
            locations = columns[7].split("|")
            for name, location in zip(names, locations):
                loc_match = re.match(r"(\d+)-(\d+)\[(\d+)_(\d+)\]",
                                     location)
                if loc_match:
                    relations.append({
                        "name": name,
                        "source_ent": int(loc_match.group(3)),
                        "dest_ent": int(loc_match.group(4)),
                    })

    for paragraph in paragraphs:
        ids = {span["id"] for span in paragraph["spans"]}
        for relation in relations:
            if str(relation["dest_ent"]) in ids:
                paragraph["relations"].append(relation)
        for span in paragraph["spans"]:
            span["text"] = paragraph["text"][
                span["offset_start"]:span["offset_end"]]
    return paragraphs


def webanno_to_tei(tsv_text: str, title: str = "webanno import") -> str:
    """S6 end-to-end: WebAnno TSV back to annotated TEI, with corresp
    pointers rebuilt from the relation rows (source -> destination)."""
    from .sources.tei import write_tei_document

    paragraphs = parse_webanno_tsv(tsv_text)
    dest_by_source: Dict[int, List[int]] = {}
    for paragraph in paragraphs:
        for relation in paragraph["relations"]:
            dest_by_source.setdefault(
                relation["source_ent"], []).append(relation["dest_ent"])
    out = []
    for paragraph in paragraphs:
        spans = []
        for span in paragraph["spans"]:
            span = dict(span)
            targets = dest_by_source.get(int(span["id"]))
            if targets:
                span["corresp"] = ",".join(f"#{t}" for t in targets)
            spans.append(span)
        out.append({"text": paragraph["text"], "spans": spans})
    return write_tei_document(out, title=title)
