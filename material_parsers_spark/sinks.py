"""Batch sinks (S8-S10, SURVEY.md §2.1).

The reference's converter scripts write CoNLL/TSV/JSONL/CSV one file at a
time (`converters/misc/*.py`); here each is a distributed `df.write` over
the extraction output. TEI/WebAnno round-trip converters (S6, S12, S13) are
training-data tooling and documented out of scope (SURVEY.md §2.1).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def token_label_rows(extracted: DataFrame) -> DataFrame:
    """Flatten extraction output to one row per token with its BIO label —
    the CoNLL shape (S8). Tokens inside a span get B-/I- prefixes."""
    tokens = extracted.select(
        "conv_id", "turn_idx",
        F.posexplode("extraction.tokens").alias("token_pos", "token"),
    ).alias("tok")
    spans = extracted.select(
        F.col("conv_id").alias("s_conv_id"),
        F.col("turn_idx").alias("s_turn_idx"),
        F.explode("extraction.spans").alias("span"),
    ).select(
        "s_conv_id", "s_turn_idx",
        F.col("span.type").alias("span_type"),
        F.col("span.token_start").alias("token_start"),
        F.col("span.token_end").alias("token_end"),
    ).alias("sp")
    # the span-range predicate must live in the JOIN condition: a token
    # outside every span still needs its (null-span -> "O") row
    joined = tokens.join(
        spans,
        (F.col("tok.conv_id") == F.col("sp.s_conv_id"))
        & (F.col("tok.turn_idx") == F.col("sp.s_turn_idx"))
        & (F.col("token_pos") >= F.col("token_start"))
        & (F.col("token_pos") < F.col("token_end")),
        "left",
    ).drop("s_conv_id", "s_turn_idx")
    label = F.when(
        F.col("token_start").isNull(), F.lit("O")
    ).when(
        F.col("token_pos") == F.col("token_start"),
        F.concat(F.lit("B-"), F.col("span_type")),
    ).otherwise(F.concat(F.lit("I-"), F.col("span_type")))
    deduped = (
        joined
        .withColumn("label", label)
        .groupBy("conv_id", "turn_idx", "token_pos")
        .agg(F.first("token").alias("token"),
             F.min("label").alias("label"))
    )
    return deduped.select(
        "conv_id", "turn_idx", "token_pos",
        F.col("token.text").alias("token_text"), "label")


def write_conll(extracted: DataFrame, path: str) -> None:
    """S8: tab-separated token/label rows."""
    (token_label_rows(extracted)
     .where(~F.col("token_text").rlike(r"^\s$"))
     .orderBy("conv_id", "turn_idx", "token_pos")
     .select("token_text", "label")
     .write.mode("overwrite").option("sep", "\t").csv(path))


def write_jsonl(extracted: DataFrame, path: str) -> None:
    """S9: one JSON object per turn (text + spans + materials)."""
    (extracted.select(
        "conv_id", "turn_idx",
        F.col("extraction.spans").alias("spans"),
        F.col("extraction.materials").alias("materials"))
     .write.mode("overwrite").json(path))


def write_span_csv(extracted: DataFrame, path: str) -> None:
    """S10: flat CSV of spans (the supercon-extraction CSV shape)."""
    (extracted.select(
        "conv_id", "turn_idx", F.explode("extraction.spans").alias("span"))
     .select("conv_id", "turn_idx",
             F.col("span.text").alias("span_text"),
             F.col("span.type").alias("span_type"),
             F.col("span.offset_start").alias("offset_start"),
             F.col("span.offset_end").alias("offset_end"))
     .write.mode("overwrite").option("header", "true").csv(path))


# ---------------------------------------------------------------------------
# S5: WebAnno TSV 3.2 sink (`converters/xml2tsv/xml2tsv.py:17-207`)
# ---------------------------------------------------------------------------

WEBANNO_HEADER = (
    "#FORMAT=WebAnno TSV 3.2\n"
    "#T_SP=webanno.custom.Section|name\n"
    "#T_SP=webanno.custom.Supercon|extra_tag|supercon_tag\n"
    "#T_RL=webanno.custom.Supercon_link|relationships|"
    "BT_webanno.custom.Supercon\n\n"
)


def _webanno_relationship_name(source_type: str, dest_type: str) -> str:
    """`xml2tsv.py:173-188`, including the raise on unknown pairs."""
    source = source_type.strip("<>").lower()
    dest = dest_type.strip("<>").lower()
    if source == "tcvalue":
        if dest == "material":
            return "tcValue-material"
        if dest == "me_method":
            return "tcValue-me_method"
    elif source == "pressure":
        return "tcValue-pressure"
    raise ValueError(
        "Something is wrong in the links. The origin label "
        f"{source_type}, or the destination {dest_type} is not recognised.")


def webanno_tsv_document(paragraphs) -> str:
    """Serialize one document's TEI paragraphs (the
    ``parse_tei_paragraphs`` shape) to WebAnno TSV 3.2 text.

    Column semantics pinned to the reference converter: global running
    character offsets (+1 between paragraphs), 1-based paragraph/token
    numbering over non-space tokens, per-entity ``*[n]``/``class[n]``
    marks, and relations written on the DESTINATION entity's first token
    as ``name`` + ``srcPar-srcTok[srcEnt_dstEnt]``.
    """
    lines = [WEBANNO_HEADER.rstrip("\n"), ""]

    # first pass: token rows + entity coordinates
    rows = {}              # (par, tok) -> [s, e, text, section, extra, tag]
    links = {}             # (par, tok) -> [name, location]
    dest_by_xml_id = {}    # xml:id -> (par, tok, ient, type)
    sources = []           # (par, tok, corresp, ient, type)
    ient = 1
    base = 0
    texts = []
    for par_index, paragraph in enumerate(paragraphs):
        par = par_index + 1
        texts.append(paragraph["text"])
        section = f"{paragraph['section']}[{par_index + 10000}]"
        spans = sorted(paragraph.get("spans", []),
                       key=lambda s: s["token_start"])
        span_pos = 0
        tok = 0
        for index, token in enumerate(paragraph["tokens"]):
            text = token["text"].rstrip(" ")
            if not text:
                continue
            while (span_pos < len(spans)
                   and index >= spans[span_pos]["token_end"]):
                span_pos += 1
            span = spans[span_pos] if span_pos < len(spans) else None
            inside = (span is not None
                      and span["token_start"] <= index < span["token_end"])
            tok += 1
            start = base + token["offset"]
            if inside:
                entity_class = span["type"].strip("<>").replace("_", r"\_")
                if index == span["token_start"]:
                    span["_ient"] = ient
                    span["_coords"] = (par, tok)
                    if span.get("id") is not None:
                        dest_by_xml_id[str(span["id"])] = (
                            par, tok, ient, span["type"])
                    if span.get("corresp"):
                        sources.append((par, tok, span["corresp"], ient,
                                        span["type"]))
                    ient += 1
                mark = span["_ient"]
                rows[(par, tok)] = [start, start + len(text), text, section,
                                    f"*[{mark}]", f"{entity_class}[{mark}]"]
            else:
                rows[(par, tok)] = [start, start + len(text), text, section,
                                    "_", "_"]
        base += len(paragraph["text"]) + 1  # the reference's inter-par +1

    # second pass: relations on the destination's first token
    for par, tok, corresp, source_ient, source_type in sources:
        for pointer in corresp.split(","):
            target = pointer.strip().replace("#", "")
            if target not in dest_by_xml_id:
                continue
            dpar, dtok, dest_ient, dest_type = dest_by_xml_id[target]
            name = _webanno_relationship_name(source_type, dest_type)
            location = f"{par}-{tok}[{source_ient}_{dest_ient}]"
            if (dpar, dtok) in links:
                links[(dpar, dtok)][0] += f"|{name}"
                links[(dpar, dtok)][1] += f"|{location}"
            else:
                links[(dpar, dtok)] = [name, location]

    for par_index in range(len(paragraphs)):
        par = par_index + 1
        lines.append(f"#Text={texts[par_index]}")
        tok = 1
        while (par, tok) in rows:
            s, e, token_text, section, extra, tag = rows[(par, tok)]
            name, location = links.get((par, tok), ["_", "_"])
            lines.append(
                f"{par}-{tok}\t{s}-{e}\t{token_text}\t{section}\t{extra}"
                f"\t{tag}\t{name}\t{location}\t")
            tok += 1
        if par_index != len(paragraphs) - 1:
            lines.append("")
    return "\n".join(lines) + "\n"


def write_webanno(tei_df: DataFrame, path: str) -> None:
    """Distributed S5 sink over ``read_tei`` output: one TSV per document,
    built inside ``applyInPandas`` (per-doc grouping is the natural unit —
    a document's TSV needs global offsets across its paragraphs), written
    as text files partitioned by document."""
    import pandas as pd

    from .kernel.metrics import tokenize_chunk

    def build(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values("para_idx")
        paragraphs = []
        for _, row in pdf.iterrows():
            raw_spans = row["spans"]  # numpy array under Arrow, not a list
            spans = ([dict(span) for span in raw_spans]
                     if raw_spans is not None else [])
            tokens, _ = tokenize_chunk(row["text"], 0)
            paragraphs.append({
                "text": row["text"], "section": row["section"],
                "tokens": tokens, "spans": spans,
            })
        return pd.DataFrame({
            "doc_id": [pdf["doc_id"].iloc[0]],
            "tsv": [webanno_tsv_document(paragraphs)],
        })

    (tei_df.groupBy("doc_id")
     .applyInPandas(build, schema="doc_id string, tsv string")
     .write.mode("overwrite").partitionBy("doc_id").text(path))


def sentence_classification_rows(tei_df: DataFrame) -> DataFrame:
    """S10 (sentence-classification CSV shape): one row per in-sentence
    entity PAIR with a binary linked flag —
    `converters/misc/xmlSupermat2csv_sentenceClassification.py:179-217`
    (its use_paragraphs path: the annotated unit is the paragraph).
    Columns: id = md5 of the sentence text, sentence, linked. Like the
    reference, a sentence appears once per pair."""
    spans = F.col("spans")
    def ordered(p):
        a, b = p.getField("a"), p.getField("b")
        a_off, b_off = a.getField("offset_start"), b.getField("offset_start")
        return (a_off < b_off) | (
            (a_off == b_off) & (a.getField("id") < b.getField("id")))

    pairs = F.filter(
        F.flatten(F.transform(
            spans,
            lambda a: F.transform(
                spans, lambda b: F.struct(a.alias("a"), b.alias("b"))),
        )),
        ordered,
    )
    base = (
        tei_df
        .where(F.size("spans") > 1)
        .select("text", "gold_links", F.explode(pairs).alias("pair"))
    )
    linked = F.exists(
        "gold_links",
        lambda g: ((g.getField("source_id") == F.col("pair.a.id"))
                   & (g.getField("target_id") == F.col("pair.b.id")))
        | ((g.getField("source_id") == F.col("pair.b.id"))
           & (g.getField("target_id") == F.col("pair.a.id"))),
    )
    return base.select(
        F.md5("text").alias("id"),
        F.col("text").alias("sentence"),
        F.when(linked, 1).otherwise(0).alias("linked"),
    )
