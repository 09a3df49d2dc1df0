"""Web-turn extraction stage: HTML boilerplate strip + DOM heuristics,
Spark-side (north rule: "strip HTML boilerplate ... apply DOM heuristics
per turn").

``wrap_turns_in_html`` synthesizes the web shape deterministically — each
turn's text embedded as the main block of a realistic page skeleton (nav
link bar, header chrome, link-dominated sidebar, footer) built from pure
column expressions, so the corpus is reproducible at any scale with no
RNG and no Python. ``extract_main_content`` lifts the pure block
classifier (kernel/web.py) into one Arrow-batched pandas UDF — same
shuffle-free per-turn shape as the material-extraction stage.
``extract_materials_from_html`` strips inside the material-extraction UDF; on
the synthetic corpus the recovered main text equals the original turn
text exactly, so its output is row-identical to the direct pipeline — the
per-turn equality invariant, proven by a frozen-golden oracle shared with
``extract_materials``.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..kernel.web import main_content
from .extraction import _extract, _ordered

MAIN_CONTENT_TYPE = ("main_text string, n_blocks int, kept_blocks int, "
                     "dropped_chars int")

# the deterministic page skeleton; %s receives the turn text. Chrome
# blocks are the classic boilerplate shapes: a nav link bar, a
# link-dominated related-pages sidebar, a cookie banner, a footer.
_PAGE_TEMPLATE = (
    '<html><head><title>transcript</title>'
    '<style>body { margin: 0 }</style>'
    '<script>var tracker = "%%PIXEL%%";</script></head>'
    '<body>'
    '<nav><a href="/">Home</a> <a href="/docs">Docs</a> '
    '<a href="/about">About</a> <a href="/login">Log in</a></nav>'
    '<header><h1>Conversation viewer</h1></header>'
    '<div class="sidebar"><ul>'
    '<li><a href="/c/1">Related conversation one</a></li>'
    '<li><a href="/c/2">Related conversation two</a></li>'
    '<li><a href="/c/3">Related conversation three</a></li>'
    '</ul></div>'
    '<div class="banner">Accept cookies?</div>'
    '<article><p>%s</p></article>'
    '<footer>Copyright notice. All rights reserved. '
    '<a href="/tos">Terms</a></footer>'
    '</body></html>'
)


def _escape_html(col):
    """HTML-escape a text column (&, <, > — & first), pure column expr.
    The kernel decodes entities per text segment (kernel/web.py
    text_segment -> unescape), so wrap -> strip round-trips exactly."""
    out = F.replace(col, F.lit("&"), F.lit("&amp;"))
    out = F.replace(out, F.lit("<"), F.lit("&lt;"))
    return F.replace(out, F.lit(">"), F.lit("&gt;"))


def wrap_turns_in_html(turns: DataFrame) -> DataFrame:
    """Replace ``text`` with the page-wrapped HTML (pure column expr).

    Turn text is HTML-escaped on the way in, so text containing ``<``,
    ``>`` or ``&`` round-trips through strip exactly — PROVIDED the text
    is single-spaced with no newlines: the kernel collapses whitespace
    runs per text segment (kernel/web.py ``_WS``, the normalization the
    block classifier applies to all web text), so ``"a  b"`` or a
    ``\\n`` comes back as one space. The synthetic generator emits only
    single-spaced single-line turns; a real web corpus arrives already
    as HTML and skips this wrapper entirely.

    Contract the shared-golden row-identity invariant depends on: every
    turn text must be at least MIN_BLOCK_CHARS (25) characters —
    shorter main blocks are dropped by the multi-block classifier
    (kernel/web.py is_content_block) and the row would silently vanish
    from the web path. The synthetic transcript generator always emits
    longer turns; tests/test_web_extraction.py pins the invariant.
    """
    return turns.withColumn(
        "text",
        F.format_string(_PAGE_TEMPLATE, _escape_html(F.col("text"))))


# adversarial page skeletons (messy-HTML corpus): each embeds the
# escaped document text as the main <article> block and exercises one
# family of parser hazards. All are deterministic column expressions —
# the corpus is reproducible at any scale with no RNG.
_ADVERSARIAL_TEMPLATES = (
    # 0: escaped entities everywhere (named, numeric, literal-tag text)
    ('<html><body><nav><a href="/">Home &amp; more</a> '
     '<a href="/a">A&#65;B</a> <a href="/b">&quot;quoted&quot;</a></nav>'
     '<div class="note">&lt;b&gt; &amp; &#8212; ok</div>'
     '<article><p>%s</p></article>'
     '<footer>&copy; 2026 All rights reserved &mdash; legal</footer>'
     '</body></html>'),
    # 1: stray end tags before any open, both end-tag dispatch forms
    # (endtagfind "</ div>" and tolerant "</p ghost>"), unbalanced close
    ('</div><html><body></p ghost>'
     '<nav><a href="/x">Links</a> <a href="/y">More</a> '
     '<a href="/z">Nav</a></nav>'
     '</ div><article><p>%s</p></article></section>'
     '<footer>Copyright notice. All rights reserved.</footer>'
     '</body></html>'),
    # 2: unquoted attribute values absorbing a trailing "/" (the link
    # OPENS — not self-closing), next to a genuine self-closing <br/>
    ('<html><body><div class="sidebar"><a href=/docs/>Docs</a> '
     '<a href=/help/>Help</a> <a href=/more/>More</a></div>'
     '<br/><article><p>%s</p></article>'
     '<footer><a href=/tos/>Terms</a> rights reserved legal</footer>'
     '</body></html>'),
    # 3: CDATA script/style bodies with tag-like strings that must stay
    # opaque (no block boundaries inside), tag soup in a JS string
    ('<html><head><script>if (x < 1) { document.write('
     '"<div>fake block</div>"); }</script>'
     '<style>.a { content: "</span>" }</style></head>'
     '<body><nav><a href="/1">One</a> <a href="/2">Two</a> '
     '<a href="/3">Three</a></nav>'
     '<article><p>%s</p></article>'
     '<footer>Footer legal text all rights reserved</footer>'
     '</body></html>'),
)


def wrap_docs_in_adversarial_html(docs: DataFrame) -> DataFrame:
    """(doc_id, text) -> (doc_id, template_id, text=adversarial HTML).

    Round-robins the four adversarial skeletons by doc_id, embedding the
    HTML-escaped document text as the main block. Together with the
    frozen golden over the result, this is the corpus-scale pin that the
    fast scanner's entity/CDATA/stray-end-tag/unquoted-attr handling
    holds beyond unit fixtures."""
    template_id = F.pmod(F.col("doc_id"), F.lit(len(_ADVERSARIAL_TEMPLATES)))
    expr = F.format_string(
        _ADVERSARIAL_TEMPLATES[0], _escape_html(F.col("text")))
    for i in range(1, len(_ADVERSARIAL_TEMPLATES)):
        expr = F.when(template_id == i, F.format_string(
            _ADVERSARIAL_TEMPLATES[i], _escape_html(F.col("text")))) \
            .otherwise(expr)
    return docs.select(
        "doc_id", template_id.cast("int").alias("template_id"),
        expr.alias("text"))


def extract_main_content(turns: DataFrame) -> DataFrame:
    """Append a ``main`` struct: boilerplate-stripped text + block stats.

    One Arrow-batched pandas UDF over the narrow text column; per-turn
    rows are independent, so the stage is shuffle-free and scales like
    the material-extraction UDF. The keep rule and its thresholds live in
    the kernel (kernel/web.py).
    """
    @F.pandas_udf(f"struct<{MAIN_CONTENT_TYPE}>")
    def main_udf(batches: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
        for series in batches:
            rows = []
            for html in series:
                out = main_content(html)
                rows.append({
                    "main_text": out["text"],
                    "n_blocks": out["n_blocks"],
                    "kept_blocks": out["kept_blocks"],
                    "dropped_chars": out["dropped_chars"],
                })
            yield pd.DataFrame(
                rows, columns=["main_text", "n_blocks", "kept_blocks",
                               "dropped_chars"])

    main_udf = main_udf.asNondeterministic()
    return (
        turns
        .where(F.col("text").isNotNull() & (F.length("text") > 0))
        .withColumn("main", main_udf(F.col("text")))
    )


def _main_text(html: str) -> str:
    return main_content(html)["text"]


def extract_materials_from_html(turns_html: DataFrame,
                                patterns=None) -> DataFrame:
    """Full web path: strip boilerplate, then run the material-extraction
    kernel on the recovered main text. Output schema matches
    ``extract_ordered`` (conv_id, turn_idx, turn_rank, tokens, spans,
    materials) so every downstream consumer is interchangeable.

    Strip and extraction run inside the ONE extraction UDF — each turn's
    text crosses the JVM/Python boundary once, and the stripped text
    never crosses back. A page with no main text yields no row."""
    narrow = turns_html.select("conv_id", "turn_idx", "text")
    return _ordered(_extract(narrow, patterns, include_tokens=False,
                             text_of=_main_text))
