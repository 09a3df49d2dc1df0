"""The extraction pipeline: turns DataFrame -> extraction DataFrame.

Spark re-expression of the reference's /process/material + /process/link
flows (SURVEY.md §3.1-3.2): one Arrow-batched pandas UDF per turn running
the pure kernel, with the dictionary trie broadcast once. The hot path is
shuffle-free — per-turn rows are independent; the only shuffle is the
rollup.

Plan shape (verified via .explain): parquet scan with pushed filters and a
two-column ReadSchema -> WholeStageCodegen filter -> ArrowEvalPython ->
filter + project. No groupBy, no join, no window in the hot path.
"""

from __future__ import annotations

import json
from functools import lru_cache
from typing import Callable, Iterator, Optional

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..kernel.gazetteer import crystal_structure_patterns, space_group_patterns
from .schemas import EXTRACTION_TYPE

# tiny curated dictionary kept for fast kernel tests
DEFAULT_CRYSTAL_NAMES = ["Al B2", "Cu O2", "Fe As", "Nb Ti", "La O"]
DEFAULT_SPACE_GROUPS = [
    {"name": "P6/mmm", "type": "hexagonal"},
    {"name": "Fm_3m", "type": "cubic"},
    {"name": "I4/mmm", "type": "tetragonal"},
    {"name": "Pnma", "type": "orthorhombic"},
]

def _read_resource(name: str) -> str:
    """Zip-safe resource read: a spark-submit --py-files deployment
    imports this package from a zip, where __file__-relative open()
    fails — importlib.resources reads through the zip importer."""
    from importlib import resources

    return (resources.files("material_parsers_spark")
            .joinpath("resources", name).read_text())


def build_default_patterns() -> list:
    return (crystal_structure_patterns(DEFAULT_CRYSTAL_NAMES)
            + space_group_patterns(DEFAULT_SPACE_GROUPS))


@lru_cache(maxsize=1)
def _full_patterns_cached() -> tuple:
    space_groups = json.loads(_read_resource("space_groups.json"))
    crystal = json.loads(_read_resource("crystal_structures.json"))
    patterns = (
        crystal_structure_patterns([i.get("name", "") for i in crystal])
        + space_group_patterns(space_groups)
    )
    return tuple(patterns)


def load_full_patterns() -> list:
    """The production dictionary: the full 230-space-group +
    100-prototype-compound base lists (resources/, data from the
    reference's deployment: `resources/data/{space-groups,
    crystal-structure}.json`) expanded by the D2/D3 generators into the
    same pattern set the reference ships (5,925 unique patterns; shipped
    file parity proven in tests/test_reference_differential.py)."""
    return list(_full_patterns_cached())


# the extraction of an empty text: null spans mark the row for removal
_NO_TEXT = {"tokens": None, "spans": None, "materials": None}


def _extract(turns: DataFrame, patterns: Optional[list],
             include_tokens: bool,
             text_of: Optional[Callable[[str], str]] = None) -> DataFrame:
    """Append the ``extraction`` column through the one extraction UDF,
    keeping only rows with text.

    The pattern list is broadcast once and the matcher trie built once
    per Python worker. ``text_of`` maps each input value to the text the
    kernel reads (the web path passes its main-content strip). The cheap
    null/empty filter runs JVM-side before any Python is invoked; a text
    that only turns out empty in Python comes back with null spans and is
    dropped after the UDF."""
    pattern_list = patterns if patterns is not None else load_full_patterns()
    broadcast_patterns = turns.sparkSession.sparkContext.broadcast(
        pattern_list)

    @F.pandas_udf(EXTRACTION_TYPE)
    def extract_udf(batches: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
        # imports inside the UDF so executors resolve them locally
        from ..kernel.gazetteer import TokenTrieMatcher
        from ..kernel.turns import extract_turn

        matcher = TokenTrieMatcher(broadcast_patterns.value)
        for series in batches:
            texts = series if text_of is None else map(text_of, series)
            rows = [extract_turn(text, matcher, include_tokens=include_tokens)
                    if text else _NO_TEXT for text in texts]
            yield pd.DataFrame(rows, columns=["tokens", "spans", "materials"])

    # The kernel is deterministic, but the non-deterministic flag stops
    # Catalyst from DUPLICATING the UDF: InferFiltersFromGenerate otherwise
    # pushes a size(materials)>0 predicate below a downstream explode and
    # re-evaluates the whole Python stage a second time (observed via
    # .explain: two ArrowEvalPython nodes for one query).
    extract_udf = extract_udf.asNondeterministic()
    return (
        turns
        .where(F.col("text").isNotNull() & (F.length("text") > 0))
        .withColumn("extraction", extract_udf(F.col("text")))
        .where(F.col("extraction.spans").isNotNull())
    )


def run_extraction(turns: DataFrame,
                   patterns: Optional[list] = None,
                   include_tokens: bool = True) -> DataFrame:
    """Append an ``extraction`` struct column (tokens, spans, materials).

    ``include_tokens=False`` halves the Arrow payload for consumers that
    only read spans/materials.
    """
    return _extract(turns, patterns, include_tokens)


def _ordered(extracted: DataFrame) -> DataFrame:
    """The per-turn output surface (conv_id, turn_idx, turn_rank, tokens,
    spans, materials). Under the input contract (turn_idx is the dense
    0-based order within its conversation) ``turn_rank = turn_idx + 1``
    is a pure column expression, so the plan has ZERO shuffles: scan ->
    JVM filter -> Arrow UDF."""
    return extracted.select(
        "conv_id", "turn_idx",
        (F.col("turn_idx") + F.lit(1)).cast("int").alias("turn_rank"),
        F.col("extraction.tokens").alias("tokens"),
        F.col("extraction.spans").alias("spans"),
        F.col("extraction.materials").alias("materials"),
    )


def extract_ordered(turns: DataFrame,
                    patterns: Optional[list] = None,
                    include_tokens: bool = True) -> DataFrame:
    """Per-turn extraction with a stable per-conversation rank. Column
    pruning: only (conv_id, turn_idx, text) feed the kernel."""
    narrow = turns.select("conv_id", "turn_idx", "text")
    return _ordered(run_extraction(narrow, patterns, include_tokens))


def span_counts_per_conversation(extracted: DataFrame,
                                 salt_buckets: int = 16) -> DataFrame:
    """Two-phase (salted) aggregation of span counts per conversation.

    Conversation sizes are heavy-tailed; a direct groupBy(conv_id) puts a
    hot conversation in one task. Salting splits each conversation across
    ``salt_buckets`` partial aggregates, then combines — both phases are
    map-side-combinable hash aggregates (SURVEY.md §4 item 1).
    """
    salted = extracted.withColumn(
        "salt", F.pmod(F.hash("turn_idx"), F.lit(salt_buckets)))
    partial = (
        salted.groupBy("conv_id", "salt")
        .agg(
            F.count("*").alias("turns_partial"),
            F.sum(F.size("spans")).alias("spans_partial"),
            F.sum(F.size("materials")).alias("materials_partial"),
        )
    )
    return (
        partial.groupBy("conv_id")
        .agg(
            F.sum("turns_partial").alias("n_turns"),
            F.sum("spans_partial").alias("n_spans"),
            F.sum("materials_partial").alias("n_materials"),
        )
    )
