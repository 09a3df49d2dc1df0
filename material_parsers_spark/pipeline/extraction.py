"""The extraction pipeline: turns DataFrame -> extraction DataFrame.

Spark re-expression of the reference's /process/material + /process/link
flows (SURVEY.md §3.1-3.2): one Arrow scalar-iterator UDF per turn running
the pure kernel. Per session the pattern list is broadcast once, per
Python worker process the dictionary trie is built once, and per Arrow
batch the kernel runs once per distinct text. The hot path is
shuffle-free — per-turn rows are independent; the only shuffle is the
rollup.

Per task, a reused Python worker pays a fixed cost before the UDF body
runs: PySpark's ``worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()``, which makes every cached
``zipimporter`` re-read its archive's directory (pyspark.zip, once per
imported subpackage, py4j and the spark-core jar: ~0.2 CPU-s and up to
~0.45 s of wall time per task). The UDF drops those cached importers at
the start of each task (``_drop_zip_importers``), so from a worker's
third task on that call re-reads nothing.

Plan shape (verified via .explain): parquet scan with pushed filters and a
two-column ReadSchema -> WholeStageCodegen filter -> ArrowEvalPython ->
filter + project. No groupBy, no join, no window in the hot path.
"""

from __future__ import annotations

import hashlib
import json
import pickle
import sys
import zipimport
from functools import lru_cache
from typing import Callable, Iterator, Optional

import pyarrow as pa
from pyspark import SparkContext
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_type

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

# driver side: (applicationId, pattern digest) -> that pattern set's
# broadcast, and (applicationId, pattern digest, include_tokens, text_of)
# -> the extraction UDF, whose closure holds that broadcast
_BROADCASTS: dict = {}
_UDFS: dict = {}
# worker side: pattern digest -> trie, kept while the Python worker lives
_MATCHERS: dict = {}


def _drop_zip_importers() -> None:
    """Drop this process's cached ``zipimporter`` path finders, so the
    ``importlib.invalidate_caches()`` before the worker's next task
    re-reads no zip archive (see the module docstring for the cost).

    ``sys.path_importer_cache`` is only a cache: ``PathFinder`` rebuilds a
    dropped entry through ``sys.path_hooks`` when an import next needs it,
    and a new ``zipimporter`` reads zipimport's own directory cache, not
    the archive; that cache stays right because Spark does not rewrite a
    shipped archive in place unless ``spark.files.overwrite`` is set.
    Loaded modules keep their own loaders, so their
    ``importlib.resources`` reads, from a ``--py-files`` zip too, still
    work. Top-level, so the UDF pickles it by reference."""
    for path, finder in list(sys.path_importer_cache.items()):
        if isinstance(finder, zipimport.zipimporter):
            del sys.path_importer_cache[path]


def _worker_matcher(digest: str, patterns):
    """This Python worker's trie for one pattern set: built from the
    broadcast on first use, then reused by every later task the worker
    runs. Top-level, so the UDF pickles it by reference and the worker
    reads this module's ``_MATCHERS``."""
    matcher = _MATCHERS.get(digest)
    if matcher is None:
        from ..kernel.gazetteer import TokenTrieMatcher

        matcher = _MATCHERS[digest] = TokenTrieMatcher(patterns.value)
    return matcher


def _extraction_udf(sc: SparkContext, pattern_list: list,
                    include_tokens: bool,
                    text_of: Optional[Callable[[str], str]]):
    """The session's extraction UDF for these arguments, made on the first
    call only. The patterns are broadcast once per pattern set, whatever
    the other arguments, so the direct and web paths, with or without
    tokens, share one broadcast. Entries of any other SparkContext are
    dropped, so the caches hold one context's UDFs and broadcasts."""
    app_id = sc.applicationId
    digest = hashlib.sha256(pickle.dumps(pattern_list)).hexdigest()
    key = (app_id, digest, include_tokens, text_of)
    if key in _UDFS:
        return _UDFS[key]
    for cache in (_UDFS, _BROADCASTS):
        for stale in [k for k in cache if k[0] != app_id]:
            del cache[stale]
    broadcast_patterns = _BROADCASTS.get((app_id, digest))
    if broadcast_patterns is None:
        broadcast_patterns = _BROADCASTS[(app_id, digest)] = sc.broadcast(
            pattern_list)
    arrow_type = to_arrow_type(EXTRACTION_TYPE)

    @F.arrow_udf(EXTRACTION_TYPE)
    def extract_udf(batches: Iterator[pa.Array]) -> Iterator[pa.Array]:
        # imported inside the UDF so executors resolve it locally
        from ..kernel.turns import extract_turn

        _drop_zip_importers()
        matcher = _worker_matcher(digest, broadcast_patterns)
        for batch in batches:
            # one kernel call per distinct text in the batch; a repeated
            # text shares its first occurrence's row
            memo: dict = {}
            rows = []
            for value in batch.to_pylist():
                row = memo.get(value)
                if row is None:
                    text = text_of(value) if text_of and value else value
                    row = memo[value] = (
                        extract_turn(text, matcher,
                                     include_tokens=include_tokens)
                        if text else _NO_TEXT)
                rows.append(row)
            yield pa.array(rows, type=arrow_type)

    # The kernel is deterministic, but the non-deterministic flag stops
    # Catalyst from DUPLICATING the UDF: InferFiltersFromGenerate otherwise
    # pushes a size(materials)>0 predicate below a downstream explode and
    # re-evaluates the whole Python stage a second time (observed via
    # .explain: two ArrowEvalPython nodes for one query).
    _UDFS[key] = extract_udf.asNondeterministic()
    return _UDFS[key]


def _extract(turns: DataFrame, patterns: Optional[list],
             include_tokens: bool,
             text_of: Optional[Callable[[str], str]] = None) -> DataFrame:
    """Append the ``extraction`` column through the one extraction UDF,
    keeping only rows with text.

    The UDF is an Arrow scalar-iterator UDF: each batch arrives as a
    ``pyarrow`` string array and leaves as one struct array built with
    ``pa.array``, with no pandas conversion either way. It is made once
    per session and argument set (see ``_extraction_udf``), every call
    with the same patterns shares one pattern broadcast, and each Python
    worker builds the trie once. At the start of each task the worker
    drops its cached zip importers (``_drop_zip_importers``), so the next
    task's ``importlib.invalidate_caches()`` re-reads no zip archive. This
    is safe: zip-loaded modules keep their loaders, and a later import
    builds a new importer from zipimport's directory cache. ``text_of``
    maps each input value to the text the kernel reads (the web path
    passes its main-content strip).
    The cheap null/empty filter runs JVM-side before any Python is
    invoked; a text that only turns out empty in Python comes back with
    null spans and is dropped after the UDF."""
    pattern_list = patterns if patterns is not None else load_full_patterns()
    extract_udf = _extraction_udf(turns.sparkSession.sparkContext,
                                  pattern_list, include_tokens, text_of)
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
