"""The gram builders in ``queries.py``.

- Equivalence: ``_ngrams_df`` gives byte-identical gram arrays (order,
  duplicates, distinct semantics) to a plain Python sliding window, and
  ``_rk_gram_occ`` gives the same (doc_id, pos, gram_h) triples as its
  DuckDB mirror, for every n the suite uses and for edge-length
  documents. Both run on the shared doubling ladder above n = 3.
- Plan shape: each builder, read by an explode behind a repartition,
  evaluates its expensive expressions a pinned number of times, behind
  a pinned number of Generate nodes."""

import duckdb
import pytest
from pyspark.sql import functions as F

from material_parsers_spark.pipeline.session import build_session
from material_parsers_spark.queries import (
    _RK_CHANNELS_SQL,
    _ngrams_df,
    _rk_fold_sql,
    _rk_gram_occ,
    _winnowed_fp_arrays,
    _winnowed_fps,
    bloom_decon_prefilter,
)


@pytest.fixture(scope="module")
def spark():
    return build_session(app_name="ngram-build", master="local[4]",
                         shuffle_partitions=4)


def _py_ngrams(text: str, n: int, distinct: bool):
    w = text.split(" ")
    if len(w) < n:
        return None
    grams = [" ".join(w[i:i + n]) for i in range(len(w) - n + 1)]
    if distinct:
        seen, out = set(), []
        for g in grams:
            if g not in seen:
                seen.add(g)
                out.append(g)
        return out
    return grams


def _edge_texts(n: int) -> list:
    return [
        "a b c d e f g h i j k l m",                       # exactly 13
        " ".join(f"w{i % 7}" for i in range(40)),          # repeats
        " ".join(f"t{i}" for i in range(100)),             # long
        "a b",                                             # < any n > 2
        " ".join("x" for _ in range(30)),                  # all-equal
        " ".join(f"w{i % 3}" for i in range(n)),           # exactly n
    ]


def _docs(spark, texts):
    return spark.createDataFrame(list(enumerate(texts)),
                                 "doc_id long, text string")


@pytest.mark.parametrize("n", [3, 5, 13, 25])
@pytest.mark.parametrize("distinct", [True, False])
def test_ngrams_match_python_reference(spark, n, distinct):
    texts = _edge_texts(n)
    docs = _docs(spark, texts)
    got = {r.doc_id: list(r.ngrams)
           for r in _ngrams_df(docs, n, distinct=distinct).collect()}
    for i, t in enumerate(texts):
        want = _py_ngrams(t, n, distinct)
        if want is None:
            assert i not in got, (n, distinct, i)
        else:
            assert got[i] == want, (n, distinct, i)


def _duckdb_rk_occ(texts, n: int) -> list:
    """(doc_id, pos, gram_h) from the oracle's channels and unrolled
    fold, pos 0-based."""
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)",
                    list(enumerate(texts)))
    return sorted(con.execute(f"""
WITH base AS (
  SELECT doc_id, w,{_RK_CHANNELS_SQL}
  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
  WHERE len(w) >= {n})
SELECT doc_id, i - 1 AS pos, {_rk_fold_sql(n)} AS gram_h
FROM base, unnest(generate_series(1, len(w) - {n - 1})) AS u(i)
""").fetchall())


@pytest.mark.parametrize("n", [3, 5, 13, 25])
def test_rk_gram_occ_matches_duckdb_mirror(spark, n):
    texts = _edge_texts(n)
    want = _duckdb_rk_occ(texts, n)
    got = sorted(tuple(r) for r in _rk_gram_occ(_docs(spark, texts), n)
                 .select("doc_id", "pos", "gram_h").collect())
    assert want  # the texts hold grams for every n
    assert got == want


# (split, zip_with, concat_ws, md5, Generate) occurrences in the executed
# plan. Without its final barrier a builder's build is cloned into the
# consumer's inferred size() > 0 filter, which raises the expression
# counts. The inner barriers (split words, word hashes, ladder levels,
# Bloom survivors) are each read twice, and CollapseProject does not
# inline a non-cheap expression read twice, so dropping one of those
# leaves the expression counts as they are; the Generate count, one per
# ``_materialize`` plus the consumer's explode, pins them.
_EXPENSIVE = ("split(", "zip_with(", "concat_ws(", "md5(", "Generate ")


def _ngrams_consumer(n):
    return lambda docs: (_ngrams_df(docs, n).repartition(2, "doc_id")
                         .select("doc_id", F.explode("ngrams")))


def _rk_consumer(n):
    return lambda docs: _rk_gram_occ(docs, n).repartition(2, "gram_h")


@pytest.mark.parametrize("build, counts", [
    (_ngrams_consumer(3), (2, 2, 2, 0, 2)),
    (_ngrams_consumer(5), (2, 3, 3, 0, 4)),
    (_ngrams_consumer(13), (2, 5, 5, 0, 5)),
    (_ngrams_consumer(25), (2, 6, 6, 0, 6)),
    (lambda docs: _winnowed_fps(docs).repartition(2, "doc_id"),
     (2, 0, 1, 1, 3)),
    (lambda docs: (_winnowed_fp_arrays(docs).repartition(2, "doc_id")
                   .select("doc_id", F.explode("fps"))),
     (2, 0, 1, 1, 3)),
    (_rk_consumer(3), (3, 5, 0, 2, 4)),
    (_rk_consumer(25), (3, 13, 0, 2, 7)),
], ids=["ngrams3", "ngrams5", "ngrams13", "ngrams25", "winnowed_fps",
        "winnowed_fp_arrays", "rk3", "rk25"])
def test_gram_builds_are_not_cloned_into_consumers(spark, build, counts):
    docs = _docs(spark, _edge_texts(25))
    plan = build(docs)._jdf.queryExecution().executedPlan().toString()
    assert tuple(plan.count(e) for e in _EXPENSIVE) == counts


def test_bloom_probe_is_not_cloned(spark, tmp_path):
    """The survivors are read twice (count and explode), yet the probe
    is in the plan once: 4 hashes, each written 3 times (12 md5s), plus
    the eval-split predicate in the filter and the scan (2 md5s). The
    13-gram build adds 4 Generate nodes, the survivors 1, the final
    explode 1."""
    _docs(spark, _edge_texts(25)).write.parquet(
        str(tmp_path / "documents.parquet"))
    plan = (bloom_decon_prefilter(spark, str(tmp_path))
            ._jdf.queryExecution().executedPlan().toString())
    assert tuple(plan.count(e) for e in _EXPENSIVE) == (2, 5, 5, 14, 6)
