"""Zero-norm parity for the cosine queries.

DuckDB's ``x / 0`` is NULL, so ``_COSINE_SQL`` scores any pair with an
all-zero embedding as NULL: it ranks last under ``cosine DESC`` and never
passes a ``cosine >= tau`` filter. The synthetic embeddings hold no zero
vector, so these tests plant one in a copy of the sf0.01 table, once as a
data vector (vec_id 7) and once as a probe query (vec_id 0), and require
every cosine-ranked query to agree with its oracle."""

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from material_parsers_spark.pipeline.session import build_session
from material_parsers_spark.queries import ORACLE_SQL, SPARK_QUERIES
from tools.check_oracles import value_hash

SF_DIR = "/root/testdata/sf0.01"

COSINE_QUERIES = ["similarity_topk", "similarity_ann_lsh", "similarity_ivf",
                  "semdedup_embedding", "dedup_embedding_cosine"]


@pytest.fixture(scope="module")
def spark():
    return build_session(app_name="zero-norm-tests", master="local[4]",
                         shuffle_partitions=4)


@pytest.fixture(scope="module")
def zero_dirs(tmp_path_factory):
    """{zero vec_id: directory holding embeddings.parquet with that
    vector's components all set to 0.0}."""
    table = pq.read_table(f"{SF_DIR}/embeddings.parquet")
    ids = table.column("vec_id").to_pylist()
    field = table.schema.field("embedding")
    out = {}
    for zero_id in (7, 0):
        emb = table.column("embedding").to_pylist()
        emb[ids.index(zero_id)] = [0.0] * len(emb[0])
        path = tmp_path_factory.mktemp(f"zero{zero_id}")
        pq.write_table(
            table.set_column(table.schema.get_field_index("embedding"),
                             field, pa.array(emb, type=field.type)),
            str(path / "embeddings.parquet"))
        out[zero_id] = str(path)
    return out


@pytest.mark.parametrize("zero_id", [7, 0],
                         ids=["data_vector_7", "query_vector_0"])
@pytest.mark.parametrize("name", COSINE_QUERIES)
def test_zero_norm_cosine_matches_oracle(spark, zero_dirs, name, zero_id):
    path = zero_dirs[zero_id]
    df = SPARK_QUERIES[name](spark, path)
    spark_rows = [tuple(r) for r in df.collect()]
    con = duckdb.connect()
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM "
                f"'{path}/embeddings.parquet'")
    result = con.execute(ORACLE_SQL[name])
    oracle_rows = result.fetchall()
    oracle_cols = [d[0] for d in result.description]
    assert len(spark_rows) == len(oracle_rows)
    assert sorted(df.columns) == sorted(oracle_cols)
    assert value_hash(spark_rows, df.columns) == \
        value_hash(oracle_rows, oracle_cols)
