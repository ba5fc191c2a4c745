"""Seeded inputs: reproducible, seed-dependent, and shaped the way the
catalog loads them."""

import filecmp
import os

import pyarrow as pa
import pyarrow.parquet as pq

from graftbench import datagen
from minoan_athenaeum_spark.catalog import TABLES, events_ts_unit, load_tables

SCALE = 0.002

SCHEMAS = {
    "region": [("r_regionkey", pa.int32()), ("r_name", pa.string())],
    "nation": [("n_nationkey", pa.int32()), ("n_name", pa.string()), ("n_regionkey", pa.int32())],
    "customer": [
        ("c_custkey", pa.int64()), ("c_name", pa.string()), ("c_nationkey", pa.int32()),
        ("c_acctbal", pa.float64()), ("c_mktsegment", pa.string()),
    ],
    "supplier": [
        ("s_suppkey", pa.int64()), ("s_name", pa.string()), ("s_nationkey", pa.int32()),
        ("s_acctbal", pa.float64()),
    ],
    "part": [
        ("p_partkey", pa.int64()), ("p_name", pa.string()), ("p_brand", pa.string()),
        ("p_type", pa.string()), ("p_size", pa.int32()), ("p_retailprice", pa.float64()),
    ],
    "orders": [
        ("o_orderkey", pa.int64()), ("o_custkey", pa.int64()), ("o_orderstatus", pa.string()),
        ("o_totalprice", pa.float64()), ("o_orderdate", pa.timestamp("us")),
        ("o_orderpriority", pa.string()),
    ],
    "lineitem": [
        ("l_orderkey", pa.int64()), ("l_partkey", pa.int64()), ("l_suppkey", pa.int64()),
        ("l_linenumber", pa.int32()), ("l_quantity", pa.float64()),
        ("l_extendedprice", pa.float64()), ("l_discount", pa.float64()), ("l_tax", pa.float64()),
        ("l_returnflag", pa.string()), ("l_linestatus", pa.string()),
        ("l_shipdate", pa.timestamp("us")),
    ],
    "events": [
        ("event_id", pa.int64()), ("ts", pa.timestamp("us")), ("user_id", pa.int64()),
        ("event_type", pa.string()), ("value", pa.float64()), ("props", pa.string()),
    ],
    "documents": [
        ("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
        ("source", pa.string()), ("n_chars", pa.int64()),
    ],
    "embeddings": [
        ("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())), ("label", pa.int32()),
    ],
}


def _write_all(root, seed):
    datagen.write_star(os.path.join(root, "star"), seed, SCALE)
    datagen.write_table_json(os.path.join(root, "tables"), seed)
    datagen.write_ingest(os.path.join(root, "ingest"), seed, 300, 40, 2)
    files = []
    for d, _, names in os.walk(root):
        files += [os.path.relpath(os.path.join(d, n), root) for n in names]
    return sorted(files)


def test_same_seed_same_bytes_other_seed_other_bytes(tmp_path):
    a, b, c = (tmp_path / x for x in "abc")
    files = _write_all(a, 7)
    assert _write_all(b, 7) == files == _write_all(c, 8)
    match, mismatch, errors = filecmp.cmpfiles(a, b, files, shallow=False)
    assert (mismatch, errors) == ([], [])
    match, mismatch, errors = filecmp.cmpfiles(a, c, files, shallow=False)
    # Fixed dimension tables repeat; every seeded file differs.
    assert sorted(match) == ["star/nation.parquet", "star/region.parquet"]


def test_tables_match_the_catalog(tmp_path, make_spark):
    rows = datagen.write_star(str(tmp_path), 3, SCALE)
    assert sorted(rows) == sorted(TABLES)
    for name in TABLES:
        schema = pq.read_schema(tmp_path / f"{name}.parquet")
        assert [(f.name, f.type) for f in schema] == SCHEMAS[name], name
    for name, n in datagen.ROWS_AT_SF1.items():
        assert rows[name] == round(n * SCALE), name
    assert rows["lineitem"] > rows["orders"]
    assert events_ts_unit(str(tmp_path)) == "us"

    spark = make_spark(str(tmp_path / "spark"))
    dfs = load_tables(spark, str(tmp_path))
    assert {name: df.count() for name, df in dfs.items()} == rows
