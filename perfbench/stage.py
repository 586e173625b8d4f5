"""Input staging: generated rows -> parquet files the program reads.

Written with pyarrow so staging costs no Spark jobs; the program under
test only ever sees these files.
"""

from __future__ import annotations

import os
import shutil
from datetime import datetime

import pyarrow as pa
import pyarrow.parquet as pq


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def write_table(path: str, columns: dict, schema: pa.Schema) -> None:
    pq.write_table(pa.table(columns, schema=schema), path)


SCHEMAS_SCHEMA = pa.schema([
    ("subject", pa.string()), ("version", pa.int32()),
    ("schema_type", pa.string()), ("schema_text", pa.string()),
    ("deleted", pa.bool_()), ("schema_id", pa.int64())])


def schemas_columns(rows) -> dict:
    cols = list(zip(*rows)) if rows else [()] * 6
    return dict(zip(SCHEMAS_SCHEMA.names, (list(c) for c in cols)))


DOCS_SCHEMA = pa.schema([
    ("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
    ("source", pa.string()), ("n_chars", pa.int64())])

EMB_SCHEMA = pa.schema([
    ("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())),
    ("label", pa.int32())])


def docs_columns(docs) -> dict:
    """docs: iterable of (doc_id, source, text)."""
    docs = list(docs)
    return {"doc_id": [d[0] for d in docs], "text": [d[2] for d in docs],
            "lang": ["en"] * len(docs), "source": [d[1] for d in docs],
            "n_chars": [len(d[2]) for d in docs]}


def write_sf_dir(path: str, docs) -> None:
    """The catalog's table directory (catalog.TABLES): ``documents`` from
    ``docs``, every other table a one-row stub with the catalog schema,
    so the SQL surface registers without any real TPC-H data."""
    fresh_dir(path)
    one_ts = [datetime(2024, 1, 1)]
    stubs = {
        "region": {"r_regionkey": pa.array([0], pa.int32()),
                   "r_name": ["R"]},
        "nation": {"n_nationkey": pa.array([0], pa.int32()), "n_name": ["N"],
                   "n_regionkey": pa.array([0], pa.int32())},
        "customer": {"c_custkey": [1], "c_name": ["c"],
                     "c_nationkey": pa.array([0], pa.int32()),
                     "c_acctbal": [0.0], "c_mktsegment": ["m"]},
        "supplier": {"s_suppkey": [1], "s_name": ["s"],
                     "s_nationkey": pa.array([0], pa.int32()),
                     "s_acctbal": [0.0]},
        "part": {"p_partkey": [1], "p_name": ["p"], "p_brand": ["b"],
                 "p_type": ["t"], "p_size": pa.array([1], pa.int32()),
                 "p_retailprice": [1.0]},
        "orders": {"o_orderkey": [1], "o_custkey": [1],
                   "o_orderstatus": ["O"], "o_totalprice": [1.0],
                   "o_orderdate": pa.array(one_ts, pa.timestamp("us")),
                   "o_orderpriority": ["1"]},
        "lineitem": {"l_orderkey": [1], "l_partkey": [1], "l_suppkey": [1],
                     "l_linenumber": pa.array([1], pa.int32()),
                     "l_quantity": [1.0], "l_extendedprice": [1.0],
                     "l_discount": [0.0], "l_tax": [0.0],
                     "l_returnflag": ["N"], "l_linestatus": ["O"],
                     "l_shipdate": pa.array(one_ts, pa.timestamp("us"))},
        "events": {"event_id": [1],
                   "ts": pa.array(one_ts, pa.timestamp("us")),
                   "user_id": [1], "event_type": ["view"], "value": [0.0],
                   "props": ["{}"]},
    }
    for name, cols in stubs.items():
        pq.write_table(pa.table(cols), os.path.join(path, f"{name}.parquet"))
    write_table(os.path.join(path, "documents.parquet"), docs_columns(docs),
                DOCS_SCHEMA)
    write_table(os.path.join(path, "embeddings.parquet"),
                {"vec_id": [1], "embedding": [[0.0, 1.0]], "label": [0]},
                EMB_SCHEMA)
