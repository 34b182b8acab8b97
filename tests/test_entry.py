"""The driver table of __spark_entry__.py, checked without a Spark
session: the query count, the oracle keys, and that every `_on` row
names a kgspark.dataops operator that exists and takes its arguments,
so a typo fails here rather than when the driver runs the query."""

import inspect

import __spark_entry__ as entry
from kgspark import dataops

QUERIES = entry.queries()


def test_query_count():
    assert len(QUERIES) == 118


def test_every_oracle_is_a_query():
    assert set(entry.oracle_sql()) - set(QUERIES) == set()


def test_on_rows_name_existing_dataops_operators():
    rows = {
        name: inspect.getclosurevars(q).nonlocals
        for name, q in QUERIES.items()
        if q.__qualname__.startswith("_on.")
    }
    assert len(rows) == 34
    for name, row in rows.items():
        op = getattr(dataops, row["fn"], None)
        assert callable(op), (name, row["fn"])
        inspect.signature(op).bind(None, **row["kwargs"])
