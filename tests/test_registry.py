"""The query registry (ferenda_spark/registry/): one declaration per
query, the driver contract built from it.  Spark-free: nothing here
runs a query."""

import pytest

import __spark_entry__ as entry
from ferenda_spark.registry import QUERIES, query

ROWS_ONLY = {"train_bpe_merges", "train_bpe_tokens",
             "clean_compression_ratio"}


def test_declaring_a_name_twice_raises():
    name = next(iter(QUERIES))
    fn, oracle = QUERIES[name]
    with pytest.raises(ValueError, match=name):
        query(name, oracle=None)(lambda spark, sf_dir: None)
    assert QUERIES[name] == (fn, oracle)


def test_rows_only_queries_are_exactly_the_three_and_say_why():
    # an oracle lost in a move would show up here as a fourth name
    no_oracle = {name for name, (_, sql) in QUERIES.items() if sql is None}
    assert no_oracle == ROWS_ONLY
    for name in ROWS_ONLY:
        doc = QUERIES[name][0].__doc__
        assert "rows-only" in doc.lower(), name


def test_driver_contract_is_built_from_the_registry():
    qs, oracles = entry.queries(), entry.oracle_sql()
    assert set(qs) == set(QUERIES)
    assert set(oracles) <= set(qs)
    assert set(qs) - set(oracles) == ROWS_ONLY
    for name, sql in oracles.items():
        assert isinstance(sql, str) and sql.strip(), name
