"""The query registry: each query is declared once, as

    @query("name", oracle=SQL)
    def _q_name(spark, sf_dir) -> DataFrame

``oracle`` is the DuckDB SQL for the same rows over the same parquet
tables, or None for a rows-only query whose docstring says why.
Importing the package imports every family module, which fills
``QUERIES`` (name -> (body, oracle))."""

QUERIES: dict = {}


def query(name: str, *, oracle):
    def declare(fn):
        if name in QUERIES:
            raise ValueError("query %r is declared twice" % name)
        QUERIES[name] = (fn, oracle)
        return fn
    return declare


from ferenda_spark.registry import (  # noqa: E402,F401
    clean, crawl, dedup, events, extract, graph, kg, mm, rdf, search, sim,
    stats, store, text, train)
