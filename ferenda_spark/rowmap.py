"""One Arrow row mapper for every per-row Python stage.

``map_rows(df, fn, schema)`` runs ``fn(*row)`` on each row of ``df``
inside ``mapInArrow``: the row's values arrive in ``df``'s column
order as plain Python values (binary as ``bytes``, timestamps as
``datetime``, arrays as lists, structs as dicts), and ``fn`` returns
an iterable of 0..n output tuples in ``schema`` order.  One Arrow
record batch in, one out; no pandas round trip.  The helper catches
nothing: a stage that quarantines bad rows does so in its own ``fn``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType


def map_rows(df: DataFrame, fn, schema: str) -> DataFrame:
    arrow = to_arrow_schema(StructType.fromDDL(schema))

    def batches(it):
        import pyarrow as pa
        for batch in it:
            ins = [c.to_pylist() for c in batch.columns]
            rows = [out for row in zip(*ins) for out in fn(*row)]
            cols = zip(*rows) if rows else [[]] * len(arrow)
            yield pa.RecordBatch.from_arrays(
                [pa.array(c, type=f.type) for c, f in zip(cols, arrow)],
                schema=arrow)

    return df.mapInArrow(batches, schema)
