"""Driver-computed result frames that stay inside the JVM.

Several operators finish on the driver: a BPE merge table, an MMR or
k-center selection, a PageRank vector over the nations, ADC distance
tables, streaming watermark sentinels. The natural way to hand such a
bounded list back to Spark, ``spark.createDataFrame(rows, ddl)``,
wraps the rows in a ``PythonRDD`` (``_reserialize`` then
``map(identity)``), so every job over that frame — the ``orderBy``
that follows, a broadcast join, the noop sink — starts Python worker
tasks to deserialize a handful of rows. On a 4-core local[4] session
an 8-row frame sorted and written to the noop sink cost 2.6 s of CPU
(driver, JVM and Python workers; median of ten) through the list path
and 0.38 s through an Arrow table.

:func:`local_frame` types the rows once on the driver with the Arrow
schema derived from the DDL and hands Spark a ``pyarrow.Table``; Spark
ships its record batches to the JVM and builds the frame there, so
no Python worker ever runs for it.
"""

from __future__ import annotations

from collections.abc import Iterable, Sequence

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import _parse_datatype_string


def local_frame(spark: SparkSession, rows: Iterable[Sequence], ddl: str) -> DataFrame:
    """A JVM-only DataFrame of the positional ``rows`` with schema
    ``ddl`` (e.g. ``"merge_idx int, lhs string"``). Empty ``rows``
    give an empty frame of that schema."""
    schema = _parse_datatype_string(ddl)
    names = schema.names
    table = pa.Table.from_pylist(
        [dict(zip(names, row)) for row in rows], schema=to_arrow_schema(schema)
    )
    return spark.createDataFrame(table, schema)
