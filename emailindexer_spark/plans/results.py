"""Search results served from the driver.

A search the driver-local tier answers already holds its rows in a
small pandas frame.  :class:`LocalResult` is a ``pyspark`` DataFrame over
that frame: ``collect``, ``toPandas``, ``count``, ``columns`` and
``schema`` answer from the frame with no Python-JVM round trip, and
every other DataFrame use (``withColumn``, ``unionByName``, joins,
``show``, ``cache``, ...) builds the JVM relation on first use, with the
same ``createDataFrame(frame, schema)`` a plain result would have run.
The reference serves hits the same way, as in-memory records
(``SearchResult``/``EmailSearchResult``, PAPER.md §1.1).
"""

from __future__ import annotations

from functools import cached_property, lru_cache

import pandas as pd
from pyspark.sql import Row, SparkSession
from pyspark.sql.classic.dataframe import DataFrame
from pyspark.sql.pandas.types import _to_corrected_pandas_type
from pyspark.sql.types import _create_row, _parse_datatype_json_string


@lru_cache(maxsize=8)
def _schema_json(spark: SparkSession, ddl: str) -> str:
    """DDL -> StructType JSON.  Parsing DDL is a py4j call, so it runs
    once per schema; the cache holds strings, and every result parses
    its own StructType from them (no shared mutable schema)."""
    return spark._parse_ddl(ddl).json()


class LocalResult(DataFrame):
    """A DataFrame whose rows live in a driver-side pandas frame.

    ``_jdf`` is built lazily: ``"_jdf" in res.__dict__`` tells whether
    the JVM relation exists yet.  ``isinstance(res, DataFrame)`` holds,
    and an empty result's relation is folded to an empty local relation
    (``limit(0)``), so even its JVM collect runs no Spark job.
    """

    def __new__(cls, *args, **kwargs):
        # DataFrame.__new__ takes (jdf, session); this class has no jdf yet
        return object.__new__(cls)

    def __init__(self, pdf: pd.DataFrame, ddl: str, spark: SparkSession):
        """``pdf``: the rows, columns in the order of ``ddl``, with a
        default RangeIndex (what ``toPandas`` of the relation gives)."""
        schema = _parse_datatype_json_string(_schema_json(spark, ddl))
        # coerce only the columns that differ (astype of a whole frame
        # costs ~1 ms even when nothing changes)
        dtypes = {f.name: _to_corrected_pandas_type(f.dataType) or object for f in schema.fields}
        off = {c: d for c, d in dtypes.items() if pdf[c].dtype != d}
        if off:
            pdf = pdf.astype(off)
        self._pdf = pdf
        self._ddl = ddl
        # the state DataFrame.__init__ sets, minus _jdf
        self._session = spark
        self._sc = spark.sparkContext
        self.is_cached = False
        self._support_repr_html = False
        # DataFrame.schema is a cached_property: pre-fill it
        self.__dict__["schema"] = schema

    @classmethod
    def empty(cls, ddl: str, spark: SparkSession) -> LocalResult:
        names = _parse_datatype_json_string(_schema_json(spark, ddl)).names
        return cls(pd.DataFrame(columns=names), ddl, spark)

    @cached_property
    def _jdf(self):
        df = self._session.createDataFrame(self._pdf, self._ddl)
        if not len(self._pdf):
            # an empty pandas frame scans an empty RDD (one job); the
            # optimizer folds limit(0) to an empty local relation
            df = df.limit(0)
        return df._jdf

    @property
    def columns(self) -> list[str]:
        return list(self._pdf.columns)

    def count(self) -> int:
        return len(self._pdf)

    def collect(self) -> list[Row]:
        names = self.schema.names
        cols = [self._pdf[c].tolist() for c in names]
        return [_create_row(names, vals) for vals in zip(*cols)]

    def toPandas(self) -> pd.DataFrame:
        return self._pdf.copy()
