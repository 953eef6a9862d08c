"""Search results served from the driver.

A search the driver-local tier answers already holds its rows as numpy
columns.  :class:`LocalResult` is a ``pyspark`` DataFrame over those
columns: ``collect``, ``count``, ``columns``, ``schema``, ``isEmpty``
and ``limit`` (so ``take``, ``head`` and ``first``) answer from them
with no pandas frame and no Python-JVM round trip.  ``toPandas`` builds
the pandas frame on first use, and every other DataFrame use
(``withColumn``, ``unionByName``, joins, ``show``, ``cache``, ...)
builds the JVM relation from it, with the same
``createDataFrame(frame, schema)`` a plain result would have run.
The reference serves hits the same way, as in-memory records
(``SearchResult``/``EmailSearchResult``, PAPER.md §1.1).
"""

from __future__ import annotations

from functools import cached_property, lru_cache

import numpy as np
import pandas as pd
from pyspark.sql import Row, SparkSession
from pyspark.sql.classic.dataframe import DataFrame
from pyspark.sql.pandas.types import _to_corrected_pandas_type
from pyspark.sql.types import StructType, _create_row, _parse_datatype_json_string


@lru_cache(maxsize=8)
def _schema_json(spark: SparkSession, ddl: str) -> str:
    """DDL -> StructType JSON.  Parsing DDL is a py4j call, so it runs
    once per schema; the cache holds strings, and every result parses
    its own StructType from them (no shared mutable schema)."""
    return spark._parse_ddl(ddl).json()


@lru_cache(maxsize=8)
def _column_dtypes(schema_json: str) -> tuple[tuple[str, np.dtype], ...]:
    """(name, numpy dtype) per field: the dtypes ``toPandas`` of the
    relation gives (object for strings)."""
    fields = _parse_datatype_json_string(schema_json).fields
    return tuple(
        (f.name, np.dtype(_to_corrected_pandas_type(f.dataType) or object)) for f in fields
    )


class LocalResult(DataFrame):
    """A DataFrame whose rows live in driver-side numpy columns.

    ``_pdf`` and ``_jdf`` are built lazily: ``"_pdf" in res.__dict__``
    and ``"_jdf" in res.__dict__`` tell whether the pandas frame and the
    JVM relation exist yet.  ``isinstance(res, DataFrame)`` holds, and
    an empty result's relation is folded to an empty local relation
    (``limit(0)``), so even its JVM collect runs no Spark job.
    """

    def __new__(cls, *args, **kwargs):
        # DataFrame.__new__ takes (jdf, session); this class has no jdf yet
        return object.__new__(cls)

    def __init__(self, cols: dict[str, np.ndarray], ddl: str, spark: SparkSession):
        """``cols``: the rows as one equal-length array per column of
        ``ddl``; arrays of another dtype than the relation's are cast."""
        self._schema_json = _schema_json(spark, ddl)
        self._cols = {
            name: a if (a := np.asarray(cols[name])).dtype == dt else a.astype(dt)
            for name, dt in _column_dtypes(self._schema_json)
        }
        self._n = len(next(iter(self._cols.values())))
        self._ddl = ddl
        # the state DataFrame.__init__ sets, minus _jdf
        self._session = spark
        self._sc = spark.sparkContext
        self.is_cached = False
        self._support_repr_html = False

    @classmethod
    def empty(cls, ddl: str, spark: SparkSession) -> LocalResult:
        dtypes = _column_dtypes(_schema_json(spark, ddl))
        return cls({name: np.empty(0, dt) for name, dt in dtypes}, ddl, spark)

    @cached_property
    def schema(self) -> StructType:
        """This result's own StructType, parsed on first use from the
        cached JSON (DataFrame.schema would ask the JVM)."""
        return _parse_datatype_json_string(self._schema_json)

    @cached_property
    def _pdf(self) -> pd.DataFrame:
        return pd.DataFrame(self._cols)

    @cached_property
    def _jdf(self):
        df = self._session.createDataFrame(self._pdf, self._ddl)
        if not self._n:
            # an empty pandas frame scans an empty RDD (one job); the
            # optimizer folds limit(0) to an empty local relation
            df = df.limit(0)
        return df._jdf

    @property
    def columns(self) -> list[str]:
        return list(self._cols)

    def count(self) -> int:
        return self._n

    def collect(self) -> list[Row]:
        names = list(self._cols)
        cols = [a.tolist() for a in self._cols.values()]
        return [_create_row(names, vals) for vals in zip(*cols)]

    def toPandas(self) -> pd.DataFrame:
        return self._pdf.copy()

    def isEmpty(self) -> bool:
        return not self._n

    def limit(self, num: int) -> DataFrame:
        """The first ``num`` rows, as a LocalResult; ``take``,
        ``head`` and ``first`` go through it.  A negative ``num`` is
        left to the JVM, which rejects it."""
        if not isinstance(num, int) or num < 0:
            return super().limit(num)
        return LocalResult({c: a[:num] for c, a in self._cols.items()}, self._ddl, self._session)
