"""Parallel iterable → DataFrame ingestion — the reference's
`df_from_iterable` / `series_from_iterable`
(/root/reference/epic/pandas/create.py:48-213).

Reference pipeline: worker-pool fan-out of a per-record transform
(create.py:136-143), sub-dict collapse to joined `parent_child` column names
(create.py:28-36,119-127), None-field dropping, None-transform row skipping,
then columnar accumulation with NaN backfill (schema union,
create.py:144-160).

Spark-first: the worker pool IS Spark — `spark.sparkContext.parallelize` +
`map`/`filter` replace ultimap; the NaN backfill is `createDataFrame`'s
schema union over dict rows. The transform/keyfunc hooks run as RDD maps on
executors. For iterables too large for the driver, callers should land the
records as JSON/parquet and use `sources.io.load` — driver-side iterables
are inherently a small-data path.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable

from pyspark.sql import DataFrame, SparkSession

from epic_pandas_spark.keyed import DEFAULT_KEY


def _collapse(record: dict, collapse_subdict: str | None, sep: str = "_") -> dict | None:
    """Flatten one level of sub-dicts and drop None-valued fields
    (create.py:28-36). Returns None to skip the record."""
    if record is None:
        return None
    out = {}
    for field, value in record.items():
        if value is None:
            continue
        if isinstance(value, dict) and collapse_subdict:
            # 'joined' and 'multilevel' both flatten to joined names: pandas'
            # MultiIndex tuple keys have no Spark equivalent (columns are flat)
            for sub, sv in value.items():
                if sv is not None:
                    out[f"{field}{sep}{sub}"] = sv
        else:
            out[field] = value
    return out


def df_from_iterable(
    spark: SparkSession,
    iterable: Iterable,
    key_col: str = DEFAULT_KEY,
    keyfunc: Callable | None = None,
    transform: Callable | None = None,
    collapse_subdict: str | None = "joined",
    schema=None,
    n_partitions: int | None = None,
) -> DataFrame:
    """Build a DataFrame from an iterable of ``(key, record_dict)`` pairs
    (or plain records with ``keyfunc``).

    - ``transform(record) -> dict | None``: per-record hook; None skips the
      record (create.py:37-45,80-88).
    - missing fields across heterogeneous records become nulls (the NaN
    backfill of create.py:156-159) via schema union.
    - ``schema``: explicit StructType == the reference's `dtypes` override
      (create.py:92-94).
    """
    records = list(iterable)  # driver-side by contract; see module docstring
    if not records:
        return spark.createDataFrame([], schema=schema or f"{key_col} string")
    n_parts = n_partitions or max(1, min(len(records) // 64, spark.sparkContext.defaultParallelism))
    rdd = spark.sparkContext.parallelize(records, n_parts)

    def process(item):
        if keyfunc is not None:
            key, record = keyfunc(item), item
        else:
            key, record = item
        if transform is not None:
            record = transform(record)
        record = _collapse(record, collapse_subdict)
        if record is None:
            return None
        return {key_col: key, **record}

    rows = rdd.map(process).filter(lambda r: r is not None)
    if schema is not None:
        return spark.createDataFrame(rows, schema=schema)
    return spark.createDataFrame(rows.map(lambda d: d), samplingRatio=1.0)


def series_from_iterable(
    spark: SparkSession,
    iterable: Iterable,
    key_col: str = DEFAULT_KEY,
    value_col: str = "value",
    keyfunc: Callable | None = None,
    transform: Callable | None = None,
) -> DataFrame:
    """(key, value) two-column variant (create.py:175-213; the 'value'
    column-name convention is the reference's, create.py:208-213)."""
    records = list(iterable)
    if not records:
        return spark.createDataFrame([], schema=f"{key_col} string, {value_col} string")
    rdd = spark.sparkContext.parallelize(records)

    def process(item):
        if keyfunc is not None:
            key, value = keyfunc(item), item
        else:
            key, value = item
        if transform is not None:
            value = transform(value)
        if value is None:
            return None
        return {key_col: key, value_col: value}

    rows = rdd.map(process).filter(lambda r: r is not None)
    return spark.createDataFrame(rows, samplingRatio=1.0)
