"""Keyed-frame convention: the pandas row index becomes explicit key columns.

The reference aligns frames implicitly by index labels (e.g. upsert at
/root/reference/epic/pandas/utils.py:469-489, alignable at utils.py:492-513,
reindex calls at utils.py:245,435,806). Spark rows are unordered and
unlabeled, so every "index-aware" operator here takes the key column name(s)
explicitly and composes joins on them. MultiIndex == multiple key columns.

All checks are expressed as aggregations (no collect of data rows), so they
hold at any scale: key-uniqueness is a count vs countDistinct comparison and
key-set equality is a full-outer join null count.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, functions as F

DEFAULT_KEY = "__key"


def as_keys(key: str | Sequence[str] | None) -> list[str]:
    if key is None:
        return [DEFAULT_KEY]
    if isinstance(key, str):
        return [key]
    return list(key)


def null_safe_key_cond(left_alias: str, right_alias: str, keys: Sequence[str]):
    """AND of per-key <=> comparisons. pandas index machinery matches
    NaN/None to itself (hash-based: Index.isin, get_indexer, reindex all
    resolve a NaN label to the NaN row), so keyed joins that mirror index
    alignment must join null-safely or silently diverge on null keys.
    EqualNullSafe remains a hash-joinable key: plan shapes are unchanged."""
    from functools import reduce

    return reduce(
        lambda a, b: a & b,
        [
            F.col(f"{left_alias}.{k}").eqNullSafe(F.col(f"{right_alias}.{k}"))
            for k in keys
        ],
    )


def with_row_key(df: DataFrame, name: str = DEFAULT_KEY) -> DataFrame:
    """Attach a unique (not contiguous) row id, like a fresh RangeIndex.

    ``monotonically_increasing_id`` is partition-local and never shuffles;
    ids are unique but sparse — the right trade at scale. Use
    ``zip_with_index`` when contiguity actually matters.
    """
    return df.withColumn(name, F.monotonically_increasing_id())


def zip_with_index(df: DataFrame, name: str = DEFAULT_KEY) -> DataFrame:
    """Contiguous 0..n-1 row ids, fully Arrow-side (no RDD round-trip,
    no single-partition shuffle): one small job counts rows per partition
    (each task ships back one long), the cumulative offsets broadcast,
    and a ``mapInArrow`` pass stamps ``offset + local_position`` onto
    each batch. Same two-job shape as RDD ``zipWithIndex``, but rows
    never leave the JVM/Arrow representation. Only for when the
    reference's RangeIndex contiguity is semantically required; prefer
    ``with_row_key``.

    Unlike RDD ``zipWithIndex`` (two jobs over ONE pinned RDD lineage),
    the two executions here must observe the same partition layout. When
    the plan contains an exchange, AQE coalescing can re-plan between
    the counting job and the stamping job, silently producing duplicate
    or non-contiguous ids — so such plans are pinned with an eager
    ``localCheckpoint`` first (materializes once; acceptable for an
    operator whose contract is a global contiguous numbering). Plans
    with no exchange (scans, maps, filters) skip the checkpoint; their
    residual assumption is a deterministic, partition-stable source —
    same as RDD zipWithIndex."""
    import pyarrow as pa
    from pyspark import TaskContext

    if "Exchange" in df._jdf.queryExecution().executedPlan().toString():
        df = df.localCheckpoint(eager=True)
    counts = (
        df.groupBy(F.spark_partition_id().alias("__pid"))
        .agg(F.count(F.lit(1)).alias("__n"))
        .collect()  # bounded: one row per partition, never data rows
    )
    offsets: dict[int, int] = {}
    acc = 0
    for r in sorted(counts, key=lambda row: row["__pid"]):
        offsets[r["__pid"]] = acc
        acc += r["__n"]
    off_b = df.sparkSession.sparkContext.broadcast(offsets)
    from pyspark.sql.types import LongType, StructField, StructType

    # fresh StructType: StructType.add MUTATES, and df.schema is cached —
    # appending in place would pollute the input frame's schema
    out_schema = StructType([*df.schema.fields, StructField(name, LongType(), False)])
    out_names = [f.name for f in out_schema.fields]

    def stamp(batches):
        pos = off_b.value.get(TaskContext.get().partitionId(), 0)
        for batch in batches:
            idx = pa.array(range(pos, pos + batch.num_rows), type=pa.int64())
            pos += batch.num_rows
            yield pa.RecordBatch.from_arrays([*batch.columns, idx], names=out_names)

    return df.mapInArrow(stamp, out_schema)


def is_key_unique(df: DataFrame, key: str | Sequence[str] | None = None) -> bool:
    """True iff the key columns identify rows 1:1 (cf. Index.is_unique,
    used by alignable at utils.py:492-513). GROUP BY treats null as a
    regular value, exactly matching pandas' hash-based index semantics:
    a single NaN label is a valid unique label
    (``pd.Index([1, nan]).is_unique`` is True), two NaN labels collide
    (``pd.Index([nan, nan]).is_unique`` is False)."""
    keys = as_keys(key)
    row = (
        df.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("__c"))
        .agg(F.coalesce(F.max("__c"), F.lit(1)).alias("mx"))
        .first()
    )
    return row["mx"] == 1


def alignable(df1: DataFrame, df2: DataFrame, key: str | Sequence[str] | None = None) -> bool:
    """True iff both frames are key-unique and have identical key sets —
    the exact-1:1-joinability test of the reference (utils.py:492-513).
    Null-safe like the rest of the keyed layer: pandas Index machinery
    matches a NaN label to itself, so two frames sharing one null key DO
    align. One Spark job: the fused single-plan formulation of
    :func:`alignable_frame`, collected to a bool."""
    return bool(alignable_frame(df1, df2, key).first()["alignable"])


def reindex(
    df: DataFrame,
    target_keys: DataFrame,
    key: str | Sequence[str] | None = None,
) -> DataFrame:
    """Left-join ``df`` onto a target key set: rows for missing keys appear
    null-filled, rows absent from the target drop (utils.py:245,435,806).
    Null-safe: a null target label resolves to the null-key row, matching
    pandas reindex's hash-based NaN matching."""
    keys = as_keys(key)
    t = target_keys.select(*keys).alias("__ri_t")
    d = df.alias("__ri_d")
    return t.join(d, on=null_safe_key_cond("__ri_t", "__ri_d", keys), how="left").select(
        *[F.col(f"__ri_t.{k}").alias(k) for k in keys],
        *[F.col(f"__ri_d.{c}") for c in df.columns if c not in keys],
    )


def lookup(
    df: DataFrame,
    items: DataFrame,
    key: str | Sequence[str] | None = None,
    check_missing: bool = True,
) -> DataFrame:
    """Label lookup with existence check — the reference's
    `index.get_indexer(items)` + KeyError-on-miss (utils.py:694-703,
    sparse.py:77-92): inner join against the requested key set; if
    ``check_missing``, raise KeyError when any requested key is absent
    (one anti-join count, no data movement beyond keys)."""
    keys = as_keys(key)
    wanted = items.select(*keys)
    if check_missing:
        w, s = wanted.alias("__lk_w"), df.select(*keys).alias("__lk_s")
        n_missing = (
            w.join(s, on=null_safe_key_cond("__lk_w", "__lk_s", keys), how="left_anti")
            .limit(1)
            .count()
        )
        if n_missing:
            raise KeyError(f"lookup keys missing from frame (checked {keys})")
    o, n = df.alias("__lk_o"), wanted.alias("__lk_n")
    return o.join(n, on=null_safe_key_cond("__lk_o", "__lk_n", keys), how="left_semi")


def order_by_key_list(df: DataFrame, ordered_keys: list, key: str | Sequence[str] | None = None) -> DataFrame:
    """User-supplied explicit row order (`counts.loc[sort]`,
    plot.py:486-487): broadcast-join an (key, ord) list and sort by ord.
    Keys absent from the list drop, matching .loc selection."""
    keys = as_keys(key)
    if len(keys) != 1:
        raise ValueError("order_by_key_list supports a single key column")
    spark = df.sparkSession
    key_type = dict(df.dtypes)[keys[0]]
    order_df = spark.createDataFrame(
        [(k, i) for i, k in enumerate(ordered_keys)], f"{keys[0]} {key_type}, __ord long"
    )
    return df.join(F.broadcast(order_df), on=keys, how="inner").orderBy("__ord").drop("__ord")


def identity_series(df: DataFrame, key: str | Sequence[str] | None = None, value_name: str = "value") -> DataFrame:
    """IdentitySeries (utils.py:630-723): a virtual series whose value IS
    the key. The reference needs a whole class to avoid materializing it;
    in a lazy engine it is literally one aliased column reference."""
    keys = as_keys(key)
    if len(keys) != 1:
        raise ValueError("identity_series is single-key")
    return df.select(F.col(keys[0]), F.col(keys[0]).alias(value_name))


def alignable_frame(df1: DataFrame, df2: DataFrame, key: str | Sequence[str] | None = None) -> DataFrame:
    """Lazy single-plan `alignable`: a 1-row DataFrame with the boolean.

    Fused formulation (round 11, guide §2.4 "remove shuffles outright"):
    alignable <=> every key occurs EXACTLY ONCE on each side, so tag
    each side's keys, union them, and aggregate per key once — the
    side-tagged counts answer uniqueness (max per-side count is 1) and
    key-set equality (min per-side count is 1, i.e. no key missing from
    either side) in the same pass. One union scan + ONE keyed hash
    aggregate + a 1-row reduction, versus the previous 2 keyed
    aggregates + full-outer sort-merge join (the eqNullSafe join
    condition also defeated exchange reuse, so that shape paid 4
    exchanges + 2 sorts in its measured physical plan).
    GroupBy treats null keys as one group, matching pandas' NaN-label
    semantics the way the old null-safe join did; empty vs empty stays
    alignable via the coalesce defaults."""
    keys = as_keys(key)
    s1 = df1.select(*[F.col(k) for k in keys], F.lit(0).alias("__side"))
    s2 = df2.select(*[F.col(k) for k in keys], F.lit(1).alias("__side"))
    per_key = (
        s1.unionByName(s2)
        .groupBy(*keys)
        .agg(
            F.sum(F.when(F.col("__side") == 0, 1).otherwise(0)).alias("__c1"),
            F.sum(F.when(F.col("__side") == 1, 1).otherwise(0)).alias("__c2"),
        )
    )
    return per_key.agg(
        (
            (F.coalesce(F.max("__c1"), F.lit(1)) == 1)
            & (F.coalesce(F.min("__c1"), F.lit(1)) == 1)
            & (F.coalesce(F.max("__c2"), F.lit(1)) == 1)
            & (F.coalesce(F.min("__c2"), F.lit(1)) == 1)
        ).alias("alignable")
    )


class SizedRowIterator:
    """Sized row iterator — `iterrows` (utils.py:845-877): iteration with a
    ``len()`` so progress bars work. Rows stream to the driver one JVM
    partition at a time via ``toLocalIterator`` — bounded driver memory,
    never a full collect. Driver-side by definition: this is the explicit
    escape hatch for small results, not a distributed path."""

    def __init__(self, df: DataFrame, index_keys: list[str] | None = None):
        self._df = df
        self._index_keys = index_keys
        self._count = df.count()

    def __len__(self) -> int:
        return self._count

    def __iter__(self):
        ks = self._index_keys
        for row in self._df.toLocalIterator(prefetchPartitions=True):
            if ks is None:
                yield row
            elif len(ks) == 1:
                yield row[ks[0]], row
            else:
                yield tuple(row[k] for k in ks), row


def iterrows(
    df: DataFrame,
    key: str | Sequence[str] | None = None,
    index: bool = False,
) -> SizedRowIterator:
    """`iterrows` parity (utils.py:845-877): ``index=False`` (default)
    yields plain Rows; ``index=True`` yields ``(key_value, Row)`` tuples
    with the key taken from the given key column(s) — scalar for a single
    key, tuple for a multi-key (MultiIndex analog)."""
    return SizedRowIterator(df, as_keys(key) if index else None)


def stack_indices(
    frames: Sequence[tuple[DataFrame, str | Sequence[str]]],
    position_col: str = "__pos",
) -> DataFrame:
    """`stack_indices` (utils.py:611-627): zip SAME-LENGTH key arrays
    positionally into one multi-key frame — pd.MultiIndex.from_arrays,
    with each input index contributing its levels in order and level
    names preserved. Spark rows carry no implicit position, so each
    frame gets an explicit contiguous id (`zip_with_index`) and the
    frames equi-join on it; a length mismatch raises like the reference.
    Duplicate level names get a pandas-style positional suffix."""
    if not frames:
        raise ValueError("no indices given")
    out = None
    seen: dict[str, int] = {}
    n_expected = None
    for df, key in frames:
        keys = as_keys(key)
        renamed = []
        for k in keys:
            n = seen.get(k, 0)
            seen[k] = n + 1
            renamed.append(F.col(k).alias(f"{k}_{n}" if n else k))
        part = zip_with_index(df.select(*keys), name=position_col).select(
            position_col, *renamed
        )
        if out is None:
            out = part
            n_expected = part.count()
        else:
            if part.count() != n_expected:
                raise ValueError("all indices must have the same length")
            out = out.join(part, on=position_col, how="inner")
    return out.drop(position_col)


def assemble_frame(
    series: dict[str, DataFrame],
    key: str | Sequence[str] | None = None,
    how: str = "outer",
) -> DataFrame:
    """Build one frame from multiple keyed (key, value) series by index
    alignment — `canonize_df_and_cols` (utils.py:726-757). Each input is a
    2-column frame (key, value); values land under their dict name. The
    alignment is a chain of null-safe equi-joins on the key (outer by
    default, like pd.concat(axis=1)); null-safe so a NaN-labeled row
    aligns with its NaN twin, matching pandas index alignment."""
    keys = as_keys(key)
    out = None
    for name, df in series.items():
        value_col = [c for c in df.columns if c not in keys]
        if len(value_col) != 1:
            raise ValueError(f"series {name!r} must have exactly one value column")
        renamed = df.select(*keys, F.col(value_col[0]).alias(name))
        if out is None:
            out = renamed
            continue
        l, r = out.alias("__af_l"), renamed.alias("__af_r")
        out = l.join(r, on=null_safe_key_cond("__af_l", "__af_r", keys), how=how).select(
            # under the null-safe condition a non-match zeroes the whole
            # other side, so coalesce recovers the key for outer joins
            *[
                F.coalesce(F.col(f"__af_l.{k}"), F.col(f"__af_r.{k}")).alias(k)
                for k in keys
            ],
            *[F.col(f"__af_l.{c}") for c in out.columns if c not in keys],
            F.col(f"__af_r.{name}"),
        )
    if out is None:
        raise ValueError("no series given")
    return out


def canonize_frame_and_cols(arg, *items, key: str | Sequence[str] | None = None):
    """The reference's `canonize_df_and_cols` (utils.py:727-757): canonize
    arguments for functions that accept EITHER a frame plus some of its
    column names OR a collection of keyed series.

    Form (1) — ``canonize_frame_and_cols(df, "a", "b")``: every name must
    exist in ``df``; returns ``(df, "a", "b")`` unchanged.
    Form (2) — ``canonize_frame_and_cols(s1, s2, ...)`` where each input
    is a keyed series frame (key column(s) + exactly one value column):
    every pair must be `alignable` (the reference's inconsistent-index
    check), the series are assembled into one frame by aligned joins
    (:func:`assemble_frame`), and the value-column names are returned.

    The reference disambiguates on ``isinstance(arg, DataFrame)``; here
    both forms carry DataFrames, so the trailing items decide: all
    strings → form (1), all frames → form (2), a mix raises.

    The reference validates pairwise (utils.py:747-751) because pandas
    index checks are free; here each check would be a cluster job, so
    the O(k²) pairwise sweep is fused into ONE job: union all k key
    sets tagged with a frame id, then one grouped aggregate — mutual
    pairwise alignability is exactly "every key appears in all k frames
    exactly once" (``n_rows == n_frames == k`` per key). GROUP BY
    treats null as a value, so null keys align null-safely like the
    rest of the layer."""
    from collections import Counter

    if not items or all(isinstance(i, str) for i in items):
        missing = [c for c in items if c not in arg.columns]
        if missing:
            raise ValueError(f"Some column names are not found in DataFrame: {missing}")
        return (arg, *items)
    if not all(isinstance(i, DataFrame) for i in items):
        raise TypeError("pass either all column names or all series frames")
    keys = as_keys(key)
    frames = [arg, *items]
    names = []
    for f in frames:
        value_cols = [c for c in f.columns if c not in keys]
        if len(value_cols) != 1:
            raise ValueError("each series frame must have exactly one value column")
        names.append(value_cols[0])
    # Suffix ONLY colliding names (x,x,y -> x_0,x_1,y). A Spark
    # necessity — assemble_frame's dict keys cannot hold duplicates —
    # not pd.concat behavior (pd.concat keeps duplicate names verbatim).
    dupes = {n for n, c in Counter(names).items() if c > 1}
    if dupes:
        names = [f"{n}_{i}" if n in dupes else n for i, n in enumerate(names)]
    k = len(frames)
    tagged = frames[0].select(*keys).withColumn("__fid", F.lit(0))
    for i, f in enumerate(frames[1:], start=1):
        tagged = tagged.unionByName(f.select(*keys).withColumn("__fid", F.lit(i)))
    bad = (
        tagged.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("__n"), F.count_distinct("__fid").alias("__nf"))
        .filter((F.col("__n") != k) | (F.col("__nf") != k))
        .limit(1)
        .count()
    )
    if bad:
        raise ValueError("Inputs have inconsistent indices.")
    assembled = assemble_frame(dict(zip(names, frames)), key=keys)
    return (assembled, *names)
