"""Deterministic sampling shared by all explainers.

The reference takes an exact 5,000-row uniform sample with a fixed seed
(many_to_one_explainer.py:311-333, global toggle utils/global_values.py).
Spark's ``df.sample(fraction, seed)`` is seeded **per partition**: the
rows it picks change whenever the scan's partition layout changes (file
splits, AQE coalescing, memory pressure), which made explainer outputs
flap between runs of the same query. SURVEY.md §7's risk register calls
this out; the fix is a hash-ordered top-n:

    orderBy(xxhash64(all columns, seed)).limit(n)

* deterministic w.r.t. partition layout — the hash depends only on row
  *values*;
* exact-n, matching the reference's exact-5000 contract;
* scale-safe — Spark executes orderBy+limit as TakeOrdered (per-partition
  top-n, then a driver-side merge of n*partitions candidates), so no full
  sort and no full shuffle even on a 100 TB input.

Spark refuses to hash MAP values (``DATATYPE_MISMATCH.HASH_MAP_TYPE``), so
a map reaches the hash as its entries sorted by key — the same value for
the same map whatever its insertion order. Every other column is hashed
as itself, so samples of map-free frames are unchanged.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def sql_ident(name: str) -> str:
    """``name`` as a backtick-quoted SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def sql_literal(text: str) -> str:
    """``text`` as a SQL string literal."""
    return "'" + text.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _has_map(dtype: T.DataType) -> bool:
    if isinstance(dtype, T.MapType):
        return True
    if isinstance(dtype, T.ArrayType):
        return _has_map(dtype.elementType)
    if isinstance(dtype, T.StructType):
        return any(_has_map(f.dataType) for f in dtype.fields)
    return False


def _hashable(e: str, dtype: T.DataType, depth: int = 0) -> str:
    """SQL for ``e`` with every nested map replaced by its key-sorted
    entry array (map keys cannot hold maps in Spark)."""
    if not _has_map(dtype):
        return e
    x = f"__e{depth}"
    if isinstance(dtype, T.MapType):
        entries = f"map_entries({e})"
        if _has_map(dtype.valueType):
            value = _hashable(f"{x}.value", dtype.valueType, depth + 1)
            entries = f"transform({entries}, {x} -> named_struct('key', {x}.key, 'value', {value}))"
        return f"array_sort({entries})"
    if isinstance(dtype, T.ArrayType):
        return f"transform({e}, {x} -> {_hashable(x, dtype.elementType, depth + 1)})"
    fields = ", ".join(
        f"{sql_literal(f.name)}, {_hashable(f'{e}.{sql_ident(f.name)}', f.dataType, depth + 1)}"
        for f in dtype.fields
    )
    return f"CASE WHEN {e} IS NULL THEN NULL ELSE named_struct({fields}) END"


def _row_hash(df: DataFrame, seed: int) -> Column:
    """Seeded xxhash64 of the full row (see the module docstring for
    maps), built as one SQL expression: one parse on the JVM instead of
    a py4j round trip per column."""
    cols = [_hashable(sql_ident(f.name), f.dataType) for f in df.schema.fields]
    return F.expr(f"xxhash64({', '.join(cols)}, {int(seed)})")


def deterministic_sample(df: DataFrame, n: int, seed: int = 42) -> DataFrame:
    """Exact-n pseudo-uniform sample, stable across partitionings.

    Rows are ranked by a seeded xxhash64 of the full row; ties (exact
    duplicate rows) are benign — any n of them are interchangeable.
    """
    return df.orderBy(_row_hash(df, seed)).limit(n)


def maybe_sample(df: DataFrame, use_sampling: bool, n: int, seed: int = 42) -> DataFrame:
    """Apply deterministic_sample only when enabled; callers skip the
    count() pre-check — limit(n) on fewer than n rows is a no-op."""
    if not use_sampling:
        return df
    return deterministic_sample(df, n, seed)


def weighted_sample(df: DataFrame, n: int, weight_col: str, seed: int = 42) -> DataFrame:
    """Exact-n weighted sample WITHOUT replacement — distributed
    Efraimidis–Spirakis (A-ES): each row draws a seeded uniform u from a
    row-content hash and is ranked by ln(u)/w (equivalent to the classic
    u^(1/w) key); the top n ranks are the sample. orderBy+limit executes
    as TakeOrdered (per-partition top-n + driver merge), so there is no
    full sort or shuffle at any scale — same plan family as
    ``deterministic_sample``.

    pandas-compatible edge semantics (reference passthrough,
    core/explainable_data_frame.py:636-669): rows with NULL, zero, or
    negative weight are never sampled. Infinite weights are not validated
    (pandas raises; validating here would cost an extra pass)."""
    big = float(2**61)
    u = (
        F.pmod(_row_hash(df, seed), F.lit(2**61))
        + F.lit(0.5)
    ) / F.lit(big)
    w = F.col(weight_col).cast("double")
    key = F.log(u) / w  # in (-inf, 0]; closer to 0 = higher effective draw
    return df.filter(w > 0).orderBy(F.desc(key)).limit(n)


def replacement_sample(df: DataFrame, n: int, seed: int = 42) -> DataFrame:
    """~Exact-n uniform sample WITH replacement: Spark's Poisson row
    replication at a 2x-overshot fraction, trimmed to n. Needs one count()
    action to size the fraction. May return fewer than n rows with
    vanishing probability (Poisson undershoot); exact with-replacement
    draws would need a global cumulative-weight index, which is not worth
    a shuffle for this pandas-parity path."""
    cnt = df.count()
    if cnt == 0 or n <= 0:
        return df.limit(0)
    fraction = min(2.0 * n / cnt + 10.0 / cnt, 100.0)
    return df.sample(withReplacement=True, fraction=fraction, seed=seed).limit(n)
