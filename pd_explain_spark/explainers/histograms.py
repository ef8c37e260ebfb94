"""Single-pass dual-histogram service (SURVEY.md §4 custom-physical #1).

The reference's FEDEX kernel loops per column in pandas; here ONE Spark
job computes (column, bin) -> (source_count, result_count) for every
candidate column at once:

  explode(array(struct(attr, bin) per column)) -> groupBy(attr, bin)

The exploded stream collapses via map-side partial aggregation to at most
n_columns * n_bins rows per task, so the shuffle is tiny regardless of
input size — this is the plan that survives a 100x scale-up (no per-column
rescans of a 100 TB table).

Two flavors:
 * predicate fast path (filters): a single scan of the source, counting
   each row once for src and conditionally for res — zero extra I/O.
 * union path (joins / arbitrary result): source tagged 0, result tagged 1.

Binning: numeric columns (nunique > 6, the reference's rule,
metainsight_explainer.py:509-510) get equi-width bins from a profile
pass; everything else low-cardinality is its own category; very
high-cardinality strings are skipped (reference caps categories too).

Sampled inputs (``use_sampling=True``) are at most ``sample_size`` rows,
so Spark's per-job planning and codegen would dominate every pass over
them. ``collect_samples`` runs ONE Spark projection per call over
``deterministic_sample(...)`` and collects it through Arrow; the local
twins below (``local_profile_columns``, ``local_dual_histogram_predicate``,
``local_dual_histogram_union``) then profile and bin it in numpy with the
same bin keys as ``_bin_expr_col``. Local profiles count EXACT distinct
values (the reference's pandas ``nunique`` rule); the Spark profile uses
HLL (``approx_count_distinct``). Only full-data work stays in Spark: a
join RESULT's histogram (``result_histogram``).
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..operators.aggregates import is_numeric_type
from ..operators.sampling import deterministic_sample, sql_ident, sql_literal

NULL_TOKEN = "(null)"


@dataclass
class ColumnProfile:
    name: str
    is_numeric: bool  # numeric dtype AND nunique > 6
    distinct: int
    vmin: float | None = None
    vmax: float | None = None

    def bin_edges(self, n_bins: int) -> list[float] | None:
        if not self.is_numeric or self.vmin is None or self.vmax is None:
            return None
        lo, hi = float(self.vmin), float(self.vmax)
        if not math.isfinite(lo) or not math.isfinite(hi) or hi <= lo:
            return None
        return [lo + (hi - lo) * i / n_bins for i in range(n_bins + 1)]


def make_profile(
    name: str, numeric_dtype: bool, distinct: int, vmin, vmax, cat_cap: int = 60
) -> ColumnProfile | None:
    """The profile rule shared by every profiling pass: numeric treatment
    iff numeric dtype AND nunique > 6 (the reference's rule); None for a
    high-cardinality categorical (skipped — the reference caps
    categories too)."""
    is_num = numeric_dtype and distinct > 6
    if not is_num and distinct > cat_cap:
        return None
    prof = ColumnProfile(name=name, is_numeric=is_num, distinct=distinct)
    if numeric_dtype:
        prof.vmin, prof.vmax = vmin, vmax
    return prof


def profile_columns(df: DataFrame, columns: list[str], cat_cap: int = 60) -> dict[str, ColumnProfile]:
    """ONE aggregation computing approx distinct + min/max for all columns."""
    schema = {f.name: f.dataType for f in df.schema.fields}
    exprs: list[Column] = []
    for c in columns:
        exprs.append(F.approx_count_distinct(c).alias(f"{c}__d"))
        if is_numeric_type(schema[c]):
            exprs.append(F.min(c).cast("double").alias(f"{c}__lo"))
            exprs.append(F.max(c).cast("double").alias(f"{c}__hi"))
    row = df.agg(*exprs).first().asDict()
    out: dict[str, ColumnProfile] = {}
    for c in columns:
        prof = make_profile(
            c, is_numeric_type(schema[c]), row[f"{c}__d"] or 0,
            row.get(f"{c}__lo"), row.get(f"{c}__hi"), cat_cap,
        )
        if prof is not None:
            out[c] = prof
    return out


def _bin_expr(df: DataFrame, prof: ColumnProfile, n_bins: int) -> Column:
    """String bin key for one column of ``df`` (see ``_bin_expr_col``)."""
    return _bin_expr_col(df[prof.name], prof, n_bins)


def _bin_expr_col(c: Column, prof: ColumnProfile, n_bins: int) -> Column:
    """String bin key for an arbitrary source column: numeric ->
    zero-padded bucket index, categorical -> the value itself (padded
    index keeps lexical == numeric order)."""
    edges = prof.bin_edges(n_bins)
    if prof.is_numeric and edges is not None:
        # single-expression bin index ((v - lo) * n) / (hi - lo): every term
        # is one IEEE op on the exact min/max doubles, so an external SQL
        # engine evaluating the same expression assigns identical bins —
        # no pre-computed width constant that could differ by an ulp
        lo, hi = float(prof.vmin), float(prof.vmax)
        idx = F.least(
            F.lit(n_bins - 1),
            F.greatest(
                F.lit(0),
                F.floor((c.cast("double") - F.lit(lo)) * F.lit(n_bins) / F.lit(hi - lo)),
            ),
        )
        return F.when(c.isNull(), F.lit(NULL_TOKEN)).otherwise(F.lpad(idx.cast("string"), 4, "0"))
    return F.coalesce(c.cast("string"), F.lit(NULL_TOKEN))


def _bin_sql(column: str, prof: ColumnProfile, n_bins: int) -> str:
    """``_bin_expr_col`` as SQL text over column ``column`` — the same
    expression, parsed once on the JVM instead of built one py4j round
    trip per operator. ``CAST('<repr>' AS DOUBLE)`` folds to the exact
    double the Column form carries as a literal."""
    c = sql_ident(column)
    edges = prof.bin_edges(n_bins)
    if not (prof.is_numeric and edges is not None):
        return f"coalesce(CAST({c} AS STRING), '{NULL_TOKEN}')"
    lo, hi = float(prof.vmin), float(prof.vmax)
    idx = (
        f"least({n_bins - 1}, greatest(0, floor((CAST({c} AS DOUBLE) - CAST('{lo!r}' AS DOUBLE))"
        f" * {n_bins} / CAST('{hi - lo!r}' AS DOUBLE))))"
    )
    return f"CASE WHEN {c} IS NULL THEN '{NULL_TOKEN}' ELSE lpad(CAST({idx} AS STRING), 4, '0') END"


def dual_histogram_predicate_df(
    source: DataFrame, predicate: Column, profiles: dict[str, ColumnProfile], n_bins: int = 20
) -> DataFrame:
    """Filter fast path as a (tiny) Spark DataFrame: one scan of `source`;
    res_cnt counts rows passing the recorded predicate. Schema:
    (attribute, bin, src_cnt, res_cnt)."""
    from ..operators.partitioning import fan_out

    # project to the candidate columns + keep flag FIRST, then widen: the
    # explode below fans each row out 16x and is the CPU bottleneck on a
    # narrow local read — the conditional exchange carries only the
    # profiled columns and is a no-op on an already-wide cluster scan
    keep = F.when(predicate, F.lit(1)).otherwise(F.lit(0)).alias("__keep")
    narrow = fan_out(source.select(*[F.col(c) for c in profiles], keep))
    structs = [
        F.struct(F.lit(c).alias("attribute"), _bin_expr(narrow, p, n_bins).alias("bin"))
        for c, p in profiles.items()
    ]
    exploded = narrow.select(F.explode(F.array(*structs)).alias("s"), "__keep")
    return (
        exploded.groupBy(F.col("s.attribute").alias("attribute"), F.col("s.bin").alias("bin"))
        .agg(F.count(F.lit(1)).alias("src_cnt"), F.sum("__keep").alias("res_cnt"))
    )


def dual_histogram_predicate(
    source: DataFrame, predicate: Column, profiles: dict[str, ColumnProfile], n_bins: int = 20
):
    """`dual_histogram_predicate_df` collected to the driver as a small
    pandas frame (at most n_columns * n_bins rows)."""
    return dual_histogram_predicate_df(source, predicate, profiles, n_bins).toPandas()


def dual_histogram_union_df(
    source: DataFrame,
    result: DataFrame,
    profiles: dict[str, ColumnProfile],
    n_bins: int = 20,
    result_rename: dict[str, str] | None = None,
) -> DataFrame:
    """General path (joins) as a (tiny) Spark DataFrame: source tagged
    side=0, result side=1. ``result_rename`` maps source column name ->
    its name in the result (the join prefix contract)."""
    result_rename = result_rename or {}

    from ..operators.partitioning import fan_out

    def tagged(df: DataFrame, side: int, rename: dict[str, str]) -> DataFrame:
        sel = df
        for src_name, res_name in rename.items():
            if res_name != src_name and res_name in sel.columns:
                sel = sel.withColumnRenamed(res_name, src_name)
        # narrow projection before the conditional widen (see predicate path)
        sel = fan_out(sel.select(*[F.col(c) for c in profiles if c in sel.columns]))
        avail = [c for c in profiles if c in sel.columns]
        structs = [
            F.struct(F.lit(c).alias("attribute"), _bin_expr(sel, profiles[c], n_bins).alias("bin"))
            for c in avail
        ]
        return sel.select(F.explode(F.array(*structs)).alias("s"), F.lit(side).alias("__side"))

    both = tagged(source, 0, {}).unionByName(tagged(result, 1, result_rename))
    hist = (
        both.groupBy(F.col("s.attribute").alias("attribute"), F.col("s.bin").alias("bin"))
        .agg(
            F.sum(F.when(F.col("__side") == 0, 1).otherwise(0)).alias("src_cnt"),
            F.sum(F.when(F.col("__side") == 1, 1).otherwise(0)).alias("res_cnt"),
        )
    )
    return hist


def dual_histogram_union(
    source: DataFrame,
    result: DataFrame,
    profiles: dict[str, ColumnProfile],
    n_bins: int = 20,
    result_rename: dict[str, str] | None = None,
):
    """`dual_histogram_union_df` collected to the driver as a small pandas
    frame (at most n_columns * n_bins rows)."""
    return dual_histogram_union_df(
        source, result, profiles, n_bins, result_rename=result_rename
    ).toPandas()


# ---------------------------------------------------------------------------
# sampled inputs: one Arrow collect, then the driver-side twins
# ---------------------------------------------------------------------------


@dataclass
class LocalSample:
    """One sampled input on the driver, rows in sample order. Per
    collected column: ``keys`` is Spark's ``CAST(c AS STRING)`` with NULL
    as ``NULL_TOKEN`` (the categorical bin key) and ``distinct`` its exact
    non-NULL distinct count; numeric dtypes add ``values``
    (``CAST(c AS DOUBLE)``, NaN where NULL) and ``valid`` (the non-NULL
    mask — a NaN value stays distinct from NULL). ``extra`` holds the
    extra projected expressions as Arrow arrays."""

    n_rows: int
    keys: dict[str, np.ndarray] = field(default_factory=dict)
    distinct: dict[str, int] = field(default_factory=dict)
    values: dict[str, np.ndarray] = field(default_factory=dict)
    valid: dict[str, np.ndarray] = field(default_factory=dict)
    extra: dict[str, pa.ChunkedArray] = field(default_factory=dict)

    def where(self, name: str, value: bool = True) -> np.ndarray:
        """Rows whose boolean extra column ``name`` is ``value``; NULL
        matches neither, like SQL ``WHEN``."""
        arr = self.extra[name]
        if not value:
            arr = pc.invert(arr)
        return pc.fill_null(arr, False).to_numpy(zero_copy_only=False)


def collect_samples(
    inputs: list[tuple[DataFrame, list[str], dict[str, Column]]], n: int, seed: int = 42
) -> list[LocalSample]:
    """Sample every input with ``deterministic_sample(df, n, seed)`` and
    collect them all in ONE Spark job. Each ``(df, columns, extra)`` is
    projected to ``CAST(c AS DOUBLE)`` (numeric dtypes) and
    ``CAST(c AS STRING)`` per column, plus the ``extra`` name -> Column
    expressions; several inputs are tagged and unioned into the same
    Arrow collect. Each sample is a TakeOrdered, so rows arrive in
    sample order — the order a Spark aggregate over the sample sums in."""
    projected, layouts = [], []
    for p, (df, columns, extra) in enumerate(inputs):
        schema = {f.name: f.dataType for f in df.schema.fields}
        sample = deterministic_sample(df, n, seed)
        # SQL text: one py4j call per projected column
        sql, layout, names = [f"{p} AS __part"], [], {}
        for i, c in enumerate(columns):
            v = f"__s{p}v{i}" if is_numeric_type(schema[c]) else None
            if v is not None:
                sql.append(f"CAST({sql_ident(c)} AS DOUBLE) AS {v}")
            sql.append(f"CAST({sql_ident(c)} AS STRING) AS __s{p}k{i}")
            layout.append((c, f"__s{p}k{i}", v))
        cols = [F.expr(e) for e in sql]
        for j, (name, col) in enumerate((extra or {}).items()):
            cols.append(col.alias(f"__s{p}x{j}"))
            names[name] = f"__s{p}x{j}"
        projected.append(sample.select(*cols))
        layouts.append((layout, names))
    both = projected[0]
    for other in projected[1:]:
        both = both.unionByName(other, allowMissingColumns=True)
    table = both.toArrow()
    out = []
    for p, (layout, names) in enumerate(layouts):
        t = table.filter(pc.equal(table["__part"], p)) if len(layouts) > 1 else table
        s = LocalSample(n_rows=t.num_rows)
        for c, k, v in layout:
            s.keys[c] = pc.fill_null(t[k], NULL_TOKEN).to_numpy(zero_copy_only=False)
            s.distinct[c] = pc.count_distinct(t[k]).as_py()
            if v is not None:
                s.values[c] = t[v].to_numpy().astype(np.float64, copy=False)
                s.valid[c] = pc.is_valid(t[v]).to_numpy(zero_copy_only=False)
        s.extra = {name: t[col] for name, col in names.items()}
        out.append(s)
    return out


def _spark_min_max(v: np.ndarray) -> tuple[float | None, float | None]:
    """Spark's MIN/MAX over non-NULL doubles: NaN orders above every
    number, so one NaN makes MAX NaN while MIN skips it."""
    if not len(v):
        return None, None
    nan = np.isnan(v)
    if nan.all():
        return float("nan"), float("nan")
    return float(v[~nan].min()), float("nan") if nan.any() else float(v.max())


def local_profile_columns(
    sample: LocalSample, columns: list[str], cat_cap: int = 60
) -> dict[str, ColumnProfile]:
    """``profile_columns`` over a collected sample, with EXACT distinct
    counts (the reference's ``nunique``) where Spark uses HLL."""
    out: dict[str, ColumnProfile] = {}
    for c in columns:
        lo, hi = (
            _spark_min_max(sample.values[c][sample.valid[c]])
            if c in sample.values else (None, None)
        )
        prof = make_profile(c, c in sample.values, sample.distinct[c], lo, hi, cat_cap)
        if prof is not None:
            out[c] = prof
    return out


def local_bin_keys(sample: LocalSample, column: str, prof: ColumnProfile, n_bins: int) -> np.ndarray:
    """``_bin_expr_col`` over a collected column: the same IEEE
    expression on the same doubles, so the same bin keys."""
    edges = prof.bin_edges(n_bins)
    if not (prof.is_numeric and edges is not None):
        return sample.keys[column]
    lo, hi = float(prof.vmin), float(prof.vmax)
    with np.errstate(invalid="ignore", over="ignore"):
        idx = np.floor((sample.values[column] - lo) * n_bins / (hi - lo))
    # Spark's FLOOR to BIGINT maps NaN to 0; greatest/least then clamp
    idx = np.clip(np.nan_to_num(idx, nan=0.0), 0, n_bins - 1).astype(np.int64)
    labels = np.array(
        [str(i).rjust(4, "0")[:4] for i in range(n_bins)] + [NULL_TOKEN], dtype=object
    )
    return labels[np.where(sample.valid[column], idx, n_bins)]


def local_histogram(
    sample: LocalSample,
    bindings: list[tuple[str, str, ColumnProfile]],
    n_bins: int,
    counts: dict[str, np.ndarray | None],
) -> pd.DataFrame:
    """The explode/groupBy kernel over a collected sample: per
    (attribute, bin), one count column per ``counts`` entry (name -> row
    mask, None = every row). ``bindings`` are (attribute label, sample
    column, profile)."""
    frames = []
    for attr, column, prof in bindings:
        uniq, inv = np.unique(local_bin_keys(sample, column, prof, n_bins), return_inverse=True)
        cols = {"attribute": np.full(len(uniq), attr, dtype=object), "bin": uniq}
        for name, mask in counts.items():
            cols[name] = np.bincount(inv if mask is None else inv[mask], minlength=len(uniq))
        frames.append(pd.DataFrame(cols))
    if not frames:
        return pd.DataFrame(columns=["attribute", "bin", *counts])
    return pd.concat(frames, ignore_index=True)


def local_dual_histogram_predicate(
    sample: LocalSample, keep: np.ndarray, profiles: dict[str, ColumnProfile], n_bins: int = 20
) -> pd.DataFrame:
    """``dual_histogram_predicate`` over a collected sample; ``keep`` is
    the recorded predicate's row mask."""
    bindings = [(c, c, p) for c, p in profiles.items()]
    return local_histogram(sample, bindings, n_bins, {"src_cnt": None, "res_cnt": keep})


def result_bindings(
    profiles: dict[str, ColumnProfile],
    columns: list[str],
    rename: dict[str, str] | None = None,
    prefix: str = "",
) -> list[tuple[str, str, ColumnProfile]]:
    """(attribute label, result column, profile) per profiled source
    column that the result carries — under ``rename`` (the join prefix
    contract), else under its own name."""
    rename = rename or {}
    out = []
    for c, p in profiles.items():
        rn = rename.get(c, c)
        name = rn if rn in columns else (c if c in columns else None)
        if name is not None:
            out.append((prefix + c, name, p))
    return out


def merge_histograms(src: pd.DataFrame, res: pd.DataFrame) -> pd.DataFrame:
    """Outer-join (attribute, bin, src_cnt) with (attribute, bin,
    res_cnt); a side that never saw a bin counts 0 — the sums the union
    flavor produces."""
    out = src.merge(res, on=["attribute", "bin"], how="outer")
    out[["src_cnt", "res_cnt"]] = out[["src_cnt", "res_cnt"]].fillna(0).astype("int64")
    return out


def local_dual_histogram_union(
    source: LocalSample,
    result: LocalSample,
    profiles: dict[str, ColumnProfile],
    n_bins: int = 20,
    result_rename: dict[str, str] | None = None,
) -> pd.DataFrame:
    """``dual_histogram_union`` with both sides collected."""
    src = local_histogram(source, [(c, c, p) for c, p in profiles.items()], n_bins, {"src_cnt": None})
    bindings = result_bindings(profiles, list(result.keys), result_rename)
    return merge_histograms(src, local_histogram(result, bindings, n_bins, {"res_cnt": None}))


def result_histogram(
    result: DataFrame, bindings: list[tuple[str, str, ColumnProfile]], n_bins: int = 20
) -> pd.DataFrame:
    """(attribute, bin, res_cnt) over the FULL ``result`` — the only
    full-data pass of a sampled join explanation: one grouped Spark
    query, bins bound to the result's own column names. No ``fan_out``:
    its ``.rdd`` probe plans and runs a join result's broadcast stage
    just to count partitions."""
    if not bindings:
        return pd.DataFrame(columns=["attribute", "bin", "res_cnt"])
    structs = ", ".join(
        f"named_struct('attribute', {sql_literal(a)}, 'bin', {_bin_sql(n, p, n_bins)})"
        for a, n, p in bindings
    )
    return (
        result.select(F.expr(f"explode(array({structs})) AS s"))
        .groupBy(F.col("s.attribute").alias("attribute"), F.col("s.bin").alias("bin"))
        .agg(F.count(F.lit(1)).alias("res_cnt"))
        .toPandas()
    )


def shapley_dual_histograms_weighted(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    how: str,
    left_profiles: dict[str, ColumnProfile],
    right_profiles: dict[str, ColumnProfile],
    n_bins: int = 20,
):
    """Both Shapley players' dual histograms WITHOUT materializing the
    join result. For an equi-join, a side attribute's value multiset in
    the result IS the side's own multiset weighted by each row's join
    multiplicity m(key) (rows of the other side sharing the key) —
    plus, for outer flavors, one null-extension count landing in the
    OPPOSITE side's NULL bin per unmatched retained row. So the result
    branch of ``shapley_dual_histograms_union`` (a rebuilt join scanned
    through a third explode) collapses into per-row weights on the two
    side scans: src_cnt = count(*), res_cnt = sum(weight), computed in
    the SAME exploded stream. Weight per side row:

      inner          -> m          (unmatched rows vanish)
      side retained  -> max(m, 1)  (unmatched rows survive once)
      side dropped   -> m          (left side of a right join, etc.)

    This halves the exploded row volume and removes the join shuffle
    entirely when AQE broadcasts the (key, m) count tables — the
    100 TB plan is two weighted scans plus two tiny key-count
    aggregates. Counts are bit-identical to the union flavor (same
    multiplicities, same null-extension, same ``_bin_expr`` keys).

    Returns the collected pandas frame (attribute prefixed
    ``left:``/``right:``), at most (n_left + n_right) * 2 * n_bins rows.
    """
    from ..operators.partitioning import fan_out

    on = list(on)
    h = (how or "inner").lower().replace("_", "")
    if h in ("outer", "full", "fullouter"):
        h = "full"
    elif h == "leftouter":
        h = "left"
    elif h == "rightouter":
        h = "right"
    l_retained = h in ("left", "full")
    r_retained = h in ("right", "full")

    lk = left.groupBy(*on).agg(F.count(F.lit(1)).cast("bigint").alias("__m"))
    rk = right.groupBy(*on).agg(F.count(F.lit(1)).cast("bigint").alias("__m"))

    def side_hist(df: DataFrame, other_keys: DataFrame, profiles, prefix, retained):
        avail = [c for c in profiles if c in df.columns]
        if not avail:
            return None
        keep = list(dict.fromkeys(avail + on))
        sel = fan_out(df.select(*[F.col(c) for c in keep]))
        j = sel.join(other_keys, on=on, how="left")
        m = F.coalesce(F.col("__m"), F.lit(0)).cast("bigint")
        w = F.greatest(m, F.lit(1)) if retained else m
        structs = [
            F.struct(
                F.lit(prefix + c).alias("attribute"),
                _bin_expr_col(F.col(c), profiles[c], n_bins).alias("bin"),
            )
            for c in avail
        ]
        return (
            j.select(
                F.explode(F.array(*structs)).alias("s"),
                w.alias("__w"),
                (m == 0).cast("bigint").alias("__um"),
            )
            .groupBy(F.col("s.attribute").alias("attribute"), F.col("s.bin").alias("bin"))
            .agg(
                F.count(F.lit(1)).alias("src_cnt"),
                F.sum("__w").alias("res_cnt"),
                # unmatched-row census rides the same aggregate: summed
                # over one attribute's bins it is the side's unmatched
                # row count, which prices the null extension below with
                # ZERO extra jobs
                F.sum("__um").alias("__unmatched"),
            )
        )

    lh = side_hist(left, rk, left_profiles, "left:", l_retained)
    rh = side_hist(right, lk, right_profiles, "right:", r_retained)
    if lh is None and rh is None:
        import pandas as pd

        return pd.DataFrame(columns=["attribute", "bin", "src_cnt", "res_cnt"])
    both = lh.unionByName(rh) if lh is not None and rh is not None else (lh or rh)
    pdf = both.toPandas()

    def unmatched_of(prefix: str, own_keys: DataFrame, other_keys: DataFrame) -> int:
        sub = pdf[pdf["attribute"].str.startswith(prefix)]
        if len(sub):
            first = sub["attribute"].iloc[0]
            return int(sub[sub["attribute"] == first]["__unmatched"].sum())
        # side had no candidate attrs: one tiny aggregate over the two
        # key-count tables prices its unmatched rows
        row = (
            own_keys.join(other_keys.select(*on), on=on, how="left_anti")
            .agg(F.coalesce(F.sum("__m"), F.lit(0)).alias("n"))
            .first()
        )
        return int(row["n"])

    import pandas as pd

    ext_rows = []
    # retained-but-unmatched LEFT rows extend the result with NULLs on
    # the RIGHT side: every right attribute's NULL bin gains that count
    # (and symmetrically)
    for retained, prefix_src, own_k, other_k, target_profiles, target_prefix in (
        (l_retained, "left:", lk, rk, right_profiles, "right:"),
        (r_retained, "right:", rk, lk, left_profiles, "left:"),
    ):
        if not retained or not target_profiles:
            continue
        n_ext = unmatched_of(prefix_src, own_k, other_k)
        if n_ext == 0:
            continue
        for c in target_profiles:
            key = target_prefix + c
            mask = (pdf["attribute"] == key) & (pdf["bin"] == NULL_TOKEN)
            if mask.any():
                pdf.loc[mask, "res_cnt"] = pdf.loc[mask, "res_cnt"] + n_ext
            else:
                ext_rows.append(
                    {"attribute": key, "bin": NULL_TOKEN, "src_cnt": 0,
                     "res_cnt": n_ext, "__unmatched": 0}
                )
    if ext_rows:
        pdf = pd.concat([pdf, pd.DataFrame(ext_rows)], ignore_index=True)
    return pdf.drop(columns="__unmatched").reset_index(drop=True)


def shapley_dual_histograms(
    left: DataFrame,
    right: DataFrame,
    result: DataFrame,
    left_profiles: dict[str, ColumnProfile],
    right_profiles: dict[str, ColumnProfile],
    n_bins: int = 20,
    left_rename: dict[str, str] | None = None,
    right_rename: dict[str, str] | None = None,
):
    """BOTH Shapley players' dual histograms in ONE Spark job: the
    2-player join Shapley needs (side vs result) histograms for the left
    AND right inputs, and running ``dual_histogram_union`` per side scans
    (and recomputes) the join RESULT twice — the dominant cost of the
    shapley explainer at scale. Here the result is scanned once,
    exploding both profile sets off the same rows; attribute keys are
    prefixed ``left:<col>`` / ``right:<col>`` (the two sides may share a
    column name). Returns the collected pandas frame (at most
    (n_left + n_right) * 2 * n_bins rows).

    The result branch binds bin expressions directly to the result's
    column names (``*_rename`` maps source name -> result name, the join
    prefix contract) — a physical rename like ``dual_histogram_union``'s
    could collide when both sides contribute the same source name."""
    from ..operators.partitioning import fan_out

    def side_branch(df: DataFrame, profiles, prefix: str) -> DataFrame:
        avail = [c for c in profiles if c in df.columns]
        sel = fan_out(df.select(*[F.col(c) for c in avail]))
        structs = [
            F.struct(
                F.lit(prefix + c).alias("attribute"),
                _bin_expr(sel, profiles[c], n_bins).alias("bin"),
            )
            for c in avail
        ]
        return sel.select(F.explode(F.array(*structs)).alias("s"), F.lit(0).alias("__side"))

    cols = result.columns
    pairs = (  # (prefixed attribute, result column name, profile)
        result_bindings(left_profiles, cols, left_rename, "left:")
        + result_bindings(right_profiles, cols, right_rename, "right:")
    )
    res_sel = fan_out(result.select(*sorted({n for _, n, _ in pairs})))
    res_structs = [
        F.struct(
            F.lit(a).alias("attribute"),
            _bin_expr_col(res_sel[n], p, n_bins).alias("bin"),
        )
        for a, n, p in pairs
    ]
    res_branch = res_sel.select(
        F.explode(F.array(*res_structs)).alias("s"), F.lit(1).alias("__side")
    )
    both = (
        side_branch(left, left_profiles, "left:")
        .unionByName(side_branch(right, right_profiles, "right:"))
        .unionByName(res_branch)
    )
    return (
        both.groupBy(F.col("s.attribute").alias("attribute"), F.col("s.bin").alias("bin"))
        .agg(
            F.sum(F.when(F.col("__side") == 0, 1).otherwise(0)).alias("src_cnt"),
            F.sum(F.when(F.col("__side") == 1, 1).otherwise(0)).alias("res_cnt"),
        )
        .toPandas()
    )


def bin_label(prof: ColumnProfile, bin_key: str, n_bins: int) -> str:
    """Human-readable label for a bin key."""
    if bin_key == NULL_TOKEN:
        return NULL_TOKEN
    edges = prof.bin_edges(n_bins)
    if prof.is_numeric and edges is not None:
        try:
            idx = int(bin_key)
        except ValueError:
            return bin_key
        lo, hi = edges[idx], edges[idx + 1]
        return f"[{lo:.4g}, {hi:.4g})" if idx < n_bins - 1 else f"[{lo:.4g}, {hi:.4g}]"
    return bin_key
