"""Sampled explain (``use_sampling=True``): the driver-side kernels equal
their Spark twins, each call runs a pinned number of Spark jobs, and the
benchmark's session steps still render their recorded golden digests."""

import datetime as dt
import importlib.util
import json
import math
import os
import time
from decimal import Decimal

import numpy as np
import pytest
from pyspark.sql import functions as F

from pd_explain_spark import to_explainable
from pd_explain_spark.explainers.histograms import (
    collect_samples,
    dual_histogram_predicate,
    dual_histogram_union,
    local_dual_histogram_predicate,
    local_dual_histogram_union,
    local_profile_columns,
    profile_columns,
    result_bindings,
    result_histogram,
)
from pd_explain_spark.operators.sampling import deterministic_sample

PERFBENCH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "perfbench")


def _perfbench(name):
    """A perfbench module, loaded from its file without touching sys.path."""
    spec = importlib.util.spec_from_file_location(f"perfbench_{name}", os.path.join(PERFBENCH, f"{name}.py"))
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


gen = _perfbench("gen")


@pytest.fixture(scope="module")
def smoke(spark, tmp_path_factory):
    """The benchmark's smoke-scale lineitem/orders, written by perfbench/gen.py."""
    from pd_explain_spark import load_table

    data_dir = str(tmp_path_factory.mktemp("smoke"))
    info = gen.write_inputs("explain_sampled", 0, "smoke", data_dir)
    li, orders = load_table(spark, data_dir, "lineitem"), load_table(spark, data_dir, "orders")
    return {"dir": data_dir, "info": info, "li": li, "orders": orders}


# ------------------------------------------------------------ kernel parity
def _rows(i):
    """Row i of the parity table: every column family the local kernels
    must bin like Spark — NULLs, a constant, NaN, bool, int, double,
    decimal, timestamp, a low- and a high-cardinality string."""
    return (
        i,
        None if i % 11 == 0 else i % 23,
        None if i % 7 == 0 else (i * 37 % 101) / 4.0,
        float("nan") if i % 13 == 0 else float(i % 31),
        5.0,
        None if i % 5 == 0 else i % 3 == 0,
        Decimal(i % 29) / Decimal(4),
        dt.datetime(2020, 1, 1) + dt.timedelta(days=i % 9),
        None if i % 9 == 0 else "abc"[i % 3],
        f"s{i}",
        i % 4,
        [0.1, 1e7, -0.5][i % 3],
    )


SCHEMA = (
    "id bigint, i int, d double, nan double, const double, b boolean, "
    "dec decimal(10,2), ts timestamp, s_low string, s_high string, small int, f double"
)
COLS = ["id", "i", "d", "nan", "const", "b", "dec", "ts", "s_low", "s_high", "small", "f"]


def _hist_equal(spark_hist, local_hist):
    key = ["attribute", "bin"]
    a = spark_hist.astype({"src_cnt": "int64", "res_cnt": "int64"}).sort_values(key)
    b = local_hist.astype({"src_cnt": "int64", "res_cnt": "int64"}).sort_values(key)
    assert a[key + ["src_cnt", "res_cnt"]].reset_index(drop=True).equals(
        b[key + ["src_cnt", "res_cnt"]].reset_index(drop=True)
    )


def test_local_kernels_match_spark_kernels(spark):
    df = spark.createDataFrame([_rows(i) for i in range(600)], SCHEMA)
    s = deterministic_sample(df, 400, 7).localCheckpoint()
    pred = (F.col("d") > 12.0) | F.col("s_low").isNull()
    [local] = collect_samples([(s, COLS, {"__keep": pred})], 10**6)
    assert local.n_rows == 400

    # profiles: the same columns, treatment and ranges; the local distinct
    # count is exact (Spark's profile uses HLL)
    sp = profile_columns(s, COLS)
    lp = local_profile_columns(local, COLS)
    assert set(sp) == set(lp) and "s_high" not in lp
    exact = s.agg(*[F.countDistinct(c).alias(c) for c in COLS]).first()
    for c in COLS:
        if c in lp:
            assert lp[c].distinct == exact[c], c
            assert lp[c].is_numeric == sp[c].is_numeric, c
            for got, want in ((lp[c].vmin, sp[c].vmin), (lp[c].vmax, sp[c].vmax)):
                assert (got is None and want is None) or got == want or (
                    math.isnan(got) and math.isnan(want)
                ), c
    assert lp["nan"].is_numeric and math.isnan(lp["nan"].vmax)  # NaN: no edges

    # predicate flavor, count for count (same profiles on both sides)
    keep = local.where("__keep")
    _hist_equal(
        dual_histogram_predicate(s, pred, sp, 20),
        local_dual_histogram_predicate(local, keep, sp, 20),
    )

    # union flavor against a result with renamed columns, values outside
    # the source's range, NaN and infinities, and unseen categories
    extra = [(10_000 + i, 99, [1e6, -1e6, float("nan")][i % 3], float("inf"), 5.0, True, Decimal(-3),
              dt.datetime(1999, 1, 1), "zzz", "s", 9, float("nan")) for i in range(5)]
    other = spark.createDataFrame([_rows(i) for i in range(100, 400, 3)] + extra, SCHEMA)
    rename = {c: f"r_{c}" for c in COLS[::2]}
    result = other.select([F.col(c).alias(rename.get(c, c)) for c in COLS])
    [local_res] = collect_samples([(result, result.columns, {})], 10**6)
    union = dual_histogram_union(s, result, sp, 20, result_rename=rename)
    _hist_equal(union, local_dual_histogram_union(local, local_res, sp, 20, result_rename=rename))

    # the sampled join's Spark half: the result side of the union flavor
    res = result_histogram(result, result_bindings(sp, result.columns, rename), 20)
    key = ["attribute", "bin"]
    want = union[union["res_cnt"] > 0][key + ["res_cnt"]].astype({"res_cnt": "int64"})
    assert res.astype({"res_cnt": "int64"}).sort_values(key).reset_index(drop=True).equals(
        want.sort_values(key).reset_index(drop=True)
    )


def _same_explanation(a, b):
    assert a.kind == b.kind
    assert [(i.attribute, i.bin, i.influence, i.score, i.explanation) for i in a.items] == [
        (i.attribute, i.bin, i.influence, i.score, i.explanation) for i in b.items
    ]
    assert a.scores == b.scores


def test_sampled_explanations_equal_full_data_on_the_same_sample(smoke):
    """With the input already a materialized sample of <= sample_size
    rows, sampling returns it whole: the sampled (collect + numpy) and
    full-data (Spark kernels) paths must give the same explanation."""
    s = deterministic_sample(smoke["li"].df, 3000, 42).localCheckpoint()
    li = to_explainable(s, name="lineitem")
    out = li[li["l_quantity"] > 25]
    full = out.explain(top_k=3, use_sampling=False)
    samp = out.explain(top_k=3, use_sampling=True)
    _same_explanation(full, samp)
    assert full.extras["cor_deleted_atts"].keys() == samp.extras["cor_deleted_atts"].keys()

    kw = {"explainer": "shapley", "value": "mean", "attr": "l_extendedprice", "top_k": 2}
    full = out.explain(use_sampling=False, **kw)
    samp = out.explain(use_sampling=True, **kw)
    _same_explanation(full, samp)
    assert full.extras["shapley"] == samp.extras["shapley"]  # bit-identical sums

    o = smoke["orders"]
    o = o[o["o_orderpriority"].isin(["1-URGENT", "2-HIGH"])].rename({"o_orderkey": "l_orderkey"})
    o.name = "orders"
    j = li.merge(o, on="l_orderkey", how="inner")
    _same_explanation(
        j.explain(top_k=3, consider="left", use_sampling=False),
        j.explain(top_k=3, consider="left", use_sampling=True),
    )
    _same_explanation(
        j.explain(explainer="shapley", top_k=3, use_sampling=False),
        j.explain(explainer="shapley", top_k=3, use_sampling=True),
    )


# ------------------------------------------------------------ job-count pins
_PROBE = "__job_count_probe"


def _count_jobs(spark, fn):
    """fn's result and the Spark jobs submitted while it ran, from any
    thread: job ids are allocated in submission order, so the ids
    strictly between two probe jobs belong to fn (active streaming
    queries' micro-batches excluded)."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def probe() -> int:
        seen = set(tracker.getJobIdsForGroup(_PROBE))
        sc.setJobGroup(_PROBE, "job-count probe")
        try:
            sc.parallelize([0], 1).count()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        deadline = time.monotonic() + 30
        while not (new := set(tracker.getJobIdsForGroup(_PROBE)) - seen):
            assert time.monotonic() < deadline, "probe job never reached the status tracker"
            time.sleep(0.01)
        return max(new)

    before = probe()
    out = fn()
    after = probe()
    streaming = {
        i for q in spark.streams.active for i in tracker.getJobIdsForGroup(str(q.runId))
    }
    return out, len(set(range(before + 1, after)) - streaming)


def test_sampled_explain_job_counts(spark, smoke):
    """Per-call Spark jobs in sampled mode: one collect per call (both
    join sides share it); a join adds its full-result histogram (the
    result's broadcast stage, the aggregate's shuffle stage and its final
    stage) and many_to_one its full-data label counts."""
    li, orders = smoke["li"], smoke["orders"]
    s = {"use_sampling": True}
    filt = li[li["l_quantity"] > 25]
    o = orders[orders["o_orderpriority"].isin(["1-URGENT"])].rename({"o_orderkey": "l_orderkey"})
    o.name = "orders"
    joined = li.merge(o, on="l_orderkey", how="inner")
    label = F.when(F.col("l_quantity") <= 20, "low").when(F.col("l_quantity") <= 40, "mid")
    labeled = to_explainable(li.df.withColumn("label", label.otherwise("high")), name="labeled")
    calls = {
        "fedex_filter": (lambda: filt.explain(top_k=2, **s), 1),
        "shapley_filter": (lambda: filt.explain(
            explainer="shapley", value="mean", attr="l_tax", top_k=2, **s), 1),
        "fedex_join": (lambda: joined.explain(top_k=2, consider="left", **s), 4),
        "shapley_join": (lambda: joined.explain(explainer="shapley", top_k=2, **s), 4),
        "many_to_one": (lambda: labeled.explain(explainer="many_to_one", labels="label", **s), 3),
    }
    for kind, (call, pin) in calls.items():
        call()  # first call: imports and codegen caches
        exp, jobs = _count_jobs(spark, call)
        assert exp.items, kind
        assert jobs <= pin, f"{kind}: {jobs} Spark jobs, pinned at {pin}"
    _, jobs = _count_jobs(spark, calls["fedex_filter"][0])
    assert jobs == 1


# ------------------------------------------------------------ golden guard
def test_session_steps_match_benchmark_goldens(spark, smoke):
    """One step of every explainer kind, as the benchmark's session runs
    it, against the digests in perfbench/goldens.json (read only)."""
    tracing, workloads = _perfbench("tracing"), _perfbench("workloads")
    with open(os.path.join(PERFBENCH, "goldens.json")) as f:
        goldens = json.load(f)["smoke"]
    runner = workloads.ExplainSession(spark, tracing.Tracer(), smoke["dir"])
    steps = gen.make_session(np.random.default_rng(3), smoke["info"])
    assert len({st["kind"] for st in steps}) == 8
    for step in steps:
        assert runner.run_step(step)["digest"] == goldens[step["key"]], step["key"]


# ------------------------------------------------------------ MAP columns
def test_sampling_hashes_map_columns(spark):
    rows = [(i, {"a": i, "b": i % 3}, (i, {"k": float(i)}), [{"x": {"y": i}}]) for i in range(40)]
    df = spark.createDataFrame(
        rows,
        "id bigint, m map<string,int>, st struct<x:int,n:map<string,double>>, "
        "nested array<map<string,map<string,int>>>",
    )
    ids = [r.id for r in deterministic_sample(df, 10).collect()]
    assert len(ids) == 10
    # same maps built in the other insertion order: same sample
    flipped = df.select("id", F.map_concat(
        F.create_map(F.lit("b"), F.col("m")["b"]), F.create_map(F.lit("a"), F.col("m")["a"])
    ).alias("m"), "st", "nested")
    assert [r.id for r in deterministic_sample(flipped, 10).collect()] == ids

    # map-free frames keep their samples: the hash is unchanged
    plain = df.select("id", F.col("m")["a"].alias("a"))
    old = plain.orderBy(F.xxhash64("id", "a", F.lit(42))).limit(10)
    assert [r.id for r in deterministic_sample(plain, 10).collect()] == [r.id for r in old.collect()]

    # the explainers sample such frames
    frame = to_explainable(df.withColumn("v", (F.col("id") % 9).cast("double")), name="m")
    out = frame[frame["v"] > 3]
    assert out.explain(use_sampling=True).kind == "fedex-filter"
    assert out.explain(explainer="shapley", attr="v", use_sampling=True).extras["shapley"]
