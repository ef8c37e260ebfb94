"""The library calls each workload makes, and the checks on their outputs.

Everything here goes through the public API: ``load_table``, tracked
``[]``/``groupby``/``merge``, ``.explain(...)``, ``Explanation.to_text_df``
and ``functions.*``. Each call sits in a span, so the same code serves
the untraced (timers only) and the traced run.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import duckdb

from pd_explain_spark import curation_pipeline, dedup_near, load_table, to_explainable, write_shards
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel


def _round6(x):
    if isinstance(x, float):
        return round(x, 6)
    if isinstance(x, dict):
        return {str(k): _round6(v) for k, v in sorted(x.items())}
    if isinstance(x, (list, tuple)):
        return [_round6(v) for v in x]
    return x


def explanation_digest(exp, rows) -> str:
    """Digest of the rendered rows (floats rounded to 6 dp by
    ``to_text_df``) plus the numbers the rows do not show: the scores and,
    for Shapley on a filter, the Shapley values."""
    payload = [exp.kind, [list(r) for r in sorted(rows, key=lambda r: r[0])],
               _round6(exp.scores), _round6(exp.extras.get("shapley"))]
    return hashlib.sha256(json.dumps(payload).encode()).hexdigest()[:16]


class ExplainSession:
    """Runs generated session steps against lineitem/orders, with every
    explainer that takes ``use_sampling`` set to sample."""

    def __init__(self, spark, tracer, data_dir: str):
        self.spark, self.tr = spark, tracer
        with tracer.span("sources.load"):
            self.li = load_table(spark, data_dir, "lineitem")
            self.orders = load_table(spark, data_dir, "orders")
            self.li.df.count()
            self.orders.df.count()

    def _capture(self, step):
        k, li = step["kind"], self.li
        if k in ("fedex_filter", "shapley_filter"):
            return li[li[step["attr"]] > step["threshold"]]
        if k in ("fedex_groupby", "metainsight"):
            return getattr(li.groupby(step["by"])[step["measure"]], step["agg"])()
        if k == "outlier":
            return getattr(self.orders.groupby(step["by"])[step["measure"]], step["agg"])()
        if k in ("fedex_join", "shapley_join"):
            o = self.orders[self.orders["o_orderpriority"].isin(step["priorities"])]
            o = o.rename({"o_orderkey": "l_orderkey"})
            o.name = "orders"
            return li.merge(o, on="l_orderkey", how="inner")
        if k == "many_to_one":
            a = F.col(step["label_attr"])
            lo, hi = step["edges"]
            label = F.when(a <= lo, "low").when(a <= hi, "mid").otherwise("high")
            return to_explainable(li.df.withColumn("label", label), name="lineitem_labeled")
        raise ValueError(f"unknown step kind {k!r}")

    def _explain(self, step, frame, result):
        k, s = step["kind"], {"use_sampling": True}
        if k == "fedex_filter":
            return frame.explain(top_k=2, **s)
        if k == "fedex_groupby":
            return frame.explain(**s)
        if k == "fedex_join":
            return frame.explain(top_k=2, consider="left", **s)
        if k == "shapley_join":
            return frame.explain(explainer="shapley", top_k=2, **s)
        if k == "shapley_filter":
            return frame.explain(explainer="shapley", value="mean", attr=step["value_attr"], top_k=2, **s)
        if k == "outlier":
            target = max(result, key=lambda r: r[1])[0]  # the top group
            return frame.explain(explainer="outlier", target=target, dir="high")
        if k == "many_to_one":
            return frame.explain(explainer="many_to_one", labels="label", **s)
        if k == "metainsight":
            return frame.explain(explainer="metainsight", **s)
        raise ValueError(f"unknown step kind {k!r}")

    def run_step(self, step) -> dict:
        """One step: capture the op, materialize it, explain, render.
        Returns the per-call walls and the rendered rows' digest."""
        tr, k = self.tr, step["kind"]
        with tr.span(f"step.{k}"):
            with tr.span("core.capture") as cap:
                frame = self._capture(step)
            with tr.span("core.result") as res:
                if k in ("fedex_groupby", "metainsight", "outlier"):
                    result = frame.df.collect()
                else:
                    result = frame.df.count()
            with tr.span(f"explainers.{k}") as ex:
                exp = self._explain(step, frame, result)
            with tr.span("explainers.render") as ren:
                rows = exp.to_text_df(self.spark).collect()
        return {"op_s": cap["wall"] + res["wall"], "call_s": ex["wall"] + ren["wall"],
                "digest": explanation_digest(exp, rows)}


# ------------------------------------------------------------ curate_docs
class CuratePass:
    """curation_pipeline -> dedup_near -> write_shards over documents."""

    def __init__(self, spark, tracer, data_dir: str, out_root: str):
        self.spark, self.tr, self.out_root = spark, tracer, out_root
        with tracer.span("sources.load"):
            self.docs = load_table(spark, data_dir, "documents").df
            self.docs.count()
        self._n = 0

    def run(self) -> dict:
        tr, spark = self.tr, self.spark
        self._n += 1
        out = os.path.join(self.out_root, f"shards{self._n}")
        with tr.span("functions.curation_pipeline"):
            surv = curation_pipeline(self.docs).collect()
        kept_ids = spark.createDataFrame([(r["doc_id"],) for r in surv], "doc_id long")
        kept = self.docs.join(kept_ids, "doc_id", "left_semi")
        with tr.span("functions.dedup_near"):
            dd = dedup_near(kept).persist(StorageLevel.MEMORY_AND_DISK)
            dd_ids = sorted(r[0] for r in dd.select("doc_id").collect())
        with tr.span("functions.write_shards"):
            write_shards(dd, out, n_shards=8, seed=42, mode="overwrite")
        dd.unpersist()
        return {"survivors": surv, "dedup_ids": dd_ids, "out": out}


def output_mb(path: str) -> float:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total / 1e6


def curate_oracle(data_dir: str, sql: str) -> dict:
    """Survivors by the DuckDB oracle, keyed by doc_id."""
    con = duckdb.connect()
    try:
        path = os.path.join(data_dir, "documents.parquet").replace("'", "''")
        con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}')")
        return {r[0]: (r[1], r[2]) for r in con.execute(sql).fetchall()}
    finally:
        con.close()


def check_curate(res: dict, oracle: dict) -> list[str]:
    """Mismatches of one pass against the oracle and its own write."""
    errs = []
    got = {r["doc_id"]: (r["n_tokens"], r["quality"]) for r in res["survivors"]}
    if set(got) != set(oracle):
        errs.append(f"curation_pipeline survivors differ from oracle: "
                    f"{len(set(got) ^ set(oracle))} ids")
    else:
        bad = [i for i in got if got[i][0] != oracle[i][0] or abs(got[i][1] - oracle[i][1]) > 1e-6]
        if bad:
            errs.append(f"curation_pipeline n_tokens/quality differ on {len(bad)} docs")
    if not set(res["dedup_ids"]) <= set(got):
        errs.append("dedup_near returned ids outside its input")
    con = duckdb.connect()
    try:
        glob = os.path.join(res["out"], "**", "*.parquet").replace("'", "''")
        written = sorted(r[0] for r in con.execute(
            f"SELECT doc_id FROM read_parquet('{glob}', hive_partitioning=true)").fetchall())
    finally:
        con.close()
    if written != res["dedup_ids"]:
        errs.append("write_shards output differs from dedup_near result")
    shutil.rmtree(res["out"], ignore_errors=True)
    return errs
