"""FEDEX explainer (E1/E2/E3) — deviation-based explanations.

Semantics recovered from the reference (SURVEY.md §2.4):
 * filter/join: per-column "exceptionality" — a KS-style statistic between
   the source and result distributions (documented at
   experimental/experimental_llm_integrations/query_refiner.py:45-46);
   columns correlated > corr_TH with the filter attribute are excluded
   (core/explainable_data_frame.py:1089; fedex_explainer.py:164-168);
   per top column, each bin's *influence* = its contribution to the
   deviation; phrasing "property x value y appears z times more/less than
   before" (llm_integrations/explanation_reasoning.py:94).
 * group-by: "diversity" — coefficient of variation of each aggregated
   column (query_refiner.py:46); phrasing "groups with property = x have
   property y z standard deviations from the mean"
   (explanation_reasoning.py:87-90).
 * shapley: attribution of the change to one side of a join/filter
   (explainer_factory.py:24-25) — for 2 players the Shapley value is the
   averaged marginal, i.e. each side's own deviation share.

Spark design: in full-data mode all heavy work is the single-pass dual
histogram (histograms.py); scoring runs driver-side on the tiny
(n_cols x n_bins) frame. In sampled mode (``use_sampling``) each sampled
input is ONE Spark projection + Arrow collect of its <= sample_size
rows (``collect_samples``), and profiling (exact distinct counts, the
reference's rule), |corr| pruning, binning, the dual histograms and the
Shapley-filter sums run in driver numpy; only a join's full RESULT
histogram stays a Spark job. Group-by diversity aggregates the (already
small) grouped result; top groups found with sort-limit, never a full
collect.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pyarrow.compute as pc

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..core.operations import FilterOp, GroupByOp, JoinOp
from ..operators.aggregates import is_numeric_type
from .base import Explanation, ExplanationItem, ExplainerBase
from .histograms import (
    ColumnProfile,
    LocalSample,
    bin_label,
    collect_samples,
    dual_histogram_predicate,
    dual_histogram_union,
    local_dual_histogram_predicate,
    local_histogram,
    local_profile_columns,
    make_profile,
    merge_histograms,
    profile_columns,
    result_bindings,
    result_histogram,
    shapley_dual_histograms_weighted,
)

DEFAULT_TOP_K = 1
DEFAULT_CORR_TH = 0.7
DEFAULT_N_BINS = 20
SAMPLE_SIZE = 5000
RANDOM_SEED = 42


class FedexExplainer(ExplainerBase):
    def __init__(
        self,
        frame,
        top_k: int = DEFAULT_TOP_K,
        corr_TH: float = DEFAULT_CORR_TH,
        n_bins: int = DEFAULT_N_BINS,
        consider: str = "left",
        shapley: bool = False,
        value: str | None = None,
        attr: str | None = None,
        use_sampling: bool | None = None,
        sample_size: int = SAMPLE_SIZE,
        attributes: list[str] | None = None,
        ignore: list[str] | None = None,
        **_ignored,
    ):
        if frame.operation is None:
            raise ValueError(
                "no operation captured — run a tracked filter/groupby/join first"
            )
        self.frame = frame
        self.op = frame.operation
        self.top_k = top_k
        self.corr_TH = corr_TH
        self.n_bins = n_bins
        self.consider = consider
        self.shapley = shapley
        from ..config import resolve_sampling

        self.use_sampling = resolve_sampling(use_sampling)
        self.sample_size = sample_size
        self.attributes = attributes
        self.ignore = set(ignore or [])
        # shapley-on-filter kwargs (reference threads value/attr through
        # explain() for filters too — explainable_data_frame.py:1090,1242)
        self.value = value
        self.attr = attr

    # ------------------------------------------------------------------
    def generate_explanation(self) -> Explanation:
        if isinstance(self.op, GroupByOp):
            return self._explain_groupby()
        if isinstance(self.op, JoinOp):
            if self.shapley:
                return self._explain_shapley()
            return self._explain_join(self.consider)
        if isinstance(self.op, FilterOp):
            if self.shapley:
                return self._explain_shapley_filter()
            return self._explain_filter()
        raise ValueError(f"fedex cannot explain operation {self.op.kind}")

    # ------------------------------------------------------------------
    # E1 filter
    # ------------------------------------------------------------------
    def _candidate_columns(self, df: DataFrame, exclude: set[str]) -> list[str]:
        if self.attributes is not None:
            return [c for c in self.attributes if c in df.columns]
        return [c for c in df.columns if c not in exclude and c not in self.ignore]

    def _collect(self, inputs) -> list[LocalSample]:
        """The sampled inputs, collected in one Spark job (see
        ``collect_samples``)."""
        return collect_samples(inputs, self.sample_size, RANDOM_SEED)

    def _profile_and_corr(
        self, df: DataFrame, anchor: str | None, candidates: list[str]
    ) -> tuple[dict[str, ColumnProfile], dict[str, float]]:
        """ONE aggregation pass computing BOTH the column profiles
        (approx distinct + min/max) and the |corr| pruning against the
        filter attribute — previously two separate full scans of the
        source (the second-largest cost of fedex_filter at sf0.1 after
        the histogram itself)."""
        schema = {f.name: f.dataType for f in df.schema.fields}
        anchor_numeric = (
            anchor is not None and anchor in schema and is_numeric_type(schema[anchor])
        )
        numeric_cands = [
            c for c in candidates if is_numeric_type(schema[c]) and c != anchor
        ]
        exprs = []
        for c in candidates:
            exprs.append(F.approx_count_distinct(c).alias(f"{c}__d"))
            if is_numeric_type(schema[c]):
                exprs.append(F.min(c).cast("double").alias(f"{c}__lo"))
                exprs.append(F.max(c).cast("double").alias(f"{c}__hi"))
        if anchor_numeric:
            exprs += [
                F.corr(F.col(anchor).cast("double"), F.col(c).cast("double")).alias(
                    f"{c}__corr"
                )
                for c in numeric_cands
            ]
        if not exprs:
            return {}, {}
        row = df.agg(*exprs).first().asDict()
        corr = {
            c: float(row[f"{c}__corr"])
            for c in numeric_cands
            if anchor_numeric
            and row.get(f"{c}__corr") is not None
            and abs(row[f"{c}__corr"]) >= self.corr_TH
        }
        profiles: dict[str, ColumnProfile] = {}
        for c in candidates:
            if c in corr:
                continue
            prof = make_profile(
                c, is_numeric_type(schema[c]), row[f"{c}__d"] or 0,
                row.get(f"{c}__lo"), row.get(f"{c}__hi"),
            )
            if prof is not None:
                profiles[c] = prof
        return profiles, corr

    def _profile_and_corr_local(
        self, sample: LocalSample, anchor: str | None, candidates: list[str]
    ) -> tuple[dict[str, ColumnProfile], dict[str, float]]:
        """``_profile_and_corr`` over the collected sample."""
        corr = {}
        if anchor in sample.values:
            for c in candidates:
                if c != anchor and c in sample.values:
                    r = _pearson(sample, anchor, c)
                    if r is not None and abs(r) >= self.corr_TH:
                        corr[c] = r
        profiles = local_profile_columns(sample, [c for c in candidates if c not in corr])
        return profiles, corr

    def _filter_candidates(self) -> tuple[set[str], list[str]]:
        op: FilterOp = self.op
        filter_cols = set(op.predicate.columns()) if op.predicate else {op.attribute}
        return filter_cols, self._candidate_columns(op.source, exclude=filter_cols)

    def _collect_filter_sample(
        self, extra: dict | None = None
    ) -> tuple[LocalSample, list[str]]:
        """The sampled source in one collect: the candidates, the filter
        attribute (the |corr| anchor), the recorded predicate as
        ``__keep`` and any ``extra`` expressions."""
        op: FilterOp = self.op
        _, candidates = self._filter_candidates()
        cols = list(candidates)
        if op.attribute in op.source.columns and op.attribute not in cols:
            cols.append(op.attribute)
        extra = {"__keep": op.predicate.to_spark(op.source), **(extra or {})}
        [sample] = self._collect([(op.source, cols, extra)])
        return sample, candidates

    def _explain_filter_local(self, sample: LocalSample, candidates: list[str]) -> Explanation:
        op: FilterOp = self.op
        profiles, corr = self._profile_and_corr_local(sample, op.attribute, candidates)
        if not profiles:
            return Explanation(kind="fedex-filter", query=op.query_string())
        hist = local_dual_histogram_predicate(sample, sample.where("__keep"), profiles, self.n_bins)
        return self._filter_explanation(hist, profiles, corr)

    def _filter_explanation(self, hist, profiles, corr) -> Explanation:
        op: FilterOp = self.op
        items, scores = self._score_histogram(hist, profiles, side=None)
        exp = Explanation(
            kind="fedex-filter", query=op.query_string(), items=items[: self.top_k], scores=scores
        )
        exp.extras["cor_deleted_atts"] = corr
        return exp

    def _explain_filter(self) -> Explanation:
        if self.use_sampling:
            return self._explain_filter_local(*self._collect_filter_sample())
        op: FilterOp = self.op
        source = op.source
        filter_cols, candidates = self._filter_candidates()
        released = None
        if candidates:
            # full-data mode consumes the source twice (profile+corr
            # agg, then the dual histogram) and both partial aggregates
            # run inside the SCAN stage — on a low-split input (single
            # row-group file) that is two serial single-task passes.
            # Fan out + lazily persist the projected source: the
            # profile agg populates the cache in its own (now parallel)
            # job and the histogram reads cached blocks (guide
            # §2.2/§5).
            from pyspark.storagelevel import StorageLevel

            from ..operators.partitioning import fan_out

            keep = [
                c for c in source.columns
                if c in set(candidates) | filter_cols
                or (op.attribute is not None and c == op.attribute)
            ]
            source = fan_out(source.select(*keep)).persist(
                StorageLevel.MEMORY_AND_DISK
            )
            released = source
        # try/finally: a histogram collect that throws must still release
        # the lazily persisted projection (blocks otherwise linger until
        # the ContextCleaner gets around to them — r12 VERDICT wart #4)
        try:
            profiles, corr = self._profile_and_corr(source, op.attribute, candidates)
            if not profiles:
                return Explanation(kind="fedex-filter", query=op.query_string())
            hist = dual_histogram_predicate(
                source, op.predicate.to_spark(source), profiles, self.n_bins
            )
        finally:
            # dual_histogram_predicate collects (pandas) — no further
            # consumers of the cached projection
            if released is not None:
                released.unpersist()
        return self._filter_explanation(hist, profiles, corr)

    # ------------------------------------------------------------------
    # E1 join / E3 shapley
    # ------------------------------------------------------------------
    def _join_side(self, consider: str):
        op: JoinOp = self.op
        if consider == "right":
            return op.right, op.right_name
        return op.left, op.left_name

    def _sampled_join_histogram(self, sides) -> pd.DataFrame:
        """Dual histogram of sampled join sides against the FULL recorded
        result: src counts from each collected side sample, res counts
        from ONE grouped Spark job over the result covering every side.
        ``sides`` are (attribute prefix, sample, profiles, result rename)."""
        result = self.op.result
        src, bindings = [], []
        for prefix, sample, profiles, rename in sides:
            own = [(prefix + c, c, p) for c, p in profiles.items()]
            src.append(local_histogram(sample, own, self.n_bins, {"src_cnt": None}))
            bindings += result_bindings(profiles, result.columns, rename, prefix)
        res = result_histogram(result, bindings, self.n_bins)
        return merge_histograms(pd.concat(src, ignore_index=True), res)

    def _explain_join(self, consider: str) -> Explanation:
        op: JoinOp = self.op
        side_df, side_name = self._join_side(consider)
        candidates = self._candidate_columns(side_df, exclude=set(op.on))
        rename = {c: f"{side_name}_{c}" for c in candidates}
        if self.use_sampling:
            profiles = {}
            if candidates:
                [sample] = self._collect([(side_df, candidates, {})])
                profiles = local_profile_columns(sample, candidates)
            if not profiles:
                return Explanation(kind="fedex-join", query=op.query_string())
            hist = self._sampled_join_histogram([("", sample, profiles, rename)])
        else:
            profiles = profile_columns(side_df, candidates)
            if not profiles:
                return Explanation(kind="fedex-join", query=op.query_string())
            hist = dual_histogram_union(side_df, op.result, profiles, self.n_bins, result_rename=rename)
        items, scores = self._score_histogram(hist, profiles, side=consider)
        return Explanation(
            kind="fedex-join", query=op.query_string(), items=items[: self.top_k], scores=scores
        )

    def _shapley_histogram_sampled(self):
        """Both sides' samples in ONE collect, both sides' result counts
        in ONE grouped job over the recorded result (the sampled sides
        are compared against the FULL result, so multiplicity weights of
        the sample would not reproduce it)."""
        op: JoinOp = self.op
        sides = []
        for consider in ("left", "right"):
            df, name = self._join_side(consider)
            sides.append((consider, df, name, self._candidate_columns(df, exclude=set(op.on))))
        samples = self._collect([(df, cands, {}) for _, df, _, cands in sides])
        lp, rp = profiles = [
            local_profile_columns(sample, side[3]) for sample, side in zip(samples, sides)
        ]
        if not (lp or rp):
            return lp, rp, None
        hist = self._sampled_join_histogram([
            (f"{consider}:", sample, prof, {c: f"{name}_{c}" for c in cands})
            for (consider, _, name, cands), sample, prof in zip(sides, samples, profiles)
        ])
        return lp, rp, hist

    def _shapley_histogram_full(self):
        """Full-data flavor: both sides' histograms from their join-key
        multiplicities (``shapley_dual_histograms_weighted``) — the join
        result is never rebuilt."""
        from ..operators.partitioning import fan_out

        op: JoinOp = self.op
        released: list = []

        def _prep(consider: str):
            side_df, _ = self._join_side(consider)
            candidates = self._candidate_columns(side_df, exclude=set(op.on))
            if candidates:
                # the profile agg, the histogram branch, AND the other
                # side's key-count table all consume this side: persist
                # the narrow fanned projection (+ join keys) so every
                # later job reads cached partitioned blocks instead of
                # re-decoding a possibly single-partition parquet scan
                # serially. LAZY persist (r12, was an eager
                # checkpoint): the profile aggregate below is the first
                # consumer and populates the cache inside its own job —
                # one full materialization pass per side deleted from
                # the pipeline. Blocks are unpersisted once the
                # histograms are collected.
                from pyspark.storagelevel import StorageLevel

                keep = list(dict.fromkeys(candidates + list(op.on)))
                side_df = fan_out(side_df.select(*keep)).persist(
                    StorageLevel.MEMORY_AND_DISK
                )
                released.append(side_df)
            return side_df, profile_columns(side_df, candidates)

        # try/finally: a histogram job that throws must still release the
        # lazily persisted side projections (r12 VERDICT wart #4 — the
        # blocks otherwise leak until the ContextCleaner)
        try:
            # the two sides are independent single-job pipelines — overlap
            # them (guide §2.6): the second side's scan back-fills executor
            # slots freed by the first side's tail
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(max_workers=2) as pool:
                fut = {c: pool.submit(_prep, c) for c in ("left", "right")}
                (left_df, lp), (right_df, rp) = (fut[c].result() for c in ("left", "right"))
            if not (lp or rp):
                return lp, rp, None
            # weighted flavor: result-side counts derive from each side's
            # join-key multiplicities — no rebuilt join, no third explode
            # (identical counts; see shapley_dual_histograms_weighted)
            hist = shapley_dual_histograms_weighted(
                left_df, right_df, list(op.on), op.how, lp, rp, self.n_bins
            )
            return lp, rp, hist
        finally:
            # the histograms are collected (pandas) — the cached side
            # projections have no further consumers
            for df in released:
                df.unpersist()

    def _explain_shapley(self) -> Explanation:
        """2-player Shapley: each side's value is its own marginal
        deviation, scored from one dual histogram covering both sides
        (attributes prefixed ``left:``/``right:`` — the per-side flavor
        recomputed and rescanned the join RESULT twice, VERDICT r10 task
        #6). Scores, tie-breaks, and rendered text come from the same
        ``_score_histogram`` as the one-sided join."""
        op: JoinOp = self.op
        if self.use_sampling:
            lp, rp, hist = self._shapley_histogram_sampled()
        else:
            lp, rp, hist = self._shapley_histogram_full()
        per_side: dict[str, tuple[list, dict]] = {}
        if hist is not None:
            for consider, profiles in (("left", lp), ("right", rp)):
                prefix = f"{consider}:"
                sub = hist[hist["attribute"].str.startswith(prefix)].copy()
                sub["attribute"] = sub["attribute"].str[len(prefix):]
                per_side[consider] = self._score_histogram(sub, profiles, side=consider)
        l_items, l_scores = per_side.get("left", ([], {}))
        r_items, r_scores = per_side.get("right", ([], {}))
        left = Explanation(kind="fedex-join", query=op.query_string(),
                           items=l_items[: self.top_k], scores=l_scores)
        right = Explanation(kind="fedex-join", query=op.query_string(),
                            items=r_items[: self.top_k], scores=r_scores)
        total = sum(left.scores.values()) + sum(right.scores.values())
        items = sorted(left.items + right.items, key=lambda i: (-i.score, i.attribute))
        exp = Explanation(
            kind="fedex-shapley",
            query=self.op.query_string(),
            items=items[: max(self.top_k, 1)],
            scores={**{f"left.{k}": v for k, v in left.scores.items()},
                    **{f"right.{k}": v for k, v in right.scores.items()}},
        )
        exp.extras["side_share"] = {
            "left": (sum(left.scores.values()) / total) if total else 0.5,
            "right": (sum(right.scores.values()) / total) if total else 0.5,
        }
        return exp

    def _explain_shapley_filter(self) -> Explanation:
        """E3 on a filter: 2-player Shapley over the {kept, removed} row
        partitions for the measure ``value(attr)`` (defaults: mean of the
        filter attribute, else the first numeric candidate).

        With coalition value v(S) = agg over the rows of S (v(empty)=0),
        the exact 2-player Shapley value of 'kept' is
        0.5*(v({kept}) - v({})) + 0.5*(v(all) - v({removed})) and
        symmetrically for 'removed' — one conditional-aggregation pass
        over the source computes every term. Items reuse the filter
        deviation histograms so the per-column stories are consistent
        with plain fedex mode. Reference routes shapley through
        FedexExplainer with value/attr/consider kwargs
        (explainer_factory.py:24-25, explainable_data_frame.py:1090,1242).
        """
        op: FilterOp = self.op
        source = op.source
        schema = {f.name: f.dataType for f in source.schema.fields}
        attr = self.attr
        if attr is None:
            if op.attribute and is_numeric_type(schema.get(op.attribute, None)):
                attr = op.attribute
            else:
                numerics = [
                    c for c in source.columns
                    if is_numeric_type(schema[c]) and c not in self.ignore
                ]
                if not numerics:
                    raise ValueError("shapley filter mode needs a numeric `attr`")
                attr = numerics[0]
        agg = (self.value or "mean").lower()
        if agg not in ("mean", "sum", "count"):
            raise ValueError(f"shapley filter value must be mean/sum/count, got {agg!r}")
        v = F.col(attr).cast("double")
        if self.use_sampling:
            # ONE collect feeds both the Shapley terms and the deviation
            # histogram
            sample, candidates = self._collect_filter_sample({"__value": v})
            value = sample.extra["__value"]
            has_v = pc.is_valid(value).to_numpy(zero_copy_only=False)
            vals = value.to_numpy()
            kept, removed = sample.where("__keep") & has_v, sample.where("__keep", False) & has_v
            terms = (
                _spark_sum(vals[kept]), float(kept.sum()),
                _spark_sum(vals[removed]), float(removed.sum()),
            )
            base = self._explain_filter_local(sample, candidates)
        else:
            pred = op.predicate.to_spark(source)
            row = source.agg(
                F.sum(F.when(pred, v)).alias("sm_k"),
                F.count(F.when(pred, v)).alias("nn_k"),
                F.sum(F.when(~pred, v)).alias("sm_r"),
                F.count(F.when(~pred, v)).alias("nn_r"),
            ).first()
            terms = _row_terms(row)
            base = self._explain_filter()
        exp = Explanation(
            kind="fedex-shapley-filter",
            query=op.query_string(),
            items=base.items,
            scores=base.scores,
        )
        exp.extras["cor_deleted_atts"] = base.extras.get("cor_deleted_atts", {})
        exp.extras["shapley"] = {"measure": f"{agg}({attr})", **_shapley_values(agg, *terms)}
        return exp

    # ------------------------------------------------------------------
    # E2 group-by diversity
    # ------------------------------------------------------------------
    def _explain_groupby(self) -> Explanation:
        op: GroupByOp = self.op
        result = op.result
        schema = {f.name: f.dataType for f in result.schema.fields}
        value_cols = [
            c for c in result.columns
            if c not in op.keys and is_numeric_type(schema[c]) and c not in self.ignore
        ]
        if not value_cols:
            return Explanation(kind="fedex-groupby", query=op.query_string())
        # one agg over the (small) grouped result: mean/std per value column
        exprs = []
        for c in value_cols:
            exprs += [
                F.avg(F.col(c).cast("double")).alias(f"{c}__m"),
                F.stddev_samp(F.col(c).cast("double")).alias(f"{c}__s"),
            ]
        stats = result.agg(*exprs).first().asDict()
        scores: dict[str, float] = {}
        for c in value_cols:
            m, s = stats[f"{c}__m"], stats[f"{c}__s"]
            if m is None or s is None or m == 0:
                continue
            scores[c] = abs(s / m)  # coefficient of variation
        ranked = sorted(scores, key=lambda c: (-scores[c], c))
        items: list[ExplanationItem] = []
        key_expr = F.concat_ws(", ", *[F.col(k).cast("string") for k in op.keys])
        for c in ranked[: max(self.top_k, 1)]:
            m, s = stats[f"{c}__m"], stats[f"{c}__s"]
            if not s:
                continue
            # top-|z| groups, capped: enough for the bar chart, never the
            # whole grouped result through the driver
            top_rows = (
                result.select(
                    key_expr.alias("__group"),
                    F.col(c).cast("double").alias("__v"),
                    ((F.col(c).cast("double") - F.lit(m)) / F.lit(s)).alias("__z"),
                )
                .orderBy(F.abs(F.col("__z")).desc(), F.col("__group"))
                .limit(30)
                .collect()
            )
            if not top_rows:
                continue
            top = top_rows[0]
            z = float(top["__z"])
            chart = sorted(top_rows, key=lambda r: str(r["__group"]))
            items.append(
                ExplanationItem(
                    attribute=c,
                    bin=str(top["__group"]),
                    influence=z,
                    score=float(scores[c]),
                    side=None,
                    explanation=(
                        f"groups with {'/'.join(op.keys)} = {top['__group']} have {c} "
                        f"{z:+.2f} standard deviations from the mean"
                    ),
                    viz={
                        "kind": "group-bar",
                        "labels": [str(r["__group"]) for r in chart],
                        "values": [float(r["__v"]) for r in chart],
                        "highlight": [str(r["__group"]) for r in chart].index(
                            str(top["__group"])
                        ),
                    },
                )
            )
        return Explanation(
            kind="fedex-groupby", query=op.query_string(), items=items, scores=scores
        )

    # ------------------------------------------------------------------
    # driver-side scoring over the tiny histogram frame
    # ------------------------------------------------------------------
    def _score_histogram(
        self, hist: pd.DataFrame, profiles: dict[str, ColumnProfile], side: str | None
    ) -> tuple[list[ExplanationItem], dict[str, float]]:
        items: list[ExplanationItem] = []
        scores: dict[str, float] = {}
        for attr, grp in hist.groupby("attribute"):
            prof = profiles[attr]
            grp = grp.sort_values("bin")
            src = grp["src_cnt"].to_numpy(dtype=float)
            res = grp["res_cnt"].to_numpy(dtype=float)
            s_tot, r_tot = src.sum(), res.sum()
            if s_tot == 0 or r_tot == 0:
                continue
            p, q = src / s_tot, res / r_tot
            score = self._deviation(src, res, s_tot, r_tot, ordered=prof.is_numeric)
            if not math.isfinite(score):
                continue
            scores[attr] = score
            # influence of each bin = deviation drop when that bin is removed
            best_idx, best_infl = None, 0.0
            for b in range(len(p)):
                mask = [i for i in range(len(p)) if i != b]
                ps, qs = src[mask], res[mask]
                if ps.sum() == 0 or qs.sum() == 0:
                    continue
                d_wo = self._deviation(
                    ps, qs, ps.sum(), qs.sum(), ordered=prof.is_numeric
                )
                infl = score - d_wo
                if best_idx is None or abs(infl) > abs(best_infl):
                    best_idx, best_infl = b, infl
            if best_idx is None:
                continue
            key = grp.iloc[best_idx]["bin"]
            label = bin_label(prof, key, self.n_bins)
            ratio = (q[best_idx] / p[best_idx]) if p[best_idx] > 0 else float("inf")
            if ratio >= 1:
                phrase = f"appears {ratio:.2f} times more than before"
            else:
                phrase = f"appears {1 / ratio:.2f} times less than before" if ratio > 0 else "disappears"
            where = f" (considering the {side} side)" if side else ""
            items.append(
                ExplanationItem(
                    attribute=attr,
                    bin=label,
                    influence=float(best_infl),
                    score=float(score),
                    side=side,
                    explanation=f"property {attr} value {label} {phrase}{where}",
                    viz={
                        "kind": "dist-compare",
                        "labels": [bin_label(prof, k, self.n_bins) for k in grp["bin"]],
                        "src": [float(x) for x in p],
                        "res": [float(x) for x in q],
                        "highlight": int(best_idx),
                    },
                )
            )
        items.sort(key=lambda i: (-i.score, i.attribute))
        return items, scores

    @staticmethod
    def _deviation(src, res, s_tot, r_tot, ordered: bool) -> float:
        """KS statistic for ordered (numeric-binned) columns, total-variation
        distance for categoricals — both in [0, 1].

        Engine-portability contract (what makes the explain-surface text
        oracle-checkable end to end): the KS path accumulates exact INTEGER
        counts first and divides by the totals once per prefix, so every
        float is one IEEE division of exact values — a SQL engine running
        ``cum(src)/s_tot - cum(res)/r_tot`` reproduces it bitwise. A float
        running sum of per-bin ratios (the naive ``cumsum(p)``) is NOT
        reproducible: summation order/ulps differ across engines."""
        import numpy as np

        if ordered:
            # counts are integers < 2^53: cumsum in float64 is exact
            return float(
                np.max(np.abs(np.cumsum(src) / s_tot - np.cumsum(res) / r_tot))
            )
        return float(0.5 * np.sum(np.abs(src / s_tot - res / r_tot)))


def _pearson(sample: LocalSample, x: str, y: str) -> float | None:
    """Spark's CORR(x, y) over the rows where both are non-NULL; None
    when it is undefined (fewer than two rows, a constant column, NaN)."""
    both = sample.valid[x] & sample.valid[y]
    if both.sum() < 2:
        return None
    a, b = sample.values[x][both], sample.values[y][both]
    a, b = a - a.mean(), b - b.mean()
    with np.errstate(invalid="ignore", divide="ignore"):
        r = float((a * b).sum() / np.sqrt((a * a).sum() * (b * b).sum()))
    return r if math.isfinite(r) else None


def _spark_sum(v: np.ndarray) -> float:
    """SUM the way Spark's aggregate over the one-partition sample adds:
    from 0.0, one row at a time in sample order (not numpy's pairwise
    sum), so the Shapley terms match the Spark path bit for bit."""
    return float(np.add.accumulate(np.concatenate(([0.0], v)))[-1])


def _row_terms(row) -> tuple[float, float, float, float]:
    """(sum kept, count kept, sum removed, count removed) of a Spark row."""
    return (float(row["sm_k"] or 0.0), float(row["nn_k"] or 0),
            float(row["sm_r"] or 0.0), float(row["nn_r"] or 0))


def _shapley_values(agg: str, sm_k: float, nn_k: float, sm_r: float, nn_r: float) -> dict:
    """Exact 2-player Shapley over {kept, removed} for measure ``agg``."""

    def val(sm: float, nn: float) -> float:
        if agg == "sum":
            return sm
        if agg == "count":
            return nn
        return sm / nn if nn else 0.0

    v_kept, v_removed = val(sm_k, nn_k), val(sm_r, nn_r)
    v_all = val(sm_k + sm_r, nn_k + nn_r)
    return {
        "kept": 0.5 * v_kept + 0.5 * (v_all - v_removed),
        "removed": 0.5 * v_removed + 0.5 * (v_all - v_kept),
        "v_all": v_all,
        "v_kept": v_kept,
        "v_removed": v_removed,
    }


def filter_kernel_table(
    frame, attributes: list[str], n_bins: int = DEFAULT_N_BINS
) -> DataFrame:
    """SQL-checkable core of the E1 filter kernel: the dual histogram a
    filter explanation is scored from, with the cumulative-delta column and
    the per-attribute KS statistic attached — entirely JVM-side.

    The reference computes the same statistic per column in pandas
    (documented at experimental/experimental_llm_integrations/
    query_refiner.py:45-46: exceptionality = deviation between source and
    result distributions); here it is ONE Spark job over the single-pass
    dual histogram plus two tiny window functions over the
    (n_attributes x n_bins)-row result.

    Determinism contract (this is what makes the output oracle-checkable
    against DuckDB running identical SQL):
      * ``attributes`` is explicit — no approx-distinct candidate rule, no
        correlation pruning, no sampling; every listed column is treated as
        numeric with exact min/max equi-width edges over the FULL source.
      * cumulative sums accumulate exact BIGINT counts in bin order and
        divide by the attribute totals once at the end, so the floating
        result is a single IEEE division per term in both engines —
        never a running float sum.

    Returns (attribute, bin, src_cnt, res_cnt, cum_delta, ks) where
    cum_delta = cum_src/s_tot - cum_res/r_tot and ks = max(|cum_delta|)
    over the attribute (the KS statistic `_score_histogram` derives for
    ordered columns).
    """
    from .histograms import dual_histogram_predicate_df

    op = frame.operation
    if not isinstance(op, FilterOp) or op.predicate is None:
        raise ValueError("filter_kernel_table needs a frame produced by a tracked filter")
    source = op.source
    profiles = _exact_numeric_profiles(source, attributes, n_bins)
    hist = dual_histogram_predicate_df(source, op.predicate.to_spark(source), profiles, n_bins)
    return _cum_delta_table(hist)


def _exact_numeric_profiles(df: DataFrame, attributes: list[str], n_bins: int):
    """Exact min/max profiles for an explicit numeric attribute list —
    no approx-distinct candidate rule, so bin edges are reproducible in
    any engine from the same data."""
    exprs: list = []
    for c in attributes:
        exprs.append(F.min(c).cast("double").alias(f"{c}__lo"))
        exprs.append(F.max(c).cast("double").alias(f"{c}__hi"))
    row = df.agg(*exprs).first().asDict()
    return {
        c: ColumnProfile(
            name=c,
            is_numeric=True,
            distinct=n_bins,  # placeholder; bin_edges only needs vmin/vmax
            vmin=row[f"{c}__lo"],
            vmax=row[f"{c}__hi"],
        )
        for c in attributes
    }


def _cum_delta_table(hist: DataFrame) -> DataFrame:
    """(attribute, bin, src_cnt, res_cnt) histogram -> the cum-delta/KS
    table: integer cumulative sums in bin order, divided by the attribute
    totals once at the end (a single IEEE division per term in any
    engine), then ks = max(|cum_delta|) per attribute."""
    from pyspark.sql import Window

    w_cum = (
        Window.partitionBy("attribute")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_attr = Window.partitionBy("attribute")
    cum_delta = (
        F.sum("src_cnt").over(w_cum).cast("double") / F.sum("src_cnt").over(w_attr)
        - F.sum("res_cnt").over(w_cum).cast("double") / F.sum("res_cnt").over(w_attr)
    )
    return hist.select(
        "attribute",
        "bin",
        F.col("src_cnt").cast("long").alias("src_cnt"),
        F.col("res_cnt").cast("long").alias("res_cnt"),
        F.round(cum_delta, 6).alias("cum_delta"),
        F.round(F.max(F.abs(cum_delta)).over(w_attr), 6).alias("ks"),
    )


def join_kernel_table(
    frame, attributes: list[str], n_bins: int = DEFAULT_N_BINS, consider: str = "left"
) -> DataFrame:
    """SQL-checkable core of the E1 JOIN kernel: the union-path dual
    histogram (side rows tagged source, joined rows tagged result;
    histograms.py dual_histogram_union) with the same cum-delta/KS
    algebra as ``filter_kernel_table``. ``attributes`` are columns of the
    considered side; bins come from that side's exact min/max. The
    result reads the side's columns through the join prefix contract
    (<side_name>_<col>)."""
    from .histograms import dual_histogram_union_df

    op = frame.operation
    if not isinstance(op, JoinOp):
        raise ValueError("join_kernel_table needs a frame produced by a tracked join")
    side_df, side_name = (op.right, op.right_name) if consider == "right" else (op.left, op.left_name)
    profiles = _exact_numeric_profiles(side_df, attributes, n_bins)
    rename = {c: f"{side_name}_{c}" for c in attributes}
    hist = dual_histogram_union_df(side_df, op.result, profiles, n_bins, result_rename=rename)
    return _cum_delta_table(hist)


def shapley_filter_kernel_table(frame, attr: str, value: str = "mean") -> DataFrame:
    """SQL-checkable core of the E3 filter kernel: the exact 2-player
    Shapley decomposition over the {kept, removed} row partitions for
    measure ``value(attr)`` — one conditional-aggregation pass, then
    phi(kept) = 0.5*v(kept) + 0.5*(v(all) - v(removed)) and symmetrically
    (the same closed form `_explain_shapley_filter` reports in
    extras['shapley']). Feed an integer-scaled attr (e.g. cents) so sums
    are exact and each output value is a single IEEE division/fma chain
    identical in any engine. Returns two rows (player, value, shapley)."""
    op = frame.operation
    if not isinstance(op, FilterOp) or op.predicate is None:
        raise ValueError("shapley_filter_kernel_table needs a tracked filter")
    agg = value.lower()
    if agg not in ("mean", "sum", "count"):
        raise ValueError(f"value must be mean/sum/count, got {value!r}")
    source = op.source
    pred = op.predicate.to_spark(source)
    v = F.col(attr).cast("double")
    row = source.agg(
        F.sum(F.when(pred, v)).alias("sm_k"),
        F.count(F.when(pred, v)).alias("nn_k"),
        F.sum(F.when(~pred, v)).alias("sm_r"),
        F.count(F.when(~pred, v)).alias("nn_r"),
    ).first()
    sv = _shapley_values(agg, *_row_terms(row))
    spark = source.sparkSession
    return spark.createDataFrame(
        [
            ("kept", round(sv["v_kept"], 6), round(sv["kept"], 6)),
            ("removed", round(sv["v_removed"], 6), round(sv["removed"], 6)),
        ],
        schema="player string, value double, shapley double",
    )
