"""Many-to-one (cluster-explorer) explainer — SURVEY.md §2.4 E5.

Rule mining: for each label/cluster, find conjunctive predicates over the
other attributes that characterize it, scored by

 * coverage        = |rows in cluster matching rule| / |rows in cluster|
 * separation_err  = |rows NOT in cluster matching rule| / |rows matching rule|

(reference: explainers/many_to_one_explainer.py:41-49; dep interface
cluster_explorer.Explainer.generate_explanations(coverage_threshold=0.7,
conciseness_threshold=1/max_len, separation_threshold=0.3, p_value, mode)
-> DataFrame[Cluster, rule, coverage, separation_err], ibid:610-634).

Reference pipeline re-expressed Spark-first
(many_to_one_explainer.py:227-333 -> here):

 1. drop rows with null label; numeric labels with nunique > 6 are binned
    (uniform, n_bins=10) into interval labels (ibid:198-225).
 2. prune labels to <= max_labels (10) — strategies 'largest' (default) /
    'smallest' / 'random', plus the geometry strategies 'max_dist' /
    'min_dist' / 'max_silhouette' / 'min_silhouette' / 'silhouette'
    (ibid:240-309; implemented in _geometry_label_order below — PCA and
    silhouette computed numpy-side on the same <= sample_size
    deterministic sample the reference uses).
 3. optional deterministic sampling, seed 42, exactly sample_size rows
    (ibid:311-333) — default ON to mirror the reference. The label
    counts of step 2 stay one Spark job over the FULL labeled frame; the
    sample is then ONE Spark projection + Arrow collect
    (``collect_samples``), and steps 4-5 run in driver numpy on it.
    Full-data mode (``use_sampling=False``) runs steps 4-5 as the
    distributed passes below.
 4. discretize candidate attributes with the shared histogram profile
    (numeric -> equi-width bins, categorical -> value; sampled profiles
    count EXACT distinct values, the reference's ``nunique`` rule, where
    the Spark profile uses HLL); rank attributes by information gain
    about the label, computed for ALL attributes from one joint
    (attribute, bin, label) histogram — ONE exploded groupBy pass in
    full-data mode; keep the top ``max_explanation_length * p_value``
    (budget rule, ibid:144-158).
 5. level-wise rule search (lengths 1..max_explanation_length). Sampled:
    vectorized numpy masks over the collected rows. Full data: each
    level evaluates every candidate conjunction for EVERY cluster in one
    ``groupBy(label)`` aggregation with batched conditional counts
    (chunked to keep codegen happy) — SURVEY §4 custom-physical #3: no
    per-rule jobs, no driver-side row loops.

At 100 TB: the heavy passes are (a) one explode/groupBy histogram
(shuffle bounded by n_attrs * n_bins * n_labels rows after map-side
combine) and (b) per level one full scan with partial aggregation down
to n_labels rows x n_rules columns. Nothing shuffles raw rows.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..operators.aggregates import is_numeric_type
from ..operators.sampling import maybe_sample
from .base import Explanation, ExplanationItem, ExplainerBase
from .histograms import (
    NULL_TOKEN,
    ColumnProfile,
    LocalSample,
    collect_samples,
    local_bin_keys,
    local_profile_columns,
    profile_columns,
)

RANDOM_SEED = 42  # reference many_to_one_explainer.py:16
DEFAULT_SAMPLE = 5000  # ibid:15,326-333
MAX_LABELS = 10  # ibid:14


@dataclass(frozen=True)
class Atom:
    """One atomic predicate.

    kind='eq' : categorical equality on the binned value
    kind='le' : attribute <= value   (numeric, decision-tree style split)
    kind='gt' : attribute >  value

    One-sided numeric atoms compose into intervals under conjunction
    ("a > lo and a <= hi"), matching the reference's interval rules
    (many_to_one_explainer.py:191-196) without a quadratic atom set.
    """

    attribute: str
    kind: str
    value: object = None

    def human(self) -> str:
        if self.kind == "le":
            return f"{self.attribute} <= {self.value:.4g}"
        if self.kind == "gt":
            return f"{self.attribute} > {self.value:.4g}"
        return f"{self.attribute} == {self.value}"


Rule = tuple[Atom, ...]


def _rule_human(rule: Rule, mode: str) -> str:
    sep = " and " if mode == "conj" else " or "
    return sep.join(a.human() for a in rule)


class ManyToOneExplainer(ExplainerBase):
    def __init__(
        self,
        frame,
        labels=None,
        coverage_threshold: float = 0.7,
        separation_threshold: float = 0.3,
        max_explanation_length: int = 3,
        p_value: int = 5,
        mode: str = "conj",
        n_bins: int = 10,
        max_labels: int = MAX_LABELS,
        label_pruning: str = "largest",
        use_sampling: bool = True,
        sample_size: int = DEFAULT_SAMPLE,
        top_k: int = 1,
        beam_width: int = 24,
        attributes: list[str] | None = None,
        **_ignored,
    ):
        if labels is None:
            raise ValueError(
                "many_to_one requires labels= (column name, list of column "
                "names, or a row-aligned sequence of label values)"
            )
        if mode not in ("conj", "disj"):
            raise ValueError("mode must be 'conj' or 'disj'")
        self.frame = frame
        self.labels = labels
        self.coverage_threshold = coverage_threshold
        self.separation_threshold = separation_threshold
        self.max_len = max_explanation_length
        self.p_value = p_value
        self.mode = mode
        self.n_bins = n_bins
        self.max_labels = max_labels
        self.label_pruning = label_pruning
        self.use_sampling = use_sampling
        self.sample_size = sample_size
        self.top_k = top_k
        self.beam_width = beam_width
        self.attributes = attributes
        self.rules_df = None  # pandas DataFrame[Cluster, rule, coverage, separation_err]

    def _labels_repr(self) -> str:
        if isinstance(self.labels, str):
            return repr(self.labels)
        try:
            n = len(self.labels)
        except TypeError:
            return type(self.labels).__name__
        if n and all(isinstance(x, str) for x in list(self.labels)[: min(n, 5)]) and n <= 5:
            return repr(list(self.labels))
        return f"<{n} positional labels>"

    # -- label preparation ---------------------------------------------------
    def _resolve_labels(self) -> tuple[DataFrame, str]:
        """Normalize every reference-accepted label input
        (many_to_one_explainer.py:100-130) to (frame_df_with_label, col):

         * str — an existing column;
         * ExplainableColumn — its underlying column;
         * list of column names — group-by-derived labels: the label is
           the tuple of those columns' values;
         * any other sequence (list / numpy array / pandas Series, e.g.
           KMeans .labels_) — positionally aligned values, attached via
           zipWithIndex (Spark has no row index; zip order is the
           frame's deterministic scan order — same contract as the
           reference's positional pandas index).
        """
        from ..core.series import ExplainableColumn

        df = self.frame.df
        labels = self.labels
        if isinstance(labels, ExplainableColumn):
            labels = labels.name
        if isinstance(labels, str):
            if labels not in df.columns:
                raise KeyError(f"label column {labels!r} not in frame")
            return df, labels
        try:
            import numpy as np
            import pandas as pd

            if isinstance(labels, (pd.Series, np.ndarray)):
                labels = list(labels)
        except ImportError:
            pass
        if not isinstance(labels, (list, tuple)):
            raise TypeError(f"unsupported labels input: {type(self.labels).__name__}")
        if labels and all(isinstance(x, str) for x in labels) and all(
            x in df.columns for x in labels
        ):
            # group-by-derived: label = tuple of the named columns' values
            tuple_col = F.concat_ws(
                ", ", *[F.col(c).cast("string") for c in labels]
            )
            out = df.withColumn("__label_src", tuple_col)
            self._label_source_cols = list(labels)
            return out, "__label_src"
        # positional values: attach by deterministic row order
        n = df.count()
        if len(labels) != n:
            raise ValueError(
                f"labels length {len(labels)} != frame row count {n} "
                "(positional labels must align with the frame rows)"
            )
        spark = df.sparkSession
        lab_rows = [(i, str(v) if v is not None else None) for i, v in enumerate(labels)]
        lab_df = spark.createDataFrame(lab_rows, ["__rid", "__label_src"])
        indexed = (
            df.rdd.zipWithIndex()
            .map(lambda t: (*t[0], t[1]))
            .toDF(df.schema.add("__rid", "long"))
        )
        return indexed.join(lab_df, "__rid").drop("__rid"), "__label_src"

    def _labeled_df(self) -> tuple[DataFrame, list[str]]:
        df, label_name = self._resolve_labels()
        self._label_col_name = label_name
        df = df.filter(F.col(label_name).isNotNull())
        schema = {f.name: f.dataType for f in df.schema.fields}
        label_col: Column = F.col(label_name)
        if is_numeric_type(schema[label_name]):
            # numeric label -> bin to intervals when high-cardinality
            prof = profile_columns(df, [label_name]).get(label_name)
            if prof is not None and prof.is_numeric:
                edges = prof.bin_edges(self.n_bins)
                if edges:
                    lo, hi = edges[0], edges[-1]
                    width = (hi - lo) / self.n_bins
                    idx = F.least(
                        F.lit(self.n_bins - 1),
                        F.greatest(
                            F.lit(0),
                            F.floor((label_col.cast("double") - F.lit(lo)) / F.lit(width)),
                        ),
                    )
                    label_col = F.concat(
                        F.lit("["),
                        F.round(F.lit(lo) + idx * F.lit(width), 4).cast("string"),
                        F.lit(", "),
                        F.round(F.lit(lo) + (idx + 1) * F.lit(width), 4).cast("string"),
                        F.lit(")"),
                    )
        labeled = df.withColumn("__label", label_col.cast("string"))

        # sorted on the driver: a Spark orderBy would add range-sampling
        # and shuffle jobs to order a handful of rows
        counts = sorted(
            labeled.groupBy("__label").count().collect(),
            key=lambda r: (-r["count"], r["__label"]),
        )
        if self.label_pruning == "smallest":
            counts = sorted(counts, key=lambda r: (r["count"], r["__label"]))
        elif self.label_pruning == "random":
            import random

            rnd = random.Random(RANDOM_SEED)
            counts = sorted(counts, key=lambda r: r["__label"])
            rnd.shuffle(counts)
        elif len(counts) > self.max_labels and self.label_pruning in (
            "max_dist", "min_dist", "max_silhouette", "min_silhouette", "silhouette"
        ):
            order = self._geometry_label_order(labeled, self.label_pruning)
            rank = {l: i for i, l in enumerate(order)}
            counts = sorted(counts, key=lambda r: rank.get(r["__label"], len(rank)))
        keep = [r["__label"] for r in counts[: self.max_labels]]
        # exact per-label row counts, already paid for by this job: the
        # distributed mining path's cluster_sizes are THESE numbers
        # (binned is a row-preserving projection of labeled), so
        # generate_explanation reuses them instead of re-scanning
        self._label_counts = {r["__label"]: int(r["count"]) for r in counts}
        if len(counts) > self.max_labels:
            labeled = labeled.filter(F.col("__label").isin(keep))
        return labeled, keep

    def _geometry_label_order(self, labeled: DataFrame, method: str) -> list[str]:
        """PCA/silhouette label ranking (reference
        many_to_one_explainer.py:240-309 — sklearn there, numpy here).

        Driver-side on a <= sample_size deterministic sample — faithful:
        the reference also samples for silhouette and its PCA runs on the
        pandas frame it already holds. Features = numeric columns
        standardized + one-hot of low-cardinality categoricals
        (reference: pd.get_dummies), reduced to <= 3 PCA components via
        SVD. max/min_dist ranks labels by the mean distance of their
        PCA-space centroid to all other centroids; silhouette ranks by
        the label's mean silhouette score.
        """
        import numpy as np

        sample = maybe_sample(labeled, True, self.sample_size, RANDOM_SEED)
        pdf = sample.toPandas()
        lab = pdf["__label"].astype(str)
        feats = []
        for c in pdf.columns:
            if c in ("__label", self._label_col_name):
                continue
            col = pdf[c]
            if np.issubdtype(col.dtype, np.number):
                v = col.to_numpy(dtype=float)
                mu = np.nanmean(v) if np.isfinite(np.nanmean(v)) else 0.0
                v = np.where(np.isfinite(v), v, mu)
                sd = v.std() or 1.0
                feats.append((v - v.mean()) / sd)
            elif col.nunique() <= 12:
                for val in sorted(col.dropna().unique().astype(str)):
                    feats.append((col.astype(str) == val).to_numpy(dtype=float))
        if not feats:
            return sorted(lab.unique())
        X = np.column_stack(feats)
        # PCA to <= 3 components via SVD on the centered matrix
        Xc = X - X.mean(axis=0)
        _, _, vt = np.linalg.svd(Xc, full_matrices=False)
        Z = Xc @ vt[: min(3, vt.shape[0])].T
        labels_arr = lab.to_numpy()
        uniq = sorted(set(labels_arr))
        if method in ("max_dist", "min_dist"):
            centers = np.stack([Z[labels_arr == l].mean(axis=0) for l in uniq])
            d = np.sqrt(((centers[:, None, :] - centers[None, :, :]) ** 2).sum(-1))
            np.fill_diagonal(d, np.nan)
            avg = np.nanmean(d, axis=1)
            order = np.argsort(-avg if method == "max_dist" else avg, kind="stable")
            return [uniq[i] for i in order]
        # silhouette: cap the pairwise-distance matrix at 2000 points
        cap = 2000
        if len(Z) > cap:
            rng = np.random.default_rng(RANDOM_SEED)
            idx = rng.choice(len(Z), size=cap, replace=False)
            Z, labels_arr = Z[idx], labels_arr[idx]
        d = np.sqrt(((Z[:, None, :] - Z[None, :, :]) ** 2).sum(-1))
        sil = np.zeros(len(Z))
        masks = {l: labels_arr == l for l in uniq}
        for i in range(len(Z)):
            own = masks[labels_arr[i]].copy()
            own[i] = False
            a = d[i][own].mean() if own.any() else 0.0
            b = min(
                (d[i][m].mean() for l, m in masks.items() if l != labels_arr[i] and m.any()),
                default=0.0,
            )
            denom = max(a, b)
            sil[i] = (b - a) / denom if denom else 0.0
        means = {l: sil[masks[l]].mean() if masks[l].any() else 0.0 for l in uniq}
        reverse = method in ("max_silhouette", "silhouette")
        return sorted(uniq, key=lambda l: (-means[l] if reverse else means[l], l))

    # -- attribute selection -------------------------------------------------
    def _joint_histogram(self, labeled: DataFrame, profiles: dict[str, ColumnProfile]):
        """Joint pandas histogram (attribute, bin, __label, cnt), all
        attributes in one exploded groupBy pass."""
        from .histograms import _bin_expr

        structs = [
            F.struct(F.lit(c).alias("attribute"), _bin_expr(labeled, p, self.n_bins).alias("bin"))
            for c, p in profiles.items()
        ]
        return (
            labeled.select(F.explode(F.array(*structs)).alias("s"), "__label")
            .groupBy(F.col("s.attribute").alias("attribute"), F.col("s.bin").alias("bin"), "__label")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .toPandas()
        )

    def _joint_histogram_local(self, sample: LocalSample, profiles: dict[str, ColumnProfile]):
        """``_joint_histogram`` over the collected sample, rows sorted by
        (attribute, bin, __label)."""
        import pandas as pd

        labels = sample.extra["__label"].to_numpy(zero_copy_only=False)
        frames = [
            pd.DataFrame({"attribute": c, "bin": local_bin_keys(sample, c, p, self.n_bins),
                          "__label": labels})
            for c, p in profiles.items()
        ]
        if not frames:
            return pd.DataFrame(columns=["attribute", "bin", "__label", "cnt"])
        return (
            pd.concat(frames, ignore_index=True)
            .groupby(["attribute", "bin", "__label"], sort=True)
            .size()
            .reset_index(name="cnt")
        )

    def _rank_attributes(self, joint, profiles: dict[str, ColumnProfile]) -> list[str]:
        """Attributes ranked by info gain about the label, from the joint
        (attribute, bin, __label, cnt) histogram."""
        total = joint[joint.attribute == joint.attribute.iloc[0]].cnt.sum() if len(joint) else 0
        if total == 0:
            return []

        def entropy(counts) -> float:
            s = counts.sum()
            if s == 0:
                return 0.0
            p = counts / s
            return float(-(p * p.map(lambda x: math.log2(x) if x > 0 else 0.0)).sum())

        label_counts = joint.groupby("__label").cnt.sum() / len(profiles)
        h_label = entropy(label_counts)
        gains: dict[str, float] = {}
        for attr, sub in joint.groupby("attribute"):
            h_cond = 0.0
            for _, bin_sub in sub.groupby("bin"):
                w = bin_sub.cnt.sum() / total
                h_cond += w * entropy(bin_sub.cnt)
            gains[attr] = h_label - h_cond
        budget = max(1, self.max_len * self.p_value)
        return sorted(gains, key=lambda a: (-gains[a], a))[:budget]

    def _compatible(self, rule: Rule, atom: Atom) -> bool:
        """Keep extensions meaningful: in conj mode an attribute may appear
        at most once per kind, and same-attribute pairs must bracket an
        interval (one 'gt' below one 'le'). Disj mode allows repeats of
        the same attribute (x == a or x == b) but not contradictions."""
        if self.mode == "disj":
            return True
        for a in rule:
            if a.attribute != atom.attribute:
                continue
            if a.kind == atom.kind or a.kind == "eq" or atom.kind == "eq":
                return False
            lo = a.value if a.kind == "gt" else atom.value
            hi = a.value if a.kind == "le" else atom.value
            if not (isinstance(lo, (int, float)) and isinstance(hi, (int, float)) and lo < hi):
                return False
        return True

    # -- rule evaluation (batched) -------------------------------------------
    def _atom_col(self, binned: DataFrame, atom: Atom) -> Column:
        if atom.kind == "le":
            return binned[atom.attribute] <= F.lit(atom.value)
        if atom.kind == "gt":
            return binned[atom.attribute] > F.lit(atom.value)
        return binned[f"__bin_{atom.attribute}"] == F.lit(atom.value)

    def _rule_col(self, binned: DataFrame, rule: Rule) -> Column:
        cols = [self._atom_col(binned, a) for a in rule]
        out = cols[0]
        for c in cols[1:]:
            out = (out & c) if self.mode == "conj" else (out | c)
        return out

    def _evaluate_rules(
        self, binned: DataFrame, rules: list[Rule], chunk: int = 200
    ) -> dict[Rule, dict[str, int]]:
        """match counts per (rule, label) — one groupBy(label) pass per chunk."""
        out: dict[Rule, dict[str, int]] = {r: {} for r in rules}
        for i in range(0, len(rules), chunk):
            part = rules[i : i + chunk]
            aggs = [
                F.sum(F.when(self._rule_col(binned, r), 1).otherwise(0)).alias(f"_r{j}")
                for j, r in enumerate(part)
            ]
            rows = binned.groupBy("__label").agg(*aggs).collect()
            for row in rows:
                lbl = row["__label"]
                for j, r in enumerate(part):
                    out[r][lbl] = row[f"_r{j}"] or 0
        return out

    # -- sample-bounded local evaluation --------------------------------------
    def _evaluate_rules_local(self, rules: list[Rule]) -> dict[Rule, dict[str, int]]:
        """Same counts as _evaluate_rules, but vectorized numpy over the
        collected sample. When sampling is ON the evaluation input is
        <= sample_size rows by construction — a rule table, not data —
        so driver-side is the fast path (each distributed chunk pays
        seconds of codegen for 5k rows). Semantics match Spark: NULL
        numeric comparisons are False (NaN propagates False in numpy),
        categorical NULLs were coalesced to NULL_TOKEN upstream."""
        import numpy as np

        pdf, codes, n_labels, label_names = self._local_eval_state
        masks: dict[Atom, "np.ndarray"] = self._atom_mask_cache
        out: dict[Rule, dict[str, int]] = {}
        for rule in rules:
            m = None
            for atom in rule:
                am = masks.get(atom)
                if am is None:
                    if atom.kind == "le":
                        with np.errstate(invalid="ignore"):
                            am = pdf[atom.attribute].to_numpy() <= atom.value
                    elif atom.kind == "gt":
                        with np.errstate(invalid="ignore"):
                            am = pdf[atom.attribute].to_numpy() > atom.value
                    else:
                        am = pdf[f"__bin_{atom.attribute}"].to_numpy() == atom.value
                    masks[atom] = am
                if m is None:
                    m = am.copy()
                elif self.mode == "conj":
                    m &= am
                else:
                    m |= am
            counts = np.bincount(codes[m], minlength=n_labels)
            out[rule] = {label_names[i]: int(counts[i]) for i in range(n_labels)}
        return out

    # -- main ----------------------------------------------------------------
    def generate_explanation(self) -> Explanation:
        self._label_source_cols = []
        labeled, labels = self._labeled_df()
        label_like = set(self._label_source_cols) | {self._label_col_name, "__label"}
        candidates = [
            c
            for c in (self.attributes or labeled.columns)
            if c not in label_like and c in labeled.columns
        ]
        self._local_eval_state = None
        self._atom_mask_cache = {}
        if self.use_sampling:
            return self._explain_sampled(labeled, labels, candidates)
        labeled = labeled.cache()
        binned = None
        try:
            profiles = profile_columns(labeled, candidates)
            joint = self._joint_histogram(labeled, profiles)
            profiles = {a: profiles[a] for a in self._rank_attributes(joint, profiles)}

            # evaluation projection: raw numeric columns (threshold atoms)
            # + one string bin column per categorical attribute
            cols: list[Column] = [F.col("__label")]
            for a, p in profiles.items():
                if p.is_numeric:
                    cols.append(labeled[a].cast("double").alias(a))
                else:
                    cols.append(F.coalesce(labeled[a].cast("string"), F.lit(NULL_TOKEN)).alias(f"__bin_{a}"))
            binned = labeled.select(*cols).cache()
            # _labeled_df's pruning job already counted every kept label
            # over the same rows (binned is a row-preserving projection of
            # labeled) — one full-scan job saved
            cluster_sizes = {l: self._label_counts[l] for l in labels}
            return self._mine(profiles, joint, labels, cluster_sizes, binned)
        finally:
            labeled.unpersist()
            if binned is not None:
                binned.unpersist()

    def _explain_sampled(self, labeled: DataFrame, labels: list[str], candidates: list[str]) -> Explanation:
        """Steps 4-5 on the <= sample_size-row sample: ONE Spark
        projection + collect, then profile, ranking and every rule level
        in numpy."""
        import pandas as pd

        [sample] = collect_samples(
            [(labeled, candidates, {"__label": F.col("__label")})], self.sample_size, RANDOM_SEED
        )
        profiles = local_profile_columns(sample, candidates)
        joint = self._joint_histogram_local(sample, profiles)
        profiles = {a: profiles[a] for a in self._rank_attributes(joint, profiles)}
        # the evaluation frame: raw numeric columns (threshold atoms) + one
        # string bin column per categorical attribute
        data = {"__label": sample.extra["__label"].to_numpy(zero_copy_only=False)}
        for a, p in profiles.items():
            if p.is_numeric:
                data[a] = sample.values[a]
            else:
                data[f"__bin_{a}"] = sample.keys[a]
        pdf = pd.DataFrame(data)
        label_names = sorted(pdf["__label"].dropna().unique().tolist())
        code_of = {l: i for i, l in enumerate(label_names)}
        codes = pdf["__label"].map(code_of).to_numpy()
        self._local_eval_state = (pdf, codes, len(label_names), label_names)
        cluster_sizes = {l: int((codes == i).sum()) for l, i in code_of.items()}
        return self._mine(profiles, joint, labels, cluster_sizes, None)

    def _mine(self, profiles, joint, labels, cluster_sizes, binned) -> Explanation:
        """Level-wise rule search + the rules table (step 5)."""
        import pandas as pd

        total_rows = sum(cluster_sizes.values())

        # level-1 atoms: numeric -> one-sided splits at each interior bin
        # edge (decision-tree style); categorical -> equality per value
        atoms: list[Atom] = []
        for a, p in profiles.items():
            if p.is_numeric:
                edges = p.bin_edges(self.n_bins) or []
                for e in edges[1:-1]:
                    atoms.append(Atom(a, "le", e))
                    atoms.append(Atom(a, "gt", e))
            else:
                for v in (
                    joint[joint.attribute == a]["bin"].drop_duplicates().tolist()
                ):
                    atoms.append(Atom(a, "eq", v))
        level: list[Rule] = [(a,) for a in atoms]
        results: list[tuple[str, Rule, float, float]] = []
        origins: dict[tuple[str, Rule], dict[str, int]] = {}
        solved: set[str] = set()  # clusters with enough rules already
        # per-cluster promising atoms (filled after level 1) — extensions
        # draw from these, not the full atom set
        good_atoms: dict[str, list[Atom]] = {c: [] for c in labels}
        max_level_rules = 40 * len(labels) * self.beam_width // 10 or 1000

        for depth in range(1, self.max_len + 1):
            if not level:
                break
            counts = (
                self._evaluate_rules_local(level)
                if self._local_eval_state is not None
                else self._evaluate_rules(binned, level)
            )
            next_seeds: dict[str, list[tuple[float, Rule]]] = {c: [] for c in labels}
            atom_quality: dict[str, list[tuple[float, Atom]]] = {c: [] for c in labels}
            for rule, per_label in counts.items():
                matched_total = sum(per_label.values())
                if matched_total == 0:
                    continue
                for cluster in labels:
                    in_c = per_label.get(cluster, 0)
                    size_c = cluster_sizes.get(cluster, 0)
                    if size_c == 0:
                        continue
                    coverage = in_c / size_c
                    separation = (matched_total - in_c) / matched_total
                    if depth == 1:
                        # precision-x-recall proxy ranks extension atoms
                        atom_quality[cluster].append(
                            ((1.0 - separation) * coverage, rule[0])
                        )
                    good_cov = coverage >= self.coverage_threshold
                    good_sep = separation <= self.separation_threshold
                    if good_cov and good_sep:
                        results.append((cluster, rule, coverage, separation))
                        # error-origin breakdown (reference
                        # many_to_one_explainer.py:497-541): which other
                        # groups the rule's false matches come from
                        err_total = matched_total - in_c
                        origins[(cluster, rule)] = {
                            lbl: c
                            for lbl, c in per_label.items()
                            if lbl != cluster and c > 0
                        } if err_total else {}
                    elif depth < self.max_len:
                        # conj shrinks matches (improves separation, costs
                        # coverage); disj grows matches (improves coverage)
                        if self.mode == "conj" and good_cov:
                            next_seeds[cluster].append((separation, rule))
                        elif self.mode == "disj" and good_sep:
                            next_seeds[cluster].append((-coverage, rule))
            if depth == 1:
                for c, scored in atom_quality.items():
                    scored.sort(key=lambda t: (-t[0], t[1].attribute, t[1].kind, str(t[1].value)))
                    good_atoms[c] = [a for _, a in scored[:30]]
            for c, _r, _cov, _sep in results:
                if sum(1 for cc, *_ in results if cc == c) >= self.top_k:
                    solved.add(c)
            if depth >= self.max_len:
                break
            # beam: extend the best failing rules per unsolved cluster,
            # drawing only from that cluster's promising atoms
            seen: set[Rule] = set()
            nxt: list[Rule] = []
            for cluster, seeds in next_seeds.items():
                if cluster in solved:
                    continue
                seeds.sort(key=lambda t: t[0])
                for _, rule in seeds[: self.beam_width]:
                    for atom in good_atoms[cluster]:
                        if atom in rule or not self._compatible(rule, atom):
                            continue
                        ext = tuple(
                            sorted(rule + (atom,), key=lambda a: (a.attribute, a.kind, str(a.value)))
                        )
                        if ext not in seen:
                            seen.add(ext)
                            nxt.append(ext)
            level = nxt[:max_level_rules]

        def _error_text(c, r, sep: float) -> str:
            if sep == 0:
                return "Rule has no separation error."
            org = origins.get((c, r), {})
            total = sum(org.values())
            if not total:
                return "Rule has no separation error."
            parts = [
                f"{cnt / total:.0%} of error originates from group {lbl}"
                for lbl, cnt in sorted(org.items(), key=lambda t: (-t[1], t[0]))[:4]
            ]
            return ", ".join(parts)

        rows = [
            {
                "Cluster": c,
                "rule": _rule_human(r, self.mode),
                "coverage": round(cov, 6),
                "separation_err": round(sep, 6),
                "length": len(r),
                "error_explanation": _error_text(c, r, sep),
            }
            for c, r, cov, sep in results
        ]
        self.rules_df = pd.DataFrame(
            rows,
            columns=[
                "Cluster", "rule", "coverage", "separation_err", "length",
                "error_explanation",
            ],
        )
        if len(self.rules_df):
            # conciseness: prefer shortest, then best separation, then coverage
            self.rules_df = (
                self.rules_df.sort_values(
                    ["Cluster", "length", "separation_err", "coverage", "rule"],
                    ascending=[True, True, True, False, True],
                )
                .groupby("Cluster", as_index=False)
                .head(self.top_k)
                .reset_index(drop=True)
            )

        items = [
            ExplanationItem(
                attribute=str(rec.Cluster),
                bin=rec.rule,
                influence=float(rec.coverage),
                score=float(1.0 - rec.separation_err),
                explanation=(
                    f"the group {rec.Cluster} is characterized by ({rec.rule}) "
                    f"— coverage {rec.coverage:.0%}, separation error {rec.separation_err:.0%}"
                ),
                viz={
                    "kind": "rule-bar",
                    "labels": ["coverage", "separation_err"],
                    "values": [float(rec.coverage), float(rec.separation_err)],
                    "highlight": 0,
                },
            )
            for rec in self.rules_df.itertuples()
        ]
        return Explanation(
            kind="many_to_one",
            query=f"{self.frame.name}.explain(many_to_one, labels={self._labels_repr()})",
            items=items,
            extras={"rules": self.rules_df, "clusters": labels, "total_rows": total_rows},
        )


def many_to_one_kernel_table(
    df: DataFrame, label_col: str, attributes: list[str]
) -> DataFrame:
    """SQL-checkable core of the E5 kernel: the level-1 candidate-rule
    statistics the beam search ranks — per (attribute, value, label):
    match count, coverage = matches_in_label / label_size, and
    separation_err = matches_outside_label / total_matches (the
    cluster_explorer contract, reference explainers/
    many_to_one_explainer.py:543-634). ONE exploded groupBy over explicit
    CATEGORICAL attributes (values are their own bins — no float binning,
    so every statistic is a single division of exact counts in any
    engine), plus two tiny window sums. The same pass, extended with
    binning and rule conjunction, is `_rank_attributes`/`_evaluate_rules`
    inside the explainer."""
    from pyspark.sql import Window

    structs = [
        F.struct(
            F.lit(a).alias("attribute"),
            F.coalesce(F.col(a).cast("string"), F.lit("(null)")).alias("bin"),
        )
        for a in attributes
    ]
    joint = (
        df.select(
            F.explode(F.array(*structs)).alias("s"),
            F.col(label_col).cast("string").alias("label"),
        )
        .groupBy(F.col("s.attribute").alias("attribute"), F.col("s.bin").alias("bin"), "label")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w_rule = Window.partitionBy("attribute", "bin")
    w_label = Window.partitionBy("attribute", "label")
    matched_total = F.sum("cnt").over(w_rule)
    label_size = F.sum("cnt").over(w_label)
    return joint.select(
        "attribute",
        "bin",
        "label",
        "cnt",
        F.round(F.col("cnt").cast("double") / label_size, 6).alias("coverage"),
        F.round((matched_total - F.col("cnt")).cast("double") / matched_total, 6).alias(
            "separation_err"
        ),
    )
