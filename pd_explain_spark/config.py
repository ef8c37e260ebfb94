"""Global engine toggles (reference utils/global_values.py:1-22).

The reference exposes a process-wide sampling switch (default ON, 5000
rows, seed 42) consumed by every explainer; `toggle_sampling()` flips it.
Our default is OFF — full-data fidelity is the Spark engine's value-add
(BASELINE.md §3 budgets full-data explain at <= 30 s) — but the same
switch exists for reference-parity latency, and explainers that take a
``use_sampling`` kwarg default to this global when the kwarg is omitted.

What the switch changes: full-data mode runs the distributed kernels
(one explode/groupBy dual histogram, batched rule aggregates). Sampled
mode runs ONE Spark projection + Arrow collect per sampled input (the
seeded ``deterministic_sample`` of at most ``sample_size`` rows), then
FEDEX and many-to-one profile, bin and score that frame in driver numpy;
sampled profiles count exact distinct values (the reference's
``nunique``) where the Spark profile uses HLL. A join's full result
histogram and many-to-one's label counts stay Spark jobs.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass
class _GlobalConfig:
    use_sampling: bool = False
    sample_size: int = 5000
    random_seed: int = 42


GLOBALS = _GlobalConfig()


def toggle_sampling(value: bool | None = None) -> bool:
    """Flip (or set) the global explainer-sampling switch; returns the new
    value (reference utils/global_values.py:4-15)."""
    GLOBALS.use_sampling = (not GLOBALS.use_sampling) if value is None else bool(value)
    return GLOBALS.use_sampling


def get_use_sampling_value() -> bool:
    """Current sampling flag (reference utils/global_values.py
    get_use_sampling_value — same name, package top-level export)."""
    return GLOBALS.use_sampling


def resolve_sampling(kwarg_value: bool | None) -> bool:
    """An explainer's effective sampling flag: explicit kwarg wins, else
    the global."""
    return GLOBALS.use_sampling if kwarg_value is None else bool(kwarg_value)
