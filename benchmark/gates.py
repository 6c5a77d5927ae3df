"""Correctness gates. An iteration that fails any gate counts as a failed
operation and its timings are not used.

Pure functions over collected results, so each gate can be tested on a
perturbed output without Spark.
"""

from __future__ import annotations

import hashlib
import math
from dataclasses import dataclass

MIN_PAIRWISE_F1 = 0.99
MIN_LINK_ACCURACY = 0.99


def canonical_rows(df, cols=None) -> list[tuple[str, ...]]:
    """Rows of a pandas frame as sorted tuples of strings, columns in
    name order, floats rounded to 8 places and NaN read as NULL: the
    comparison the contract's oracle harness makes."""
    cols = sorted(df.columns) if cols is None else cols
    out = []
    for row in df[cols].itertuples(index=False, name=None):
        vals = []
        for v in row:
            if hasattr(v, "item"):
                v = v.item()
            if v is None or (isinstance(v, float) and math.isnan(v)):
                vals.append("None")
            elif isinstance(v, float):
                vals.append(str(round(v, 8)))
            else:
                vals.append(str(v))
        out.append(tuple(vals))
    return sorted(out)


def value_hash(df, cols=None) -> str:
    """Order-independent hash of a frame's values."""
    h = hashlib.sha256()
    for row in canonical_rows(df, cols):
        h.update("\x1f".join(row).encode())
        h.update(b"\x1e")
    return h.hexdigest()


def check_leaf(name: str, got, oracle) -> list[str]:
    """A contract leaf's result against its DuckDB oracle: columns, row
    count and value hash."""
    if sorted(got.columns) != sorted(oracle.columns):
        return [f"{name}: columns {sorted(got.columns)} != {sorted(oracle.columns)}"]
    if len(got) != len(oracle):
        return [f"{name}: {len(got)} rows, oracle {len(oracle)}"]
    if value_hash(got) != value_hash(oracle):
        return [f"{name}: value hash differs from the oracle"]
    return []


@dataclass
class LinkRun:
    """What one ``run_pipeline`` call (cold or resume) produced."""
    text_equality_violations: int
    pct_converged: float
    summary: tuple  # (pairs scored, matches, clusters, assignments)
    output_hash: str  # value_hash of components + assignments


def check_link(cold: LinkRun, resume: LinkRun, pairwise_f1: float,
               link_accuracy: float, reference_hash: str | None) -> list[str]:
    """Gates of one link iteration (a cold run and its resume).
    ``reference_hash`` is the first iteration's output hash in this
    process, or None for the first iteration."""
    fails = []
    if not pairwise_f1 >= MIN_PAIRWISE_F1:
        fails.append(f"pairwise_f1 {pairwise_f1} < {MIN_PAIRWISE_F1}")
    if not link_accuracy >= MIN_LINK_ACCURACY:
        fails.append(f"link_accuracy {link_accuracy} < {MIN_LINK_ACCURACY}")
    for tag, run in (("cold", cold), ("resume", resume)):
        if run.text_equality_violations != 0:
            fails.append(f"{tag}: {run.text_equality_violations} text equality violations")
        if run.pct_converged != 1.0:
            fails.append(f"{tag}: LBP converged in {run.pct_converged} of conversations")
    if resume.summary != cold.summary:
        fails.append(f"resume summary {resume.summary} != cold {cold.summary}")
    if resume.output_hash != cold.output_hash:
        fails.append("resume output hash differs from the cold run's")
    if reference_hash is not None and cold.output_hash != reference_hash:
        fails.append("output hash differs from the first iteration's")
    return fails
