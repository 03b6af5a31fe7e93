"""Output checks. Each returns a list of problems; an empty list passes.

A failed check counts the operation as failed.
"""

from __future__ import annotations

import hashlib
import itertools

import pandas as pd

from imageduplicatefinder_spark.sources.generator import GeneratedCorpus

#: the pipeline's pair recall and precision against the planted pairs
MIN_PAIR_RECALL = 0.99
MIN_PAIR_PRECISION = 0.99


def plan_pairs(plan: pd.DataFrame) -> set[tuple[str, str]]:
    """Unordered same-cluster pairs of a keeper plan, by row key."""
    pairs: set[tuple[str, str]] = set()
    keys = [GeneratedCorpus.key(r, p, c)
            for r, p, c in zip(plan["repo"], plan["path"], plan["commit"])]
    for _, members in pd.Series(keys).groupby(plan["cluster_id"].values):
        pairs.update(itertools.combinations(sorted(members), 2))
    return pairs


def pair_scores(plan: pd.DataFrame,
                true_pairs: set[tuple[str, str]]) -> tuple[float, float]:
    """(recall, precision) of the plan's pairs against ``true_pairs``."""
    found = plan_pairs(plan)
    hit = len(found & true_pairs)
    recall = hit / len(true_pairs) if true_pairs else 1.0
    precision = hit / len(found) if found else 1.0
    return recall, precision


def check_plan(plan: pd.DataFrame, true_pairs: set[tuple[str, str]],
               expected_rows: int | None) -> tuple[list[str], float]:
    """Keeper-plan checks of one pipeline run; also returns the recall.

    - recall and precision against the generator's planted pairs;
    - no decoy document in any cluster;
    - exactly one KEEP per cluster;
    - the same row count as the run's first plan (``expected_rows``).
    """
    problems: list[str] = []
    recall, precision = pair_scores(plan, true_pairs)
    if recall < MIN_PAIR_RECALL:
        problems.append(f"pair recall {recall:.4f} < {MIN_PAIR_RECALL}")
    if precision < MIN_PAIR_PRECISION:
        problems.append(f"pair precision {precision:.4f} < {MIN_PAIR_PRECISION}")
    decoys = plan["path"].str.contains("/decoy_", regex=False).sum()
    if decoys:
        problems.append(f"{decoys} decoy documents clustered")
    keeps = plan[plan["action"] == "KEEP"].groupby("cluster_id").size()
    n_clusters = plan["cluster_id"].nunique()
    if len(keeps) != n_clusters or (keeps != 1).any():
        problems.append("a cluster without exactly one KEEP")
    if expected_rows is not None and len(plan) != expected_rows:
        problems.append(f"plan has {len(plan)} rows, expected {expected_rows}")
    return problems, recall


def same_plan(a: pd.DataFrame, b: pd.DataFrame) -> list[str]:
    """A resumed run must reproduce the fresh run's plan exactly."""
    cols = sorted(a.columns)
    if sorted(b.columns) != cols:
        return [f"resumed plan columns {sorted(b.columns)} != {cols}"]
    norm = [df[cols].sort_values(cols).reset_index(drop=True) for df in (a, b)]
    return [] if norm[0].equals(norm[1]) else ["resumed plan differs from fresh"]


def value_hash(df: pd.DataFrame) -> str:
    """Order-insensitive hash of a result: columns sorted by name, each
    row rendered with floats at 6 decimals, rows sorted."""
    df = df.reindex(sorted(df.columns), axis=1)

    def cell(v) -> str:
        return f"{v:.6f}" if isinstance(v, float) else str(v)

    rows = sorted("\x1f".join(cell(v) for v in row)
                  for row in df.itertuples(index=False))
    return hashlib.sha256("\n".join(rows).encode()).hexdigest()[:16]


def check_query(name: str, result: pd.DataFrame,
                expected: tuple[int, str]) -> list[str]:
    """A catalog result must match its DuckDB oracle's rows and values."""
    rows, digest = expected
    if len(result) != rows:
        return [f"{name}: {len(result)} rows, oracle has {rows}"]
    got = value_hash(result)
    if got != digest:
        return [f"{name}: value hash {got}, oracle {digest}"]
    return []
