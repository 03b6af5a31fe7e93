"""The benchmark's own tests: seeded inputs, output checks, metric names.

Run from the repository root: ``python3 -m pytest perfbench -q``.
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

import pandas as pd
import pytest

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from perfbench import run  # noqa: E402
from perfbench.checks import (  # noqa: E402
    check_plan,
    check_query,
    same_plan,
    value_hash,
)
from perfbench.inputs import (  # noqa: E402
    write_catalog_input,
    write_pipeline_input,
)


def _files(path: Path) -> dict[str, bytes]:
    return {p.name: p.read_bytes() for p in sorted(path.iterdir())}


def test_same_seed_gives_identical_pipeline_input(tmp_path):
    a = write_pipeline_input(str(tmp_path / "a"), seed=3, n_files=4)
    b = write_pipeline_input(str(tmp_path / "b"), seed=3, n_files=4)
    c = write_pipeline_input(str(tmp_path / "c"), seed=4, n_files=4)
    assert _files(tmp_path / "a") == _files(tmp_path / "b")
    assert _files(tmp_path / "a") != _files(tmp_path / "c")
    assert a.corpus.true_pairs == b.corpus.true_pairs
    assert a.n_docs == len(a.corpus.rows)


def test_same_seed_gives_identical_catalog_input(tmp_path):
    write_catalog_input(str(tmp_path / "a"), seed=3)
    write_catalog_input(str(tmp_path / "b"), seed=3)
    write_catalog_input(str(tmp_path / "c"), seed=4)
    assert _files(tmp_path / "a") == _files(tmp_path / "b")
    assert _files(tmp_path / "a") != _files(tmp_path / "c")


@pytest.fixture(scope="module")
def corpus(tmp_path_factory):
    path = tmp_path_factory.mktemp("corpus")
    return write_pipeline_input(str(path), seed=5, n_files=2).corpus


def _perfect_plan(corpus) -> pd.DataFrame:
    """The plan a perfect run would emit: one cluster per planted
    family, first member kept."""
    parent: dict[str, str] = {}

    def find(k: str) -> str:
        while parent.setdefault(k, k) != k:
            k = parent[k]
        return k

    for a, b in corpus.true_pairs:
        parent[find(a)] = find(b)
    rows = []
    by_key = {f"{r}/{p}@{c}": (r, p, c) for r, p, c, _, _ in corpus.rows}
    clusters: dict[str, list[str]] = {}
    for k in parent:
        clusters.setdefault(find(k), []).append(k)
    for cid, members in enumerate(sorted(clusters.values())):
        for i, k in enumerate(sorted(members)):
            r, p, c = by_key[k]
            rows.append((cid, "KEEP" if i == 0 else "DELETE", r, p, c))
    return pd.DataFrame(rows, columns=["cluster_id", "action", "repo",
                                       "path", "commit"])


def test_plan_check_passes_a_perfect_plan(corpus):
    plan = _perfect_plan(corpus)
    problems, recall = check_plan(plan, corpus.true_pairs, len(plan))
    assert problems == [] and recall == 1.0


def test_plan_check_fires_on_missed_pairs(corpus):
    plan = _perfect_plan(corpus)
    # every family loses its non-kept members: recall collapses
    dropped = plan[plan["action"] == "KEEP"]
    problems, recall = check_plan(dropped, corpus.true_pairs, None)
    assert recall < 0.99 and any("recall" in p for p in problems)


def test_plan_check_fires_on_merged_families(corpus):
    plan = _perfect_plan(corpus)
    merged = plan.assign(cluster_id=0, action="DELETE")
    merged.loc[0, "action"] = "KEEP"
    problems, _ = check_plan(merged, corpus.true_pairs, None)
    assert any("precision" in p for p in problems)


def test_plan_check_fires_on_clustered_decoy(corpus):
    plan = _perfect_plan(corpus)
    decoy = next(r for r in corpus.rows if "/decoy_" in r[1])
    extra = pd.DataFrame([(plan["cluster_id"].iloc[0], "DELETE",
                           *decoy[:3])], columns=plan.columns)
    problems, _ = check_plan(pd.concat([plan, extra], ignore_index=True),
                             corpus.true_pairs, None)
    assert any("decoy" in p for p in problems)


def test_plan_check_fires_on_two_keepers_and_row_count(corpus):
    plan = _perfect_plan(corpus)
    two = plan.assign(action="KEEP")
    problems, _ = check_plan(two, corpus.true_pairs, len(plan) + 1)
    assert any("KEEP" in p for p in problems)
    assert any("expected" in p for p in problems)


def test_resume_check_fires_on_a_changed_plan(corpus):
    plan = _perfect_plan(corpus)
    assert same_plan(plan, plan.iloc[::-1]) == []
    changed = plan.copy()
    changed.loc[1, "action"] = "KEEP"
    assert same_plan(plan, changed) != []


def test_query_check_fires_on_wrong_rows_or_values():
    df = pd.DataFrame({"a": [1, 2, 3], "b": [0.5, 0.25, 0.125]})
    expected = (len(df), value_hash(df))
    assert check_query("q", df.iloc[::-1], expected) == []
    assert check_query("q", df.iloc[:2], expected) != []
    assert check_query("q", df.assign(b=[0.5, 0.25, 0.5]), expected) != []


def _benchmark_json() -> dict:
    return json.loads((ROOT / "BENCHMARK.json").read_text())


def test_metric_names_match_benchmark_json():
    spec = _benchmark_json()
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOAD_TYPES)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == \
        run.END_TO_END_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == \
        run.per_layer_units()


def test_printed_metrics_carry_every_name_with_its_unit():
    spec = _benchmark_json()
    e2e = run.metric_block({m["name"]: 1.0 for m in spec["end_to_end"]},
                           trace=False)
    layer = run.metric_block({m["name"]: 1.0 for m in spec["per_layer"]},
                             trace=True)
    for block, key in ((e2e, "end_to_end"), (layer, "per_layer")):
        assert {k: v["unit"] for k, v in block.items()} == \
            {m["name"]: m["unit"] for m in spec[key]}
