"""Benchmark self-tests: every checker rejects a corrupted output, and
each workload runs end to end at the tiny size.

    python3 -m pytest perfbench/test_bench.py -q

The checker tests need no Spark. The smoke tests start one Spark
session per workload (about a minute each on 4 cores).
"""

from __future__ import annotations

import copy
import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


@pytest.fixture(scope="module")
def inputs(tmp_path_factory):
    cache = str(tmp_path_factory.mktemp("inputs"))
    return {k: gen.load_truth(gen.ensure(k, 7, "tiny", cache)) for k in gen.MAKERS}


def ideal(truth: dict, quantiles: str) -> dict:
    """The output a correct program returns, built from the truth."""
    verdicts = [
        dict(partition=p, constraint=c, violation_count=n,
             row_count=truth["row_count"][p], passed=n == 0)
        for p, cs in truth["verdicts"].items() for c, n in cs.items()
    ]
    violations = [(p, c, k) for p, c, k, n in truth["violations"] for _ in range(n)]
    summary = []
    for p, cols in truth["stats"].items():
        for col, st in cols.items():
            row = dict(partition=p, column=col, coverage=st["coverage"], count=st["count"],
                       null_fraction=1 - st["count"] / st["rows"],
                       num_unique_values=st.get("ndv"),
                       occurrence_ratio=st.get("occurrence_ratio"))
            if "min" in st:
                row.update(mean=st["mean"], min=st["min"], max=st["max"], stddev=st["stddev"])
                if quantiles == "nearest":
                    row.update(p50=st["p50"], p95=st["p95"])
                else:
                    row.update(p50=st["q50"][0], p95=st["q95"][1])
            summary.append(row)
    return dict(verdicts=verdicts, violations=violations, summary=summary)


def psi_rows(parts, drifted):
    return [dict(partition=p, psi=1.0 if p == drifted else 0.01, ks=0.5 if p == drifted else 0.02,
                 psi_drifted=p == drifted, ks_drifted=p == drifted) for p in parts]


def tokens_out(truth):
    out = ideal(truth, "nearest")
    out["distribution"] = psi_rows(truth["row_count"], truth["shifted"])
    return out


def wide_out(truth):
    out = ideal(truth, "approx")
    out["distribution"] = psi_rows(truth["partitions"], truth["drifted"])
    out.update(
        is_drifted=True, drifted_columns=truth["faults"]["shifted"][:3],
        scores=[dict(partition=p, score=9.0 if p == truth["drifted"] else 1.0,
                     is_drifted=p == truth["drifted"]) for p in truth["partitions"]],
    )
    return out


def test_ideal_outputs_pass(inputs):
    assert checks.check_tokens(tokens_out(inputs["tokens"]), inputs["tokens"]) == []
    assert checks.check_wide(wide_out(inputs["wide"]), inputs["wide"]) == []
    exp = checks.resume_expected(inputs["resume"])
    assert checks.check_tokens(tokens_out(exp), exp) == []


def test_count_off_by_one_is_rejected(inputs):
    for truth, make, check in (
        (inputs["tokens"], tokens_out, checks.check_tokens),
        (inputs["wide"], wide_out, checks.check_wide),
    ):
        out = make(truth)
        bad = copy.deepcopy(out)
        bad["verdicts"][0]["violation_count"] += 1
        assert any("violations, want" in e for e in check(bad, truth))
        bad = copy.deepcopy(out)
        bad["verdicts"][0]["row_count"] -= 1
        assert any("rows, want" in e for e in check(bad, truth))
        bad = copy.deepcopy(out)
        bad["summary"][0]["count"] += 1
        assert any(".count =" in e for e in check(bad, truth))


def test_missing_violation_row_is_rejected(inputs):
    for truth, make, check in (
        (inputs["tokens"], tokens_out, checks.check_tokens),
        (inputs["wide"], wide_out, checks.check_wide),
    ):
        bad = make(truth)
        assert bad["violations"], "the inputs inject violations"
        bad["violations"].pop()
        assert any("violation rows missing" in e for e in check(bad, truth))


def test_wrong_drifted_partition_is_rejected(inputs):
    truth = inputs["tokens"]
    other = next(p for p in truth["row_count"] if p != truth["shifted"])
    bad = tokens_out(truth)
    bad["distribution"] = psi_rows(truth["row_count"], other)
    assert any("highest PSI" in e for e in checks.check_tokens(bad, truth))

    truth = inputs["wide"]
    first = truth["partitions"][0]
    bad = wide_out(truth)
    bad["scores"] = [dict(r, score=9.0 if r["partition"] == first else 1.0,
                          is_drifted=r["partition"] == first) for r in bad["scores"]]
    assert any("top drift_scores" in e for e in checks.check_wide(bad, truth))
    bad = wide_out(truth)
    bad["is_drifted"] = False
    assert any("is not is_drifted" in e for e in checks.check_wide(bad, truth))
    bad = wide_out(truth)
    unshifted = [c for cs in truth["columns"].values() for c in cs if c not in truth["faults"]["shifted"]]
    bad["drifted_columns"] = unshifted[:3]
    assert any("top drifted columns" in e for e in checks.check_wide(bad, truth))


def test_statistics_out_of_bound_are_rejected(inputs):
    truth = inputs["wide"]
    out = wide_out(truth)
    row = next(r for r in out["summary"] if r.get("mean") is not None and r["max"] > r["min"]
               and truth["stats"][r["partition"]][r["column"]]["type"] == "int")
    for stat, value in (("mean", row["mean"] + 1e-3 * (1 + abs(row["mean"]))),
                        ("p50", row["max"] + 1.0),
                        ("num_unique_values", 2 * (row["num_unique_values"] or 0) + 10)):
        bad = copy.deepcopy(out)
        r = next(x for x in bad["summary"] if (x["partition"], x["column"]) == (row["partition"], row["column"]))
        r[stat] = value
        assert checks.check_wide(bad, truth), stat


def test_null_or_missing_statistic_is_rejected(inputs):
    """A statistic the column's type requires may not be dropped."""
    for truth, make, check in (
        (inputs["tokens"], tokens_out, checks.check_tokens),
        (inputs["wide"], wide_out, checks.check_wide),
    ):
        out = make(truth)
        for stat in ("num_unique_values", "occurrence_ratio", "stddev", "count",
                     "null_fraction", "mean", "p95"):
            for col_type in {st["type"] for cols in truth["stats"].values() for st in cols.values()}:
                if stat not in checks.REQUIRED_STATS[col_type]:
                    continue
                bad = copy.deepcopy(out)
                row = next(
                    (r for r in bad["summary"] if r.get(stat) is not None
                     and truth["stats"][r["partition"]][r["column"]]["type"] == col_type),
                    None,
                )
                if row is None:
                    continue
                row[stat] = None
                assert any(f".{stat} is null" in e for e in check(bad, truth)), (stat, col_type)
        bad = copy.deepcopy(out)
        del bad["summary"][0]["coverage"]
        assert any("has no coverage" in e for e in check(bad, truth))


def test_resume_gap_is_exact(inputs):
    """The full run may differ from the resumed output only by the
    re-ingested ids in the committed victim source."""
    truth = inputs["resume"]
    exp = checks.resume_expected(truth)
    resumed = tokens_out(exp)
    full = tokens_out(dict(truth["grown"], shifted=truth["shifted"], domain=truth["domain"]))
    assert checks.check_resume_vs_full(resumed, full, truth) == []
    bad = copy.deepcopy(full)
    bad["violations"] = [v for v in bad["violations"] if v[0] != truth["victim"]]
    assert checks.check_resume_vs_full(resumed, bad, truth)


def run_tiny(workload: str, trace: int) -> dict:
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace), "--size", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    res = json.loads(p.stdout.strip().splitlines()[-1])
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 2, p.stderr[-3000:]
    return res


def listed(kind: str) -> set[str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"] for m in json.load(fh)[kind]}


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_smoke(workload):
    res = run_tiny(workload, 0)
    assert set(res["metrics"]) == listed("end_to_end")
    assert all(v["value"] > 0 for v in res["metrics"].values())


def test_traced_smoke():
    """Every listed per-layer metric is measured; the cli, checkpoint,
    sketches and iceberg layers fire on tokens_commit."""
    res = run_tiny("tokens_commit", 1)
    assert set(res["metrics"]) == listed("per_layer")
    for name in ("cli.self_s", "checkpoint.commit_s", "sketches.build_s", "iceberg.read_s",
                 "pipeline.summary_agg_s"):
        assert res["metrics"][name]["value"] > 0, name
