"""Output checks against the generator's ground truth (gen.py).

Every checker takes plain Python values (rows as dicts, tuples) and a
truth dict, and returns a list of error strings; an empty list means
the output is correct. They import neither Spark nor ``gate_spark``, so
the self-tests in test_bench.py can feed them corrupted outputs directly.
"""

from __future__ import annotations

from collections import Counter

import numpy as np

# approx_count_distinct's default relative standard deviation; five of
# them bound an estimate on every seed without a real fault slipping by
HLL_RSD = 0.05
HLL_SIGMAS = 5.0
# float32 output precision (values are emitted CAST AS FLOAT)
F32_RTOL = 2e-6


def _close(got, want) -> bool:
    got, want = float(got), float(want)
    if np.isnan(got) or np.isnan(want):
        return np.isnan(got) and np.isnan(want)
    return abs(got - float(np.float32(want))) <= F32_RTOL * abs(want) + 1e-12


def check_verdicts(rows: list[dict], truth: dict, parts=None) -> list[str]:
    """Verdict counts, row counts and pass flags equal the truth for
    every partition in ``parts`` (default: every truth partition)."""
    errs = []
    parts = set(truth["verdicts"]) if parts is None else set(parts)
    seen = set()
    for r in rows:
        p, c = str(r["partition"]), r["constraint"]
        if p not in parts:
            continue
        seen.add((p, c))
        want = truth["verdicts"].get(p, {}).get(c)
        if want is None:
            errs.append(f"verdict for unknown ({p}, {c})")
            continue
        if int(r["violation_count"]) != want:
            errs.append(f"verdict ({p}, {c}): {r['violation_count']} violations, want {want}")
        if int(r["row_count"]) != truth["row_count"][p]:
            errs.append(f"verdict ({p}, {c}): {r['row_count']} rows, want {truth['row_count'][p]}")
        if bool(r["passed"]) != (want == 0):
            errs.append(f"verdict ({p}, {c}): passed={r['passed']} with {want} violations")
    missing = {(p, c) for p in parts for c in truth["verdicts"][p]} - seen
    if missing:
        errs.append(f"{len(missing)} verdicts missing, e.g. {sorted(missing)[0]}")
    return errs


def truth_violations(truth: dict, parts=None) -> Counter:
    return Counter({
        (p, c, k): n for p, c, k, n in truth["violations"] if parts is None or p in parts
    })


def check_violations(rows: list[tuple], truth: dict, parts=None) -> list[str]:
    """The (partition, constraint, key) multiset equals the truth's."""
    got = Counter(
        (str(p), c, str(k)) for p, c, k in rows if parts is None or str(p) in parts
    )
    return diff_multisets(got, truth_violations(truth, parts), "violation")


def diff_multisets(got: Counter, want: Counter, what: str) -> list[str]:
    extra, missing = got - want, want - got
    errs = []
    if extra:
        errs.append(f"{sum(extra.values())} unexpected {what} rows, e.g. {sorted(extra)[0]}")
    if missing:
        errs.append(f"{sum(missing.values())} {what} rows missing, e.g. {sorted(missing)[0]}")
    return errs


def check_psi_top(rows: list[dict], drifted: str, among=None) -> list[str]:
    """The drifted partition is psi_drifted and has the highest PSI and
    KS of the partitions in ``among`` (default: all). The token tables
    rank their in-domain sources only: the out-of-domain partition is a
    0.1% sprinkle of rows, a few dozen, whose PSI and KS are sampling
    noise of that size."""
    if among is not None:
        rows = [r for r in rows if str(r["partition"]) in among]
    if not rows:
        return ["distribution output is empty"]
    top_psi = max(rows, key=lambda r: r["psi"])
    top_ks = max(rows, key=lambda r: r["ks"])
    errs = []
    if str(top_psi["partition"]) != drifted:
        errs.append(f"highest PSI is {top_psi['partition']}, want {drifted}")
    if str(top_ks["partition"]) != drifted:
        errs.append(f"highest KS is {top_ks['partition']}, want {drifted}")
    if not any(str(r["partition"]) == drifted and r["psi_drifted"] for r in rows):
        errs.append(f"{drifted} is not psi_drifted")
    return errs


# statistics each type class must report, not null wherever numpy has
# a value: gate_spark's TYPE_TO_STATISTICS plus, since both workloads
# ask for extras, its EXTRA_BY_TYPE
_MOMENTS = ("coverage", "mean", "p50", "p95", "count", "null_fraction", "min", "max", "stddev")
_LABELS = ("num_unique_values", "occurrence_ratio")
REQUIRED_STATS = {
    "string": ("coverage", "count", "null_fraction") + _LABELS,
    "float": _MOMENTS,
    "int": _MOMENTS + _LABELS,
    "bool": _MOMENTS + _LABELS,
    "array": _MOMENTS + _LABELS,
}


def _numpy_value(want: dict, stat: str):
    """The truth's value of ``stat``; None where numpy has none (no
    non-null values, or one value for stddev)."""
    if stat == "null_fraction":
        return 1.0 - want["count"] / want["rows"]
    return want.get("ndv" if stat == "num_unique_values" else stat)


def _stat_ok(got, exp, stat: str, want: dict, quantiles: str) -> bool:
    if stat == "count":
        return int(got) == exp
    if stat == "num_unique_values":
        return abs(float(got) - exp) <= HLL_SIGMAS * HLL_RSD * exp + 1
    if stat in ("p50", "p95") and quantiles == "approx":
        lo, hi = want["q" + stat[1:]]
        return bool(np.float32(lo) <= np.float32(got) <= np.float32(hi))
    return _close(got, exp)


def check_summary(
    rows: list[dict], truth: dict, *, quantiles: str, parts=None,
) -> list[str]:
    """Every statistic the column's type requires, against numpy: exact
    moments and counts to float32 precision; distinct counts within the
    HLL error bound; p50/p95 exact (``quantiles="nearest"``) or within
    percentile_approx's rank bound (``"approx"``). A required statistic
    that is missing, or null where numpy has a value, is an error."""
    errs = []
    stats = truth["stats"]
    parts = set(stats) if parts is None else set(parts)
    seen = set()
    for r in rows:
        p, col = str(r["partition"]), r["column"]
        if p not in parts:
            continue
        seen.add((p, col))
        want = stats.get(p, {}).get(col)
        if want is None:
            errs.append(f"summary row for unknown ({p}, {col})")
            continue
        for s in REQUIRED_STATS[want["type"]]:
            if s not in r:
                errs.append(f"summary ({p}, {col}) has no {s}")
                continue
            got, exp = r[s], _numpy_value(want, s)
            if exp is None:
                if got is not None:
                    errs.append(f"summary ({p}, {col}).{s} = {got}, numpy has none")
            elif got is None:
                errs.append(f"summary ({p}, {col}).{s} is null")
            elif not _stat_ok(got, exp, s, want, quantiles):
                errs.append(f"summary ({p}, {col}).{s} = {got}, numpy {exp}")
    missing = {(p, c) for p in parts for c in stats[p]} - seen
    if missing:
        errs.append(f"{len(missing)} summary rows missing, e.g. {sorted(missing)[0]}")
    return errs


# ---------------------------------------------------------- workloads


def check_tokens(out: dict, truth: dict, parts=None) -> list[str]:
    """A validate_tokens result (tokens_bulk), or the readback of
    ``--output`` (tokens_resume), restricted to ``parts``."""
    return (
        check_verdicts(out["verdicts"], truth, parts)
        + check_violations(out["violations"], truth, parts)
        + check_summary(out["summary"], truth, quantiles="nearest", parts=parts)
        + check_psi_top(out["distribution"], truth["shifted"], set(truth["domain"]))
    )


def check_wide(out: dict, truth: dict) -> list[str]:
    errs = (
        check_verdicts(out["verdicts"], truth)
        + check_violations(out["violations"], truth)
        + check_summary(out["summary"], truth, quantiles="approx")
        + check_psi_top(out["distribution"], truth["drifted"])
    )
    if not out["is_drifted"]:
        errs.append(f"detect_drift: {truth['drifted']} is not is_drifted")
    shifted = set(truth["faults"]["shifted"])
    top = out["drifted_columns"][:3]
    if len(top) < 3 or not set(top) <= shifted:
        errs.append(f"top drifted columns {top} not among the shifted {sorted(shifted)}")
    scores = out["scores"]
    if not scores:
        errs.append("drift_scores output is empty")
    else:
        best = max(scores, key=lambda r: r["score"])
        if str(best["partition"]) != truth["drifted"]:
            errs.append(f"top drift_scores partition is {best['partition']}, want {truth['drifted']}")
        if not best["is_drifted"]:
            errs.append(f"top drift_scores partition {best['partition']} is not is_drifted")
    return errs


def resume_expected(truth: dict) -> dict:
    """What ``--output`` must hold after the resume: committed
    partitions keep the verdicts of the committing run (base truth);
    the pending partition is checked against the whole grown table."""
    base, grown, pend = truth["base"], truth["grown"], truth["pending_source"]
    return dict(
        shifted=truth["shifted"], domain=truth["domain"],
        verdicts={**base["verdicts"], pend: grown["verdicts"][pend]},
        row_count={**base["row_count"], pend: grown["row_count"][pend]},
        stats={**base["stats"], pend: grown["stats"][pend]},
        violations=list(base["violations"])
        + [v for v in grown["violations"] if v[0] == pend],
    )


def check_resume_vs_full(resumed: dict, full: dict, truth: dict) -> list[str]:
    """The resumed ``--output`` equals a from-scratch full run, except
    exactly where incremental semantics say it must differ: the
    committed source the pending partition re-ingests keeps its
    commit-time uniqueness verdict, so the full run flags the
    re-ingested ids there and the resume does not."""
    exp = resume_expected(truth)
    want_gap = truth_violations(truth["grown"]) - truth_violations(exp)
    got_full = Counter((str(p), c, str(k)) for p, c, k in full["violations"])
    got_res = Counter((str(p), c, str(k)) for p, c, k in resumed["violations"])
    errs = diff_multisets(got_full - got_res, want_gap, "full-minus-resume violation")
    if got_res - got_full:
        errs.append(f"{sum((got_res - got_full).values())} resume violations absent from the full run")
    vf = {(str(r["partition"]), r["constraint"]): int(r["violation_count"]) for r in full["verdicts"]}
    vr = {(str(r["partition"]), r["constraint"]): int(r["violation_count"]) for r in resumed["verdicts"]}
    gap = Counter()
    for p, c, _k in want_gap.elements():
        gap[(p, c)] += 1
    if set(vf) != set(vr):
        errs.append("resume and full run verdict keys differ")
    for key in vf:
        if vf[key] - vr.get(key, 0) != gap.get(key, 0):
            errs.append(f"verdict {key}: full {vf[key]}, resume {vr.get(key)}")
    sf = {(str(r["partition"]), r["column"]): r for r in full["summary"]}
    sr = {(str(r["partition"]), r["column"]): r for r in resumed["summary"]}
    if set(sf) != set(sr):
        errs.append("resume and full run summary keys differ")
    for key, a in sf.items():
        b = sr.get(key, {})
        for s, v in a.items():
            if s in ("partition", "column") or v is None and b.get(s) is None:
                continue
            if b.get(s) is None or abs(float(v) - float(b[s])) > F32_RTOL * abs(float(v)) + 1e-12:
                errs.append(f"summary {key}.{s}: full {v}, resume {b.get(s)}")
    return errs
