"""The workloads: inputs, set-up, one timed operation, checks.

A workload object is built per run. ``prepare`` makes (or finds) the
generated inputs; ``setup`` runs inside the fresh Spark session before
the first timed operation; ``op`` is the timed operation and returns
its collected outputs; ``check`` compares them with the truth;
``finish`` runs once per run after the timed operations, outside them.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import shutil

import pyarrow.parquet as pq

import checks
import gen


def _rows(rows, rename: str | None = None) -> list[dict]:
    out = []
    for r in rows:
        d = r.asDict()
        if rename is not None:
            d["partition"] = d.pop(rename)
        out.append(d)
    return out


def _violations(rows) -> list[tuple]:
    return [(r["partition"], r["constraint"], r["key"]) for r in rows]


def _link_tree(src: str, dst: str) -> None:
    """Hard-link copy: same inodes, so file stamps do not change."""
    shutil.copytree(src, dst, copy_function=os.link, dirs_exist_ok=True)


def _cli(args: list[str]) -> dict:
    """One in-process ``cli.main`` invocation; its JSON summary line."""
    from gate_spark import cli

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        code = cli.main(args)
    if code != 0:
        raise RuntimeError(f"cli.main exited {code}")
    return json.loads(buf.getvalue().strip().splitlines()[-1])


def _read_back(out: str, dirs=("summary", "verdicts", "violations", "distribution")) -> dict:
    """The tables a cli run wrote under ``out``, as checker inputs. Read
    with pyarrow, so the checks start no Spark job between operations."""
    res = {}
    for d in dirs:
        rows = pq.read_table(os.path.join(out, d), partitioning="hive").to_pylist()
        if d == "summary":
            for r in rows:
                r["partition"] = r.pop("source")
        res[d] = _violations(rows) if d == "violations" else rows
    return res


class Workload:
    """Defaults: no set-up and no once-per-run check."""

    def setup(self, ctx) -> None:
        pass

    def finish(self, ctx) -> list[str]:
        return []


class TokensBulk(Workload):
    name = "tokens_bulk"

    def prepare(self, seed: int, size: str, cache: str) -> None:
        self.path = gen.ensure("tokens", seed, size, cache)
        self.truth = gen.load_truth(self.path)
        self.rows = self.truth["rows"]

    def op(self, ctx):
        from gate_spark.pipeline import validate_tokens

        df = ctx.spark.read.parquet(os.path.join(self.path, "table"))
        r = validate_tokens(df, domain=tuple(self.truth["domain"]), vocab=(0, gen.VOCAB))
        with ctx.tracer.span("pipeline.force"):
            out = dict(
                summary=r.summary.df.collect(),
                verdicts=r.verdicts.collect(),
                violations=r.violations.collect(),
                distribution=r.distribution.collect(),
                drift=r.drift.collect(),
            )
        r.unpersist()
        return out

    def check(self, out, ctx) -> list[str]:
        res = dict(
            summary=_rows(out["summary"], "source"),
            verdicts=_rows(out["verdicts"]),
            violations=_violations(out["violations"]),
            distribution=_rows(out["distribution"]),
        )
        errs = checks.check_tokens(res, self.truth)
        if {str(r["partition"]) for r in out["drift"]} != set(self.truth["row_count"]):
            errs.append("drift scores do not cover every source")
        return errs


class TokensCommit(Workload):
    """The bulk validation as spark-submit runs it: one ``cli.main
    --lineage --sketch`` invocation over the tokens table with an empty
    lineage, so every source is pending. Besides validate_tokens it
    writes the outputs, builds the sketches and commits the lineage.
    Each operation starts from an empty lineage again."""

    name = "tokens_commit"

    def prepare(self, seed: int, size: str, cache: str) -> None:
        self.path = gen.ensure("tokens", seed, size, cache)
        self.truth = gen.load_truth(self.path)
        self.rows = self.truth["rows"]

    def setup(self, ctx) -> None:
        self.out, self.lineage = (os.path.join(ctx.work, d) for d in ("out", "lineage"))
        self.args = [
            "--input", os.path.join(self.path, "table"), "--output", self.out,
            "--lineage", self.lineage, "--sketch", "--domain", ",".join(self.truth["domain"]),
        ]

    def op(self, ctx):
        shutil.rmtree(self.lineage, ignore_errors=True)
        return _cli(self.args)

    def check(self, out, ctx) -> list[str]:
        errs = []
        if out.get("status") != "completed" or out.get("global_checks") != "full":
            errs.append(f"commit reported {out}")
        res = _read_back(self.out, ("summary", "verdicts", "violations", "distribution", "drift"))
        if {str(r["partition"]) for r in res["drift"]} != set(self.truth["row_count"]):
            errs.append("drift scores do not cover every source")
        return errs + checks.check_tokens(res, self.truth)


class GateWide(Workload):
    name = "gate_wide"

    def prepare(self, seed: int, size: str, cache: str) -> None:
        self.path = gen.ensure("wide", seed, size, cache)
        self.truth = gen.load_truth(self.path)
        self.rows = sum(self.truth["row_count"].values())
        self.columns = [c for cs in self.truth["columns"].values() for c in cs]

    def setup(self, ctx) -> None:
        import gate_spark as gs

        made = {
            "unique": lambda c: gs.UniqueConstraint(name=c["name"], column=c["column"]),
            "not_null": lambda c: gs.NotNullConstraint(name=c["name"], column=c["column"]),
            "member": lambda c: gs.MembershipConstraint(
                name=c["name"], column=c["column"], domain=tuple(c["domain"])
            ),
            "expr": lambda c: gs.ExpressionConstraint(name=c["name"], expression=c["expression"]),
        }
        self.constraints = [made[c["kind"]](c) for c in self.truth["constraints"]]

    def op(self, ctx):
        import gate_spark as gs

        tr = ctx.tracer
        df = ctx.spark.read.parquet(os.path.join(self.path, "table"))
        s = gs.summarize(df, columns=self.columns, partition_key="date", extras=True)
        with tr.span("summarize.agg"):
            summary = s.df.collect()
        verdicts, violations = gs.evaluate_constraints(
            df, "date", self.constraints, key_column=gen.WIDE_KEY
        )
        with tr.span("constraints.force"):
            verdicts, violations = verdicts.collect(), violations.collect()
        dist = gs.distribution_drift(df, "date", self.truth["faults"]["psi_col"])
        with tr.span("distribution.force"):
            dist = dist.collect()
        res = gs.detect_drift(s, cluster=True)
        is_drifted = bool(res.is_drifted)
        drifted_columns = list(res.drifted_columns().index)
        scores = gs.drift_scores(s)
        with tr.span("drift.force"):
            scores = scores.collect()
        s.unpersist()
        return dict(
            summary=summary, verdicts=verdicts, violations=violations, distribution=dist,
            is_drifted=is_drifted, drifted_columns=drifted_columns, scores=scores,
        )

    def check(self, out, ctx) -> list[str]:
        res = dict(out)
        res.update(
            summary=_rows(out["summary"], "date"),
            verdicts=_rows(out["verdicts"]),
            violations=_violations(out["violations"]),
            distribution=_rows(out["distribution"]),
            scores=_rows(out["scores"]),
        )
        return checks.check_wide(res, self.truth)


class TokensResume(Workload):
    name = "tokens_resume"

    def prepare(self, seed: int, size: str, cache: str) -> None:
        self.path = gen.ensure("resume", seed, size, cache)
        self.truth = gen.load_truth(self.path)
        self.expected = checks.resume_expected(self.truth)
        self.rows = self.truth["grown"]["row_count"][self.truth["pending_source"]]

    def setup(self, ctx) -> None:
        w = ctx.work
        self.table, self.out, self.lineage = (os.path.join(w, d) for d in ("table", "out", "lineage"))
        _link_tree(os.path.join(self.path, "base"), self.table)
        self.args = [
            "--input", self.table, "--output", self.out, "--lineage", self.lineage,
            "--sketch", "--domain", ",".join(self.truth["domain"]),
        ]
        line = _cli(self.args)
        if line.get("status") != "completed" or line.get("global_checks") != "full":
            raise RuntimeError(f"committing run reported {line}")
        _link_tree(os.path.join(self.path, "pending"), self.table)
        self.committed = set(os.listdir(self.lineage))

    def op(self, ctx):
        line = _cli(self.args)
        # back to the committed lineage, so every operation resumes the
        # same pending partition
        for f in set(os.listdir(self.lineage)) - self.committed:
            os.remove(os.path.join(self.lineage, f))
        return line


    def check(self, out, ctx) -> list[str]:
        errs = []
        if out.get("status") != "completed" or out.get("pending") != 1:
            errs.append(f"resume reported {out}")
        if out.get("global_checks") != "unique+drift":
            errs.append(f"resume global_checks = {out.get('global_checks')}")
        self.resumed = _read_back(self.out)
        return errs + checks.check_tokens(self.resumed, self.expected)

    def finish(self, ctx) -> list[str]:
        """A from-scratch full run over the grown table: checked against
        the truth, then against the resumed output."""
        full_out = os.path.join(ctx.work, "full")
        _cli(["--input", self.table, "--output", full_out,
                   "--domain", ",".join(self.truth["domain"])])
        full = _read_back(full_out)
        grown = dict(self.truth["grown"], shifted=self.truth["shifted"], domain=self.truth["domain"])
        return checks.check_tokens(full, grown) + checks.check_resume_vs_full(
            self.resumed, full, self.truth
        )


WORKLOADS = {w.name: w for w in (TokensBulk, TokensCommit, TokensResume, GateWide)}
