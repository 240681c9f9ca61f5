"""Seeded input generator and ground truth for the benchmark.

Single process, numpy + pyarrow only: it never imports ``gate_spark``,
so a change to the program under test cannot change its inputs. Every
table is a pure function of ``(seed, size)``.

Three inputs, each a hive-partitioned parquet directory plus a
``truth.json`` the output checks read:

- ``tokens``: ``(doc_id, tokens: array<int32>, n_tok, source)`` over 21
  in-domain sources (``s00`` holds about half the rows) and one
  out-of-domain source; ~0.1% each of duplicate ids, n_tok mismatches
  and out-of-vocab rows; one source with token lengths shifted x2.
- ``resume``: the same kind of table (``base``) plus one pending source
  (``pending``) that re-ingests a committed source with a tokenizer
  fault: every doc_id repeats a committed one, and a large share of its
  rows are out of vocab or have ``n_tok != size(tokens)``.
- ``wide``: typed float/int/string/bool columns over consecutive date
  partitions; the last date is drifted in a named set of columns and
  carries injected nulls and out-of-domain values.

The truth is computed from the generated arrays by the constraint
definitions themselves (not from the injection lists), so overlapping
injections are counted exactly as the program must count them.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from collections import Counter

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = 50257
# constraint names validate_tokens emits
TOKEN_CONSTRAINTS = (
    "unique_doc_id", "token_array_equality", "source_membership", "vocab_bounds",
)

SIZES = {
    # smoke tests: seconds end to end; a few hundred rows per source,
    # enough for the shifted source to stand out of PSI/KS noise
    "tiny": dict(
        tok_rows=16_000, resume_rows=16_000, file_rows=4_000,
        wide_dates=8, wide_rows=300,
        wide_cols=dict(float=6, int=4, string=4, bool=2),
    ),
    # the benchmark proper (sized for a 4-core box, see README.md)
    "std": dict(
        tok_rows=64_000, resume_rows=20_000, file_rows=6_000,
        wide_dates=20, wide_rows=3_000,
        wide_cols=dict(float=6, int=4, string=4, bool=2),
    ),
}

N_SOURCES = 21
HEAVY_SHARE = 0.5
FAULT_RATE = 0.001  # each of: duplicate id, n_tok mismatch, out-of-vocab, out-of-domain
BAD_SOURCE = "zz_unknown"
# token lengths: the canonical token table's shape (FIXTURES.md F1 and
# the gate_spark.datagen defaults): lognormal with median 128 and
# sigma 1.0, clipped to [1, 2048]; the shifted source adds ln 2 to the
# log length before clipping
MEDIAN_LEN, LEN_SIGMA, MIN_LEN, MAX_LEN = 128.0, 1.0, 1, 2048
REINGEST_OOV, REINGEST_MISMATCH = 0.3, 0.3

WIDE_START = np.datetime64("2024-01-01")
WIDE_NULL_RATE = 0.01
WIDE_KEY = "row_id"


def source_names() -> list[str]:
    return [f"s{i:02d}" for i in range(N_SOURCES)]


# ------------------------------------------------------------ tokens


def _token_rows(rng: np.random.Generator, n: int, id_prefix: str, shifted: str):
    """Column arrays of one token table (lengths + flat tokens)."""
    names = source_names()
    w = rng.uniform(0.7, 1.3, N_SOURCES - 1)
    probs = np.concatenate([[HEAVY_SHARE], (1 - HEAVY_SHARE) * w / w.sum()])
    src_idx = rng.choice(N_SOURCES, size=n, p=probs)
    source = np.array(names, dtype=object)[src_idx]
    source[rng.random(n) < FAULT_RATE] = BAD_SOURCE

    log_len = rng.normal(np.log(MEDIAN_LEN), LEN_SIGMA, n) + np.log(2.0) * (source == shifted)
    lengths = np.clip(np.exp(log_len).astype(np.int64), MIN_LEN, MAX_LEN)
    offsets = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(lengths, out=offsets[1:])
    tokens = rng.integers(0, VOCAB, offsets[-1], dtype=np.int32)

    oov = np.flatnonzero(rng.random(n) < FAULT_RATE)
    pos = offsets[oov] + rng.integers(0, lengths[oov])
    tokens[pos] = VOCAB + rng.integers(0, 1000, len(oov), dtype=np.int32)

    n_tok = lengths.copy()
    mis = rng.random(n) < FAULT_RATE
    n_tok[mis] += rng.choice(np.array([-1, 1]), int(mis.sum()))

    doc_id = np.array([f"{id_prefix}{i:09d}" for i in range(n)], dtype=object)
    dup = np.flatnonzero(rng.random(n) < FAULT_RATE)
    donor = (dup + rng.integers(1, n, len(dup))) % n
    doc_id[dup] = doc_id[donor]
    return dict(
        doc_id=doc_id, source=source, n_tok=n_tok.astype(np.int32),
        offsets=offsets, tokens=tokens,
    )


def _write_tokens(rows: dict, root: str, file_rows: int) -> None:
    """One hive partition dir per source, files of ``file_rows`` rows."""
    source = rows["source"]
    for s in sorted(set(source)):
        idx = np.flatnonzero(source == s)
        d = os.path.join(root, f"source={s}")
        os.makedirs(d, exist_ok=True)
        for part, lo in enumerate(range(0, len(idx), file_rows)):
            sel = idx[lo:lo + file_rows]
            starts, ends = rows["offsets"][sel], rows["offsets"][sel + 1]
            lens = ends - starts
            offs = np.zeros(len(sel) + 1, dtype=np.int32)
            np.cumsum(lens, out=offs[1:])
            flat = rows["tokens"][np.repeat(starts - offs[:-1], lens) + np.arange(offs[-1])]
            table = pa.table({
                "doc_id": pa.array(rows["doc_id"][sel], pa.string()),
                "tokens": pa.ListArray.from_arrays(pa.array(offs), pa.array(flat)),
                "n_tok": pa.array(rows["n_tok"][sel], pa.int32()),
            })
            pq.write_table(table, os.path.join(d, f"part-{part:05d}.parquet"))


def _concat_rows(a: dict, b: dict) -> dict:
    off_b = b["offsets"][1:] + a["offsets"][-1]
    return dict(
        doc_id=np.concatenate([a["doc_id"], b["doc_id"]]),
        source=np.concatenate([a["source"], b["source"]]),
        n_tok=np.concatenate([a["n_tok"], b["n_tok"]]),
        offsets=np.concatenate([a["offsets"], off_b]),
        tokens=np.concatenate([a["tokens"], b["tokens"]]),
    )


def token_truth(rows: dict, domain: list[str], vocab=(0, VOCAB)) -> dict:
    """Verdict counts, violation multiset and numpy column statistics
    of a token table, by the constraint definitions."""
    off, tok = rows["offsets"], rows["tokens"]
    lengths = np.diff(off)
    rmin = np.minimum.reduceat(tok, off[:-1])
    rmax = np.maximum.reduceat(tok, off[:-1])
    ids, inv, cnt = np.unique(rows["doc_id"].astype(str), return_inverse=True, return_counts=True)
    flags = {
        "unique_doc_id": cnt[inv] > 1,
        "token_array_equality": rows["n_tok"] != lengths,
        "source_membership": ~np.isin(rows["source"], domain),
        "vocab_bounds": (rmin < vocab[0]) | (rmax >= vocab[1]),
    }
    source = rows["source"]
    parts, code = np.unique(source.astype(str), return_inverse=True)
    parts = parts.tolist()
    viol: Counter = Counter()
    for c in TOKEN_CONSTRAINTS:
        for i in np.flatnonzero(flags[c]):
            viol[(source[i], c, rows["doc_id"][i])] += 1
    per_part = {
        c: np.bincount(code, weights=flags[c], minlength=len(parts)) for c in TOKEN_CONSTRAINTS
    }
    verdicts = {
        p: {c: int(per_part[c][j]) for c in TOKEN_CONSTRAINTS} for j, p in enumerate(parts)
    }
    row_count = dict(zip(parts, np.bincount(code, minlength=len(parts)).tolist()))
    stats = {}
    for j, p in enumerate(parts):
        m = code == j
        stats[p] = {
            "n_tok": numeric_stats(rows["n_tok"][m].astype(np.float64), "int"),
            "tokens": numeric_stats(lengths[m].astype(np.float64), "array"),
            "doc_id": label_stats(rows["doc_id"][m]),
        }
    return dict(
        row_count=row_count, verdicts=verdicts,
        violations=[[p, c, k, n] for (p, c, k), n in sorted(viol.items())],
        stats=stats,
    )


def numeric_stats(v: np.ndarray, kind: str, accuracy: int = 10000) -> dict:
    """Statistics of one numeric column of type class ``kind`` (NaN =
    null; an array column is given its lengths). ``p50``/``p95`` are
    exact nearest-rank values; ``q50``/``q95`` bracket every value whose
    rank lies within the ``percentile_approx`` error bound (n/accuracy
    ranks, plus one for its rank convention)."""
    rows = len(v)
    x = np.sort(v[~np.isnan(v)])
    out = dict(type=kind, rows=rows, count=len(x), coverage=len(x) / rows if rows else None)
    if len(x):
        vals, counts = np.unique(x, return_counts=True)
        out.update(
            mean=float(x.mean()), min=float(x[0]), max=float(x[-1]),
            stddev=float(x.std(ddof=1)) if len(x) > 1 else None,
            ndv=len(vals), occurrence_ratio=float(counts.max() / len(x)),
            # nearest rank: index round_half_up(q * (n - 1)) of sorted values
            p50=float(x[int(np.floor(0.5 * (len(x) - 1) + 0.5))]),
            p95=float(x[int(np.floor(0.95 * (len(x) - 1) + 0.5))]),
        )
        n = len(x)
        for q in (0.5, 0.95):
            lo = max(0, int(np.floor(q * n - n / accuracy)) - 1)
            hi = min(n - 1, int(np.ceil(q * n + n / accuracy)))
            out[f"q{int(q * 100)}"] = [float(x[lo]), float(x[hi])]
    return out


def label_stats(v: np.ndarray) -> dict:
    """Statistics of one string column (None = null)."""
    rows = len(v)
    x = v[v != None]  # noqa: E711 - elementwise null test on an object array
    out = dict(type="string", rows=rows, count=len(x), coverage=len(x) / rows if rows else None)
    if len(x):
        _, counts = np.unique(x.astype(str), return_counts=True)
        out.update(ndv=len(counts), occurrence_ratio=float(counts.max() / len(x)))
    return out


def make_tokens(seed: int, size: str, root: str) -> None:
    rng = np.random.default_rng([seed, 1])
    shifted = source_names()[int(rng.integers(1, N_SOURCES))]
    rows = _token_rows(rng, SIZES[size]["tok_rows"], f"t{seed}-", shifted)
    _write_tokens(rows, os.path.join(root, "table"), SIZES[size]["file_rows"])
    truth = token_truth(rows, source_names())
    truth.update(domain=source_names(), shifted=shifted, rows=int(len(rows["doc_id"])))
    _dump(truth, os.path.join(root, "truth.json"))


def make_resume(seed: int, size: str, root: str) -> None:
    """``base`` (committed) and ``pending`` (the re-ingested source)."""
    rng = np.random.default_rng([seed, 2])
    names = source_names()
    shifted, victim = (names[i] for i in rng.choice(np.arange(1, N_SOURCES), 2, replace=False))
    base = _token_rows(rng, SIZES[size]["resume_rows"], f"r{seed}-", shifted)
    fr = SIZES[size]["file_rows"]
    _write_tokens(base, os.path.join(root, "base"), fr)

    # the re-ingest: same ids as the victim source, retokenized with a fault
    idx = np.flatnonzero(base["source"] == victim)
    n = len(idx)
    lengths = np.diff(base["offsets"])[idx]
    offsets = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(lengths, out=offsets[1:])
    tokens = rng.integers(0, VOCAB, offsets[-1], dtype=np.int32)
    oov = np.flatnonzero(rng.random(n) < REINGEST_OOV)
    tokens[offsets[oov]] = VOCAB + rng.integers(0, 1000, len(oov), dtype=np.int32)
    n_tok = lengths.copy()
    mis = rng.random(n) < REINGEST_MISMATCH
    n_tok[mis] += 1
    new_source = f"{victim}r"
    pending = dict(
        doc_id=base["doc_id"][idx].copy(),
        source=np.full(n, new_source, dtype=object),
        n_tok=n_tok.astype(np.int32), offsets=offsets, tokens=tokens,
    )
    _write_tokens(pending, os.path.join(root, "pending"), fr)

    domain = names + [new_source]
    base_truth = token_truth(base, domain)
    grown_truth = token_truth(_concat_rows(base, pending), domain)
    _dump(
        dict(
            domain=domain, shifted=shifted, victim=victim, pending_source=new_source,
            base=base_truth, grown=grown_truth,
        ),
        os.path.join(root, "truth.json"),
    )


# -------------------------------------------------------------- wide


def wide_columns(size: str) -> dict[str, list[str]]:
    spec = SIZES[size]["wide_cols"]
    prefix = dict(float="f", int="i", string="c", bool="b")
    return {t: [f"{prefix[t]}{j:02d}" for j in range(k)] for t, k in spec.items()}


def wide_faults(size: str) -> dict:
    """Which columns the last date drifts, nulls and corrupts."""
    cols = wide_columns(size)
    f, i, c, b = cols["float"], cols["int"], cols["string"], cols["bool"]
    # every column the last date disturbs is in ``shifted``: drift
    # detection must rank these first
    return dict(
        shifted=[f[1], f[3], f[4], i[1], c[2], b[1]],
        null_col=f[3],         # 30% nulls on the last date
        range_col=f[4],        # 2% out of [-50, 50] on the last date
        domain_col=c[2],       # 5% out-of-domain labels on the last date
        notnull_col=c[-1],     # NOT NULL constraint; base null rate only
        psi_col=f[1],          # distribution_drift column
    )


def _category_names(j: int, k: int) -> list[str]:
    return [f"c{j:02d}_v{v:02d}" for v in range(k)]


def make_wide(seed: int, size: str, root: str) -> None:
    rng = np.random.default_rng([seed, 3])
    sz = SIZES[size]
    n_dates, per = sz["wide_dates"], sz["wide_rows"]
    cols = wide_columns(size)
    faults = wide_faults(size)
    shifted = set(faults["shifted"])
    n = n_dates * per
    dates = np.repeat(np.arange(n_dates), per)
    last = dates == n_dates - 1
    date_str = np.array(
        [str(WIDE_START + np.timedelta64(int(d), "D")) for d in range(n_dates)], dtype=object
    )
    data: dict[str, np.ndarray] = {WIDE_KEY: np.arange(n, dtype=np.int64) + seed * 10_000_000}
    dups = np.flatnonzero(rng.random(n) < FAULT_RATE)
    data[WIDE_KEY][dups] = data[WIDE_KEY][(dups + rng.integers(1, n, len(dups))) % n]

    # per-date level wobble so the history is not perfectly flat
    wob = rng.normal(0, 0.05, n_dates)[dates]
    for j, name in enumerate(cols["float"]):
        mu, sd = rng.uniform(-5, 5), rng.uniform(0.5, 3)
        v = rng.normal(mu + wob * sd, sd)
        if name in shifted:
            v[last] += 4 * sd
        data[name] = v
    for j, name in enumerate(cols["int"]):
        lam = rng.uniform(2, 40)
        v = rng.poisson(lam * (1 + wob), n).astype(np.float64)
        if name in shifted:
            v[last] = rng.poisson(lam * 3, int(last.sum()))
        data[name] = v
    domains = {}
    for j, name in enumerate(cols["string"]):
        k = int(rng.integers(4, 24))
        labels = np.array(_category_names(j, k), dtype=object)
        w = 1.0 / np.arange(1, k + 1)
        p = w / w.sum()
        v = labels[rng.choice(k, n, p=p)]
        if name in shifted:
            v[last] = labels[rng.choice(k, int(last.sum()), p=p[::-1])]
        data[name] = v
        domains[name] = labels.tolist()
    for j, name in enumerate(cols["bool"]):
        p = rng.uniform(0.2, 0.8)
        v = (rng.random(n) < p).astype(np.float64)
        if name in shifted:
            v[last] = (rng.random(int(last.sum())) < 1 - p * 0.5).astype(np.float64)
        data[name] = v

    # faults on the last date
    li = np.flatnonzero(last)
    rc = faults["range_col"]
    bad = li[rng.random(len(li)) < 0.02]
    data[rc][bad] = rng.choice(np.array([-1.0, 1.0]), len(bad)) * rng.uniform(60, 500, len(bad))
    dc = faults["domain_col"]
    data[dc][li[rng.random(len(li)) < 0.05]] = "zz_bad"
    null_rate = np.full(n, WIDE_NULL_RATE)
    for t, names in cols.items():
        for name in names:
            rate = null_rate.copy()
            if name == faults["null_col"]:
                rate[last] = 0.3
            nulls = rng.random(n) < rate
            if t == "string":
                data[name][nulls] = None
            else:
                data[name][nulls] = np.nan

    _write_wide(data, cols, dates, date_str, os.path.join(root, "table"))
    truth = wide_truth(data, cols, dates, date_str, wide_constraints(size, domains), faults)
    _dump(truth, os.path.join(root, "truth.json"))


def _write_wide(data, cols, dates, date_str, root) -> None:
    for d in range(len(date_str)):
        m = dates == d
        arrays = {WIDE_KEY: pa.array(data[WIDE_KEY][m], pa.int64())}
        for name in cols["float"]:
            v = data[name][m]
            arrays[name] = pa.array(v, pa.float64(), mask=np.isnan(v))
        for name in cols["int"]:
            v = data[name][m]
            arrays[name] = pa.array(np.nan_to_num(v).astype(np.int32), pa.int32(), mask=np.isnan(v))
        for name in cols["string"]:
            arrays[name] = pa.array(data[name][m], pa.string())
        for name in cols["bool"]:
            v = data[name][m]
            arrays[name] = pa.array(np.nan_to_num(v).astype(bool), pa.bool_(), mask=np.isnan(v))
        out = os.path.join(root, f"date={date_str[d]}")
        os.makedirs(out, exist_ok=True)
        pq.write_table(pa.table(arrays), os.path.join(out, "part-00000.parquet"))


def wide_constraints(size: str, domains: dict) -> list[dict]:
    """The constraint suite run on the wide table, as plain specs."""
    f = wide_faults(size)
    return [
        dict(kind="unique", name="row_id_unique", column=WIDE_KEY),
        dict(kind="not_null", name="notnull_" + f["notnull_col"], column=f["notnull_col"]),
        dict(kind="not_null", name="notnull_" + f["null_col"], column=f["null_col"]),
        dict(kind="member", name="domain_" + f["domain_col"], column=f["domain_col"],
             domain=domains[f["domain_col"]]),
        dict(kind="expr", name="range_" + f["range_col"],
             expression=f"{f['range_col']} BETWEEN -50 AND 50", column=f["range_col"]),
    ]


def wide_truth(data, cols, dates, date_str, cons, faults) -> dict:
    key = data[WIDE_KEY]
    _, inv, cnt = np.unique(key, return_inverse=True, return_counts=True)
    flags = {}
    for c in cons:
        col = data.get(c.get("column"))
        if c["kind"] == "unique":
            flags[c["name"]] = cnt[inv] > 1
        elif c["kind"] == "not_null":
            flags[c["name"]] = (col == None) if col.dtype == object else np.isnan(col)  # noqa: E711
        elif c["kind"] == "member":
            flags[c["name"]] = ~np.isin(col.astype(str), c["domain"]) | (col == None)  # noqa: E711
        else:  # BETWEEN -50 AND 50, null counts as a violation (coalesce false)
            flags[c["name"]] = ~((col >= -50) & (col <= 50))
    parts = date_str.tolist()
    viol: Counter = Counter()
    for c in cons:
        for i in np.flatnonzero(flags[c["name"]]):
            viol[(parts[dates[i]], c["name"], str(int(key[i])))] += 1
    verdicts = {
        p: {c["name"]: int(flags[c["name"]][dates == d].sum()) for c in cons}
        for d, p in enumerate(parts)
    }
    stats = {}
    for d, p in enumerate(parts):
        m = dates == d
        st = {}
        for t, names in cols.items():
            for name in names:
                st[name] = label_stats(data[name][m]) if t == "string" else numeric_stats(data[name][m], t)
        stats[p] = st
    return dict(
        partitions=parts, drifted=parts[-1], columns=cols, faults=faults,
        constraints=cons, row_count={p: int((dates == d).sum()) for d, p in enumerate(parts)},
        verdicts=verdicts,
        violations=[[p, c, k, n] for (p, c, k), n in sorted(viol.items())],
        stats=stats,
    )


# ------------------------------------------------------------- cache

MAKERS = {"tokens": make_tokens, "resume": make_resume, "wide": make_wide}
KEEP_ENTRIES = 6  # cached (kind, seed, size) inputs kept on disk


def ensure(kind: str, seed: int, size: str, cache_root: str) -> str:
    """Path of the cached input ``(kind, seed, size)``, generating it on
    a miss. The key carries a digest of this file, so an edit to the
    generator never reuses old inputs. A finished entry holds a
    ``.done`` marker; older entries beyond ``KEEP_ENTRIES`` are deleted."""
    with open(__file__, "rb") as fh:
        digest = hashlib.sha1(fh.read()).hexdigest()[:10]
    path = os.path.join(cache_root, f"{kind}-{size}-{seed}-{digest}")
    if os.path.exists(os.path.join(path, ".done")):
        os.utime(path)
        return path
    shutil.rmtree(path, ignore_errors=True)
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    MAKERS[kind](seed, size, tmp)
    open(os.path.join(tmp, ".done"), "w").close()
    os.rename(tmp, path)
    entries = sorted(
        (e for e in os.listdir(cache_root) if not e.endswith(".tmp")),
        key=lambda e: os.path.getmtime(os.path.join(cache_root, e)),
    )
    for e in entries[:-KEEP_ENTRIES]:
        shutil.rmtree(os.path.join(cache_root, e), ignore_errors=True)
    return path


def load_truth(path: str) -> dict:
    with open(os.path.join(path, "truth.json")) as fh:
        return json.load(fh)


def _dump(obj, path: str) -> None:
    with open(path, "w") as fh:
        json.dump(obj, fh)
