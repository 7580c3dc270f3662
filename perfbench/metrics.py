"""Turn one run's event log (JSON lines written by perfbench.Main) into metrics.

Pure functions over plain lists and dicts, so the rules that decide what a
number means are unit-tested in perfbench/tests without a JVM:

- tail(): the `.tail` percentile rule;
- outcomes(): failure accounting (a throwing or wrong op is failed and never
  becomes a timing);
- attribute_files() / ingest_lag(): cumulative-row attribution of landed
  files to ingest micro-batches, and open-loop lag measured from each file's
  due time.
"""

import json
import statistics

TAIL_CANDIDATES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
TAIL_MIN_BEYOND = 10
RETRYABLE = ("FILE_NOT_EXIST", "PATH_NOT_FOUND", "FileNotFoundException", "NoSuchFileException")
RETRYABLE_KINDS = ("read", "point", "range")


def load(path):
    with open(path, encoding="utf-8") as f:
        return [json.loads(line) for line in f if line.strip()]


def percentile(xs, p):
    """Linear-interpolated percentile (numpy's default), p in [0, 100]."""
    s = sorted(xs)
    if not s:
        raise ValueError("percentile of no samples")
    k = (len(s) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def tail(xs):
    """The highest of TAIL_CANDIDATES with at least ten samples beyond it.

    n samples leave n * (1 - p/100) beyond percentile p. With fewer than 20
    samples no candidate qualifies and the rule falls back to p50. Returns
    (value, percentile, sample count)."""
    n = len(xs)
    for p in TAIL_CANDIDATES:
        if n * (1 - p / 100.0) >= TAIL_MIN_BEYOND - 1e-9:
            return percentile(xs, p), p, n
    return percentile(xs, 50.0), 50.0, n


def median(xs):
    return statistics.median(xs)


def outcomes(events):
    """Apply checks to ops and count outcomes.

    Returns (ops by id, attempted, failed, failure reasons). An op fails when
    it threw or when a check judging it failed; a run-level check (op 0) is
    an operation of its own. A read that hit the documented retryable
    missing-file error (FILE_NOT_EXIST or PATH_NOT_FOUND, or a
    FileNotFoundException or NoSuchFileException as its root cause) is a
    retry: neither attempted
    nor failed, and the read it retried is logged as its own op."""
    ops = {}
    for e in events:
        if e["ev"] == "op":
            o = dict(e)
            o["retry"] = (not o["ok"] and o["kind"] in RETRYABLE_KINDS
                          and any(r in o.get("err", "") for r in RETRYABLE))
            ops[o["id"]] = o
    reasons = []
    run_checks = 0
    run_failed = 0
    for e in events:
        if e["ev"] != "check":
            continue
        if e["op"] == 0:
            run_checks += 1
            if not e["ok"]:
                run_failed += 1
                reasons.append(f'{e["name"]}: {e["why"]}')
        elif not e["ok"]:
            o = ops.get(e["op"])
            if o is not None and o["ok"]:
                o["ok"] = False
                o["err"] = f'check {e["name"]}: {e["why"]}'
    counted = [o for o in ops.values() if not o["retry"]]
    failed_ops = [o for o in counted if not o["ok"]]
    reasons += [f'{o["kind"]}#{o["id"]}: {o.get("err", "")}' for o in failed_ops]
    return ops, len(counted) + run_checks, len(failed_ops) + run_failed, reasons


def durations(ops, kind, t0=None, t1=None, field="dur"):
    """Values of `field` over the successful ops of `kind` that started in
    the window [t0, t1]. Failed ops never contribute."""
    out = []
    for o in ops.values():
        if o["kind"] != kind or not o["ok"]:
            continue
        if t0 is not None and o["t0"] < t0:
            continue
        if t1 is not None and o["t0"] > t1:
            continue
        if o.get(field) is not None:
            out.append(o[field])
    return out


def attribute_files(files, progress):
    """Map each landed file to the micro-batch that committed its rows.

    The file source commits files in landing order, so file k is committed
    by the first progress report whose cumulative input rows reach the
    cumulative row count of files 0..k. `files` are dicts with `file` and
    `rows`; `progress` dicts with `at` and `rows`, in report order. Returns
    {file: progress report} for every file that was committed."""
    out = {}
    reports = iter(progress)
    seen = 0
    current = None
    need = 0
    for f in sorted(files, key=lambda f: f["file"]):
        need += f["rows"]
        while seen < need:
            current = next(reports, None)
            if current is None:
                return out
            seen += current["rows"]
        out[f["file"]] = current
    return out


def ingest_lag(files, progress):
    """Open-loop ingest lag: for each committed file, the seconds from the
    time it was DUE to land (not when the generator got it out) to the
    report of the micro-batch that committed it; generator lateness
    (landed - due) is reported next to it so a late generator cannot hide
    lag. Returns (lags in s, lateness in ms, max backlog in files)."""
    committed = attribute_files(files, progress)
    lags = [(committed[f["file"]]["at"] - f["due"]) / 1000.0
            for f in files if f["file"] in committed]
    late = [f["landed"] - f["due"] for f in files]
    backlog = 0
    for f in files:
        landed = sum(1 for g in files if g["landed"] <= f["landed"])
        done = sum(1 for g in files
                   if g["file"] in committed and committed[g["file"]]["at"] <= f["landed"])
        backlog = max(backlog, landed - done)
    return lags, late, backlog
