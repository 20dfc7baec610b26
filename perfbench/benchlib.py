"""Pure helpers of the benchmark: statistics, callsite attribution, span
self time and metric naming. No I/O; tested by test_benchlib.py."""

import math
import os
import re

METRIC_NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}\Z")

# graft modules that get their own `<module>.jobs` / `<module>.job_s`;
# jobs from any other program file count under "other", jobs from the
# benchmark's own files under "bench"
MODULES = (
    "io.Sources", "ops.Quality", "ops.Relational", "ops.Nested",
    "ops.Distribution", "ops.text.Dedup", "ops.text.TextStats",
    "ops.text.Corpus", "pipeline.Incremental", "pipeline.Daily",
    "pipeline.Curation", "CacheScope", "bench", "other",
)

_CALLSITE = re.compile(r"\bat (?P<file>[A-Za-z0-9_$]+)\.(?:scala|java):\d+")


def valid_metric_name(name):
    """Metric names: a letter or digit, then letters, digits, `_`, `.`, `-`;
    at most 64 characters."""
    return bool(METRIC_NAME.match(name))


def percentile(values, p):
    """The p-th percentile (0..100) by linear interpolation between the
    closest ranks; percentile(v, 50) is the median."""
    if not values:
        raise ValueError("percentile of no values")
    xs = sorted(values)
    k = (len(xs) - 1) * p / 100.0
    lo = math.floor(k)
    hi = math.ceil(k)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def median(values):
    return percentile(values, 50)


def module_index(src_root):
    """Maps each source file stem under `src_root` (the `graft` package
    directory) to its module name, e.g. `Dedup` -> `ops.text.Dedup`."""
    index = {}
    for dirpath, _, files in os.walk(src_root):
        for f in files:
            if f.endswith(".scala"):
                rel = os.path.relpath(os.path.join(dirpath, f[:-6]), src_root)
                index[f[:-6]] = rel.replace(os.sep, ".")
    return index


def module_of(callsite, index, bench_files=()):
    """The module a Spark job is attributed to, from the short form of its
    callsite (`count at Quality.scala:32`): the source file of the first
    user frame. Benchmark files map to "bench", other files to "other"."""
    m = _CALLSITE.search(callsite or "")
    if not m:
        return "other"
    stem = m.group("file")
    if stem in bench_files:
        return "bench"
    module = index.get(stem)
    return module if module in MODULES else "other"


def covered(interval, others):
    """Length of the part of `interval` (start, end) covered by the union of
    the `others` intervals."""
    start, end = interval
    clipped = sorted((max(s, start), min(e, end)) for s, e in others)
    total = 0.0
    cur_s = cur_e = None
    for s, e in clipped:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """Self time of each span: its duration minus the part of it that its
    children cover. `spans` are dicts with id, parent, start and end;
    returns {id: self time} in the spans' time unit."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {
        s["id"]: (s["end"] - s["start"])
        - covered((s["start"], s["end"]), children.get(s["id"], ()))
        for s in spans
    }
