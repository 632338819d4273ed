"""Pure arithmetic and checks of the benchmark, kept apart from the runner
so that its tests can exercise them without a JVM."""
import math
import os
from collections import Counter

# A percentile is reported only when at least this many samples lie beyond it.
TAIL_SAMPLES = 10


def supported_percentile(n):
    """The highest of p50/p90/p99 that has at least TAIL_SAMPLES samples
    beyond it among n samples, or None when even p50 has too few."""
    best = None
    for p in (50, 90, 99):
        if n * (100 - p) / 100.0 >= TAIL_SAMPLES - 1e-9:
            best = p
    return best


def percentile(values, p):
    """Linear-interpolated percentile p (0-100) of values; refuses a
    percentile the sample cannot support."""
    n = len(values)
    top = supported_percentile(n)
    if top is None or p > top:
        raise ValueError(f"p{p} needs {math.ceil(TAIL_SAMPLES * 100 / (100 - p))} samples, have {n}")
    xs = sorted(values)
    k = (n - 1) * p / 100.0
    lo = math.floor(k)
    hi = min(lo + 1, n - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def median(values):
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        raise ValueError("median of no values")
    mid = n // 2
    return xs[mid] if n % 2 else (xs[mid - 1] + xs[mid]) / 2.0


def rate(count, seconds):
    """Work per second over a window; a window must have positive length."""
    if seconds <= 0:
        raise ValueError(f"rate over a non-positive window ({seconds} s)")
    return count / seconds


def window(batches):
    """Wall seconds from the first batch's start to the last batch's end."""
    start = batches[0]["start_ms"]
    end = batches[-1]["start_ms"] + batches[-1]["dur"]["triggerExecution"]
    return (end - start) / 1000.0


def covered(intervals, lo, hi):
    """Length of the union of intervals, each clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo))
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans):
    """Self time of each span: its duration minus the part of it that its
    child spans cover. Returns {span id: self ms}."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start_ms"], s["end_ms"]
        ch = [(c["start_ms"], c["end_ms"]) for c in kids.get(s["id"], [])]
        out[s["id"]] = (hi - lo) - covered(ch, lo, hi)
    return out


def self_by_name(spans):
    """Total self ms and span count per span name."""
    st = self_times(spans)
    tot, cnt = Counter(), Counter()
    for s in spans:
        tot[s["name"]] += st[s["id"]]
        cnt[s["name"]] += 1
    return tot, cnt


def read_tsv(path):
    with open(path, encoding="utf-8") as f:
        lines = f.read().split("\n")
    header = lines[0].split("\t") if lines and lines[0] else []
    return header, [l for l in lines[1:] if l != ""]


def compare_rows(expected, landed):
    """Multiset comparison of two row lists: (missing, extra) counts, where
    missing rows are expected but absent and extra rows landed beyond the
    expected multiplicity (a duplicate counts as extra)."""
    e, l = Counter(expected), Counter(landed)
    return sum((e - l).values()), sum((l - e).values())


def check_loader(check_dir, tables, cursor, kills=None, seqs=None):
    """The loader's output checks. Returns a list of failure strings."""
    fails = []
    for t in tables:
        eh, erows = read_tsv(os.path.join(check_dir, f"{t}.expected.tsv"))
        lh, lrows = read_tsv(os.path.join(check_dir, f"{t}.landed.tsv"))
        if eh != lh:
            fails.append(f"{t}: landed columns {lh} differ from expected {eh}")
            continue
        if not erows:
            fails.append(f"{t}: the replay expects no rows, so nothing was checked")
        missing, extra = compare_rows(erows, lrows)
        if missing or extra:
            fails.append(f"{t}: {missing} expected rows missing, {extra} extra rows landed")
    exp, got = cursor.get("expected"), cursor.get("landed")
    if not exp or not got:
        fails.append(f"cursor: expected {exp}, landed {got}")
    elif exp["block_num"] != got["block_num"] or exp["cursor"] != got["cursor"]:
        fails.append(f"cursor: landed {got} is not the replay's top block {exp}")
    for k in kills or []:
        if k["served"] != 2:
            fails.append(f"kill at seq {k['seq']} served {k['served']} times, not twice")
    if seqs is not None and seqs["lost"]:
        fails.append(f"{seqs['lost']} seqs of {seqs['count']} were never served")
    return fails


def compare_frames(got, want):
    """Exact comparison of a lane's Spark output with its oracle result:
    same column names, no int/float class drift, and equal values once
    columns and rows are sorted. Returns a list of failure strings."""
    import pandas as pd

    if sorted(got.columns) != sorted(want.columns):
        return [f"columns {sorted(got.columns)} vs oracle {sorted(want.columns)}"]
    fails = []
    for c in sorted(got.columns):
        g, w = got[c], want[c]
        gi, wi = pd.api.types.is_integer_dtype(g), pd.api.types.is_integer_dtype(w)
        gf, wf = pd.api.types.is_float_dtype(g), pd.api.types.is_float_dtype(w)
        if (gi and wf) or (gf and wi):
            fails.append(f"column {c}: Spark {g.dtype} vs oracle {w.dtype}")
    if fails:
        return fails
    if len(got) != len(want):
        return [f"{len(got)} rows vs oracle {len(want)}"]

    def norm(df):
        df = df.reindex(sorted(df.columns), axis=1).copy()
        for c in df.columns:
            if pd.api.types.is_datetime64_any_dtype(df[c]):
                df[c] = df[c].astype("datetime64[us]")
            elif pd.api.types.is_float_dtype(df[c]):
                df[c] = df[c].astype("float64")
            elif pd.api.types.is_integer_dtype(df[c]):
                df[c] = df[c].astype("int64")
        return df.sort_values(by=list(df.columns)).reset_index(drop=True)

    try:
        pd.testing.assert_frame_equal(norm(got), norm(want), check_dtype=False, check_exact=True)
    except AssertionError as e:
        return ["values differ: " + str(e).replace("\n", " ")[:300]]
    return []
