"""Pure statistics of the benchmark: the reportable tail percentile and
span self time."""
TAIL_MIN_BEYOND = 10  # samples that must lie beyond a reported percentile


def tail_percentile(n):
    """The highest whole percentile <= 90 with at least TAIL_MIN_BEYOND of
    `n` samples above it, or None when even the median has fewer."""
    for p in range(90, 49, -1):
        if n * (100 - p) / 100 >= TAIL_MIN_BEYOND:
            return p
    return None


def percentile(xs, p):
    """Nearest-rank percentile of `xs` (p in 0..100)."""
    s = sorted(xs)
    k = max(0, min(len(s) - 1, -(-len(s) * p // 100) - 1))
    return s[k]


def tail_summary(xs):
    """The reportable tail of `xs`: its percentile, value and sample count."""
    p = tail_percentile(len(xs))
    return {"percentile": p, "value": percentile(xs, p) if p else None, "samples": len(xs)}


def self_times(spans):
    """Span id -> duration minus the part of its interval that its direct
    children cover (children of one parent may overlap; the union counts)."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered, reach = 0, s["start_ns"]
        for c in sorted(kids.get(s["id"], []), key=lambda c: c["start_ns"]):
            lo, hi = max(c["start_ns"], reach, s["start_ns"]), min(c["end_ns"], s["end_ns"])
            if hi > lo:
                covered += hi - lo
            reach = max(reach, c["end_ns"])
        out[s["id"]] = (s["end_ns"] - s["start_ns"] - covered) / 1e9
    return out

