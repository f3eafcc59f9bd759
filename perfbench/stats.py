"""Statistics, span arithmetic and result checks of the benchmark."""
import statistics


def median(values):
    return statistics.median(values)


def percentile(samples, q):
    """Nearest-rank percentile of weighted samples [(value, weight), ...]:
    the smallest value whose cumulative weight reaches q percent of the total."""
    if not samples:
        raise ValueError("percentile of no samples")
    ordered = sorted(samples)
    total = sum(w for _, w in ordered)
    need = q / 100.0 * total
    acc = 0.0
    for v, w in ordered:
        acc += w
        if acc >= need:
            return v
    return ordered[-1][0]


def self_times(spans):
    """Per-layer self time: each span's duration minus the part of it its
    children cover. Spans are dicts with id, parent, layer, start_s, end_s."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start_s"], s["end_s"]
        cover = sorted((max(lo, c["start_s"]), min(hi, c["end_s"]))
                       for c in children.get(s["id"], []))
        covered, reach = 0.0, lo
        for a, b in cover:
            a = max(a, reach)
            if b > a:
                covered += b - a
                reach = b
        out[s["layer"]] = out.get(s["layer"], 0.0) + (hi - lo) - covered
    return out


def verdict(attempted, checked, mismatches):
    """(correct, reason): a run that attempted or checked nothing fails."""
    if attempted <= 0:
        return False, "no operation was attempted"
    if checked <= 0:
        return False, "no output was checked"
    if mismatches:
        return False, f"{len(mismatches)} output(s) differ from the reference"
    return True, "ok"
