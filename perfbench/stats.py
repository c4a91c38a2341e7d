"""Pure helpers of the benchmark runner: medians, tail selection and the
per-layer self time of a span tree."""
import math
import statistics


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail_level(fixed_count):
    """Percentile level (0..1) that leaves exactly ten of `fixed_count`
    samples beyond it: the highest percentile with at least ten samples
    beyond it at the workload's fixed sample count."""
    if fixed_count <= 10:
        raise ValueError("a tail needs more than ten samples")
    return (fixed_count - 10) / fixed_count


def tail_index(n, fixed_count):
    """0-based index into `n` ascending samples of the tail percentile
    fixed by `fixed_count` (nearest rank); at least ten samples lie beyond
    it. A run with fewer than `fixed_count` samples has no tail."""
    if n < fixed_count:
        raise ValueError(f"{n} samples, the tail needs {fixed_count}")
    return math.ceil(tail_level(fixed_count) * n) - 1


def tail(xs, fixed_count):
    s = sorted(xs)
    return s[tail_index(len(s), fixed_count)] if s else 0.0


def self_times(spans):
    """Per-layer self time of a span tree.

    `spans` are dicts with id, parent (-1 for the root), layer, start, end.
    At every instant the time goes to the spans that are active and have
    no active descendant; when several such spans overlap (threads of a
    pool running side by side) the instant is split evenly among them. So
    a parent keeps its span minus the union of its children, and the
    layer totals add up to the union of all spans."""
    by_id = {s["id"]: s for s in spans}

    def ancestors(sid):
        out = set()
        p = by_id[sid]["parent"]
        while p in by_id and p not in out:
            out.add(p)
            p = by_id[p]["parent"]
        return out

    anc = {s["id"]: ancestors(s["id"]) for s in spans}
    cuts = sorted({t for s in spans for t in (s["start"], s["end"])})
    layers = {}
    for a, b in zip(cuts, cuts[1:]):
        if b <= a:
            continue
        mid = (a + b) / 2
        active = [s["id"] for s in spans if s["start"] <= mid < s["end"]]
        if not active:
            continue
        covered = set()
        for sid in active:
            covered |= anc[sid]
        leaves = [sid for sid in active if sid not in covered]
        share = (b - a) / len(leaves)
        for sid in leaves:
            layer = by_id[sid]["layer"]
            layers[layer] = layers.get(layer, 0.0) + share
    return layers
