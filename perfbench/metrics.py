"""The benchmark's arithmetic: percentiles, span self times, per-layer
attribution, core utilisation and failed-op counting. Pure functions, so
test_metrics.py can pin each rule down."""
import statistics


def median(xs):
    return statistics.median(xs) if xs else 0.0


def percentile(xs, q):
    """Linear-interpolated percentile, q in [0, 100]."""
    s = sorted(xs)
    if not s:
        return 0.0
    k = (len(s) - 1) * q / 100.0
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def tail_percentile(xs, q=90, beyond=10):
    """The q-th percentile, or None unless at least `beyond` samples lie
    strictly above it (fewer say nothing about the tail)."""
    p = percentile(xs, q)
    return p if sum(1 for x in xs if x > p) >= beyond else None


def core_util(busy_ms, wall_ms, cores):
    """Share of the available core time that tasks were running:
    task busy time / (wall time x cores)."""
    return busy_ms / (wall_ms * cores) if wall_ms > 0 and cores > 0 else 0.0


def failed_count(outcomes):
    """Ops that raised or whose result failed its check. `outcomes` holds
    one entry per attempted op: None when it passed, else the reason."""
    return sum(1 for o in outcomes if o is not None)


# ------------------------------------------------------------------ spans

def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(span, children):
    """A span's duration minus the part of it its children cover. Children
    may overlap each other and are clipped to the span."""
    s, e = span
    clipped = [(max(s, cs), min(e, ce)) for cs, ce in children if ce > s and cs < e]
    return (e - s) - union_length(clipped)


class Span:
    def __init__(self, name, layer, start, end, depth):
        self.name, self.layer, self.start, self.end, self.depth = name, layer, start, end, depth
        self.children = []

    @property
    def interval(self):
        return (self.start, self.end)


def build_tree(root, spans):
    """Parent every span to the deepest shallower span containing its
    midpoint, clip it to that parent, and merge siblings that overlap into
    one span (named after the longest member). Siblings are then disjoint,
    so the self times of a tree add up to the root's duration."""
    for sp in sorted(spans, key=lambda x: (x.depth, x.start)):
        mid = (sp.start + sp.end) / 2
        parent = root
        while True:
            inner = [c for c in parent.children
                     if c.depth < sp.depth and c.start <= mid <= c.end]
            if not inner:
                break
            parent = inner[0]
        sp.start, sp.end = max(sp.start, parent.start), min(sp.end, parent.end)
        if sp.end > sp.start:
            parent.children.append(sp)
            _merge_overlaps(parent)
    return root


def _merge_overlaps(node):
    kids = sorted(node.children, key=lambda c: c.start)
    merged = []
    for c in kids:
        if merged and c.start < merged[-1].end:
            m = merged[-1]
            if c.end - c.start > m.end - m.start:
                m.name, m.layer = c.name, c.layer
            m.end = max(m.end, c.end)
            m.children.extend(c.children)
            _merge_overlaps(m)
        else:
            merged.append(c)
    node.children = merged


def layer_self_times(root):
    """{layer: summed self time} over the tree rooted at `root`."""
    out = {}

    def walk(n):
        out[n.layer] = out.get(n.layer, 0) + self_time(n.interval, [c.interval for c in n.children])
        for c in n.children:
            walk(c)
    walk(root)
    return out
