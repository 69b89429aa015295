"""Statistics the benchmark reports: the tail percentile beside a median,
span self time, and the per-layer metrics derived from spans."""

import math
import statistics

TAIL_BEYOND = 10


def tail_percentile(samples):
    """The highest whole percentile with at least ten samples beyond it.

    Uses nearest-rank percentiles over the sorted samples. Returns
    ``(percentile, value)``, or ``None`` when fewer than eleven samples
    leave no percentile with ten beyond it.
    """
    xs = sorted(samples)
    n = len(xs)
    if n <= TAIL_BEYOND:
        return None
    # nearest rank of percentile p is ceil(p * n / 100); it must leave
    # at least TAIL_BEYOND samples above it
    p = (n - TAIL_BEYOND) * 100 // n
    return p, xs[math.ceil(p * n / 100) - 1]


def trace_overhead(walls):
    """Traced against plain iteration time, from alternating iterations.

    ``walls`` alternate plain, traced, plain, ...; each traced iteration
    is set against the mean of its plain neighbours, which cancels a
    steady warm-up trend. Returns the median ratio minus 1.
    """
    ratios = [walls[i] / ((walls[i - 1] + walls[i + 1]) / 2)
              for i in range(1, len(walls) - 1, 2)]
    return statistics.median(ratios) - 1 if ratios else 0.0


def covered(interval, others):
    """Length of ``interval`` covered by the union of ``others``."""
    lo, hi = interval
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in others)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(span, children):
    """A span's duration minus the part its child spans cover."""
    iv = (span["start_s"], span["end_s"])
    return (iv[1] - iv[0]) - covered(iv, [(c["start_s"], c["end_s"]) for c in children])


class SpanTree:
    """The spans of one traced run, with subtree counter sums."""

    def __init__(self, spans):
        self.spans = [s for s in spans if s["id"] >= 0]
        self.children = {}
        for s in self.spans:
            self.children.setdefault(s["parent"], []).append(s)

    def named(self, name):
        return [s for s in self.spans if s["name"] == name]

    def subtree(self, span, key):
        return span[key] + sum(self.subtree(c, key) for c in self.children.get(span["id"], []))

    def self_s(self, span):
        return self_time(span, self.children.get(span["id"], []))


def duration(s):
    return s["end_s"] - s["start_s"]


def quantity(tree, span, q, cores):
    """One per-layer quantity of one span instance."""
    if q == "wall_s":
        return duration(span)
    if q in ("jobs", "stages", "single_task_stages"):
        return tree.subtree(span, q)
    if q == "cpu_util":
        wall = duration(span)
        return tree.subtree(span, "cpu_s") / (wall * cores) if wall > 0 else 0.0
    if q == "shuffle_write_mb":
        return tree.subtree(span, "shuffle_write_bytes") / 1e6
    if q == "written_mb":
        return span["attrs"].get("written_bytes", 0.0) / 1e6
    if q in ("construct_s", "plan_s", "exec_s"):
        phase = q[:-2]
        kids = [c for c in tree.children.get(span["id"], []) if c["name"] == phase]
        # a span without phase children is the construct call itself
        return duration(kids[0]) if kids else duration(span)
    raise KeyError(q)


UNITS = {"wall_s": "s", "construct_s": "s", "plan_s": "s", "exec_s": "s",
         "jobs": "count", "stages": "count", "single_task_stages": "count",
         "cpu_util": "ratio", "shuffle_write_mb": "MB", "written_mb": "MB"}


def layer_metrics(spans, layers, cores):
    """Median over span instances of every (layer, quantity) pair.

    ``layers`` maps a span name to its quantities; a layer this run
    never entered reads 0.
    """
    tree = SpanTree(spans)
    out = {}
    for name, qs in layers.items():
        inst = tree.named(name)
        for q in qs:
            vals = [quantity(tree, s, q, cores) for s in inst]
            out[f"{name}.{q}"] = statistics.median(vals) if vals else 0.0
    return out
