"""Turns the traced run's event log into per-layer metrics.

Attribution rules (see README.md):

* An SQL execution belongs to the operation whose interval contains its
  start.  Nested executions (``root != id``) are counted once, through
  their root.
* Its *caller* is the outermost ``graft.`` frame of its call-site stack in
  the forex, quality or query modules (``graft.PipelineRunner`` sits above
  them and is skipped); its *callee* is
  the innermost ``graft.`` frame in the store or scratch modules.
* Driver gap is the part of an operation's wall time that no Spark job
  covers: the operation's duration minus the union of its jobs' intervals.
"""

# module prefix -> layer; checked in order, first match wins
CALLERS = (
    ("graft.forex.", "forex"),
    ("graft.quality.", "quality"),
    ("graft.queries.", "queries"),
)
CALLEES = (
    ("graft.store.", "store"),
    ("graft.Scratch", "scratch"),
)


def frame_method(frame: str) -> str:
    """``graft.forex.ForexIncremental$.runGold`` -> ``runGold``; lambda frames
    such as ``...$.$anonfun$runGold$1`` map to their enclosing method."""
    m = frame.rsplit(".", 1)[-1]
    if m.startswith("$anonfun$"):
        m = m[len("$anonfun$"):].split("$", 1)[0]
    return m


def attribute(stack):
    """``stack`` lists ``graft.`` frames innermost first, as Spark records a
    call site.  Returns ``(caller, callee)``: each is ``(layer, frame)`` or
    ``None``."""
    caller = callee = None
    for frame in reversed(stack):  # outermost first
        for prefix, layer in CALLERS:
            if frame.startswith(prefix):
                caller = (layer, frame)
                break
        if caller:
            break
    for frame in stack:  # innermost first
        for prefix, layer in CALLEES:
            if frame.startswith(prefix):
                callee = (layer, frame)
                break
        if callee:
            break
    return caller, callee


def union_length(intervals):
    """Total length covered by a set of ``(start, end)`` intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
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


def clip(intervals, lo, hi):
    return [(max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi]


def driver_gap(op_interval, job_intervals):
    """Wall time of the operation not covered by any of its jobs."""
    lo, hi = op_interval
    return (hi - lo) - union_length(clip(job_intervals, lo, hi))
