"""Per-layer metrics from the spans of a traced run.

Every span name gets the common fields; some get span-specific ones. A
field's value is its median over the span's timed calls in the run, and 0
when the workload makes no such call. Warm-up calls are skipped, so a
per-layer median covers the same operations as the end-to-end medians.
Spans outside any operation (`session.start`, `ingest.raw_zone`,
`transform.facts`) count as timed.
"""
import stats

SPANS = [
    "session.start",
    "ingest.raw_zone",
    "transform.facts",
    "sources.normalize_into",
    "transform.summary",
    "sources.upsert",
    "transform.latest_facts",
    "sources.changelog.commit",
    "sources.changelog.snapshot",
    "sources.changelog.checkpoint",
]

COMMON = [
    ("wall_s", "s"), ("self_s", "s"), ("jobs", "count"), ("tasks", "count"),
    ("cpu_s", "s"), ("shuffle_write_bytes", "bytes"), ("spill_bytes", "bytes"),
    ("input_rows", "count"), ("output_rows", "count"), ("fs_list_ops", "count"),
]

SPECIFIC = {
    "ingest.raw_zone": [("codegen_ms", "ms")],
    "transform.latest_facts": [("planning_ms", "ms"), ("files_read", "count")],
    "sources.upsert": [("rewrite_ratio", "ratio"), ("buckets_touched", "count"),
                       ("output_files", "count")],
    "sources.normalize_into": [("output_files", "count"), ("output_bytes", "bytes")],
    "sources.changelog.commit": [("fs_ops", "count"), ("fs_open_ops", "count"),
                                 ("output_files", "count")],
    "sources.changelog.snapshot": [("read_amp", "ratio"), ("planning_ms", "ms")],
    "sources.changelog.checkpoint": [("output_bytes", "bytes")],
}


def metrics():
    """[(metric name, unit)] in report order."""
    return [(f"{s}.{f}", u) for s in SPANS for f, u in COMMON + SPECIFIC.get(s, [])]


def self_times(spans):
    """{span id: seconds of its wall time not covered by its child spans}.
    Children are clipped to the parent and overlapping children count once.
    """
    out = {}
    for s in spans:
        lo, hi = s["start_ns"], s["end_ns"]
        cuts = sorted((max(c["start_ns"], lo), min(c["end_ns"], hi))
                      for c in spans if c["parent"] == s["id"])
        covered, reach = 0, lo
        for a, b in cuts:
            a = max(a, reach)
            if b > a:
                covered += b - a
                reach = b
        out[s["id"]] = (hi - lo - covered) / 1e9
    return out


def field(span, name, self_s):
    c, f = span["counts"], span["facts"]
    if name == "wall_s":
        return (span["end_ns"] - span["start_ns"]) / 1e9
    if name == "self_s":
        return self_s
    if name == "cpu_s":
        return c.get("cpu_ns", 0) / 1e9
    if name == "codegen_ms":
        return c.get("codegen_ns", 0) / 1e6
    if name == "rewrite_ratio":
        return c.get("output_rows", 0) / f["delta_rows"] if f.get("delta_rows") else 0.0
    if name == "read_amp":
        return c.get("input_rows", 0) / f["live_rows"] if f.get("live_rows") else 0.0
    return c.get(name, 0)


def per_layer(spans):
    """{metric name: value} for every name in `metrics()`."""
    selfs = self_times(spans)
    out = {}
    for s in SPANS:
        calls = [sp for sp in spans
                 if sp["name"] == s and sp["timed"] and sp["end_ns"] >= 0]
        for f, _ in COMMON + SPECIFIC.get(s, []):
            vals = [field(sp, f, selfs[sp["id"]]) for sp in calls]
            out[f"{s}.{f}"] = stats.median(vals) if vals else 0
    return out
