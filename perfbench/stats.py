"""The benchmark's arithmetic: medians and quartiles, attribution of Spark
jobs to layer call windows, and the per-layer figures of a traced run."""
import statistics

MB = 1048576.0

# Layers by module, in Scan.scanTable's call order, then the curation
# operators.
LAYERS = ("sources", "Sampling", "TypeInference", "DateShift", "Profile",
          "Frequency", "Scan", "sinks", "Dedup", "Similarity")
LAYER_FIELDS = (("wall_s", "s"), ("cpu_s", "s"), ("task_s", "s"),
                ("gc_s", "s"), ("jobs", "count"), ("tasks", "count"),
                ("input_mb", "MB"), ("shuffle_mb", "MB"), ("spill_mb", "MB"))


def median(xs):
    return statistics.median(xs)


def quartiles(xs):
    """(q1, median, q3) as statistics.quantiles(xs, n=4) gives them."""
    if len(xs) < 2:
        return (xs[0], xs[0], xs[0])
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return (q1, q2, q3)


def spread(xs):
    """Interquartile distance as a share of the median."""
    q1, q2, q3 = quartiles(xs)
    if q3 == q1:
        return 0.0
    return (q3 - q1) / q2 if q2 else float("inf")


def attribute(jobs, spans):
    """Map job id -> layer of the call window its start time falls in
    (window ends inclusive), or None for jobs outside every window."""
    ordered = sorted(spans, key=lambda s: s["start_ms"])
    out = {}
    for j in jobs:
        t = j["start_ms"]
        hit = None
        for s in ordered:
            if s["start_ms"] > t:
                break
            if t <= s["end_ms"]:
                hit = s["layer"]
        out[j["id"]] = hit
    return out


def layer_metrics(spans, jobs):
    """`<layer>.<field>` for every layer: call-window wall time plus the
    summed task metrics of the jobs attributed to it. Layers the workload
    never calls report zeros."""
    owner = attribute(jobs, spans)
    m = {f"{layer}.{f}": 0.0 for layer in LAYERS for f, _ in LAYER_FIELDS}
    for s in spans:
        m[f"{s['layer']}.wall_s"] += s["dur_s"]
    for j in jobs:
        layer = owner[j["id"]]
        if layer is None:
            continue
        m[f"{layer}.cpu_s"] += j["cpu_s"]
        m[f"{layer}.task_s"] += j["task_s"]
        m[f"{layer}.gc_s"] += j["gc_s"]
        m[f"{layer}.jobs"] += 1
        m[f"{layer}.tasks"] += j["tasks"]
        m[f"{layer}.input_mb"] += j["input_b"] / MB
        m[f"{layer}.shuffle_mb"] += j["shuffle_b"] / MB
        m[f"{layer}.spill_mb"] += j["spill_b"] / MB
    return m


def read_amp(spans, jobs, input_bytes):
    """File bytes read by every task of the traced walk / input bytes."""
    owner = attribute(jobs, spans)
    read = sum(j["input_b"] for j in jobs if owner[j["id"]] is not None)
    return read / input_bytes


def top_layer(metrics, field="cpu_s"):
    return max(LAYERS, key=lambda layer: metrics[f"{layer}.{field}"])
