"""Statistics and outcome counting for the benchmark, kept apart from the
runner so they can be tested without a JVM."""

import statistics


def quartiles(values):
    """(q1, median, q3) of the samples, as statistics.quantiles(n=4) gives
    them; a single sample is its own quartiles."""
    xs = [float(v) for v in values]
    if not xs:
        raise ValueError("no samples")
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def record_mismatches(observed, recorded):
    """Names whose recorded digest differs from the observed one. A name
    with no record, or a record with no observation, is not a mismatch."""
    return sorted(k for k, v in recorded.items() if k in observed and observed[k] != v)


def outcome(result, mismatches, missing=()):
    """(attempted, failed) for a run. Every operation the harness ran
    counts as attempted; it failed if it threw, was skipped or a check
    failed. An output that differs from the record for this seed was
    produced by every operation of the run, so all of them count as
    failed. A layer metric the run should have measured and did not
    counts as one more failed operation."""
    attempted = int(result["attempted"]) + len(missing)
    failed = int(result["failed"]) + len(missing)
    if mismatches:
        failed = attempted
    attempted = max(1, attempted)
    return attempted, min(failed, attempted)


def timed(result):
    """The untraced, post-warm-up samples the end-to-end metrics use."""
    return [s for s in result["samples"] if not s["warm"] and not s["traced"]]


def throughput(samples):
    """Items per second of each sample. A failed sample keeps its place
    among the samples but did no items, so its throughput is 0."""
    return [0.0 if s["failed"] else s["items"] / s["seconds"] for s in samples]


# Prefixes of the per-layer metrics each workload's traced run measures.
LAYERS = {
    "verdict": ("trace.", "sources.", "pipeline.", "functions.", "rules.", "verdict.", "checkpoint."),
    "curate": ("operators.", "curate.", "sweep."),
}


def layer_values(workload, names, layers):
    """(values, missing) for the per-layer metrics `names`. A metric of
    this workload takes its measured value, or is missing if the run did
    not measure it or measured no number (the harness writes NaN as
    null); a metric of another workload reads 0."""
    values, missing = {}, []
    for n in names:
        if not n.startswith(LAYERS[workload]):
            values[n] = 0.0
        elif layers.get(n) is not None:
            values[n] = layers[n]
        else:
            missing.append(n)
    return values, missing
