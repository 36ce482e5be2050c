"""Turns the raw run record the JVM side writes into the reported metrics.

Pure functions only (no Spark, no files), so the harness's own logic is unit
tested by ``test_harness.py`` without a build.
"""

import math
import re
import statistics

# graft's modules, as named by their packages under graft/
MODULES = ("pages", "ids", "sources", "graph", "algos", "runtime", "textops", "vec")

# (name, unit) of every metric, in the order they are printed
END_TO_END = (
    ("wall_s", "s"),
    ("prep_s", "s"),
    ("supersteps", "count"),
    ("setup_s", "s"),
    ("peak_heap_mb", "MiB"),
)

_SCALAR_LAYER = (
    ("spark.jobs", "count"),
    ("spark.tasks", "count"),
    ("spark.failed_tasks", "count"),
    ("spark.task_busy_s", "s"),
    ("spark.core_util", "ratio"),
    ("spark.shuffle_write_mb", "MiB"),
    ("spark.shuffle_read_mb", "MiB"),
    ("spark.spill_mb", "MiB"),
    ("spark.task_skew", "ratio"),
    ("spark.gc_s", "s"),
    ("spark.cached_mb_peak", "MiB"),
    ("spark.retained_cache_mb", "MiB"),
    ("catalyst.queries", "count"),
    ("catalyst.planning_ms", "ms"),
    ("driver.idle_s", "s"),
    ("unattributed_s", "s"),
    ("algos.edges_per_s", "1/s"),
    ("algos.superstep_s", "s"),
    ("algos.superstep_p90_s", "s"),
    ("algos.active_ratio", "ratio"),
    ("runtime.ckpt_mb", "MiB"),
    ("runtime.ckpt_files", "count"),
    ("sources.written_mb", "MiB"),
    ("textops.minhash_s", "s"),
    ("textops.ngram_clusters_s", "s"),
    ("textops.tfidf_s", "s"),
    ("textops.quality_s", "s"),
    ("vec.emb_dupes_s", "s"),
    ("vec.ivf_s", "s"),
    ("jvm.jit_s", "s"),
    ("trace.overhead_s", "s"),
)

PER_LAYER = _SCALAR_LAYER + tuple(
    (f"{m}.{k}", u) for m in MODULES for k, u in (("jobs", "count"), ("job_s", "s")))

# a stack frame of a graft class, optionally behind a class-loader prefix
# such as "app//"; group 1 is the package right under graft
_GRAFT_FRAME = re.compile(r"(?:^|[\s/])graft\.([A-Za-z_]\w*)\.")
_HARNESS_FRAME = re.compile(r"(?:^|[\s/])perfbench\.")


def module_of(call_site, declared=None):
    """The graft module a Spark job belongs to, from its long-form call site.

    Spark's long form lists the last Spark method, then the user frames from
    the innermost outwards. The innermost frame in a graft module wins: an
    action that ``algos.PageRank`` reaches through ``runtime.StateRotator``
    is runtime work. Jobs issued only from top-level graft entry points
    (``graft.Pipeline``) are ``app``; with no user frame at all, ``spark``.
    Jobs issued only from the benchmark belong to the module the harness
    ``declared`` for them (it materializes lazily built graft frames itself),
    else to ``harness``.
    """
    frames = call_site.splitlines()
    for frame in frames:
        m = _GRAFT_FRAME.search(frame)
        if m and m.group(1) in MODULES:
            return m.group(1)
    if any(re.search(r"(?:^|[\s/])graft\.", f) for f in frames):
        return "app"
    if any(_HARNESS_FRAME.search(f) for f in frames):
        return declared if declared in MODULES else "harness"
    return "spark"


def percentile(values, q):
    """Nearest-rank percentile, ``q`` in (0, 100]."""
    s = sorted(values)
    if not s:
        raise ValueError("percentile of no values")
    return s[max(0, math.ceil(q / 100.0 * len(s)) - 1)]


def summarize(values):
    """(median, nearest-rank p90) of a sample."""
    if not values:
        raise ValueError("summary of no values")
    return statistics.median(values), percentile(values, 90)


def busy_union(intervals, t0, t1):
    """Total length of the union of ``intervals`` clipped to [t0, t1]."""
    clipped = sorted((max(a, t0), min(b, t1)) for a, b in intervals if b > t0 and a < t1)
    total, end = 0, t0
    for a, b in clipped:
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def _all_iterations(raw):
    """(label, iteration) of the warm-up iterations (the first one checked),
    then the timed."""
    return ([(f"warm-up {i}", it) for i, it in enumerate(raw.get("warmup", []), 1)]
            + [(f"iteration {i}", it) for i, it in enumerate(raw.get("iterations", []), 1)])


def digest_of(raw):
    """The run's output digest: that of its first passing iteration."""
    return next((it["digest"] for _, it in _all_iterations(raw)
                 if it.get("ok") and it.get("digest")), None)


def account(raw):
    """(attempted, failed, problems) over a run's iterations, warm-ups
    included: the first warm-up is the iteration whose outputs are checked.

    Every iteration counts as attempted. It fails when it threw, when an
    output check failed, or when its output digest differs from the first
    iteration's (the same seed must give the same outputs). A run that
    died outside any iteration, or timed none, adds one failed attempt, so
    a crash is never dropped from the count.
    """
    iters = _all_iterations(raw)
    attempted, failed, problems = len(iters), 0, []
    reference = digest_of(raw)
    for label, it in iters:
        bad = list(it.get("problems", []))
        if it.get("ok") and it.get("digest") != reference:
            bad.append(f"digest {it.get('digest')} differs from {reference}")
        if bad or not it.get("ok"):
            failed += 1
            problems += [f"{label}: {p}" for p in bad or ["failed"]]
    if "fatal" in raw or not raw.get("iterations"):
        attempted += 1
        failed += 1
        problems.append("run: " + raw.get("fatal", "no iteration completed"))
    return attempted, failed, problems


def end_to_end(raw):
    """The end-to-end metrics of an untraced run."""
    its = [it for it in raw["iterations"] if it.get("ok") and not it.get("traced")]
    if not its:
        return {}
    out = {
        "wall_s": statistics.median(it["wall_s"] for it in its),
        "supersteps": statistics.median(it["supersteps"] for it in its),
        "setup_s": raw["session_s"] + statistics.median(raw["input_s"]) + raw["warmup_s"],
        "peak_heap_mb": raw["peak_heap_mb"],
    }
    # measured once per run, after the timed iterations
    if "prep_s" in raw:
        out["prep_s"] = raw["prep_s"]
    return out


def _layer_of(it, cpus):
    """Per-layer values of one traced iteration."""
    t0, t1 = it["start_ms"], it["end_ms"]
    wall = it["wall_s"]
    out = dict(it["layer"])
    jobs = [(a, b, module_of(site, declared)) for a, b, site, declared in it["jobs"]]
    out["spark.jobs"] = len(jobs)
    out["spark.core_util"] = out.get("spark.task_busy_s", 0.0) / (wall * cpus)
    out["driver.idle_s"] = (t1 - t0 - busy_union([(a, b) for a, b, _ in jobs], t0, t1)) / 1000.0
    attributed = 0.0
    for m in MODULES:
        mine = [(a, b) for a, b, mod in jobs if mod == m]
        out[f"{m}.jobs"] = len(mine)
        # a union, not a sum: the adaptive stages of one action run as
        # concurrent jobs
        out[f"{m}.job_s"] = busy_union(mine, t0, t1) / 1000.0
        attributed += out[f"{m}.job_s"]
    out["unattributed_s"] = wall - out["driver.idle_s"] - attributed
    out["algos.edges_per_s"] = it["edges"] * it["supersteps"] / wall
    out["algos.superstep_s"], out["algos.superstep_p90_s"] = summarize(
        it.get("step_wall_s") or [0.0])
    out["algos.active_ratio"] = it["active_ratio"]
    return out


def per_layer(raw):
    """The per-layer metrics of a traced run: medians over its traced
    iterations, plus the tracing overhead against its plain iterations."""
    ok = [it for it in raw["iterations"] if it.get("ok")]
    traced = [it for it in ok if it.get("traced")]
    plain = [it for it in ok if not it.get("traced")]
    if not traced:
        return {}
    layers = [_layer_of(it, raw["cpus"]) for it in traced]
    out = {}
    for name, _ in PER_LAYER:
        vals = [lay[name] for lay in layers if name in lay]
        out[name] = statistics.median(vals) if vals else 0.0
    out["jvm.jit_s"] = raw["jit_setup_s"]
    out["trace.overhead_s"] = (statistics.median(it["wall_s"] for it in traced)
                               - statistics.median(it["wall_s"] for it in plain)) if plain else 0.0
    return out


def report(raw, trace, earlier_digest=None):
    """The final result object: correctness, counts and named metrics.
    ``earlier_digest`` is what an earlier run of the same build, workload
    and seed produced; a different digest now fails one iteration."""
    attempted, failed, problems = account(raw)
    digest = digest_of(raw)
    if earlier_digest is not None and digest is not None and digest != earlier_digest:
        failed = min(attempted, failed + 1)
        problems.append(f"digest {digest} differs from {earlier_digest} of an earlier "
                        "run with this seed")
    names = PER_LAYER if trace else END_TO_END
    values = {}
    if "iterations" in raw:
        values = per_layer(raw) if trace else end_to_end(raw)
    metrics = {n: {"value": values[n], "unit": u} for n, u in names if n in values}
    return {"correct": failed == 0 and len(metrics) == len(names), "attempted": attempted,
            "failed": failed, "metrics": metrics}, problems
