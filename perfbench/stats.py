"""Aggregation, noise and comparison rules of the benchmark, kept apart from
process handling so that `tests/` can check them directly."""
import statistics


def percentile(values, q):
    """q-th percentile (0..100) with linear interpolation between order
    statistics (the `inclusive` rule: 0 and 100 are the min and max)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def quartiles(values):
    """(q1, median, q3) as `statistics.quantiles(values, n=4)` gives them."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def spread(values):
    """Interquartile distance as a share of the median."""
    q1, q2, q3 = quartiles(values)
    return (q3 - q1) / q2 if q2 else float("inf")


def parse_proc_stat(text):
    """The aggregate `cpu` line of /proc/stat as a list of jiffy counters
    (user nice system idle iowait irq softirq steal ...)."""
    for line in text.splitlines():
        f = line.split()
        if f and f[0] == "cpu":
            return [int(x) for x in f[1:]]
    raise ValueError("no aggregate cpu line")


def steal_pct(before, after):
    """CPU steal between two /proc/stat samples, in percent of all time.
    Guest time is already counted in user/nice, so only the first eight
    fields make up the total."""
    d = [b - a for a, b in zip(before[:8], after[:8])]
    total = sum(d)
    return 100.0 * d[7] / total if total > 0 and len(d) >= 8 else 0.0


# Keys of an artifact's configuration that must agree before two artifacts
# may be compared. The source digest and seed are recorded but differ by
# design between the two sides of a comparison.
COMPARABLE_KEYS = ("bench", "workload", "trace", "cpus", "driver_memory",
                   "spark_version", "java_version", "data_digest", "run_seconds")


class ConfigMismatch(Exception):
    pass


def comparable_config(artifact):
    cfg = artifact.get("config") if isinstance(artifact, dict) else None
    if not isinstance(cfg, dict) or cfg.get("bench") != "perfbench":
        raise ConfigMismatch("not a perfbench artifact (no recorded configuration)")
    missing = [k for k in COMPARABLE_KEYS if k not in cfg]
    if missing:
        raise ConfigMismatch(f"configuration lacks {missing}")
    return {k: cfg[k] for k in COMPARABLE_KEYS}


def check_comparable(artifacts):
    """Raise ConfigMismatch unless every artifact has the same configuration."""
    ref = None
    for a in artifacts:
        cfg = comparable_config(a)
        if ref is None:
            ref = cfg
        elif cfg != ref:
            diff = {k: (ref[k], cfg[k]) for k in ref if ref[k] != cfg[k]}
            raise ConfigMismatch(f"configurations differ: {diff}")
    return ref


def fold_failures(steps, expected):
    """Steps that errored, or whose output folds differ from the expected
    folds. Returns a list of (pass, step, reason)."""
    bad = []
    for s in steps:
        if s.get("error"):
            bad.append((s["pass"], s["step"], "error: " + s["error"]))
            continue
        if not s.get("folds"):
            bad.append((s["pass"], s["step"], "no output fold"))
        for f in s.get("folds", []):
            want = expected.get(f["label"])
            if want is None:
                bad.append((s["pass"], s["step"], f"no expected fold for {f['label']}"))
            elif (str(want["fold"]), int(want["rows"])) != (str(f["fold"]), int(f["rows"])):
                bad.append((s["pass"], s["step"],
                            f"fold {f['fold']}/{f['rows']} rows, expected "
                            f"{want['fold']}/{want['rows']}"))
    return bad
