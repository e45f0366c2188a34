"""Pure functions behind the benchmark's figures: the percentile rule,
due-time latency, the backlog-growth test and the delivery ledger. Kept
free of I/O so that `tests/` can check them on synthetic inputs."""
import json
import math
from collections import Counter


def median(xs):
    s = sorted(xs)
    n = len(s)
    if n == 0:
        return float("nan")
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def quantile(xs, q):
    """Nearest-rank quantile: the smallest sample with at least q of the
    samples at or below it."""
    s = sorted(xs)
    if not s:
        return float("nan")
    return s[max(0, min(len(s) - 1, math.ceil(q * len(s)) - 1))]


def tail_percentile(n):
    """The highest percentile (of 50, 90, 99, 99.9, 99.99) that has at
    least ten of n samples beyond it; None when not even the median has."""
    best = None
    for p in (50.0, 90.0, 99.0, 99.9, 99.99):
        if n * (100 - p) >= 1000 - 1e-6:
            best = p
    return best


def tail(xs):
    """(percentile, value) by the rule above; (None, nan) for < 20 samples."""
    p = tail_percentile(len(xs))
    return (p, quantile(xs, p / 100)) if p is not None else (None, float("nan"))


def due_latencies_ms(receipts_us, dues_us, t0_us):
    """Open-loop latency of each delivered event: from the time it was due
    to be sent (t0 + due offset), not from when it was sent, so a stall in
    front of the system charges every event that waited behind it."""
    return [(r - (t0_us + d)) / 1e3 for r, d in zip(receipts_us, dues_us)]


def backlog_grows(dues_us, lat_ms, min_ms=250.0, ratio=1.5):
    """Does latency climb across a fixed-rate phase? Compares the median
    latency of the phase's last quarter (by due time) with its first
    quarter: growing when the later one exceeds the earlier by both
    `min_ms` and the factor `ratio`. A sustainable rate keeps the backlog,
    and so the latency, flat."""
    pairs = sorted(zip(dues_us, lat_ms))
    n = len(pairs)
    if n < 8:
        return True
    first = median([l for _, l in pairs[: n // 4]])
    last = median([l for _, l in pairs[n - n // 4:]])
    return last - first > min_ms and last > ratio * max(first, 1.0)


def sustained(phases, limit_ms=2000.0):
    """Highest phase rate whose p99 latency meets `limit_ms`, whose backlog
    does not grow and which lost nothing; 0 when none does.
    `phases`: [{"rate", "p99_ms", "grows", "missing"}]."""
    ok = [p["rate"] for p in phases
          if p["p99_ms"] <= limit_ms and not p["grows"] and p["missing"] == 0]
    return max(ok) if ok else 0


def canon_body(body):
    """A received envelope as canonical JSON (keys sorted), or None when
    the body is not JSON."""
    try:
        return json.dumps(json.loads(body), sort_keys=True, separators=(",", ":"))
    except ValueError:
        return None


def reconcile(expect, direct, drain):
    """Outside-in delivery ledger of one round.

    expect: {"generated", "unrouted", "dropped_deletes", "kept": [[group, env]]}
    direct, drain: [(group, canonical envelope or None)] as received.
    Checks generated = unrouted + dropped deletes + kept, with kept as
    observed on the direct path, and receipts = 2 x kept (direct + drain),
    each path's multiset equal to the expected one. Returns a dict with
    the counts, the list of mismatches, and attempted/failed deliveries
    (missing and extra deliveries fail)."""
    want = Counter(tuple(k) for k in expect["kept"])
    mismatches = []
    out = {"generated": expect["generated"], "unrouted": expect["unrouted"],
           "dropped_deletes": expect["dropped_deletes"], "kept": len(expect["kept"])}
    failed = 0
    for name, got in (("direct", direct), ("drain", drain)):
        have = Counter(got)
        missing, extra = want - have, have - want
        out[f"{name}_received"] = len(got)
        out[f"{name}_missing"] = sum(missing.values())
        out[f"{name}_extra"] = sum(extra.values())
        failed += out[f"{name}_missing"] + out[f"{name}_extra"]
        for (g, env), c in list(missing.items())[:5]:
            mismatches.append(f"{name}: missing x{c} {g} {env[:160]}")
        for (g, env), c in list(extra.items())[:5]:
            mismatches.append(f"{name}: extra x{c} {g} {str(env)[:160]}")
    kept_seen = sum((want & Counter(direct)).values())
    if out["generated"] != out["unrouted"] + out["dropped_deletes"] + kept_seen:
        mismatches.append(
            f"generated {out['generated']} != unrouted {out['unrouted']} + dropped "
            f"deletes {out['dropped_deletes']} + kept {kept_seen}")
    if len(direct) + len(drain) != 2 * out["kept"]:
        mismatches.append(f"receipts {len(direct) + len(drain)} != 2 x kept {out['kept']}")
    out["mismatches"] = mismatches
    out["attempted"] = 2 * out["kept"]
    out["failed"] = failed
    return out
