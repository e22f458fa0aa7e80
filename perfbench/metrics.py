"""Output checks and metric arithmetic for run.py (pure Python, tested
by test_harness.py)."""
import math
import sys


def quantile(xs, q):
    """Linear-interpolated quantile of a non-empty sample, q in [0, 1]."""
    s = sorted(xs)
    pos = q * (len(s) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def tail_percentile(n, want=95):
    """The highest percentile <= `want` with at least ten samples beyond
    it; under forty samples only the median is reported."""
    if n < 40:
        return 50
    return max(50, min(want, math.floor(100 * (1 - 10 / n))))


def answers_match(got, expected):
    """Climate answers are compared as text, exactly: the generator's
    values are dyadic, so every expected sum and mean is exact."""
    return isinstance(got, str) and got == expected


def check_climate(result):
    """Per-sample verdicts for a climate_qa run: a sample fails when it
    threw or its answer differs from the generator's expected answer."""
    good, problems = [], list(result.get("etl_problems", []))
    for s in result["samples"]:
        ok = s["ok"] and answers_match(s["out"], s.get("expected"))
        if s["ok"] and not ok and len(problems) < 5:
            problems.append(f"wrong answer to {s['template']}: {s['out']!r} != {s.get('expected')!r}")
        good.append(ok)
    wrong = sum(1 for s, g in zip(result["samples"], good) if s["ok"] and not g)
    return {"good": good, "correct": wrong == 0 and not result.get("etl_problems"),
            "problems": problems}


def end_to_end(result, good):
    """The end-to-end metrics from the samples that did not fail. The
    latency sample is the operations marked `lat` (climate answers,
    corpus serving reads); its tail is taken over the first
    `tail_rounds` rounds alone, which every run measures, so the tail
    rule picks the same percentile however many rounds a run fits."""
    samples = [s for s, g in zip(result["samples"], good) if g]
    ms = [s["ns"] / 1e6 for s in samples if s.get("lat")]
    tail = [s["ns"] / 1e6 for s in samples if s.get("lat") and s["round"] < result["tail_rounds"]]
    firsts = [s["ns"] / 1e6 for s in samples if s.get("first")]
    if not (tail and firsts):
        raise ValueError("no first or latency-sample operation succeeded")
    rounds = {}
    for s in samples:
        rounds[s["round"]] = rounds.get(s["round"], 0.0) + s["ns"] / 1e9
    return {
        "setup_s": result["setup_s"],
        "round_s": quantile(list(rounds.values()), 0.5),
        "op_p50_ms": quantile(ms, 0.5),
        "op_p95_ms": quantile(tail, tail_percentile(len(tail)) / 100),
        "first_op_p50_ms": quantile(firsts, 0.5),
        "heap_retained_mb": result["heap_retained_mb"],
    }


def report(workload, result, checked, spec, trace):
    good = checked["good"]
    for p in checked["problems"]:
        print(f"[perfbench] {workload}: {p}", file=sys.stderr)
    # a layer the workload does not exercise reads 0
    values = (result.get("layer") or {}) if trace else end_to_end(result, good)
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in spec["per_layer" if trace else "end_to_end"]}
    return {"correct": bool(checked["correct"]), "attempted": len(good),
            "failed": sum(1 for g in good if not g), "metrics": metrics}
