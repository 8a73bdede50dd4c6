#!/usr/bin/env python3
"""Collects and compares benchmark result sets.

    # run every workload of BENCHMARK.json on seeds 1..10, one JSON line per run
    python3 perfbench/compare.py collect A.jsonl --seeds 1-10 [--trace 1]
        [--workloads ml_pipeline,operator_queries]

    # steadiness of one set (IQR / median against each metric's bound),
    # and, given a second set of the same code, the median drift between
    # them; the tracing overhead where a set holds traced and untraced runs
    python3 perfbench/compare.py steady A.jsonl [B.jsonl]

    # base set A against set B: each side's median and quartiles, the ratio
    # B/A with its base, "unresolved" where a spread exceeds the bound; and
    # the tracing overhead where a set holds both traced and untraced runs
    python3 perfbench/compare.py diff A.jsonl B.jsonl

Run from the root of a checkout. Per-layer metrics have no bound of their
own; they are judged against the largest end-to-end bound.
"""
import sys

sys.dont_write_bytecode = True

import json  # noqa: E402
import os  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import time  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))


def spec():
    with open("BENCHMARK.json") as f:
        return json.load(f)


def bounds(b):
    out = {m["name"]: (m["bound"], m["better"]) for m in b["end_to_end"]}
    widest = max(v for v, _ in out.values())
    out.update({m["name"]: (widest, m["better"]) for m in b["per_layer"]})
    return out


def seeds(text):
    lo, _, hi = text.partition("-")
    return range(int(lo), int(hi or lo) + 1)


def collect(path, argv):
    b = spec()
    opts = dict(zip(argv[::2], argv[1::2]))
    names = opts.get("--workloads", ",".join(w["name"] for w in b["workloads"])).split(",")
    trace = opts.get("--trace", "0")
    secs = str(b["run_seconds"])
    with open(path, "a") as out:
        for seed in seeds(opts.get("--seeds", "1-10")):
            for w in names:
                t0 = time.time()
                p = subprocess.run(
                    [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                     "--seed", str(seed), "--seconds", secs, "--trace", trace],
                    capture_output=True, text=True)
                lines = p.stdout.strip().splitlines()
                if p.returncode != 0 or not lines:
                    print(f"{w} seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}")
                    continue
                res = json.loads(lines[-1])
                out.write(json.dumps({"workload": w, "seed": seed, "trace": int(trace),
                                      "result": res}) + "\n")
                out.flush()
                print(f"{w} seed {seed} trace {trace}: correct={res['correct']} "
                      f"failed={res['failed']}/{res['attempted']} in {time.time() - t0:.0f} s")


def load(path):
    """{(workload, trace): {metric: [values]}} of one result set."""
    sets = {}
    with open(path) as f:
        for line in f:
            r = json.loads(line)
            m = sets.setdefault((r["workload"], r["trace"]), {})
            for k, v in r["result"]["metrics"].items():
                m.setdefault(k, []).append(v["value"])
    return sets


def stats(values):
    """(median, q1, q3, spread) with the quartiles of statistics.quantiles."""
    med = statistics.median(values)
    if len(values) < 2:
        return med, med, med, 0.0
    q1, _, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med if med else 0.0


def worse(base, new, better):
    """Relative change of `new` against `base` in the bad direction."""
    if base == 0:
        return 0.0 if new == base else float("inf")
    d = (new - base) / abs(base)
    return d if better == "lower" else -d


def steady(paths):
    bnd = bounds(spec())
    sets = [load(p) for p in paths]
    ok = True
    for key in sorted(sets[0]):
        w, trace = key
        for name, values in sorted(sets[0][key].items()):
            bound, better = bnd.get(name, (None, None))
            if bound is None:
                continue
            med, q1, q3, spread = stats(values)
            line = f"{w:17s} {name:38s} n={len(values):2d} median={med:.6g} spread={spread:.3f} bound={bound}"
            # end-to-end spreads are gated; per-layer ones are shown
            gated = not trace
            if gated and spread > bound:
                line += "  SPREAD OVER BOUND"
                ok = False
            elif gated and spread > bound / 3:
                line += "  spread over bound/3"
            if len(sets) > 1 and name in sets[1].get(key, {}):
                med2 = stats(sets[1][key][name])[0]
                drift = worse(med, med2, better)
                line += f" second={med2:.6g} drift={drift:+.3f}"
                if not trace and drift > bound:
                    line += "  DRIFT OVER BOUND"
                    ok = False
            print(line)
    for label, s in zip("AB", sets):
        overhead(label, s)
    print("steady" if ok else "NOT steady")
    return 0 if ok else 1


def diff(base_path, new_path):
    bnd = bounds(spec())
    a, b = load(base_path), load(new_path)
    for key in sorted(set(a) & set(b)):
        w, trace = key
        print(f"== {w} ({'traced' if trace else 'untraced'})")
        for name in sorted(set(a[key]) & set(b[key])):
            bound, better = bnd.get(name, (0.25, "lower"))
            ma, qa1, qa3, sa = stats(a[key][name])
            mb, qb1, qb3, sb = stats(b[key][name])
            ratio = f"{mb / ma:.3f}x of {ma:.6g}" if ma else f"base 0, new {mb:.6g}"
            flag = "unresolved" if max(sa, sb) > bound else (
                "worse" if worse(ma, mb, better) > bound else
                "better" if worse(ma, mb, better) < -bound else "same")
            print(f"  {name:38s} A {ma:.6g} [{qa1:.6g}, {qa3:.6g}]  "
                  f"B {mb:.6g} [{qb1:.6g}, {qb3:.6g}]  {ratio}  {flag}")
    overhead("A", a)
    overhead("B", b)
    return 0


def overhead(label, s):
    """Traced iteration time against the untraced one, per workload."""
    for w in sorted({k[0] for k in s}):
        plain, traced = s.get((w, 0), {}), s.get((w, 1), {})
        if "iter_s" in plain and "trace.iter_s" in traced:
            base = statistics.median(plain["iter_s"])
            t = statistics.median(traced["trace.iter_s"])
            print(f"tracing overhead {label} {w}: {t / base - 1:+.1%} "
                  f"(traced iter_s {t:.6g} vs untraced {base:.6g})")


def main(argv):
    if len(argv) >= 2 and argv[0] == "collect":
        return collect(argv[1], argv[2:])
    if len(argv) in (2, 3) and argv[0] == "steady":
        return steady(argv[1:])
    if len(argv) == 3 and argv[0] == "diff":
        return diff(argv[1], argv[2])
    print(__doc__)
    return 2


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
