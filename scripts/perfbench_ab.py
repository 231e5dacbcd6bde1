#!/usr/bin/env python3
"""A/B of two checkouts on the benchmark that BENCHMARK.json declares.

    python3 scripts/perfbench_ab.py PARENT_DIR CHANGE_DIR --workload W --seeds 1-10

PARENT_DIR and CHANGE_DIR are two checkouts of the repo (for example
`git archive HEAD~1 | tar -x -C parent`). The command, the run length and
the end-to-end metrics all come from CHANGE_DIR's BENCHMARK.json; nothing
else is configured here. Each seed runs once on each side, untraced, and
the side that runs first alternates from seed to seed (odd seeds: parent
first). Before the first timed pair each side makes one untimed run, which
builds it if needed, so builds never overlap a timed run. Every run must
print `"correct": true`; the script stops at the first that does not.

For each end-to-end metric it prints the per-seed values of both sides,
each side's median and quartiles, how many pairs the change won
(strictly better in the metric's direction) and a verdict:

  gain              the change won at least 9 of every 10 pairs, and its
                    median is better than the parent's by more than the
                    parent's interquartile range (q3 - q1);
  worse than bound  the change's median is worse than the parent's by
                    more than the metric's `bound` in BENCHMARK.json, as a
                    fraction of the parent's median;
  within bound      anything else.

Raw outputs go to --out.

With --traced-seed N it then makes one traced run (`--trace 1`) per side
on seed N and prints, for every span that ran a job on either side,
parent -> change for jobs, tasks, codegen_compiles, driver_s and
exec_run_s. `--seeds none` skips the timed pairs.
"""
import argparse
import json
import math
import os
import statistics
import subprocess
import sys
import tempfile


def seeds_of(spec):
    if spec == "none":
        return []
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


TRACED = ["jobs", "tasks", "codegen_compiles", "driver_s", "exec_run_s"]


def run(side_dir, bench, workload, seed, log, trace=False):
    cmd = bench["command"] + ["--workload", workload, "--seed", str(seed),
                              "--seconds", str(bench["run_seconds"]),
                              "--trace", "1" if trace else "0"]
    p = subprocess.run(cmd, cwd=side_dir, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True)
    with open(log, "w") as f:
        f.write(p.stdout)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    try:
        result = json.loads(lines[-1])
    except (IndexError, ValueError):
        result = None
    if not isinstance(result, dict) or result.get("correct") is not True:
        sys.exit(f"{side_dir} seed {seed}: not a correct run (exit {p.returncode}); see {log}")
    return {k: v["value"] for k, v in result["metrics"].items()}


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def fmt(v):
    return f"{v:.4g}"


def verdict(metric, par, chg, wins):
    """gain, worse than bound or within bound (see the module header)."""
    med_p, med_c = statistics.median(par), statistics.median(chg)
    better = (med_p - med_c) if metric["better"] == "lower" else (med_c - med_p)
    q1, q3 = quartiles(par)
    if 10 * wins >= 9 * len(par) and better > q3 - q1:
        return "gain"
    worse = -better / abs(med_p) if med_p else (math.inf if better < 0 else 0.0)
    return "worse than bound" if worse > metric["bound"] else "within bound"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10", help="e.g. 1-10, 1,3,5-7 or none")
    ap.add_argument("--traced-seed", type=int,
                    help="after the timed pairs, one traced run per side on this seed")
    ap.add_argument("--out", help="directory for raw run outputs (default: a new temp dir)")
    a = ap.parse_args()
    with open(os.path.join(a.change, "BENCHMARK.json")) as f:
        bench = json.load(f)
    if a.workload not in [w["name"] for w in bench["workloads"]]:
        sys.exit(f"unknown workload {a.workload}")
    sides = {"parent": os.path.abspath(a.parent), "change": os.path.abspath(a.change)}
    out = a.out or tempfile.mkdtemp(prefix="perfbench_ab_")
    os.makedirs(out, exist_ok=True)
    seeds = seeds_of(a.seeds)

    if seeds:
        timed_pairs(sides, bench, a.workload, seeds, out)
    if a.traced_seed is not None:
        traced_pair(sides, bench, a.workload, a.traced_seed, out)


def timed_pairs(sides, bench, workload, seeds, out):
    for side, d in sides.items():
        print(f"warm-up (untimed) {side} ...", file=sys.stderr, flush=True)
        run(d, bench, workload, seeds[0], os.path.join(out, f"{side}_warmup.out"))

    values = {"parent": {}, "change": {}}
    for i, seed in enumerate(seeds):
        order = ["parent", "change"] if seed % 2 == 1 else ["change", "parent"]
        for side in order:
            values[side][seed] = run(sides[side], bench, workload, seed,
                                     os.path.join(out, f"{side}_{seed}.out"))
        print(f"seed {seed} done ({i + 1}/{len(seeds)})", file=sys.stderr, flush=True)

    print(f"workload {workload}, {len(seeds)} pairs, raw outputs in {out}")
    for m in bench["end_to_end"]:
        name, lower = m["name"], m["better"] == "lower"
        par = [values["parent"][s][name] for s in seeds]
        chg = [values["change"][s][name] for s in seeds]
        wins = sum((c < p) if lower else (c > p) for p, c in zip(par, chg))
        ties = sum(c == p for p, c in zip(par, chg))
        print(f"\n{name} ({m['unit']}, {m['better']} is better)")
        print("  seed   " + " ".join(f"{s:>9}" for s in seeds))
        print("  parent " + " ".join(f"{fmt(v):>9}" for v in par))
        print("  change " + " ".join(f"{fmt(v):>9}" for v in chg))
        for side, xs in (("parent", par), ("change", chg)):
            q1, q3 = quartiles(xs)
            print(f"  {side} median {fmt(statistics.median(xs))} [q1 {fmt(q1)}, q3 {fmt(q3)}]")
        med_p, med_c = statistics.median(par), statistics.median(chg)
        rel = (med_c - med_p) / med_p if med_p else float("nan")
        print(f"  change wins {wins}/{len(seeds)} (ties {ties}); median change {rel:+.1%}")
        print(f"  verdict: {verdict(m, par, chg, wins)}")


def traced_pair(sides, bench, workload, seed, out):
    traced = {side: run(d, bench, workload, seed, os.path.join(out, f"{side}_traced_{seed}.out"),
                        trace=True)
              for side, d in sides.items()}
    spans = sorted({k.rsplit(".", 1)[0] for side in traced.values() for k in side
                    if k.endswith(".jobs")})
    print(f"\ntraced seed {seed}, parent -> change")
    print("| span | " + " | ".join(TRACED) + " |")
    print("|---|" + "---|" * len(TRACED))
    for span in spans:
        if not (traced["parent"].get(f"{span}.jobs") or traced["change"].get(f"{span}.jobs")):
            continue
        cells = [" -> ".join(fmt(traced[side].get(f"{span}.{m}", 0.0))
                             for side in ("parent", "change")) for m in TRACED]
        print(f"| {span} | " + " | ".join(cells) + " |")


if __name__ == "__main__":
    main()
