"""Steadiness report: run the benchmark as BENCHMARK.json says, 10 seeds
per workload, twice, and print each end-to-end metric's spread per set
against the benchmark's bounds.

    python3 perfbench/steady.py

Spread is the distance between the first and third quartile of a metric's
values (statistics.quantiles(values, n=4)) as a share of their median. A
metric passes when its spread in each set is within its bound, and when the
second set's median is not worse than the first's by more than the bound.
The target for a steady benchmark is a spread below a third of the bound.
Runs are interleaved across workloads; the raw results are saved to
.bench_build/perfbench/steady.json. Exits 1 when a metric fails.
"""
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "perfbench", "steady.json")
SEEDS = 10
SETS = 2


def run_once(bench, workload, seed):
    cmd = bench["command"] + ["--workload", workload, "--seed", str(seed),
                              "--seconds", str(bench["run_seconds"]), "--trace", "0"]
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-3000:])
        raise SystemExit(f"steady: {workload} seed {seed} exited {p.returncode}")
    out = json.loads(lines[-1])
    if not out["correct"]:
        raise SystemExit(f"steady: {workload} seed {seed} failed its output checks")
    return {k: v["value"] for k, v in out["metrics"].items()}


def spread(values):
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def report(bench, data):
    ok = True
    for w in data[0]:
        print(f"\n{w}")
        print(f"  {'metric':<14} {'bound':>6} " + " ".join(
            f"{'median' + str(i + 1):>12} {'spread' + str(i + 1):>8}" for i in range(len(data)))
              + "   drift  verdict")
        for m in bench["end_to_end"]:
            name, bound = m["name"], m["bound"]
            sets = [[r[name] for r in s[w]] for s in data]
            meds = [statistics.median(v) for v in sets]
            spreads = [spread(v) for v in sets]
            cells = " ".join(f"{md:>12.5g} {sp:>8.3f}" for md, sp in zip(meds, spreads))
            verdict = []
            if any(sp > bound for sp in spreads):
                verdict.append("SPREAD>BOUND")
            elif any(sp > bound / 3 for sp in spreads):
                verdict.append("spread>bound/3")
            worse = (meds[1] / meds[0] - 1) * (1 if m["better"] == "lower" else -1)
            drift = f"{worse:+.3f}"
            if worse > bound:
                verdict.append("DRIFT>BOUND")
            ok &= not any(v.isupper() for v in verdict)
            print(f"  {name:<14} {bound:>6} {cells} {drift:>7}  {' '.join(verdict) or 'ok'}")
    return ok


def main():
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    names = [w["name"] for w in bench["workloads"]]
    data = []
    for k in range(SETS):
        runs = {w: [] for w in names}
        for i in range(SEEDS):
            for w in names:
                seed = 1000 * (k + 1) + i
                runs[w].append(run_once(bench, w, seed))
                print(f"set {k + 1} {w} seed {seed}: " + json.dumps(
                    {m: round(v, 4) for m, v in runs[w][-1].items()}), flush=True)
        data.append(runs)
        os.makedirs(os.path.dirname(OUT), exist_ok=True)
        with open(OUT, "w") as f:
            json.dump(data, f)
    sys.exit(0 if report(bench, data) else 1)


if __name__ == "__main__":
    main()
