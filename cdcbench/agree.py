"""Agreement tool: run workloads N times, summarize, and compare two sets.

    # N runs per workload, one seed each, untraced; writes a set file
    python3 cdcbench/agree.py run --workloads snapshot_load,curation \
        --seeds 1-10 --out .bench_build/setA.json

    # median and quartiles of every metric in a set
    python3 cdcbench/agree.py show .bench_build/setA.json

    # compare set B (e.g. a change) against set A (e.g. its parent)
    python3 cdcbench/agree.py compare .bench_build/setA.json .bench_build/setB.json

Run from the repository root. Bounds, directions and run length come from
BENCHMARK.json. Spread is (q3 - q1) / median with the quartiles of
statistics.quantiles(values, n=4). For each end-to-end metric, compare says:
  agree       B's median is not worse than A's by more than the bound, and
              both spreads are within the bound;
  disagree    B's median is worse than A's by more than the bound, and both
              spreads are within the bound;
  unresolved  a spread is wider than the bound, unless every run of B reads
              better than every run of A (then agree).
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def spec():
    with open("BENCHMARK.json") as fh:
        return json.load(fh)


def seeds(text):
    out = []
    for part in text.split(","):
        if "-" in part:
            lo, hi = part.split("-")
            out += list(range(int(lo), int(hi) + 1))
        else:
            out.append(int(part))
    return out


def quartiles(values):
    if len(values) < 2:
        v = values[0]
        return v, v, v
    q1, med, q3 = statistics.quantiles(values, n=4)
    return q1, statistics.median(values), q3


def summary(values):
    q1, med, q3 = quartiles(values)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med if med else float("inf"),
            "n": len(values)}


def cmd_run(a):
    s = spec()
    out = {}
    if os.path.exists(a.out):
        with open(a.out) as fh:
            out = json.load(fh)
    for w in a.workloads.split(","):
        runs = out.setdefault(w, [])
        for seed in seeds(a.seeds):
            cmd = s["command"] + ["--workload", w, "--seed", str(seed),
                                  "--seconds", str(s["run_seconds"]), "--trace", "0"]
            t0 = time.time()
            p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
            wall = time.time() - t0
            lines = p.stdout.strip().splitlines()
            env = next((json.loads(l[6:]) for l in lines if l.startswith("# env ")), {})
            try:
                res = json.loads(lines[-1])
            except (IndexError, json.JSONDecodeError):
                res = {"correct": False, "attempted": 1, "failed": 1, "metrics": {}}
            run = {"seed": seed, "exit": p.returncode, "wall_s": round(wall, 1), "correct": res["correct"],
                   "attempted": res["attempted"], "failed": res["failed"], "env": env,
                   "metrics": {k: v["value"] for k, v in res["metrics"].items()}}
            runs.append(run)
            print(f"{w} seed {seed}: exit {p.returncode} wall {wall:.0f}s correct {res['correct']} "
                  f"load1 {env.get('load1_start')}->{env.get('load1_end')} steal {env.get('steal_pct')}% "
                  + " ".join(f"{k}={v:.6g}" for k, v in run["metrics"].items()), flush=True)
            with open(a.out, "w") as fh:
                json.dump(out, fh, indent=1)
    show(out)


def show(sets):
    for w, runs in sets.items():
        ok = sum(1 for r in runs if r["correct"] and r["exit"] == 0)
        print(f"\n{w}: {len(runs)} runs, {ok} correct")
        names = sorted({k for r in runs for k in r["metrics"]})
        for k in names:
            vals = [r["metrics"][k] for r in runs if k in r["metrics"]]
            m = summary(vals)
            print(f"  {k:34s} median {m['median']:12.6g}  q1 {m['q1']:12.6g}  q3 {m['q3']:12.6g}"
                  f"  spread {m['spread'] * 100:6.2f}%  n={m['n']}")


def cmd_show(a):
    with open(a.set) as fh:
        show(json.load(fh))


def cmd_compare(a):
    s = spec()
    metrics = {m["name"]: m for m in s["end_to_end"]}
    with open(a.a) as fh:
        A = json.load(fh)
    with open(a.b) as fh:
        B = json.load(fh)
    worst = 0
    for w in sorted(set(A) & set(B)):
        print(f"\n{w}")
        for name, m in metrics.items():
            va = [r["metrics"][name] for r in A[w] if name in r["metrics"]]
            vb = [r["metrics"][name] for r in B[w] if name in r["metrics"]]
            if not va or not vb:
                print(f"  {name:20s} missing")
                worst = max(worst, 2)
                continue
            sa, sb = summary(va), summary(vb)
            lower = m["better"] == "lower"
            worse = (sb["median"] - sa["median"]) / sa["median"] if sa["median"] else 0.0
            if not lower:
                worse = -worse
            b = m["bound"]
            if (max(vb) < min(va)) if lower else (min(vb) > max(va)):
                verdict = "agree"
            elif max(sa["spread"], sb["spread"]) > b:
                verdict = "unresolved"
            elif worse > b:
                verdict = "disagree"
            else:
                verdict = "agree"
            worst = max(worst, {"agree": 0, "unresolved": 1, "disagree": 2}[verdict])
            print(f"  {name:20s} A {sa['median']:12.6g} (spread {sa['spread'] * 100:5.1f}%)"
                  f"  B {sb['median']:12.6g} (spread {sb['spread'] * 100:5.1f}%)"
                  f"  B worse by {worse * 100:6.2f}%  bound {b * 100:.0f}%  {verdict}")
    sys.exit(worst)


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("--workloads", required=True)
    r.add_argument("--seeds", required=True, help="e.g. 1-10 or 3,5,8")
    r.add_argument("--out", required=True)
    r.set_defaults(f=cmd_run)
    sh = sub.add_parser("show")
    sh.add_argument("set")
    sh.set_defaults(f=cmd_show)
    c = sub.add_parser("compare")
    c.add_argument("a")
    c.add_argument("b")
    c.set_defaults(f=cmd_compare)
    a = ap.parse_args()
    a.f(a)


if __name__ == "__main__":
    main()
