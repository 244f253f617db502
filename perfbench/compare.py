#!/usr/bin/env python3
"""Run-set collector and comparator for the benchmark in this directory.

A run set is a JSON-lines file, one run per line:
  {"workload": ..., "seed": ..., "pair": ..., "result": <run.py's last output line>}

Collect runs of one checkout (run from that checkout's root):
  python3 perfbench/compare.py collect --out a.jsonl --workloads html_crawl,daily_lake --seeds 1-10

Collect interleaved parent/change pairs (alternating which side runs first):
  python3 perfbench/compare.py pairs --parent ../parent --change . --out-dir pairs --pairs 10

Report one set (median, quartiles, spread against each metric's bound), or
compare two (parent first), one row per workload x end-to-end metric:
  python3 perfbench/compare.py report a.jsonl [b.jsonl] [--win-rule]

A metric whose interquartile spread (as a share of its median) exceeds its
bound on either side is "unresolved" unless every change run beats every
parent run. `--win-rule` pairs the runs in collection order and applies the
rule: the change wins at least 9 of 10 pairs (ties count for neither) and
the medians differ by more than the parent's interquartile distance.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load_bench(root):
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        return json.load(f)


def seeds_of(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def run_one(checkout, workload, seed, bench):
    cmd = bench["command"] + ["--workload", workload, "--seed", str(seed),
                              "--seconds", str(bench["run_seconds"]), "--trace", "0"]
    p = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        return {"correct": False, "attempted": 1, "failed": 1, "metrics": {}, "exit": p.returncode}
    return json.loads(lines[-1])


def append(path, rec):
    with open(path, "a") as f:
        f.write(json.dumps(rec) + "\n")


def collect(a):
    root = os.path.abspath(a.checkout)
    bench = load_bench(root)
    workloads = a.workloads.split(",") if a.workloads else [w["name"] for w in bench["workloads"]]
    for w in workloads:
        for s in seeds_of(a.seeds):
            r = run_one(root, w, s, bench)
            append(a.out, {"workload": w, "seed": s, "pair": None, "result": r})
            print(f"{w} seed {s}: correct={r['correct']}", file=sys.stderr)


def pairs(a):
    parent, change = os.path.abspath(a.parent), os.path.abspath(a.change)
    bench = load_bench(change)
    workloads = a.workloads.split(",") if a.workloads else [w["name"] for w in bench["workloads"]]
    os.makedirs(a.out_dir, exist_ok=True)
    for w in workloads:
        for k in range(a.pairs):
            seed = a.first_seed + k
            order = [("parent", parent), ("change", change)]
            if k % 2:
                order.reverse()
            for side, root in order:
                r = run_one(root, w, seed, bench)
                append(os.path.join(a.out_dir, f"{side}.jsonl"),
                       {"workload": w, "seed": seed, "pair": k, "result": r})
            print(f"{w} pair {k} done", file=sys.stderr)


def read_set(path):
    runs = {}
    with open(path) as f:
        for line in f:
            if line.strip():
                rec = json.loads(line)
                runs.setdefault(rec["workload"], []).append(rec)
    return runs


def values(recs, metric):
    return [r["result"]["metrics"][metric]["value"] for r in recs
            if metric in r["result"].get("metrics", {}) and r["result"]["metrics"][metric]["value"] is not None]


def summary(vals):
    if len(vals) < 2:
        v = vals[0] if vals else float("nan")
        return v, v, v, float("nan")
    q1, med, q3 = statistics.quantiles(vals, n=4)
    return q1, med, q3, (q3 - q1) / med if med else float("inf")


def better(m, x, y):
    """True when value x is better than y for metric m."""
    return x < y if m["better"] == "lower" else x > y


def report(a):
    bench = load_bench(os.path.dirname(HERE))
    metrics = bench["end_to_end"]
    base = read_set(a.sets[0])
    change = read_set(a.sets[1]) if len(a.sets) > 1 else None
    for w in sorted(base):
        bad = [r["seed"] for r in base[w] + (change or {}).get(w, []) if not r["result"].get("correct")]
        if bad:
            print(f"{w}: runs with failed checks (seeds {bad})")
    hdr = f"{'workload':12} {'metric':24} {'n':>3} {'q1':>12} {'median':>12} {'q3':>12} {'spread':>7} {'bound':>6}"
    if change is None:
        print(hdr + "  verdict")
        for w in sorted(base):
            for m in metrics:
                vals = values(base[w], m["name"])
                q1, med, q3, sp = summary(vals)
                verdict = "steady" if sp <= m["bound"] else "unresolved"
                print(f"{w:12} {m['name']:24} {len(vals):3d} {q1:12.4f} {med:12.4f} {q3:12.4f} "
                      f"{sp:7.3f} {m['bound']:6.2f}  {verdict}")
        return
    print(f"{'workload':12} {'metric':24} {'parent median [q1, q3]':>36} {'change median [q1, q3]':>36} "
          f"{'worse by':>9} {'bound':>6}  verdict")
    for w in sorted(set(base) & set(change)):
        for m in metrics:
            pv, cv = values(base[w], m["name"]), values(change[w], m["name"])
            if not pv or not cv:
                continue
            p1, pm, p3, ps = summary(pv)
            c1, cm, c3, cs = summary(cv)
            worse = (cm - pm) / pm if m["better"] == "lower" else (pm - cm) / pm
            if all(better(m, c, p) for c in cv for p in pv):
                verdict = "better (every run)"
            elif max(ps, cs) > m["bound"]:
                verdict = "unresolved"
            elif worse > m["bound"]:
                verdict = "REGRESSION"
            else:
                verdict = "within bound"
            if a.win_rule:
                pairs_ = list(zip(base[w], change[w]))
                wins = sum(1 for pr, cr in pairs_ if m["name"] in pr["result"]["metrics"]
                           and better(m, cr["result"]["metrics"][m["name"]]["value"],
                                      pr["result"]["metrics"][m["name"]]["value"]))
                gap = abs(cm - pm) > (p3 - p1)
                won = len(pairs_) >= 10 and wins >= 0.9 * len(pairs_) and gap and better(m, cm, pm)
                verdict += f"; win rule: {wins}/{len(pairs_)} pairs, gap {'>' if gap else '<='} parent IQR" \
                           f" -> {'WIN' if won else 'no win'}"
            print(f"{w:12} {m['name']:24} {pm:14.4f} [{p1:.4f}, {p3:.4f}] {cm:14.4f} [{c1:.4f}, {c3:.4f}] "
                  f"{worse:9.3f} {m['bound']:6.2f}  {verdict}")


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    sub = ap.add_subparsers(dest="cmd", required=True)
    c = sub.add_parser("collect")
    c.add_argument("--out", required=True)
    c.add_argument("--checkout", default=".")
    c.add_argument("--workloads")
    c.add_argument("--seeds", default="1-10")
    p = sub.add_parser("pairs")
    p.add_argument("--parent", required=True)
    p.add_argument("--change", required=True)
    p.add_argument("--out-dir", required=True)
    p.add_argument("--workloads")
    p.add_argument("--pairs", type=int, default=10)
    p.add_argument("--first-seed", type=int, default=101)
    r = sub.add_parser("report")
    r.add_argument("sets", nargs="+")
    r.add_argument("--win-rule", action="store_true")
    a = ap.parse_args()
    {"collect": collect, "pairs": pairs, "report": report}[a.cmd](a)


if __name__ == "__main__":
    main()
