#!/usr/bin/env python3
"""Record benchmark runs and compare two sets of them.

    # ten seeds of one workload in this checkout (or --checkout DIR)
    python3 graftbench/compare.py record --workload serving --seeds 1-10 --out a.jsonl

    # alternating parent/change pairs, the side that runs first alternating
    python3 graftbench/compare.py pairs --parent DIR --change DIR \
        --workload serving --pairs 10 --out pairs.jsonl

    # same code twice: quartiles, spread against each bound, median drift
    python3 graftbench/compare.py steady a.jsonl b.jsonl

    # a change against its parent: the pair rule
    python3 graftbench/compare.py gain pairs.jsonl

Bounds and directions come from BENCHMARK.json. Spread is the distance
between the first and third quartile (statistics.quantiles, n=4) as a share
of the median. The pair rule: the change wins at least nine tenths of the
pairs (ties count for neither side) and the medians differ by more than the
parent's quartile distance.
"""
import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def spec():
    b = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {m["name"]: m for m in b["end_to_end"] + b["per_layer"]}, b["run_seconds"]


def run_one(checkout, workload, seed, seconds, trace):
    t0 = time.monotonic()
    p = subprocess.run(
        [sys.executable, "graftbench/run.py", "--workload", workload, "--seed",
         str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=checkout, stdout=subprocess.PIPE, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.exit(f"run failed: {checkout} {workload} seed {seed} (exit {p.returncode})")
    return json.loads(lines[-1]), time.monotonic() - t0


def seeds(text):
    lo, _, hi = text.partition("-")
    return range(int(lo), int(hi or lo) + 1)


def record(a):
    _, secs = spec()
    with open(a.out, "a") as f:
        for w in a.workload:
            for s in seeds(a.seeds):
                r, wall = run_one(a.checkout, w, s, secs, a.trace)
                f.write(json.dumps({"side": a.side, "workload": w, "seed": s, "trace": a.trace,
                                    "wall_s": round(wall, 1), "result": r}) + "\n")
                f.flush()
                print(f"{w} seed {s}: correct={r['correct']}", file=sys.stderr)


def pairs(a):
    _, secs = spec()
    with open(a.out, "a") as f:
        for i in range(a.pairs):
            seed = a.first_seed + i
            order = [("parent", a.parent), ("change", a.change)]
            if i % 2:
                order.reverse()
            for side, checkout in order:
                r, wall = run_one(checkout, a.workload, seed, secs, 0)
                f.write(json.dumps({"side": side, "pair": i, "workload": a.workload, "seed": seed,
                                    "trace": 0, "wall_s": round(wall, 1), "result": r}) + "\n")
                f.flush()
            print(f"pair {i} done", file=sys.stderr)


def load(path, side=None):
    rows = [json.loads(l) for l in open(path) if l.strip()]
    return [r for r in rows if side is None or r.get("side") == side]


def series(rows):
    """(workload, metric) -> values in file order."""
    out = {}
    for r in rows:
        for m, v in r["result"]["metrics"].items():
            out.setdefault((r["workload"], m), []).append(v["value"])
    return out


def quart(vals):
    if len(vals) < 2:
        return vals[0], vals[0], vals[0]
    q1, q2, q3 = statistics.quantiles(vals, n=4)
    return q1, q2, q3


def worse_by(base, new, better):
    """Share by which `new` is worse than `base` (negative: better)."""
    if base == 0:
        return 0.0 if new == 0 else float("inf")
    d = (new - base) / abs(base)
    return d if better == "lower" else -d


def steady(a):
    bounds, _ = spec()
    sa, sb = series(load(a.a)), series(load(a.b))
    ok = True
    print(f"{'workload':18} {'metric':34} {'median A':>12} {'median B':>12} "
          f"{'spread A':>9} {'spread B':>9} {'drift':>7} {'bound':>6}")
    for key in sorted(sa):
        if key not in sb or key[1] not in bounds:
            continue
        m = bounds[key[1]]
        q1a, meda, q3a = quart(sa[key])
        q1b, medb, q3b = quart(sb[key])
        spa = (q3a - q1a) / abs(meda) if meda else 0.0
        spb = (q3b - q1b) / abs(medb) if medb else 0.0
        drift = worse_by(meda, medb, m["better"])
        bound = m.get("bound")
        flag = ""
        if bound is not None:
            if key[1] != "setup_s" and max(spa, spb) > bound:
                flag += " SPREAD"
            if drift > bound:
                flag += " DRIFT"
            if key[1] != "setup_s" and max(spa, spb) > bound / 3:
                flag += " (spread above bound/3)"
        ok = ok and "SPREAD" not in flag and "DRIFT" not in flag
        print(f"{key[0]:18} {key[1]:34} {meda:12.5g} {medb:12.5g} {spa:9.4f} "
              f"{spb:9.4f} {drift:7.4f} {bound if bound is not None else '-':>6}{flag}")
    print("steady" if ok else "NOT steady")
    return 0 if ok else 1


def gain(a):
    bounds, _ = spec()
    rows = load(a.pairs)
    by = {}
    for r in rows:
        by.setdefault((r["workload"], r["pair"]), {})[r["side"]] = r["result"]["metrics"]
    complete = {k: v for k, v in by.items() if {"parent", "change"} <= v.keys()}
    metrics = sorted({(w, m) for (w, _), v in complete.items() for m in v["parent"]})
    print(f"{'workload':18} {'metric':34} {'parent q1/med/q3':>30} "
          f"{'change q1/med/q3':>30} {'wins':>6} verdict")
    for w, m in metrics:
        if m not in bounds:
            continue
        better = bounds[m]["better"]
        ps = [v["parent"][m]["value"] for (wk, _), v in sorted(complete.items()) if wk == w]
        cs = [v["change"][m]["value"] for (wk, _), v in sorted(complete.items()) if wk == w]
        wins = sum((c < p) if better == "lower" else (c > p) for p, c in zip(ps, cs))
        pq, cq = quart(ps), quart(cs)
        iqr = pq[2] - pq[0]
        diff = (pq[1] - cq[1]) if better == "lower" else (cq[1] - pq[1])
        if wins >= 0.9 * len(ps) and diff > iqr:
            verdict = "GAIN"
        else:
            bound = bounds[m].get("bound")
            drift = worse_by(pq[1], cq[1], better)
            if bound is None:
                verdict = f"no gain ({drift:+.3f})"
            elif drift > bound:
                verdict = f"REGRESSION ({drift:+.3f} > {bound})"
            elif (pq[2] - pq[0]) / abs(pq[1] or 1) > bound:
                all_better = (max(cs) < min(ps)) if better == "lower" else (min(cs) > max(ps))
                verdict = ("every change run better" if all_better
                           else "unresolved (spread above bound)")
            else:
                verdict = f"within bound ({drift:+.3f})"
        fmt = lambda q: f"{q[0]:.4g}/{q[1]:.4g}/{q[2]:.4g}"
        print(f"{w:18} {m:34} {fmt(pq):>30} {fmt(cq):>30} {wins:>3}/{len(ps):<2} {verdict}")
    return 0


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("record")
    r.add_argument("--workload", action="append", required=True)
    r.add_argument("--seeds", default="1-10")
    r.add_argument("--checkout", default=str(ROOT))
    r.add_argument("--side", default="a")
    r.add_argument("--trace", type=int, default=0)
    r.add_argument("--out", required=True)
    p = sub.add_parser("pairs")
    p.add_argument("--parent", required=True)
    p.add_argument("--change", required=True)
    p.add_argument("--workload", required=True)
    p.add_argument("--pairs", type=int, default=10)
    p.add_argument("--first-seed", type=int, default=101)
    p.add_argument("--out", required=True)
    s = sub.add_parser("steady")
    s.add_argument("a")
    s.add_argument("b")
    g = sub.add_parser("gain")
    g.add_argument("pairs")
    a = ap.parse_args()
    sys.exit({"record": record, "pairs": pairs, "steady": steady, "gain": gain}[a.cmd](a) or 0)


if __name__ == "__main__":
    main()
