#!/usr/bin/env python3
"""Diff graft.Bench artifacts of two trees, A and B (stdlib only).

    python3 tools/bench_diff.py A.json B.json [--ignore PATH ...]
    python3 tools/bench_diff.py A1.json A2.json [...] --vs B1.json B2.json [...]
        [--control ROW ...] [--ignore PATH ...]

With two or more artifacts a side, run them in alternating order (A B B A
...), so slow drift of the host lands on both sides alike.

An artifact is a file holding one Bench JSON object: the full object
Bench writes to BENCH_METRICS.json / SPARK_GRAFT_BENCH_OUT, or the
compact line it prints last. When the file holds several lines, the last
line that parses as a JSON object is used; a per-round wrapper with a
"parsed" object is unwrapped.

Reported:
  1. key-set differences, recursively (dict keys; list lengths, and the
     dicts inside lists index by index). `--ignore queries` skips a
     subtree by dotted path (for the compact line, whose `queries` holds
     only the slowest rows that fit its byte budget). The timing loop's
     own records (TIMING_PATHS: which rows took fewer passes) are not
     compared here; section 5 lists them;
  2. value changes in qps.op and qps.recall, and in every sweep family's
     (knob, recall) pairs;
  3. streaming_replay checkpoints and recalls;
  4. per-row q/s (headline rows and sweep points). With one artifact a
     side a row is FLAGGED only when the ratio between the two medians
     exceeds the larger of the two rows' `spread` (max/min over the row's
     samples). With repeats it is FLAGGED only when every cross-side ratio
     (each B run over each A run) lies outside the range of the same-side
     ratios (each run over another run of its own side), all above it or
     all below. The row's ratio is the median cross-side ratio.
     `--control ROW ...` names rows the change does not touch (e.g.
     route_linear_c65536, client-side only): each row's ratio is also
     printed divided by the median ratio of the control rows, which takes
     out drift the whole host shared;
  5. the timing loop's records (`qps.reps_capped`: rows that took fewer
     passes, and how many) and the per-query map's seconds — sample
     counts and single-shot wall times, diagnostic only (no spread exists
     to judge them by), listed and never flagged.

Sections 1-3 and 5 compare the first artifact of each side. Exit status
0 when sections 1-3 show no difference (parity), 1 otherwise; timing
sections never change the status.
"""
import json
import sys

STAT_KEYS = {"qps", "spread", "recall", "gc_worst_ms", "cpu_frac_worst",
             "cpu_frac_med"}
# records of how the timed loop sampled a run, not of what it computed
TIMING_PATHS = {"qps.reps_capped"}


def load(path):
    with open(path, encoding="utf-8") as f:
        text = f.read()
    try:
        obj = json.loads(text)
    except ValueError:
        obj = None
        for line in reversed(text.splitlines()):
            try:
                cand = json.loads(line)
            except ValueError:
                continue
            if isinstance(cand, dict):
                obj = cand
                break
        if obj is None:
            sys.exit(f"{path}: no JSON object found")
    if "qps" not in obj and isinstance(obj.get("parsed"), dict):
        obj = obj["parsed"]
    return obj


def key_diffs(a, b, path, ignore, out):
    if path in ignore:
        return
    if isinstance(a, dict) and isinstance(b, dict):
        for k in sorted(set(a) - set(b)):
            out.append(f"  only in A: {path + '.' if path else ''}{k}")
        for k in sorted(set(b) - set(a)):
            out.append(f"  only in B: {path + '.' if path else ''}{k}")
        for k in sorted(set(a) & set(b)):
            key_diffs(a[k], b[k], f"{path}.{k}" if path else k, ignore, out)
    elif isinstance(a, list) and isinstance(b, list):
        if len(a) != len(b):
            out.append(f"  length {path}: {len(a)} -> {len(b)}")
        for i, (x, y) in enumerate(zip(a, b)):
            key_diffs(x, y, f"{path}[{i}]", ignore, out)
    elif isinstance(a, dict) != isinstance(b, dict) or \
            isinstance(a, list) != isinstance(b, list):
        out.append(f"  type {path}: {type(a).__name__} -> {type(b).__name__}")


def value_diffs(a, b, label, out):
    for k in sorted(set(a) | set(b)):
        if a.get(k) != b.get(k):
            out.append(f"  {label}.{k}: {a.get(k)} -> {b.get(k)}")


def sweep_pairs(points):
    pairs = []
    for p in points:
        knob = [k for k in p if k not in STAT_KEYS]
        pairs.append((knob[0] if knob else None,
                      p.get(knob[0]) if knob else None, p.get("recall")))
    return pairs


def median(xs):
    xs = sorted(xs)
    n = len(xs)
    return (xs[n // 2] + xs[(n - 1) // 2]) / 2


def row_qps(art):
    """Every q/s row of one artifact: name -> (q/s, within-run spread)."""
    q = art.get("qps", {})
    sp = q.get("spread", {})
    rows = {k: (v, sp[k]) for k, v in q.items()
            if isinstance(v, (int, float)) and k in sp}
    for fam, pts in q.get("sweep", {}).items():
        for (_, knob, _), p in zip(sweep_pairs(pts), pts):
            rows[f"sweep.{fam}:{knob}"] = (p["qps"], p["spread"])
    return rows


def ratio(x, y):
    if not x or not y:
        return float("inf") if (x or y) else 1.0
    return max(x, y) / min(x, y)


def section(title, out):
    print(f"== {title}: "
          f"{'identical' if not out else f'{len(out)} difference(s)'}")
    for line in out:
        print(line)
    return bool(out)


def main(argv):
    sides, ignore, control, dest = [[], []], set(), [], None
    it = iter(argv)
    for a in it:
        if a == "--ignore":
            ignore.add(next(it))
        elif a == "--vs":
            dest = sides[1]
        elif a == "--control":
            dest = control
        elif dest is not None:
            dest.append(a)
        else:
            sides[0].append(a)
    if not sides[1] and len(sides[0]) == 2:
        sides = [sides[0][:1], sides[0][1:]]
    if not sides[0] or not sides[1]:
        sys.exit(__doc__)
    runs_a, runs_b = ([load(p) for p in s] for s in sides)
    A, B = runs_a[0], runs_b[0]
    qa, qb = A.get("qps", {}), B.get("qps", {})
    differs = False

    out = []
    key_diffs(A, B, "", ignore | TIMING_PATHS, out)
    differs |= section("key sets", out)

    out = []
    value_diffs(qa.get("op", {}), qb.get("op", {}), "op", out)
    value_diffs(qa.get("recall", {}), qb.get("recall", {}), "recall", out)
    sa, sb = qa.get("sweep", {}), qb.get("sweep", {})
    for fam in sorted(set(sa) | set(sb)):
        pa, pb = sweep_pairs(sa.get(fam, [])), sweep_pairs(sb.get(fam, []))
        if pa != pb:
            out.append(f"  sweep.{fam}: {pa} -> {pb}")
    differs |= section("op / recall / sweep (knob, recall)", out)

    ra, rb = qa.get("streaming_replay"), qb.get("streaming_replay")
    out = []
    if (ra is None) != (rb is None):
        out.append(f"  streaming_replay present: {ra is not None} -> {rb is not None}")
    elif ra is not None:
        for k in ("mean_recall", "checkpoints", "n_checkpoints", "min_recall", "err"):
            if ra.get(k) != rb.get(k):
                out.append(f"  streaming_replay.{k}: {ra.get(k)} -> {rb.get(k)}")
    differs |= section("streaming_replay checkpoints/recalls", out)

    per_a, per_b = [row_qps(r) for r in runs_a], [row_qps(r) for r in runs_b]
    names = sorted(set.intersection(*(set(r) for r in per_a + per_b)))
    repeats = len(runs_a) > 1 or len(runs_b) > 1
    rows = []
    for name in names:
        xs, ys = [r[name][0] for r in per_a], [r[name][0] for r in per_b]
        if repeats:
            cross = [y / x if x else float("inf") for x in xs for y in ys]
            same = max(ratio(u, v) for side in (xs, ys) for u in side
                       for v in side)
            flag = min(cross) > same or max(cross) < 1 / same
            rows.append((name, median(xs), median(ys), median(cross),
                         f"repeats x{1 / same:.2f}..x{same:.2f}", flag))
        else:
            (x, spx), (y, spy) = per_a[0][name], per_b[0][name]
            sp = max(spx, spy)
            rows.append((name, x, y, y / x if x else float("inf"),
                         f"spread {sp:.2f}", ratio(x, y) > max(sp, 1.0)))
    ctrl = [r[3] for r in rows if r[0] in control]
    if control and len(ctrl) < len(set(control)):
        sys.exit(f"--control rows not in every artifact: "
                 f"{sorted(set(control) - set(names))}")
    drift = median(ctrl) if ctrl else None
    rule = ("every cross-side ratio outside the same-side range" if repeats
            else "median ratio > larger spread")
    print(f"== q/s per row: {len(rows)} rows, "
          f"{sum(r[5] for r in rows)} flagged ({rule}; "
          f"{len(runs_a)} A, {len(runs_b)} B run(s))")
    if drift is not None:
        print(f"   control rows {sorted(set(control))}: median ratio x{drift:.2f}")
    for name, x, y, r, band, flag in rows:
        adj = f"  /control x{r / drift:.2f}" if drift else ""
        print(f"{'  FLAG' if flag else '      '} {name:55s} {x:>12.1f} -> "
              f"{y:>12.1f}  x{r:.2f}  {band}{adj}")

    ca, cb = qa.get("reps_capped", {}), qb.get("reps_capped", {})
    print(f"== timing-loop records (reps_capped, never flagged): "
          f"{len(ca)} -> {len(cb)} capped rows")
    for k in sorted(set(ca) | set(cb)):
        if ca.get(k) != cb.get(k):
            print(f"       {k:55s} {str(ca.get(k, '-')):>8s} -> {str(cb.get(k, '-')):>8s}")

    qsa, qsb = A.get("queries", {}), B.get("queries", {})  # first runs
    common = sorted(set(qsa) & set(qsb), key=lambda k: -max(qsa[k], qsb[k]))
    print(f"== per-query seconds (single-shot, diagnostic, never flagged): "
          f"{len(common)} common")
    for k in common:
        print(f"       {k:55s} {qsa[k]:>8.2f} -> {qsb[k]:>8.2f}")
    return 1 if differs else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
