#!/usr/bin/env python3
"""Diff two graft.Bench artifacts (stdlib only).

    python3 tools/bench_diff.py A.json B.json [--ignore PATH ...]

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
  4. per-row q/s (headline rows and sweep points), FLAGGED only when the
     ratio between the two medians exceeds the larger of the two rows'
     `spread` (max/min over the row's samples);
  5. the timing loop's records (`qps.reps_capped`: rows that took fewer
     passes, and how many) and the per-query map's seconds — sample
     counts and single-shot wall times, diagnostic only (no spread exists
     to judge them by), listed and never flagged.

Exit status 0 when sections 1-3 show no difference (parity), 1 otherwise;
timing sections never change the status.
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
    args, ignore = [], set()
    it = iter(argv)
    for a in it:
        if a == "--ignore":
            ignore.add(next(it))
        else:
            args.append(a)
    if len(args) != 2:
        sys.exit(__doc__)
    A, B = load(args[0]), load(args[1])
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

    rows = []
    spa, spb = qa.get("spread", {}), qb.get("spread", {})
    for k in sorted(set(qa) & set(qb)):
        if isinstance(qa[k], (int, float)) and k in spa and k in spb:
            rows.append((k, qa[k], qb[k], max(spa[k], spb[k])))
    for fam in sorted(set(sa) & set(sb)):
        pts_b = {knob: p for (_, knob, _), p in zip(sweep_pairs(sb[fam]), sb[fam])}
        for (_, knob, _), p in zip(sweep_pairs(sa[fam]), sa[fam]):
            if knob in pts_b:
                q = pts_b[knob]
                rows.append((f"sweep.{fam}:{knob}", p["qps"], q["qps"],
                             max(p["spread"], q["spread"])))
    flags = [ratio(x, y) > max(sp, 1.0) for _, x, y, sp in rows]
    print(f"== q/s per row: {len(rows)} rows, {sum(flags)} flagged "
          f"(median ratio > larger spread)")
    for (name, x, y, sp), flag in zip(rows, flags):
        print(f"{'  FLAG' if flag else '      '} {name:55s} {x:>12.1f} -> "
              f"{y:>12.1f}  x{(y / x if x else float('inf')):.2f}  spread {sp:.2f}")

    ca, cb = qa.get("reps_capped", {}), qb.get("reps_capped", {})
    print(f"== timing-loop records (reps_capped, never flagged): "
          f"{len(ca)} -> {len(cb)} capped rows")
    for k in sorted(set(ca) | set(cb)):
        if ca.get(k) != cb.get(k):
            print(f"       {k:55s} {str(ca.get(k, '-')):>8s} -> {str(cb.get(k, '-')):>8s}")

    qsa, qsb = A.get("queries", {}), B.get("queries", {})
    common = sorted(set(qsa) & set(qsb), key=lambda k: -max(qsa[k], qsb[k]))
    print(f"== per-query seconds (single-shot, diagnostic, never flagged): "
          f"{len(common)} common")
    for k in common:
        print(f"       {k:55s} {qsa[k]:>8.2f} -> {qsb[k]:>8.2f}")
    return 1 if differs else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
