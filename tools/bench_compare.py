#!/usr/bin/env python3
"""Round-over-round bench adjudication on task_sec (the round-7+
headline metric — scheduling-noise-immune where wall is not).

Usage:
    python3 tools/bench_compare.py <old.json> <new.json> [threshold]

Each input is either a bench output line (BENCH_r{N}.json / the file
Bench writes) or a recorded clean-medians file
(bench_clean_medians.json — current or from git:
`git show <sha>:bench_clean_medians.json > /tmp/old.json`).

Prints per-query task_sec ratios beyond the threshold (default 1.25×
either way), with the shuffle/task-count columns that distinguish a
structural regression (those move) from interleave/GC noise (they
don't), plus the new-only and gone-only query sets. A "structure
changed" section lists every shared query whose tasks, jobs or
shuffle_write_mb differ between the two bench outputs (empty for a
plan-neutral change; clean-medians files carry no structure).
"""
import json
import sys


def load(path):
    with open(path) as f:
        d = json.load(f)
    # clean-medians file: task_sec map + queries (wall); bench output:
    # stageMetrics per query + queries (wall)
    if "stageMetrics" in d:
        ts = {k: v.get("task_sec") for k, v in d["stageMetrics"].items()}
        extra = {k: (v.get("shuffle_write_mb"), v.get("tasks"),
                     v.get("jobs"))
                 for k, v in d["stageMetrics"].items()}
    else:
        ts = d.get("task_sec", {})
        extra = {}
    return ts, d.get("queries", {}), extra, d.get("calib_sec")


def main():
    old_path, new_path = sys.argv[1], sys.argv[2]
    thr = float(sys.argv[3]) if len(sys.argv) > 3 else 1.25
    ots, owall, oex, ocal = load(old_path)
    nts, nwall, nex, ncal = load(new_path)
    shared = sorted(set(ots) & set(nts))
    flagged = []
    for k in shared:
        a, b = ots.get(k), nts.get(k)
        if not a or b is None:
            continue
        r = b / a
        if r > thr or r < 1 / thr:
            flagged.append((k, a, b, r))
    flagged.sort(key=lambda x: -abs(x[3] - 1))
    print(f"# task_sec ratios beyond {thr}x ({len(flagged)} of "
          f"{len(shared)} shared queries)")
    print(f"{'query':38s} {'old_ts':>8s} {'new_ts':>8s} {'ratio':>6s} "
          f"{'old_wall':>8s} {'new_wall':>8s}  structure(new)")
    for k, a, b, r in flagged:
        sw, tk, _ = nex.get(k, (None, None, None))
        struct = f"shuffle={sw}MB tasks={tk}" if sw is not None else ""
        print(f"{k:38s} {a:8.1f} {b:8.1f} {r:6.2f} "
              f"{owall.get(k, float('nan')):8.2f} "
              f"{nwall.get(k, float('nan')):8.2f}  {struct}")
    moved = [k for k in shared
             if k in oex and k in nex and oex[k] != nex[k]]
    print(f"\n# structure changed ({len(moved)} of {len(shared)} shared "
          f"queries: tasks, jobs or shuffle_write_mb differ)")
    if moved:
        print(f"{'query':38s} {'tasks':>11s} {'jobs':>9s} {'shuffle_mb':>17s}")
    for k in moved:
        (osw, otk, ojb), (nsw, ntk, njb) = oex[k], nex[k]
        print(f"{k:38s} {otk!s:>5s}->{ntk!s:<5s} {ojb!s:>4s}->{njb!s:<4s} "
              f"{osw!s:>8s}->{nsw!s:<8s}")
    new_only = sorted(set(nts) - set(ots))
    gone = sorted(set(ots) - set(nts))
    if new_only:
        print("\n# new queries:",
              ", ".join(f"{k}({nts[k]:.1f}ts)" for k in new_only))
    if gone:
        print("\n# gone queries:", ", ".join(gone))
    tot_o = sum(v for k, v in ots.items() if k in shared and v)
    tot_n = sum(v for k, v in nts.items() if k in shared and v)
    if tot_o:
        print(f"\n# shared-set task_sec total: {tot_o:.0f} -> "
              f"{tot_n:.0f} ({tot_n / tot_o:.2f}x)")
    # ambient normalization (records from round 10 on carry the fixed
    # calibration probe): wall ratios divided by the calibration ratio
    # are machine-drift-free
    if ocal and ncal:
        cr = ncal / ocal
        # both sides must be positive for a key to count, else a query
        # that failed (-1) or is missing in ONE record lands in one sum
        # only and silently skews the ratio (advisor round-10)
        both = [k for k in shared
                if owall.get(k, 0) and owall[k] > 0
                and nwall.get(k, 0) and nwall[k] > 0]
        dropped = len(shared) - len(both)
        wo = sum(owall[k] for k in both)
        wn = sum(nwall[k] for k in both)
        print(f"# calibration: {ocal:.3f}s -> {ncal:.3f}s ({cr:.2f}x ambient); "
              f"shared wall ({len(both)} both-positive"
              f"{f', {dropped} dropped' if dropped else ''}) "
              f"{wo:.0f} -> {wn:.0f} = {wn/wo:.2f}x face-value, "
              f"{wn/wo/cr:.2f}x calib-normalized")


if __name__ == "__main__":
    main()
