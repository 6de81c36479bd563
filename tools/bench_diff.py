#!/usr/bin/env python3
"""Regression diff between two bench records of the same kind.

Usage: python3 tools/bench_diff.py OLD.json NEW.json [min_delta]

Gate records (`bench_rNN*.json`, min_delta in seconds, default 0.3):
prints queries present in both (sorted by delta, worst first), then
queries only in one record (added/removed). Medians are already
warmed-up per-query medians, so a delta here is a plan change, not
noise — but treat sub-0.3 s deltas as within host jitter anyway.

perfbench records (`.bench_build/records/<workload>-s<seed>-t<trace>.json`,
min_delta in ms, default 20): prints the end-to-end metrics, then the
per-call COUNTER movers (`jobs`, `tasks` p50 over the run's calls, and
the store/index gauges) apart from the per-call `ms` p50 movers and, for
traced records, the per-call `driver_ms` p50 movers (driver-side self
time: wall time outside Spark jobs). Counters repeat exactly on one seed,
so a counter mover is a code change while an ms mover may be host noise.
Counters and driver_ms need traced (`-t1`) records on both sides.
"""
import json
import statistics
import sys


def main(old_path, new_path, min_delta=0.3):
    old_rec = json.load(open(old_path))
    new_rec = json.load(open(new_path))
    old = old_rec["queries"]
    new = new_rec["queries"]
    both = sorted(set(old) & set(new), key=lambda q: new[q] - old[q],
                  reverse=True)
    moved = [(q, old[q], new[q]) for q in both
             if abs(new[q] - old[q]) >= min_delta]
    print(f"# {old_path} -> {new_path}")
    print(f"shared={len(both)} added={len(set(new) - set(old))} "
          f"removed={len(set(old) - set(new))} "
          f"total {sum(old.values()):.2f}s -> {sum(new.values()):.2f}s")
    # host-health control (records since r15 carry it): stream-gate
    # drift that moves WITH the floor is host noise, against a flat
    # floor an engine regression — condition the x_stream_* movers
    # below on this line before reading them as regressions
    floors = [r.get("stream_floor") for r in (old_rec, new_rec)]
    if any(f is not None for f in floors):
        def fmt(f): return "n/a" if f is None else f"{f:.3f}s"
        s_old = sum(v for k, v in old.items() if k.startswith("x_stream_"))
        s_new = sum(v for k, v in new.items() if k.startswith("x_stream_"))
        print(f"stream_floor {fmt(floors[0])} -> {fmt(floors[1])}  "
              f"(stream-family sum {s_old:.2f}s -> {s_new:.2f}s)")
    # floor-NORMALIZED stream number (records since r16 carry it): the
    # engine share of the stream family after subtracting the measured
    # per-micro-batch harness floor — the round-over-round comparable
    # that does not ride datacenter weather
    adj = [r.get("total_stream_adjusted") for r in (old_rec, new_rec)]
    if any(a is not None for a in adj):
        def fmta(a): return "n/a" if a is None else f"{a:.2f}s"
        print(f"stream engine share (floor-adjusted) "
              f"{fmta(adj[0])} -> {fmta(adj[1])}")
    # the round-over-round comparable: sums over the SHARED query set
    # only (an added/removed gate must not masquerade as a regression/
    # improvement) — cite THESE numbers in round notes, so any reader
    # can regenerate them from the committed bench_r*.json with this
    # one command
    print(f"shared-set sum {sum(old[q] for q in both):.2f}s -> "
          f"{sum(new[q] for q in both):.2f}s "
          f"(delta {sum(new[q] - old[q] for q in both):+.2f}s)")
    if moved:
        print(f"\n## movers (|delta| >= {min_delta}s)")
        for q, a, b in moved:
            print(f"{b - a:+7.2f}s  {a:7.2f} -> {b:7.2f}  {q}")
    added = sorted(set(new) - set(old), key=lambda q: -new[q])
    if added:
        print("\n## added")
        for q in added:
            print(f"         {new[q]:7.2f}           {q}")
    removed = sorted(set(old) - set(new))
    if removed:
        print("\n## removed")
        for q in removed:
            print(f"         {old[q]:7.2f}           {q}")


def is_perfbench(rec):
    return "end_to_end" in rec and "workload" in rec


def call_p50(call, key):
    vals = call.get(key) or []
    return statistics.median(vals) if vals else None


def perfbench_main(old_path, new_path, min_delta_ms=20.0):
    old = json.load(open(old_path))
    new = json.load(open(new_path))
    print(f"# {old_path} -> {new_path}")
    if old["workload"] != new["workload"]:
        print(f"WARNING: workloads differ ({old['workload']} vs "
              f"{new['workload']})")
    print(f"workload={new['workload']} seed {old['seed']} -> {new['seed']} "
          f"trace {int(old['trace'])} -> {int(new['trace'])} "
          f"correct {old['correct']} -> {new['correct']} "
          f"failed {old['failed']} -> {new['failed']}")

    print("\n## end-to-end")
    e_old, e_new = old["end_to_end"], new["end_to_end"]
    for m in sorted(set(e_old) & set(e_new)):
        a, b = e_old[m]["value"], e_new[m]["value"]
        rel = f"{(b - a) / a:+.1%}" if a else "n/a"
        print(f"{m:22s} {a:12.3f} -> {b:12.3f} {e_new[m]['unit']:6s} {rel}")

    c_old, c_new = old.get("calls") or {}, new.get("calls") or {}
    print("\n## counter movers (jobs, tasks: p50 per call; gauges)")
    if not (c_old and c_new):
        print("(needs traced -t1 records on both sides)")
    else:
        moved = 0
        for name in sorted(set(c_old) | set(c_new)):
            a, b = c_old.get(name, {}), c_new.get(name, {})
            for key in ("jobs", "tasks"):
                va, vb = call_p50(a, key), call_p50(b, key)
                if va != vb:
                    moved += 1
                    print(f"{name + '.' + key:44s} {va} -> {vb}  "
                          f"(calls {a.get('n', 0)} -> {b.get('n', 0)})")
        g_old, g_new = old.get("gauges", {}), new.get("gauges", {})
        for g in sorted(set(g_old) | set(g_new)):
            if g_old.get(g) != g_new.get(g):
                moved += 1
                print(f"{g:44s} {g_old.get(g)} -> {g_new.get(g)}")
        if not moved:
            print("(none)")

    print_ms_movers("ms", old.get("ops_by_call", {}),
                    new.get("ops_by_call", {}), "ms_p50", min_delta_ms)
    print_ms_movers("driver_ms", c_old, c_new, "driver_ms_p50", min_delta_ms)
    if not (c_old and c_new):
        print("(needs traced -t1 records on both sides)")


def print_ms_movers(title, per_old, per_new, key, min_delta_ms):
    """Per-call `key` movers of at least `min_delta_ms`, worst first."""
    print(f"\n## {title} movers (p50 per call, |delta| >= {min_delta_ms:g} ms)")
    rows = []
    for name in set(per_old) & set(per_new):
        a, b = per_old[name].get(key), per_new[name].get(key)
        if a is not None and b is not None and abs(b - a) >= min_delta_ms:
            rows.append((b - a, a, b, name))
    for d, a, b, name in sorted(rows, reverse=True):
        print(f"{d:+9.1f} ms  {a:9.1f} -> {b:9.1f}  {name}")
    if not rows:
        print("(none)")


if __name__ == "__main__":
    if len(sys.argv) < 3:
        print(__doc__.strip(), file=sys.stderr)
        sys.exit(2)
    if is_perfbench(json.load(open(sys.argv[1]))):
        perfbench_main(sys.argv[1], sys.argv[2],
                       float(sys.argv[3]) if len(sys.argv) > 3 else 20.0)
    else:
        main(sys.argv[1], sys.argv[2],
             float(sys.argv[3]) if len(sys.argv) > 3 else 0.3)
