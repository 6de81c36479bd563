"""Offline analyses over benchmark runs.

    python3 perfbench/analyze.py exact --seed 7 [--runs 2]
        Traced runs of every workload on one seed; the per-layer counts
        (jobs and tasks per call, commits, segments, files, tombstones)
        that repeat exactly across the runs are written to
        perfbench/exact_counts.json, which run.py uses to mark them
        `exact` in its records and output.

    python3 perfbench/analyze.py overhead --seed 7 [--pairs 3] [--workload W]
        Alternating untraced and traced runs; prints the tracing overhead
        (traced minus untraced, medians over the pairs) of every
        end-to-end metric.
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.dont_write_bytecode = True
sys.path.insert(0, str(HERE))
import build  # noqa: E402

WORKLOADS = ("table_ops", "index_serve", "corpus_batch")
COUNT_GAUGES = ("store.commits", "store.segments_end", "store.files_end",
                "textindex.tombstones_end")


def run_once(workload: str, seed: int, trace: int) -> dict:
    seconds = json.loads((build.ROOT / "BENCHMARK.json").read_text())["run_seconds"]
    cmd = [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=str(build.ROOT), capture_output=True, text=True)
    if p.returncode != 0:
        raise SystemExit(f"{workload} seed {seed} trace {trace} failed:\n{p.stderr[-3000:]}")
    rec = build.build_dir() / "records" / f"{workload}-s{seed}-t{trace}.json"
    return json.loads(rec.read_text())


def counts(rec: dict) -> dict:
    """Every count the exact check considers, by name."""
    out = {}
    for call, c in rec["calls"].items():
        out[f"{call}.jobs"] = rec["per_layer"][f"{call}.jobs"]["value"]
        out[f"{call}.tasks"] = statistics.median(c["tasks"]) if len(c["tasks"]) else 0
    for g in COUNT_GAUGES:
        out[g] = rec["per_layer"][g]["value"]
    return out


def exact(a) -> None:
    result = {"seed": a.seed, "runs": a.runs}
    for w in WORKLOADS:
        runs = [counts(run_once(w, a.seed, 1)) for _ in range(a.runs)]
        names = sorted(set().union(*runs))
        same = [n for n in names if len({r.get(n) for r in runs}) == 1]
        result[w] = same
        result[f"{w}_varying"] = {n: [r.get(n) for r in runs] for n in names if n not in same}
        print(f"{w}: {len(same)} of {len(names)} counts repeat exactly", flush=True)
    (HERE / "exact_counts.json").write_text(json.dumps(result, indent=1) + "\n")


def overhead(a) -> None:
    for w in ([a.workload] if a.workload else WORKLOADS):
        pairs = []
        for _ in range(a.pairs):
            pairs.append((run_once(w, a.seed, 0), run_once(w, a.seed, 1)))
        print(f"{w} (seed {a.seed}, {a.pairs} pair(s)): traced - untraced")
        for name, m in pairs[0][0]["end_to_end"].items():
            u = statistics.median(p[0]["end_to_end"][name]["value"] for p in pairs)
            t = statistics.median(p[1]["end_to_end"][name]["value"] for p in pairs)
            rel = f"{(t - u) / u:+.1%}" if u else "n/a"
            print(f"  {name:<20} untraced {u:>12.3f}  traced {t:>12.3f}  "
                  f"diff {t - u:>+11.3f} {m['unit']:<6} ({rel})", flush=True)


def main() -> None:
    ap = argparse.ArgumentParser()
    sub = ap.add_subparsers(dest="cmd", required=True)
    e = sub.add_parser("exact")
    e.add_argument("--seed", type=int, default=7)
    e.add_argument("--runs", type=int, default=2)
    o = sub.add_parser("overhead")
    o.add_argument("--seed", type=int, default=7)
    o.add_argument("--pairs", type=int, default=1)
    o.add_argument("--workload", choices=WORKLOADS)
    a = ap.parse_args()
    exact(a) if a.cmd == "exact" else overhead(a)


if __name__ == "__main__":
    main()
