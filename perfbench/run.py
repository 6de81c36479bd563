"""Store benchmark runner.

    python3 perfbench/run.py --workload table_ops --seed 1 --seconds 10 --trace 0

Builds the library and the benchmark from source (see build.py), runs one
workload in a fresh JVM on local[min(nproc, 4)], prints every metric by
name with its unit, and ends with one JSON line:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end ones named in BENCHMARK.json, with --trace 1 the
per-layer ones. The full run record is kept under the build directory in
records/, and a traced run's spans next to it.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("table_ops", "index_serve", "corpus_batch")
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
RUN_TIMEOUT_S = 170


def exact_counts(workload: str) -> list:
    """Per-layer counts found to repeat exactly across runs of one seed
    (written by `analyze.py exact`)."""
    f = Path(__file__).resolve().parent / "exact_counts.json"
    return json.loads(f.read_text()).get(workload, []) if f.exists() else []


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    spec = json.loads((build.ROOT / "BENCHMARK.json").read_text())
    wanted = [m["name"] for m in spec["per_layer" if a.trace else "end_to_end"]]
    cp = build.build()

    bd = build.build_dir()
    work = bd / f"work-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    rec_dir = bd / "records"
    rec_dir.mkdir(exist_ok=True)
    out = work / "result.json"
    log = bd / f"run-{a.workload}.log"
    cmd = (["java", "-Xmx3g", "-XX:+UseG1GC", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={work / 'tmp'}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--work", str(work), "--out", str(out)])
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(work / "spark-local"))
    try:
        with open(log, "w") as lf:
            proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, env=env,
                                    cwd=str(work))
            try:
                rc = proc.wait(timeout=RUN_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                sys.stderr.write(f"perfbench: run exceeded {RUN_TIMEOUT_S}s\n")
                return 3
        if rc != 0 or not out.exists():
            sys.stderr.write(log.read_text()[-4000:])
            sys.stderr.write(f"perfbench: JVM exited with {rc}\n")
            return 1
        rec = json.loads(out.read_text())
        rec["exact"] = sorted(exact_counts(a.workload))
        stem = f"{a.workload}-s{a.seed}-t{a.trace}"
        (rec_dir / f"{stem}.json").write_text(json.dumps(rec, indent=1) + "\n")
        trace = work / "result.trace.json"
        if trace.exists():
            shutil.copy(trace, rec_dir / f"{stem}.trace.json")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    exact = set(rec["exact"])
    section = rec["per_layer" if a.trace else "end_to_end"]
    print(f"workload={a.workload} seed={a.seed} seconds={a.seconds} trace={a.trace} "
          f"cores={rec['cores']} attempted={rec['attempted']} failed={rec['failed']}")
    for name, m in rec["end_to_end"].items():
        note = "" if m["resolved"] else "  (unresolved: <10 samples beyond p90)"
        print(f"  {name:<22} {m['value']:>14.4f} {m['unit']:<6} samples={m['samples']}{note}")
    if a.trace:
        for name, m in section.items():
            tag = "  exact" if name in exact else ""
            print(f"  {name:<50} {m['value']:>14.3f} {m['unit']}{tag}")
    for f in rec["failures"]:
        print(f"  FAILED {f}")
    missing = [n for n in wanted if n not in section]
    if missing:
        sys.stderr.write(f"perfbench: metrics missing from the run: {missing}\n")
        return 1
    result = {
        "correct": bool(rec["correct"]),
        "attempted": int(rec["attempted"]),
        "failed": int(rec["failed"]),
        "metrics": {n: {"value": section[n]["value"], "unit": section[n]["unit"]}
                    for n in wanted},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
