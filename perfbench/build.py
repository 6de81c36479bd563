"""Build file of the benchmark package: compiles the library's main sources
and the benchmark's own Scala sources with the Scala compiler that ships
inside the Spark distribution (no sbt, no network, output only under the
build directory). Rebuilds only when a source file changed.

    python3 perfbench/build.py            # prints the runtime classpath
"""
import hashlib
import os
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
MAIN_SRC = ROOT / "src" / "main" / "scala"
MAIN_RES = ROOT / "src" / "main" / "resources"
BENCH_SRC = Path(__file__).resolve().parent / "src"


def build_dir() -> Path:
    d = Path(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    return d if d.is_absolute() else ROOT / d


def spark_jars() -> Path:
    """The Spark jar directory: $SPARK_HOME/jars, else the one bundled
    with an installed pyspark."""
    home = os.environ.get("SPARK_HOME")
    if home and (Path(home) / "jars").is_dir():
        return Path(home) / "jars"
    try:
        import pyspark  # noqa: PLC0415
        d = Path(pyspark.__file__).parent / "jars"
        if d.is_dir():
            return d
    except ImportError:
        pass
    raise SystemExit("perfbench: no Spark jars (set SPARK_HOME)")


def _sources(d: Path):
    return sorted(p for p in d.rglob("*.scala") if p.is_file())


def _digest(files) -> str:
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def _scalac(jars: Path, out: Path, cp: str, files, log: Path) -> None:
    out.mkdir(parents=True, exist_ok=True)
    args = out.parent / (out.name + ".args")
    args.write_text("\n".join(str(f) for f in files) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", f"{jars}/*", "scala.tools.nsc.Main",
           "-nowarn", "-encoding", "UTF-8", "-d", str(out), "-classpath", cp, f"@{args}"]
    with open(log, "w") as lf:
        rc = subprocess.call(cmd, stdout=lf, stderr=subprocess.STDOUT)
    if rc != 0:
        sys.stderr.write(log.read_text()[-4000:])
        raise SystemExit(f"perfbench: compile failed ({out.name})")


def build() -> str:
    """Compile if needed; return the runtime classpath."""
    if not MAIN_SRC.is_dir():
        raise SystemExit(f"perfbench: no library sources at {MAIN_SRC.relative_to(ROOT)}")
    jars = spark_jars()
    bd = build_dir()
    bd.mkdir(parents=True, exist_ok=True)
    main_files, bench_files = _sources(MAIN_SRC), _sources(BENCH_SRC)
    main_out, bench_out = bd / "main-classes", bd / "bench-classes"
    stamp = bd / "build.stamp"
    want = _digest(main_files) + _digest(bench_files)
    if not stamp.exists() or stamp.read_text() != want:
        stamp.unlink(missing_ok=True)
        for d in (main_out, bench_out):
            subprocess.call(["rm", "-rf", str(d)])
        _scalac(jars, main_out, f"{jars}/*", main_files, bd / "main-compile.log")
        _scalac(jars, bench_out, f"{main_out}:{jars}/*", bench_files, bd / "bench-compile.log")
        stamp.write_text(want)
    return os.pathsep.join([str(bench_out), str(main_out), str(MAIN_RES), f"{jars}/*"])


if __name__ == "__main__":
    print(build())
