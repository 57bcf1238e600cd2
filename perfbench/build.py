"""Build file of the benchmark.

Compiles the library (every ``src/main/scala/**/*.scala`` of the
checkout) together with the benchmark's own sources (``perfbench/scala``)
with the Scala compiler that ships in the Spark distribution, against the
Spark jars. Classes land in ``.bench_build/classes-<hash>/``, keyed by a
hash of every source file, so a checkout compiles once and later runs
reuse the classes.

    python3 perfbench/build.py          # prints the classes directory
"""

import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

SCALA = "2.13.17"


class BuildError(Exception):
    pass


def spark_jars() -> Path:
    """The jars of $SPARK_HOME, else of a Spark whose spark-submit is on PATH."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        str(Path(d, "spark-submit").resolve().parent.parent)
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if d and Path(d, "spark-submit").is_file()]
    for home in filter(None, homes):
        jars = Path(home) / "jars"
        if (jars / f"scala-compiler-{SCALA}.jar").is_file():
            return jars
    raise BuildError(f"no Spark with a Scala {SCALA} compiler: set SPARK_HOME")


def sources(root: Path) -> list:
    lib = sorted((root / "src" / "main" / "scala").rglob("*.scala"))
    if not lib:
        raise BuildError(f"no library sources under {root}/src/main/scala")
    bench = sorted((root / "perfbench" / "scala").glob("*.scala"))
    if not bench:
        raise BuildError("no benchmark sources under perfbench/scala")
    return lib + bench


def build(root: Path) -> Path:
    """Compile if needed; return the classes directory."""
    root = root.resolve()
    srcs = sources(root)
    jars = spark_jars()
    h = hashlib.sha256(SCALA.encode())
    for s in srcs:
        h.update(str(s.relative_to(root)).encode() + b"\0")
        h.update(s.read_bytes())
    out_root = root / ".bench_build"
    out = out_root / f"classes-{h.hexdigest()[:16]}"
    if (out / ".done").is_file():
        return out
    tmp = out_root / f"{out.name}.tmp{os.getpid()}"
    tmp.mkdir(parents=True, exist_ok=True)
    argfile = tmp / "sources.txt"
    argfile.write_text("\n".join(str(s) for s in srcs) + "\n")
    compiler_cp = os.pathsep.join(
        str(jars / f"scala-{p}-{SCALA}.jar")
        for p in ("compiler", "library", "reflect"))
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx3g",
           f"-Djava.io.tmpdir={tmp}",
           "-cp", compiler_cp, "scala.tools.nsc.Main", "-usejavacp",
           "-nowarn", "-classpath", str(jars / "*"), "-d", str(tmp),
           f"@{argfile}"]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])
    argfile.unlink()
    (tmp / ".done").write_text("ok\n")
    try:
        tmp.rename(out)
    except OSError:
        if not (out / ".done").is_file():
            raise
    return out


if __name__ == "__main__":
    try:
        print(build(Path.cwd()))
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(1)
