"""Build file of the benchmark: compiles the engine (``src/main/scala``)
and the benchmark's own Scala sources (``perfbench/src``) with the Scala
compiler that ships in the Spark distribution, against its jars.

    python3 perfbench/build.py        # prints the classes directory

Output goes to ``$CARGO_TARGET_DIR`` (default ``.bench_build``) under a
digest of every source file, so an unchanged tree is not rebuilt.
"""

import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def spark_jars():
    """The jars of the Spark distribution at $SPARK_HOME."""
    jars = Path(os.environ.get("SPARK_HOME", "")) / "jars"
    if not os.environ.get("SPARK_HOME") or not any(jars.glob("spark-sql_*.jar")):
        raise SystemExit(f"perfbench: no Spark jars under {jars} (set SPARK_HOME)")
    return jars


def sources(root=ROOT):
    engine = sorted((root / "src" / "main" / "scala").rglob("*.scala"))
    bench = sorted((root / "perfbench" / "src").rglob("*.scala"))
    if not engine:
        raise SystemExit(f"perfbench: no engine sources under {root / 'src/main/scala'}")
    return engine + bench


def digest(files, root=ROOT):
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(root)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def build_dir(root=ROOT):
    return (root / os.environ.get("CARGO_TARGET_DIR", ".bench_build")).resolve()


def build(root=ROOT, log=sys.stderr):
    """Compile if needed; returns (classes dir, source digest)."""
    files = sources(root)
    d = digest(files, root)
    out = build_dir(root) / f"classes-{d[:16]}"
    if (out / "perfbench" / "Main.class").is_file():
        return out, d
    jars = spark_jars()
    tmp = out.with_name(out.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = tmp.with_name(out.name + ".args")
    argfile.write_text("\n".join(str(f) for f in files) + "\n")
    print(f"perfbench: compiling {len(files)} sources into {out}", file=log, flush=True)
    cmd = ["java", "-Xmx2g", "-Xss8m", f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData",
           "-cp", f"{jars}/*", "scala.tools.nsc.Main", "-nowarn",
           "-d", str(tmp), "-cp", f"{jars}/*", f"@{argfile}"]
    r = subprocess.run(cmd, stdout=log, stderr=log)
    argfile.unlink()
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise SystemExit(f"perfbench: compile failed (exit {r.returncode})")
    tmp.rename(out)
    return out, d


if __name__ == "__main__":
    print(build()[0])
