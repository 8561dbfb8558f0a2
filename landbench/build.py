"""Build file of the landing benchmark.

Compiles the program's sources (src/main/scala) together with the harness
(landbench/src) with the Scala compiler that ships in Spark's jars, into
<build dir>/classes. A content hash of every source skips the compile when
nothing changed. Run alone: python3 landbench/build.py
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def build_dir():
    d = Path(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    return d if d.is_absolute() else ROOT / d


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = str(Path(shutil.which("spark-submit")).resolve().parent.parent)
    if not home or not (Path(home) / "jars").is_dir():
        sys.exit("landbench: no Spark distribution found; set SPARK_HOME")
    return Path(home) / "jars"


def java():
    home = os.environ.get("JAVA_HOME")
    exe = str(Path(home) / "bin" / "java") if home else shutil.which("java")
    if not exe or not Path(exe).exists():
        sys.exit("landbench: no java found; set JAVA_HOME")
    return exe


def sources():
    program = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    if not program:
        sys.exit(f"landbench: no program sources under {ROOT / 'src' / 'main' / 'scala'}")
    return program + sorted((HERE / "src").rglob("*.scala"))


def build():
    """Returns the classes directory, compiling first if a source changed."""
    out = build_dir()
    srcs = sources()
    digest = hashlib.sha256()
    for p in srcs:
        digest.update(str(p.relative_to(ROOT)).encode())
        digest.update(p.read_bytes())
    stamp, classes = out / "classes.sha256", out / "classes"
    if stamp.exists() and stamp.read_text() == digest.hexdigest() and classes.is_dir():
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    classes.mkdir(parents=True)
    args = out / "scalac.args"
    args.write_text("\n".join(str(p) for p in srcs) + "\n")
    tmp = out / "tmp"
    tmp.mkdir(exist_ok=True)
    cmd = [java(), "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}", "-Xss8m", "-Xmx2g",
           "-cp", str(spark_jars() / "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", str(classes), f"@{args}"]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-8000:])
        sys.exit(f"landbench: compile failed (exit {r.returncode})")
    stamp.write_text(digest.hexdigest())
    return classes


if __name__ == "__main__":
    print(build())
