"""Build file of the benchmark: compiles the program's main sources and the
benchmark's own Scala sources with the Scala compiler that ships among the
Spark jars, packs them into one jar, and archives the classes a run loads
(JDK class data sharing) so each benchmark JVM starts without re-reading
thousands of Spark classes.

The program's build.sbt names the Spark jar directory (`unmanagedBase`);
the same jars are the compile and run classpath here. A stamp over every
source's path and bytes skips the build when nothing changed.

    python3 perfbench/build.py        # build from the repository root
"""

import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile
from pathlib import Path

BUILD_DIR = ".bench_build"
JAR = "perfbench.jar"
ARCHIVE = "classes.jsa"


def spark_jars(root):
    """The Spark jar directory the program's build.sbt declares."""
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                  (root / "build.sbt").read_text())
    jars = Path(m.group(1)) if m else Path(os.environ.get("SPARK_HOME", "")) / "jars"
    if not jars.is_dir():
        raise SystemExit(f"Spark jars not found at {jars}")
    return jars


def sources(root):
    srcs = sorted(root.glob("src/main/scala/**/*.scala"))
    srcs += sorted((root / "perfbench" / "scala").glob("**/*.scala"))
    return srcs


def classpath(root):
    return f"{root / BUILD_DIR / JAR}{os.pathsep}{spark_jars(root) / '*'}"


def share_flags(root):
    """Use the class archive when the build made one."""
    a = root / BUILD_DIR / ARCHIVE
    return [f"-XX:SharedArchiveFile={a}"] if a.is_file() else []


def ensure_built(root, log=sys.stderr):
    """Build if any source changed since the last build; returns the
    runtime classpath."""
    if not (root / "build.sbt").is_file() or not (root / "src" / "main" / "scala").is_dir():
        raise SystemExit("program sources not found (build.sbt, src/main/scala)")
    srcs = sources(root)
    h = hashlib.sha256()
    for s in srcs:
        h.update(str(s.relative_to(root)).encode())
        h.update(s.read_bytes())
    stamp = h.hexdigest()
    out = root / BUILD_DIR
    if (out / "stamp").is_file() and (out / "stamp").read_text() == stamp:
        return classpath(root)
    shutil.rmtree(out, ignore_errors=True)
    classes = out / "classes"
    classes.mkdir(parents=True)
    argfile = out / "sources.txt"
    argfile.write_text("\n".join(str(s) for s in srcs) + "\n")
    print(f"[perfbench] compiling {len(srcs)} sources", file=log, flush=True)
    subprocess.run(
        ["java", "-XX:-UsePerfData", "-Xmx2g", "-Xss8m", "-cp", str(spark_jars(root) / "*"),
         "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", str(classes), f"@{argfile}"],
        # scalac puts "." on its classpath: run it where no source tree is
        check=True, stdout=log, stderr=log, timeout=600, cwd=out)
    with zipfile.ZipFile(out / JAR, "w", zipfile.ZIP_STORED) as z:
        for f in sorted(classes.rglob("*.class")):
            z.write(f, f.relative_to(classes).as_posix())
    shutil.rmtree(classes)
    archive_classes(root, out, log)
    (out / "stamp").write_text(stamp)
    return classpath(root)


def archive_classes(root, out, log):
    """Run one pass of every workload on seed-0 inputs and dump the
    classes it loaded into the shared archive."""
    import run  # the workloads' input generation; run imports this module
    train = out / "train"
    for wl in run.WORKLOADS:
        run.make_inputs(wl, train / "in" / wl, 0)
    (train / "tmp").mkdir(parents=True)
    print("[perfbench] archiving loaded classes", file=log, flush=True)
    cmd = run.jvm_command(root, train, ["train", train / "in", train / "w", run.BENCH])
    cmd.insert(1, f"-XX:ArchiveClassesAtExit={out / ARCHIVE}")
    with open(out / "archive.log", "w") as f:
        p = subprocess.run(cmd, stdout=f, stderr=subprocess.STDOUT, timeout=600)
    shutil.rmtree(train, ignore_errors=True)
    if p.returncode != 0:
        (out / ARCHIVE).unlink(missing_ok=True)
        print(f"[perfbench] class archive skipped (exit {p.returncode})", file=log)


if __name__ == "__main__":
    print(ensure_built(Path.cwd()))
