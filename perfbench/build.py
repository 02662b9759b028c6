"""Build file of the benchmark: compiles graft (src/main/scala) and the
harness (perfbench/harness) with the Scala compiler shipped in Spark's
jars (the directory build.sbt compiles against), into `.bench_build/`
under the repository root. Each step is skipped
while a stamp of its sources matches.

    python3 perfbench/build.py          # build only
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys



def _spark_jars():
    """Spark's jars directory: $SPARK_JARS, else the `unmanagedBase` that
    build.sbt compiles graft against."""
    if os.environ.get("SPARK_JARS"):
        return os.environ["SPARK_JARS"]
    sbt = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "build.sbt")
    if not os.path.exists(sbt):
        sys.exit("perfbench: build.sbt not found; run from a full checkout")
    with open(sbt) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        sys.exit("perfbench: no unmanagedBase in build.sbt; set SPARK_JARS")
    return m.group(1)


SPARK_JARS = _spark_jars()
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def work_dir(root):
    d = os.path.join(root, ".bench_build")
    os.makedirs(d, exist_ok=True)
    return d


def _stamp(files, extra=""):
    h = hashlib.sha256(extra.encode())
    for f in sorted(files):
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def _compile(sources, out, classpath, log):
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", f"{SPARK_JARS}/*", "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", classpath] + sorted(sources)
    with open(log, "w") as fh:
        rc = subprocess.run(cmd, stdout=fh, stderr=subprocess.STDOUT).returncode
    if rc != 0:
        with open(log) as fh:
            sys.stderr.write(fh.read()[-4000:])
        sys.exit(f"perfbench: compile failed ({log})")
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)


def build(root):
    """Compiles what changed; returns the runtime classpath."""
    work = work_dir(root)
    steps = [
        ("graft", glob.glob(os.path.join(root, "src", "main", "scala", "**", "*.scala"),
                            recursive=True), f"{SPARK_JARS}/*"),
        ("harness", glob.glob(os.path.join(root, "perfbench", "harness", "*.scala")), None),
    ]
    graft_out = os.path.join(work, "graft-classes")
    prev = ""
    for name, sources, cp in steps:
        if not sources:
            sys.exit(f"perfbench: no {name} sources found")
        out = os.path.join(work, f"{name}-classes")
        stamp = _stamp(sources, prev)
        stamp_file = out + ".stamp"
        if not (os.path.isdir(out) and os.path.exists(stamp_file)
                and open(stamp_file).read() == stamp):
            _compile(sources, out, cp or f"{SPARK_JARS}/*:{graft_out}",
                     os.path.join(work, f"{name}-build.log"))
            with open(stamp_file, "w") as fh:
                fh.write(stamp)
        prev = stamp
    return f"{os.path.join(work, 'harness-classes')}:{graft_out}:{SPARK_JARS}/*"


def java_cmd(classpath, tmp_dir, heap="2g"):
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + [
        f"-Xms{heap}", f"-Xmx{heap}", f"-Djava.io.tmpdir={tmp_dir}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", classpath]


if __name__ == "__main__":
    print(build(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))
