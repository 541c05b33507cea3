"""Build file for the benchmark: compiles the engine's main sources and
the benchmark harness (perfbench/scala) with the Scala compiler that
ships in the Spark jar directory, into <build>/classes. The jar directory
is $SPARK_JARS_DIR, else the one build.sbt names as unmanagedBase.

The build is keyed by a hash of every source file, so a checkout builds
once and later runs reuse the classes.

Usage: python3 perfbench/build.py [build_dir]
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys


JDK17_OPENS = [
    f"--add-opens={p}=ALL-UNNAMED" for p in (
        "java.base/java.lang", "java.base/java.lang.invoke",
        "java.base/java.lang.reflect", "java.base/java.io",
        "java.base/java.net", "java.base/java.nio", "java.base/java.util",
        "java.base/java.util.concurrent",
        "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
        "java.base/sun.nio.cs", "java.base/sun.security.action",
        "java.base/sun.util.calendar")]


def spark_jars_dir():
    if "SPARK_JARS_DIR" in os.environ:
        return os.environ["SPARK_JARS_DIR"]
    with open("build.sbt") as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        raise SystemExit("build.sbt names no unmanagedBase; set SPARK_JARS_DIR")
    return m.group(1)


def spark_classpath():
    jars = sorted(glob.glob(os.path.join(spark_jars_dir(), "*.jar")))
    if not jars:
        raise SystemExit(f"no Spark jars under {spark_jars_dir()}")
    return jars


def sources(root):
    main = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"),
                            recursive=True))
    if not main:
        raise SystemExit(f"no engine sources under {root}/src/main/scala")
    bench = sorted(glob.glob(os.path.join(root, "perfbench/scala/**/*.scala"),
                             recursive=True))
    return main + bench


def ensure_built(root, build_dir):
    """Compile if the sources changed since the last build; returns the
    classes directory."""
    srcs = sources(root)
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    key = h.hexdigest()
    classes = os.path.join(build_dir, "classes")
    stamp = os.path.join(build_dir, "classes.sha256")
    if os.path.exists(stamp) and open(stamp).read() == key:
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    cp = os.pathsep.join(spark_classpath())
    argfile = os.path.join(build_dir, "scalac.args")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    subprocess.run(
        ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
         "-nowarn", "-d", classes, "-classpath", cp, "@" + argfile],
        check=True, stdout=sys.stderr)
    with open(stamp, "w") as f:
        f.write(key)
    return classes


if __name__ == "__main__":
    out = sys.argv[1] if len(sys.argv) > 1 else os.path.join(
        os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench")
    os.makedirs(out, exist_ok=True)
    print(ensure_built(os.getcwd(), out))
