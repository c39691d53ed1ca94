"""Build file of the benchmark: compiles the program (`src/main/scala`)
together with the benchmark harness (`perfbench/src`) into one class
directory, with the Scala compiler that ships in the Spark distribution.

    python3 perfbench/build.py          # prints the class directory

Output goes under `.bench_build/` (or `$CARGO_TARGET_DIR`) and is keyed
by a hash of every source file, so an unchanged tree builds once.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spark_jars():
    """The Spark jars the sbt build compiles against (its `unmanagedBase`),
    else `$SPARK_HOME/jars`."""
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if m:
        return m.group(1)
    if "SPARK_HOME" not in os.environ:
        raise RuntimeError("build.sbt names no unmanagedBase and SPARK_HOME is unset")
    return os.path.join(os.environ["SPARK_HOME"], "jars")


def target_dir():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))


def sources():
    program = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"),
                               recursive=True))
    if not program:
        raise RuntimeError("no program sources under src/main/scala")
    return program + sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"),
                                      recursive=True))


def build(log=sys.stderr):
    """Compile if needed; return the class directory."""
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    out = os.path.join(target_dir(), "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, ".ok")):
        return out
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(tmp, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xmx3g", "-Xss8m", "-cp", os.path.join(spark_jars(), "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-encoding", "UTF-8",
           "-d", tmp, "@" + argfile]
    r = subprocess.run(cmd, stdout=log, stderr=log)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise RuntimeError(f"compilation failed ({r.returncode})")
    os.remove(argfile)
    open(os.path.join(tmp, ".ok"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out


if __name__ == "__main__":
    print(build())
