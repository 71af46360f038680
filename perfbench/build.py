"""Build file of the benchmark: compiles graft's library sources and the
benchmark's own Scala sources with the Scala compiler that ships among
the Spark jars, into one class directory.

The Spark jar directory is $SPARK_HOME/jars, or else the `unmanagedBase`
the repository's build.sbt names. A build is reused while no source file
changed (a content hash is stored beside the classes).

Usage: python3 perfbench/build.py   (prints the class directory)
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
LIB_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")


class BuildError(Exception):
    pass


def build_dir():
    return os.path.join(ROOT, ".bench_build")


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    raise BuildError("no Spark jar directory: set SPARK_HOME")


def sources():
    if not os.path.isdir(os.path.join(LIB_SRC, "graft")):
        raise BuildError("graft library sources not found under " + LIB_SRC)
    files = []
    for base in (LIB_SRC, BENCH_SRC):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        h.update(open(f, "rb").read())
    return h.hexdigest()


def input_stamp():
    """Hash of the benchmark's own sources: the generated inputs depend
    on these alone, so a change to graft never regenerates them."""
    return digest([f for f in sources() if f.startswith(BENCH_SRC + os.sep)])


def classes():
    """Compile if needed; return the class directory."""
    srcs = sources()
    jars = spark_jars()
    stamp = digest(srcs + [os.path.abspath(__file__)])
    out = os.path.join(build_dir(), "classes")
    stamp_file = os.path.join(build_dir(), "classes.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return out
    # compile beside the live class directory and swap it in at the end
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    scalac_cp = []
    for n in ("compiler", "library", "reflect"):
        found = glob.glob(os.path.join(jars, "scala-" + n + "-2.13*.jar"))
        if not found:
            raise BuildError("no scala-%s-2.13 jar in %s" % (n, jars))
        scalac_cp.append(found[0])
    args_file = os.path.join(build_dir(), "scalac.args")
    with open(args_file, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", os.pathsep.join(scalac_cp), "scala.tools.nsc.Main",
           "-nowarn", "-classpath", os.path.join(jars, "*"), "-d", tmp, "@" + args_file]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return out


if __name__ == "__main__":
    try:
        print(classes())
    except BuildError as e:
        print(e, file=sys.stderr)
        sys.exit(1)
