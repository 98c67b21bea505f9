"""Build file of the benchmark package.

Compiles the program (`src/main/scala` of the checkout) and the benchmark
(`perfbench/src`, plus `perfbench/test` for the self-tests) with the Scala
compiler that ships among the Spark jars, packs each into a jar under
`.bench_build/jars`, and records a class-data-sharing archive of the
classes a short warm pass loads (`.bench_build/app.jsa`), so no run pays
for class loading from the jars. Nothing is written outside the checkout.
Each unit's stamp hashes its sources, its classpath and the stamps of
the units it compiles against (the program's stamp also hashes its
resources), so a changed program always recompiles the benchmark
against it, and a second call is a no-op when nothing changed.

    python3 perfbench/build.py          # build program + benchmark
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile

ROOT = os.getcwd()
OUT = os.path.join(ROOT, ".bench_build")
HERE = os.path.dirname(os.path.abspath(__file__))


class BuildError(Exception):
    pass


def spark_jars():
    """The Spark jar directory the program's own build declares
    (`unmanagedBase` in build.sbt), else $SPARK_HOME/jars."""
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.isfile(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    raise BuildError("no Spark jars: build.sbt names none and SPARK_HOME is unset")


def files(d, suffix=""):
    out = []
    for base, _, names in os.walk(d):
        out += [os.path.join(base, f) for f in names if f.endswith(suffix)]
    return sorted(out)


def sources(d):
    return files(d, ".scala")


def digest(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


# Spark on JDK 17 outside spark-submit needs these (as the program's build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
ARCHIVE = os.path.join(OUT, "app.jsa")


def java_cmd(classpath, main, args, cds_flag=None):
    """The JVM command of every run; `cds_flag` replaces the default use
    of the class archive (the build passes the flag that writes it)."""
    tmp = os.path.join(OUT, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opts = [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS]
    opts += ["-Xms2g", "-Xmx2g", "-Xss4m", "-Duser.timezone=UTC", f"-Djava.io.tmpdir={tmp}",
             "-Dspark.ui.enabled=false", "-Xlog:disable", "-Xlog:all=warning:stderr",
             "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties")]
    if cds_flag:
        opts.append(cds_flag)
    elif os.path.isfile(ARCHIVE):
        opts.append("-XX:SharedArchiveFile=" + ARCHIVE)
    return ["java"] + opts + ["-cp", classpath, main] + args


def pack(name):
    """Jar a compiled unit unless its jar is current (class-data sharing
    archives jars only, and checks their size and time). Returns whether
    the jar was rewritten."""
    classes = os.path.join(OUT, "classes", name)
    want = open(classes + ".stamp").read()
    dest = os.path.join(OUT, "jars", name + ".jar")
    if os.path.isfile(dest) and os.path.isfile(dest + ".stamp") and open(dest + ".stamp").read() == want:
        return False
    os.makedirs(os.path.dirname(dest), exist_ok=True)
    with zipfile.ZipFile(dest, "w", zipfile.ZIP_STORED) as z:
        for base, _, files in sorted(os.walk(classes)):
            for f in sorted(files):
                p = os.path.join(base, f)
                z.write(p, os.path.relpath(p, classes))
    with open(dest + ".stamp", "w") as f:
        f.write(want)
    return True


def stamp_of(name):
    with open(os.path.join(OUT, "classes", name + ".stamp")) as f:
        return f.read()


def compile_unit(name, srcs, classpath, log, inputs=()):
    """Compile one unit into .bench_build/classes/<name>; skip if its
    stamp matches. `inputs` are further strings the stamp covers: the
    stamps of the units on `classpath` and any resource digest. Returns
    the output directory."""
    if not srcs:
        raise BuildError(f"no sources for {name}")
    dest = os.path.join(OUT, "classes", name)
    stamp = os.path.join(OUT, "classes", name + ".stamp")
    want = "\n".join([digest(srcs), classpath] + [hashlib.sha256(i.encode()).hexdigest() for i in inputs])
    if os.path.isfile(stamp) and open(stamp).read() == want:
        return dest
    shutil.rmtree(dest, ignore_errors=True)
    os.makedirs(dest)
    argfile = os.path.join(OUT, "classes", name + ".args")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(spark_jars(), "*"),
           "scala.tools.nsc.Main", "-nowarn", "-deprecation:false",
           "-d", dest, "-classpath", classpath, "@" + argfile]
    with open(log, "a") as lf:
        rc = subprocess.call(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=ROOT)
    if rc != 0:
        raise BuildError(f"scalac failed for {name} (see {log})")
    with open(stamp, "w") as f:
        f.write(want)
    return dest


def build(with_tests=False):
    """Build and return the runtime classpath string."""
    main_src = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(main_src):
        raise BuildError("no program sources (src/main/scala) in this directory")
    os.makedirs(os.path.join(OUT, "classes"), exist_ok=True)
    log = os.path.join(OUT, "build.log")
    spark = sorted(os.path.join(spark_jars(), j) for j in os.listdir(spark_jars()) if j.endswith(".jar"))
    res = os.path.join(ROOT, "src", "main", "resources")
    main = compile_unit("main", sources(main_src), os.pathsep.join(spark), log,
                        [digest(files(res))])
    if os.path.isdir(res):
        shutil.copytree(res, main, dirs_exist_ok=True)
    bench = compile_unit("bench", sources(os.path.join(HERE, "src")),
                         os.pathsep.join([main] + spark), log, [stamp_of("main")])
    repacked = [pack("main"), pack("bench")]
    cp = [os.path.join(OUT, "jars", u + ".jar") for u in ("bench", "main")] + spark
    if any(repacked):
        archive(os.pathsep.join(cp), log)
    if with_tests:
        compile_unit("test", sources(os.path.join(HERE, "test")),
                     os.pathsep.join([bench, main] + spark), log, [stamp_of("bench")])
        pack("test")
        cp.insert(0, os.path.join(OUT, "jars", "test.jar"))
    return os.pathsep.join(cp)


def archive(classpath, log):
    """Record the class archive from one warm pass; a failed pass leaves
    no archive and runs simply load classes from the jars."""
    if os.path.isfile(ARCHIVE):
        os.remove(ARCHIVE)
    work = os.path.join(OUT, "warm")
    shutil.rmtree(work, ignore_errors=True)
    cmd = java_cmd(classpath, "perfbench.Main", ["--warm", work],
                   cds_flag="-XX:ArchiveClassesAtExit=" + ARCHIVE)
    with open(log, "a") as lf:
        if subprocess.call(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=ROOT) != 0 and os.path.isfile(ARCHIVE):
            os.remove(ARCHIVE)
    shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    try:
        print(build(with_tests="--tests" in sys.argv))
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
