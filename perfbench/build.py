"""Build file of the benchmark package.

Compiles the program (`src/main/scala`) and the benchmark
(`perfbench/src`) from source with the Scala compiler that ships among the
Spark jars, into `<out>/classes/{main,bench}.jar`, then dumps a class-data
sharing archive (`app.jsa`) of the classes in `classes.lst.gz` over that
class path. The archive only shortens JVM and Spark start-up and the first
execution of each code path, which every run repeats: ~10 s of a ~48 s
run on a 4-vCPU VM. A build is reused while the hash of every source file,
of the class list and of the jar list is unchanged.

`classes.lst.gz` merges the `-XX:DumpLoadedClassList` output of one run of
each workload, with the ` id: N` suffixes dropped and duplicates removed.
Classes it names that no longer exist are skipped by the dump, and classes
it misses load as usual, so a stale list costs start-up time, never
correctness. If the dump fails, runs go without the archive.
"""
import glob
import gzip
import hashlib
import os
import re
import shutil
import subprocess
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
CLASS_LIST = os.path.join(HERE, "classes.lst.gz")


def spark_jars(root):
    """Spark's jar directory: $SPARK_HOME/jars, else the program's own
    `unmanagedBase` in build.sbt."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(root, "build.sbt")
    if os.path.exists(sbt):
        with open(sbt) as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    raise SystemExit("perfbench: no Spark jar directory (set SPARK_HOME)")


def _sources(d):
    return sorted(glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))


def _digest(files, jars):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    with open(CLASS_LIST, "rb") as fh:
        h.update(hashlib.sha256(fh.read()).digest())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    return h.hexdigest()


def _scalac(jars, classpath, out, files, log):
    """Compile `files` into the jar `out`."""
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = tmp + ".args"
    with open(argfile, "w") as fh:
        fh.write("\n".join(files))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
           "-classpath", classpath, "@" + argfile]
    with open(log, "a") as lf:
        rc = subprocess.call(cmd, stdout=lf, stderr=subprocess.STDOUT)
    os.remove(argfile)
    if rc != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise SystemExit(f"perfbench: compile failed, see {log}")
    _jar(out, [tmp])
    shutil.rmtree(tmp)


def _jar(path, dirs):
    """Zip the files under `dirs` into the jar `path`: the archive dump
    takes classes from jars only."""
    with zipfile.ZipFile(path + ".part", "w", zipfile.ZIP_DEFLATED) as z:
        for d in dirs:
            for base, _, names in os.walk(d):
                for n in sorted(names):
                    f = os.path.join(base, n)
                    z.write(f, os.path.relpath(f, d))
    os.replace(path + ".part", path)


def _dump_archive(classpath, archive, log):
    """Dump the class-data sharing archive; False if the dump fails."""
    lst = archive + ".lst"
    with gzip.open(CLASS_LIST, "rb") as src, open(lst, "wb") as dst:
        shutil.copyfileobj(src, dst)
    if os.path.exists(archive):
        os.remove(archive)
    cmd = ["java", "-Xshare:dump", "-Xmx3g", f"-XX:SharedClassListFile={lst}",
           f"-XX:SharedArchiveFile={archive}", "-cp", classpath]
    with open(log, "a") as lf:
        rc = subprocess.call(cmd, stdout=lf, stderr=subprocess.STDOUT)
    os.remove(lst)
    if rc != 0 and os.path.exists(archive):
        os.remove(archive)
    return rc == 0


def build(root, out):
    """Compile what changed; return the runtime classpath and the JVM
    options that use the archive (none when its dump failed)."""
    main_src = os.path.join(root, "src", "main", "scala")
    if not os.path.isdir(main_src):
        raise SystemExit(f"perfbench: no program sources under {main_src}")
    jars = spark_jars(root)
    jar_cp = os.path.join(jars, "*")
    classes = os.path.join(out, "classes")
    os.makedirs(classes, exist_ok=True)
    log = os.path.join(out, "build.log")
    main_files = _sources(main_src)
    bench_files = _sources(os.path.join(HERE, "src"))
    resources = os.path.join(root, "src", "main", "resources")
    stamp = os.path.join(classes, "stamp")
    digest = _digest(main_files + bench_files, jars)
    main_jar = os.path.join(classes, "main.jar")
    bench_jar = os.path.join(classes, "bench.jar")
    res_jar = os.path.join(classes, "resources.jar")
    archive = os.path.join(classes, "app.jsa")
    cp = os.pathsep.join([bench_jar, main_jar]
                         + ([res_jar] if os.path.isdir(resources) else []) + [jar_cp])
    if not (os.path.exists(stamp) and open(stamp).read() == digest):
        if os.path.exists(stamp):
            os.remove(stamp)
        _scalac(jars, jar_cp, main_jar, main_files, log)
        _scalac(jars, main_jar + os.pathsep + jar_cp, bench_jar, bench_files, log)
        if os.path.isdir(resources):
            _jar(res_jar, [resources])
        _dump_archive(cp, archive, log)
        with open(stamp, "w") as fh:
            fh.write(digest)
    opts = [f"-XX:SharedArchiveFile={archive}"] if os.path.exists(archive) else []
    return cp, opts
