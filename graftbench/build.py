"""Build file of the graft benchmark.

1. Compile the program's sources (src/main/scala) together with the
   benchmark's own (graftbench/src), with the Scala compiler that ships in
   the Spark distribution, and package them as .bench_build/graftbench/graftbench.jar.
2. Record a class-data-sharing archive (app.jsa) from one short run of every
   workload, so each measured JVM maps the classes it loads instead of
   parsing them again. Without the archive, about 7 s of every run goes to
   class loading on a 4-core box. If recording fails, runs go on without it.

A content hash of every source file is kept with the outputs, so an
unchanged tree is not rebuilt.

    python3 graftbench/build.py        # from the repository root
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "graftbench")


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        raise SystemExit("graftbench: no Spark distribution found "
                         "(set SPARK_HOME or put spark-submit on PATH)")
    return home


def sources():
    prog = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(os.path.join(prog, "graft")):
        raise SystemExit(f"graftbench: program sources not found under {prog}")
    files = sorted(glob.glob(os.path.join(prog, "**", "*.scala"), recursive=True))
    files += sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    return files


def digest_of(files):
    """sha256 over the compiled sources plus this build file and the
    generator the archive is recorded with."""
    h = hashlib.sha256()
    for f in files + [os.path.join(HERE, "build.py"), os.path.join(HERE, "gen.py")]:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


XMX = "2g"
CORES = 4
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
JAR = os.path.join(OUT, "graftbench.jar")
ARCHIVE = os.path.join(OUT, "app.jsa")


def java_command(run_dirs, tmp, extra=()):
    """The JVM that runs graftbench.Main over `run_dirs`: local[CORES] with
    -Xmx XMX, Spark's scratch space and logs kept under `tmp`."""
    # no hsperfdata file: the JVM would write it outside the checkout
    cmd = ["java", f"-Xmx{XMX}", "-XX:-UsePerfData", *extra]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [
        f"-Djava.io.tmpdir={tmp}",
        f"-Dspark.local.dir={tmp}",
        f"-Dspark.sql.warehouse.dir={os.path.join(tmp, 'warehouse')}",
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
        "-cp", JAR + os.pathsep + os.path.join(spark_home(), "jars", "*"),
        "graftbench.Main", *run_dirs,
    ]
    return cmd


def java_env():
    return dict(os.environ, SPARK_GRAFT_CPUS=str(CORES))


def write_spec(run_dir, spec):
    with open(os.path.join(run_dir, "spec.properties"), "w") as f:
        for k, v in spec.items():
            f.write(f"{k}={v}\n")


def record_archive(log):
    """One short traced pass of each workload in a single JVM, dumping the
    classes it loaded into ARCHIVE at exit."""
    import gen
    train = os.path.join(OUT, "train")
    shutil.rmtree(train, ignore_errors=True)
    dirs = []
    for w in ("serve", "curate"):
        d = os.path.join(train, w)
        inputs = gen.generate(w, 0, os.path.join(d, "input"))
        write_spec(d, {"workload": w, "trace": "0", "ops": "1", "setup_reps": "1",
                       "warmup_ops": "1", "probe_copies": "1",
                       "max_steal": "1", "max_remeasures": "0",
                       "sample_n": str(gen.SERVE_SAMPLE), "sample_seed": "0",
                       "pipeline_query": inputs.get("pipeline_query", "")})
        dirs.append(d)
    print("graftbench: recording the class-data-sharing archive", file=log, flush=True)
    tmp = os.path.join(train, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = java_command(dirs, tmp, [f"-XX:ArchiveClassesAtExit={ARCHIVE}"])
    try:
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                              env=java_env(), cwd=train, timeout=600)
        ok = proc.returncode == 0 and os.path.exists(ARCHIVE)
    except subprocess.TimeoutExpired:
        ok = False
    if not ok:
        print("graftbench: archive not recorded; runs load classes from the jars",
              file=log, flush=True)
        if os.path.exists(ARCHIVE):
            os.remove(ARCHIVE)
    shutil.rmtree(train, ignore_errors=True)


def ensure_built(log=sys.stderr):
    """Compile, package and record the archive if the sources changed since
    the last build; return the sources' sha256."""
    files = sources()
    digest = digest_of(files)
    stamp = os.path.join(OUT, "sources.sha256")
    if os.path.exists(stamp) and open(stamp).read().strip() == digest:
        return digest
    shutil.rmtree(OUT, ignore_errors=True)
    classes = os.path.join(OUT, "classes")
    os.makedirs(classes)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(files) + "\n")
    print(f"graftbench: compiling {len(files)} sources", file=log, flush=True)
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", os.path.join(spark_home(), "jars", "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", classes, "@" + argfile]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                          text=True, timeout=840)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:])
        raise SystemExit("graftbench: compile failed")
    # a class-data-sharing archive only covers classes loaded from jars
    with zipfile.ZipFile(JAR, "w", zipfile.ZIP_DEFLATED) as z:
        for dirpath, _, names in os.walk(classes):
            for n in sorted(names):
                full = os.path.join(dirpath, n)
                z.write(full, os.path.relpath(full, classes))
    shutil.rmtree(classes)
    record_archive(log)
    with open(stamp, "w") as f:
        f.write(digest + "\n")
    return digest


if __name__ == "__main__":
    ensure_built()
    print(JAR)
