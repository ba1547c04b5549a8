"""Build file of the benchmark: compiles the program (src/main/scala) and the
benchmark's own sources (perfbench/src) with the Scala compiler that ships in
Spark's jar directory, into <repo>/.bench_build/{program,bench}.

Each stage is skipped when a content hash of its source files matches the
stamp left by its last successful build. Nothing is written outside
<repo>/.bench_build. run.py calls build() before every run.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))


def spark_jars_dir():
    """$SPARK_HOME/jars, else the jars/ beside the spark-submit on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not glob.glob(os.path.join(jars, "spark-core_*.jar")):
        sys.exit("perfbench: no Spark installation found (set SPARK_HOME)")
    return jars


def jvm_flags():
    """JDK 17 module opens Spark needs outside spark-submit, plus no
    hsperfdata file in the system temp dir."""
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
    flags = ["-XX:-UsePerfData"]
    for p in opens:
        flags += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    return flags


def digest(files, root):
    h = hashlib.sha256()
    for s in files:
        h.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def compile_stage(srcs, root, classpath, out, tmp):
    """scalac `srcs` into `out` unless the stamp beside it matches."""
    stamp = out + ".sha256"
    want = digest(srcs, root)
    if os.path.isdir(out) and os.path.exists(stamp):
        with open(stamp) as f:
            if f.read().strip() == want:
                return False
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    if os.path.exists(stamp):
        os.remove(stamp)
    jars = sorted(glob.glob(os.path.join(spark_jars_dir(), "*.jar")))
    compiler = [j for j in jars if os.path.basename(j).startswith(
        ("scala-compiler-", "scala-library-", "scala-reflect-"))]
    argfile = out + ".args"
    with open(argfile, "w") as f:
        f.write("\n".join(["-d", out, "-classpath",
                           os.pathsep.join(jars + classpath), "-nowarn"]
                          + srcs) + "\n")
    print(f"perfbench: compiling {len(srcs)} sources into {out}",
          file=sys.stderr)
    cmd = (["java", "-Xss8m", "-Xmx2g", f"-Djava.io.tmpdir={tmp}"]
           + jvm_flags() + ["-cp", os.pathsep.join(compiler),
                            "scala.tools.nsc.Main", "@" + argfile])
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        sys.exit(f"perfbench: compilation of {out} failed ({r.returncode})")
    with open(stamp, "w") as f:
        f.write(want + "\n")
    return True


def build(repo):
    """Compile what changed; return the class directories (program first)."""
    out_root = os.path.join(repo, ".bench_build")
    tmp = os.path.join(out_root, "tmp")
    os.makedirs(tmp, exist_ok=True)
    main = sorted(glob.glob(os.path.join(repo, "src/main/scala/**/*.scala"),
                            recursive=True))
    if not main:
        sys.exit(f"perfbench: no program sources under {repo}/src/main/scala")
    own = sorted(glob.glob(os.path.join(BENCH_DIR, "src/**/*.scala"),
                           recursive=True))
    program = os.path.join(out_root, "program")
    bench = os.path.join(out_root, "bench")
    if compile_stage(main, repo, [], program, tmp):
        shutil.rmtree(bench, ignore_errors=True)
    compile_stage(own, BENCH_DIR, [program], bench, tmp)
    return [program, bench]

