"""End-to-end and per-layer benchmark of the graft vector database.

    python3 perfbench/run.py --workload vectors|curate \
        --seed N --seconds S --trace 0|1 [--repo DIR]

Builds the program from source (perfbench/build.py), runs one workload in
one JVM on local[nproc] and prints, as the last stdout line, one JSON
object {"correct", "attempted", "failed", "metrics"}. The line before it is
the environment stamp: core count, master, JVM heap, Spark/Scala/JDK
versions, git sha, seed, shapes, op parameters and per-op sample counts.
--trace 0 reports the end-to-end metrics of BENCHMARK.json; --trace 1 runs
the workload traced and reports the per-layer metrics, plus trace.overhead:
the traced ÷ untraced median wall time of the workload's round, replayed in
pairs (one round traced, one untraced, order alternating) on the same
state. Spans of a traced run are kept in .bench_build/traces/.

End-to-end metrics, per workload:
  setup_s            median wall seconds of two set-ups (vectors: corpus,
                     tree, pinned vectors, merged graph and its pin, IVF;
                     curate: corpus and shingle store)
  round_p50_ms       median wall ms of a closed-loop round (vectors: a
                     vicinity, an exact kNN and an ANN query on one held-out
                     vector; curate: pairs, clusters, curateWith and a
                     batch admitted against the shingle store)
  items_per_s        vectors: batch queries per second through searchJoin and
                     graphKnnJoin, median of at least four batches; curate:
                     corpus documents per second through pairs, clusters
                     and curateWith, median over rounds
  write_items_per_s  vectors: vectors appended and removed per second of
                     store writes, median of two churn rounds; curate: batch
                     documents per second through store admission, median
                     over rounds

--repo points at another checkout's program sources (used by ab.py); the
default is the checkout holding this file.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
HEAP = "3g"
JVM_TIMEOUT_S = 172


def git_sha(repo):
    try:
        return subprocess.run(["git", "-C", repo, "rev-parse", "HEAD"],
                              capture_output=True, text=True,
                              timeout=10).stdout.strip() or "none"
    except (OSError, subprocess.SubprocessError):
        return "none"


def expected_metrics(trace):
    spec_path = os.path.join(os.path.dirname(BENCH_DIR), "BENCHMARK.json")
    if not os.path.exists(spec_path):
        return None
    with open(spec_path) as f:
        spec = json.load(f)
    return {m["name"] for m in spec["per_layer" if trace else "end_to_end"]}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--repo", default=os.path.dirname(BENCH_DIR))
    a = ap.parse_args()
    repo = os.path.abspath(a.repo)
    classes = build.build(repo)
    out_root = os.path.join(repo, ".bench_build")
    work = os.path.join(out_root, "work",
                        f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    jars = os.path.join(build.spark_jars_dir(), "*")
    with open(os.path.join(out_root, "program.sha256")) as f:
        source_sha = f.read().strip()
    cmd = (["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
            "-Dlog4j2.configurationFile="
            + os.path.join(BENCH_DIR, "log4j2.properties")]
           + build.jvm_flags()
           + ["-cp", os.pathsep.join(classes + [jars]), "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--work", work,
              "--stamp", f"git_sha={git_sha(repo)}",
              "--stamp", f"source_sha256={source_sha}",
              "--stamp", f"java_heap={HEAP}"])
    t0 = time.time()
    try:
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True,
                              timeout=JVM_TIMEOUT_S, cwd=work)
    except subprocess.TimeoutExpired:
        sys.exit(f"perfbench: {a.workload} did not finish in {JVM_TIMEOUT_S} s")
    finally:
        spans = os.path.join(work, f"spans-{a.workload}.jsonl")
        if os.path.exists(spans):
            traces = os.path.join(out_root, "traces")
            os.makedirs(traces, exist_ok=True)
            shutil.copy(spans, os.path.join(
                traces, f"{a.workload}-seed{a.seed}.jsonl"))
        shutil.rmtree(work, ignore_errors=True)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.exit(f"perfbench: JVM exited with {proc.returncode}")
    result = json.loads(lines[-1])
    want = expected_metrics(a.trace)
    if want is not None and set(result["metrics"]) != want:
        sys.exit("perfbench: metrics differ from BENCHMARK.json: "
                 f"{sorted(set(result['metrics']) ^ want)}")
    print(f"perfbench: {a.workload} seed {a.seed} trace {a.trace} "
          f"took {time.time() - t0:.1f} s", file=sys.stderr)
    print("\n".join(lines[:-1]))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
