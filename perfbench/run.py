"""End-to-end benchmark of klinkerspark's user-facing entry points.

    python3 perfbench/run.py --workload er_token --seed 1 --seconds 20 --trace 0

Builds the program from source (perfbench/build.py), generates the
workload's inputs from the seed (perfbench/gen.py), runs the workload in one
JVM on local[nproc] (perfbench/scala/Main.scala), checks its outputs, and
prints as the last line of stdout one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

`--trace 0` reports the end-to-end metrics of untraced passes; `--trace 1`
reports the per-layer metrics of traced passes. `--workload all` runs every
workload in turn and prints a table of the end-to-end metrics with the
error rate of each. See perfbench/README.md for the workloads and metrics.
"""

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # write nothing next to the sources
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

WORKLOADS = ["er_token", "curate_stream"]

# Input sizes, chosen so that one pass takes a few seconds on 4 cores.
KG_ENTITIES = 2000       # per side
EMBED_K = 5              # k of the --compare embedding-knn report
STREAM_DOCS = 2000       # cut into STREAM_WAVES files
STREAM_WAVES = 2
# A fixed heap with a fixed young generation: resident memory is then a
# steady base plus the old generation's high-water mark, not the GC's
# adaptive sizing of the moment.
JVM_HEAP = "3g"
JVM_YOUNG = "1g"
RUN_LIMIT_S = 170        # a run must end within 180 s

END_TO_END = [
    ("setup_s", "s"), ("wall_s", "s"), ("throughput_rps", "1/s"), ("cpu_s", "s"),
    ("peak_rss_mb", "MB"), ("wave_p50_s", "s"), ("recall", "ratio"), ("reduction_ratio", "ratio"),
]
SPANS = ["load", "assign", "write", "eval", "encode", "knn", "verdicts", "funnel",
         "decontam", "wave"]
SPAN_COUNTS = [("s", "s"), ("self_s", "s"), ("no_task_s", "s"), ("tasks", "count"),
               ("cpu_s", "s"), ("shuffle_write_mb", "MB"),
               ("max_task_shuffle_records", "count"), ("spill_mb", "MB")]
PER_LAYER = [(f"{s}.{m}", u) for s in SPANS for m, u in SPAN_COUNTS] + [
    ("load.rows", "count"), ("load.input_mb", "MB"),
    ("assign.blocks", "count"), ("assign.max_block_pairs", "count"),
    ("write.mb", "MB"),
    ("eval.candidate_pairs", "count"), ("eval.precision", "ratio"),
    ("encode.rows", "count"), ("encode.misses", "count"),
    ("verdicts.rows", "count"), ("funnel.rows", "count"),
    ("decontam.hits", "count"),
    ("wave.trigger_ms", "ms"), ("wave.state_rows", "count"), ("wave.state_mem_mb", "MB"),
    ("wave.commit_ms", "ms"), ("wave.rows_per_s", "1/s"),
    ("kernel.tokenize.rps", "1/s"), ("kernel.dot.rps", "1/s"),
    ("kernel.tag.rps", "1/s"), ("kernel.ngram.rps", "1/s"),
    ("spark.gc_s", "s"), ("spark.failed_tasks", "count"),
    ("trace.traced_wall_s", "s"), ("trace.untraced_wall_s", "s"),
    ("trace.overhead_s", "s"), ("trace.unaccounted_share", "ratio"),
]

ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def cpus():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def cpu_steal_ticks():
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) if len(fields) > 8 else 0


def loadavg():
    with open("/proc/loadavg") as f:
        return f.read().split()[:3]


def calibration_s():
    """Seconds for a fixed single-threaded CPU task (sha256 over 64 MB), the
    median of three: a host that is slow right now shows here, whatever
    the program does."""
    block = b"\0" * (1 << 20)
    times = []
    for _ in range(3):
        t0 = time.perf_counter()
        h = hashlib.sha256()
        for _ in range(64):
            h.update(block)
        times.append(time.perf_counter() - t0)
    return round(sorted(times)[1], 4)


def git_sha():
    try:
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True,
                           timeout=10)
        return r.stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def generate(workload, seed, inputs, threads):
    """Write the workload's inputs; return (input properties, JVM params)."""
    import gen
    import pyarrow as pa
    pa.set_cpu_count(threads)
    pa.set_io_thread_count(threads)
    if workload == "er_token":
        kg = gen.kg_pair(seed, KG_ENTITIES)
        props = gen.write_oaei(kg, os.path.join(inputs, "oaei"), threads)
        params = {"pairs": props["token_candidate_pairs"], "tp": props["token_true_positives"],
                  "k": EMBED_K, "records": 2 * KG_ENTITIES}
    else:
        docs, bench, expect, props = gen.corpus(seed, STREAM_DOCS)
        props = gen.write_corpus(docs, bench, expect, props, inputs, STREAM_WAVES)
        params = {"records": docs.num_rows}
    return props, params


def run_jvm(args, work, inputs, params, classes, jars, n_cpus, deadline):
    cmd = ["java", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", f"-Xmn{JVM_YOUNG}", "-Xss4m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{classes}{os.pathsep}{os.path.join(jars, '*')}", "perfbench.Main",
            "--workload", args.workload, "--inputs", inputs, "--work", work,
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--cpus", str(n_cpus)]
    for k, v in params.items():
        cmd += ["--param", f"{k}={v}"]
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    with open(os.path.join(work, "jvm.log"), "w") as err:
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, text=True, cwd=work)
        try:
            out, _ = p.communicate(timeout=max(1, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise RuntimeError("the JVM did not finish in time")
    for line in out.splitlines():
        if line.startswith("PERFBENCH "):
            return json.loads(line[len("PERFBENCH "):])
    with open(os.path.join(work, "jvm.log")) as f:
        tail = f.read()[-4000:]
    raise RuntimeError(f"the JVM exited with {p.returncode} and no result:\n{tail}")


def one(args):
    t_start = time.time()
    deadline = t_start + RUN_LIMIT_S
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        sys.exit("run: the program's sources (src/main/scala) are not in this checkout")
    import build
    build_dir = os.path.join(ROOT, ".bench_build")
    os.makedirs(build_dir, exist_ok=True)
    classes, jars, digest = build.build(build_dir)
    # a first run may spend up to 900 s building; the run itself still
    # gets its full time limit
    deadline = max(deadline, time.time() + RUN_LIMIT_S - 10)

    n_cpus = cpus()
    work = os.path.join(build_dir, "work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    inputs = os.path.join(work, "inputs")
    os.makedirs(inputs)
    t0 = time.time()
    props, params = generate(args.workload, args.seed, inputs, n_cpus)
    gen_s = time.time() - t0

    steal0, load0, calib0 = cpu_steal_ticks(), loadavg(), calibration_s()
    res = run_jvm(args, work, inputs, params, classes, jars, n_cpus, deadline)
    steal1, load1, calib1 = cpu_steal_ticks(), loadavg(), calibration_s()
    hz = os.sysconf("SC_CLK_TCK")
    host = {"cpus": n_cpus, "loadavg_before": load0, "loadavg_after": load1,
            "cpu_steal_s": round((steal1 - steal0) / hz, 3),
            "calibration_s_before": calib0, "calibration_s_after": calib1,
            "heap": JVM_HEAP, "young": JVM_YOUNG,
            "git_sha": git_sha(), "source_digest": digest[:16], "seed": args.seed,
            "workload": args.workload, "trace": args.trace, "generate_s": round(gen_s, 3)}
    print(json.dumps({"host": host}))
    print(json.dumps({"inputs": props}))
    print(json.dumps({"info": res["info"], "failures": res["failures"]}))
    if args.trace:
        shutil.copy(os.path.join(work, "spans.jsonl"), os.path.join(build_dir, f"spans-{args.workload}.jsonl"))
    shutil.rmtree(work, ignore_errors=True)

    got = res["metrics"]
    spec = PER_LAYER if args.trace else END_TO_END
    metrics = {}
    complete = True
    for name, unit in spec:
        v = got.get(name)
        if v is None:
            if not args.trace:
                complete = False
                continue
            v = 0.0  # a layer this workload never calls
        metrics[name] = {"value": v, "unit": unit}
    return {"correct": res["failed"] == 0 and complete, "attempted": res["attempted"],
            "failed": res["failed"], "metrics": metrics}


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    if args.workload != "all":
        print(json.dumps(one(args)))
        return
    rows = []
    for w in WORKLOADS:
        r = one(argparse.Namespace(**{**vars(args), "workload": w}))
        print(json.dumps(r))
        rows.append((w, r))
    for w, r in rows:
        print(f"\n{w}: error_rate {r['failed'] / r['attempted']:.3f} "
              f"({r['failed']} of {r['attempted']} passes failed or wrong)")
        for k, m in r["metrics"].items():
            print(f"  {k:32s} {m['value']:>16.6g} {m['unit']}")
    ok = all(r["correct"] for _, r in rows)
    print(json.dumps({"correct": ok, "attempted": sum(r["attempted"] for _, r in rows),
                      "failed": sum(r["failed"] for _, r in rows), "metrics": {}}))


if __name__ == "__main__":
    main()
