#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: pipeline_service, catalog_sf0.1 (see README.md).
The first run builds the engine and the harness from source (sbt,
offline) into perfbench/target; later runs reuse the build while the
sources are unchanged. Inputs are generated from the seed into
perfbench/.work and removed when the run ends. The harness JVM runs
the untimed set-up and warm-up, then a closed loop (one client) for
`--seconds` seconds of operations.

Prints environment lines, every metric by name with its unit, and as
the last line one JSON object {correct, attempted, failed, metrics}.
`--trace 0` reports the end-to-end metrics; `--trace 1` runs every
operation traced and untraced and reports the per-layer metrics. Exits
non-zero, without the JSON line, when it cannot build or run, and with
`correct: false` and exit code 1 when an output check fails.
"""
import argparse
import glob
import hashlib
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, os.path.join(BENCH, "gen"))

import check  # noqa: E402
import layers  # noqa: E402

WORKLOADS = ("pipeline_service", "catalog_sf0.1")
DEADLINE_S = 170          # the whole run, build excluded (limit: 180 s)
BUILD_DEADLINE_S = 600     # a first run may take 900 s in all
CATALOG_DRAW_SEED = 0
JAVA_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def fail(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def source_hash():
    h = hashlib.sha1()
    files = sorted(glob.glob(os.path.join(ROOT, "src", "main", "**", "*"), recursive=True)
                   + glob.glob(os.path.join(BENCH, "src", "**", "*"), recursive=True)
                   + [os.path.join(BENCH, "build.sbt"),
                      os.path.join(BENCH, "project", "build.properties")])
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("cannot find the Spark install (set SPARK_HOME)")
    return home


def build(env):
    """Compiles engine + harness once per source state; returns the classpath."""
    stamp = os.path.join(BENCH, "target", "bench-classpath.json")
    digest = source_hash()
    if os.path.exists(stamp):
        with open(stamp) as f:
            saved = json.load(f)
        if saved.get("hash") == digest:
            return saved["classpath"]
    os.makedirs(os.path.join(BENCH, "target"), exist_ok=True)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           f"-Dsbt.global.base={os.path.join(BENCH, 'target', 'sbt-global')}",
           "compile", "export Runtime/fullClasspath"]
    print("[perfbench] building engine + harness (sbt compile)", file=sys.stderr)
    try:
        res = subprocess.run(cmd, cwd=BENCH, env=env, capture_output=True, text=True,
                             timeout=BUILD_DEADLINE_S, stdin=subprocess.DEVNULL)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    classes = os.path.join(BENCH, "target", "scala-2.13", "classes")
    cps = [ln.strip() for ln in res.stdout.splitlines() if ln.strip().startswith(classes)]
    if res.returncode != 0 or not cps:
        sys.stderr.write(res.stdout[-4000:] + res.stderr[-2000:])
        fail("build failed")
    with open(stamp, "w") as f:
        json.dump({"hash": digest, "classpath": cps[-1]}, f)
    return cps[-1]


def heap_gb():
    """Half of MemTotal, clamped to 2..6 GiB."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:"))
        return max(2, min(6, kb // (2 * 1024 * 1024)))
    except (OSError, StopIteration, ValueError):
        return 2


def loadavg():
    try:
        with open("/proc/loadavg") as f:
            return " ".join(f.read().split()[:3])
    except OSError:
        return "n/a"


def catalog_queries():
    """The catalog_sf0.1 query set: `share` entries from every (module,
    cost class) stratum of catalog_pool.tsv, drawn once with a fixed
    draw seed. The workload seed only orders them and generates the
    tables: a set redrawn per seed moved ops_per_s by a third between
    seeds, far more than any change the benchmark must resolve."""
    strata = {}
    with open(os.path.join(BENCH, "catalog_pool.tsv")) as f:
        for ln in f:
            if ln.strip() and not ln.startswith("#"):
                name, module, cls, share = ln.rstrip("\n").split("\t")[:4]
                strata.setdefault((module, cls), (int(share), []))[1].append(name)
    rng = random.Random(CATALOG_DRAW_SEED)
    return [n for key in sorted(strata)
            for n in rng.sample(sorted(strata[key][1]), strata[key][0])]


def prepare(workload, seed, work):
    """Generates the seeded inputs; returns (data dir, ops file)."""
    data = os.path.join(work, "data")
    ops = os.path.join(work, "ops.txt")
    if workload == "pipeline_service":
        import pipeline
        ops = os.path.join(work, "plans.jsonl")
        pipeline.generate(ops, seed)
        return data, ops
    import tables
    tables.generate(data, seed, sf=0.1)
    # a pass runs every query three times, in three seeded orders: the
    # median of 27 short queries moves far less between runs than the
    # median of 9
    rng = random.Random(seed)
    queries = catalog_queries()
    names = [n for _ in range(3) for n in rng.sample(queries, len(queries))]
    with open(ops, "w") as f:
        f.write("\n".join(names) + "\n")
    return data, ops


def inputs_line(workload, res):
    if workload == "pipeline_service":
        import pipeline
        return (f"passes of a {pipeline.SMALL_REQUESTS}-request small run (20-250 rows per "
                f"request) and a wide run ({pipeline.WIDE_PRICE_ROWS} x "
                f"{pipeline.WIDE_ECON_ROWS} rows scored pairwise)")
    names = sorted({o["name"] for o in res["ops"]})
    return f"sf=0.1 tables (600000 lineitem rows); {len(names)} queries: {' '.join(names)}"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # a SIGTERM unwinds like an exit, so the harness JVM is stopped and
    # the work directory removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("engine sources (src/main/scala) not found next to perfbench/")
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env["SPARK_HOME"] = spark_home()
    classpath = build(env)

    t_start = time.time()
    work = os.path.join(BENCH, ".work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "spark-local"))
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    nproc = len(os.sched_getaffinity(0))
    heap = heap_gb()
    print(f"[env] start nproc={nproc} heap={heap}g loadavg={loadavg()} "
          f"workload={a.workload} seed={a.seed} seconds={a.seconds} trace={a.trace}")
    try:
        data, ops = prepare(a.workload, a.seed, work)
        # write the inputs back now, not while the harness is timing
        os.sync()
        out = os.path.join(work, "result.json")
        java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
            if os.environ.get("JAVA_HOME") else "java"
        cmd = [java, f"-Xmx{heap}g", "-XX:+ExplicitGCInvokesConcurrent",
               "-Dderby.system.durability=test",
               f"-Dderby.stream.error.file={os.path.join(work, 'derby.log')}"]
        for p in JAVA_OPENS:
            cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
        cmd += ["-cp", classpath, "graftbench.Main",
                "--workload", a.workload, "--data", data, "--work", work, "--ops", ops,
                "--seconds", str(a.seconds), "--trace", str(a.trace), "--nproc", str(nproc),
                "--out", out, "--launch-ms", str(int(time.time() * 1000))]
        budget = DEADLINE_S - (time.time() - t_start)
        log = os.path.join(work, "jvm.log")
        with open(log, "w") as lf:
            proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=lf, stderr=subprocess.STDOUT,
                                    stdin=subprocess.DEVNULL)
            try:
                proc.wait(timeout=budget)
            except subprocess.TimeoutExpired:
                fail(f"harness exceeded the {DEADLINE_S}s deadline", 3)
            finally:
                if proc.poll() is None:
                    proc.kill()
                    proc.wait()
        if proc.returncode != 0 or not os.path.exists(out):
            with open(log) as lf:
                sys.stderr.write(lf.read()[-4000:])
            fail(f"harness exited with {proc.returncode}", 3)
        with open(out) as f:
            res = json.load(f)
        problems = list(res["warmup_errors"])
        if a.workload != "pipeline_service":
            t_check = time.time()
            problems += check.verify_dumps(res["warmup_dumps"], data)
            print(f"[check] oracle checks took {time.time() - t_check:.1f} s")
        if a.trace:
            kept = os.path.join(BENCH, ".work", f"trace-{a.workload}-{a.seed}.json")
            shutil.copyfile(out, kept)
            print(f"[trace] spans and counters written to {os.path.relpath(kept, ROOT)}")
        report(a, res, problems, nproc, heap)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def report(a, res, problems, nproc, heap):
    ops = res["ops"]
    failed = [o for o in ops if not o["ok"]]
    for p in problems:
        print(f"[check] FAIL {p}")
    for o in failed:
        print(f"[op] FAIL {o['name']}: {o['error']}")
    untraced = [o for o in ops if not o["traced"]]
    lat = [o["latency_s"] for o in untraced]
    print(f"[env] end nproc={nproc} heap={heap}g (granted {res['heap_mb']:.0f} MiB) "
          f"java={res['java_version']} spark={res['spark_version']} loadavg={loadavg()}")
    print(f"[setup] setup_s={res['setup_s']:.3f} boot_s={res['boot_s']:.3f} "
          f"load_s={res['load_s']:.3f} warmup_s={res['warmup_s']:.3f}")
    print(f"[inputs] {inputs_line(a.workload, res)}")
    print(f"[loop] wall {res['loop_s']:.3f} s; operations cover "
          f"{sum(o['latency_s'] for o in ops):.3f} s, the rest is resets and checks")
    kinds = {}
    for o in untraced:
        kinds.setdefault(o["kind"], []).append(o["latency_s"])
    for k, v in sorted(kinds.items()):
        print(f"[ops] {k}: n={len(v)} p50={statistics.median(v):.3f}s max={max(v):.3f}s")
    print("[ops] latencies: " + " ".join(f"{o['name']}={o['latency_s']:.3f}" for o in untraced))
    tail = layers.tail(lat)
    if tail:
        print(f"[ops] latency_tail_s={tail[0]:.4f} s at p{tail[1]:.0f} (n={len(lat)}, "
              f"{len(lat) - tail[2]} samples beyond)")
    else:
        print(f"[ops] latency_tail_s omitted: n={len(lat)} cannot put 10 samples beyond a "
              "percentile above the median")
    print(f"[ops] failed_frac={len(failed) / max(1, len(ops)):.4f} "
          f"({len(failed)} of {len(ops)} attempted)")

    if a.trace:
        metrics = layers.per_layer(res, nproc)
        for line in layers.table(res):
            print(line)
    else:
        busy = sum(lat)
        metrics = {
            "setup_s": (res["setup_s"], "s"),
            "ops_per_s": (len(lat) / busy if busy else 0.0, "1/s"),
            "latency_p50_s": (statistics.median(lat), "s"),
        }
    for k, (v, unit) in metrics.items():
        print(f"[metric] {k} = {v:.6g} {unit}")
    correct = not problems and not failed
    print(json.dumps({
        "correct": correct,
        "attempted": len(ops),
        "failed": len(failed),
        "metrics": {k: {"value": v, "unit": unit} for k, (v, unit) in metrics.items()},
    }))
    sys.stdout.flush()
    if not correct:
        sys.exit(1)


if __name__ == "__main__":
    main()
