#!/usr/bin/env python3
"""graft benchmark: time full query results end to end and layer by layer.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the engine and the
benchmark driver with sbt and generates the input corpus; later runs reuse
both until a source file changes. One engine JVM runs one workload with a
fixed local[k] and one operation at a time. With --trace 0 the last line of
standard output is a JSON object with the end-to-end metrics, with
--trace 1 the per-layer metrics. See perfbench/README.md.

    python3 perfbench/run.py --steady <runs> --workload <name> [--trace <0|1>]
        repeats a workload over seeds 1..runs and prints each metric's
        median, quartiles and spread beside its bound.
    python3 perfbench/run.py --record <workload>
        runs every operation of the workload's population once and writes
        the reference digests (see README.md).
"""
import argparse
import hashlib
import json
import os
import signal
import socket
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import corpus  # noqa: E402
import stats  # noqa: E402

ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
STORE = os.path.join(WORK, "store")
DIGESTS = os.path.join(HERE, "digests.json")

# Corpus scale per workload (sf1 = 6M lineitem rows). The scale keeps one
# run of every workload inside the time a run may take; README.md gives the
# reasons for each workload.
WORKLOADS = {
    "flagship_refresh": {"scale": 0.001},
    "query_mix": {"scale": 0.001},
    "publish_stream": {"scale": 0.001},
}
CORPUS_SEED = 42
CORES = max(1, min(4, os.cpu_count() or 1))
HEAP = "3g"
SETUP_ROUNDS = 3
RUN_LIMIT_S = 170
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=1):
    log(msg)
    sys.exit(code)


def machine_lock():
    """Holds a machine-wide lock for the life of this process, so no two
    benchmark runs overlap, from this checkout or any other. The lock is
    an abstract-namespace Unix socket: it touches no file and the kernel
    releases it when the process exits."""
    s = socket.socket(socket.AF_UNIX, socket.SOCK_STREAM)
    waited = 0.0
    while True:
        try:
            s.bind("\0graft-perfbench-lock")
            return s
        except OSError:
            if waited == 0.0:
                log("waiting for another benchmark run to finish")
            time.sleep(0.5)
            waited += 0.5


def run_child(cmd, log_path, timeout=None, **kw):
    """Runs a child process in its own process group with its output in
    `log_path`, and returns its exit code, or None when it ran past
    `timeout`. Whatever happens, the group is killed and reaped before this
    returns, so no process outlives the benchmark."""
    with open(log_path, "w") as logf:
        proc = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT, text=True,
                                start_new_session=True, **kw)
        try:
            return proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            return None
        finally:
            # also reaps anything the child left running in its group
            try:
                os.killpg(proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            proc.wait()


def source_files():
    """Every file the build reads: the engine's and the driver's."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def tree_hash(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def require_sources():
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and os.path.isdir(os.path.join(ROOT, "src"))):
        fail("no engine sources next to perfbench/ (build.sbt, src/): run from a full checkout")


def build():
    """Compiles engine and driver when any source changed; returns the
    runtime classpath."""
    stamp = tree_hash(source_files())
    cp_file = os.path.join(WORK, "classpath.txt")
    stamp_file = os.path.join(WORK, "build.stamp")
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip(), stamp
    log("building engine and driver with sbt")
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.isfile(repos):
        env["SBT_OPTS"] = (f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true -Xmx2g")
    build_log = os.path.join(WORK, "build.log")
    code = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                      "export Runtime/fullClasspath"], build_log, cwd=HERE, env=env)
    with open(build_log) as f:
        lines = [l for l in f.read().splitlines() if l.strip() and not l.startswith("[")]
    if code != 0 or not lines:
        fail(f"sbt build failed (exit {code}); see {os.path.relpath(build_log, ROOT)}")
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1].strip(), stamp


def corpus_dir(scale):
    """Generates the workload's corpus once per checkout."""
    with open(os.path.join(HERE, "corpus.py"), "rb") as f:
        gen = hashlib.sha256(f.read()).hexdigest()[:12]
    d = os.path.join(WORK, "corpus", f"sf{scale}-seed{CORPUS_SEED}")
    stamp = os.path.join(d, ".generator")
    if not (os.path.isfile(stamp) and open(stamp).read() == gen):
        log(f"generating corpus sf{scale}")
        corpus.write(d, scale, CORPUS_SEED)
        with open(stamp, "w") as f:
            f.write(gen)
    return d


def corpus_id(scale):
    return f"sf{scale}-seed{CORPUS_SEED}"


def empty_store():
    if os.path.isdir(STORE):
        for d, dirs, files in os.walk(STORE, topdown=False):
            for n in files:
                os.remove(os.path.join(d, n))
            for n in dirs:
                os.rmdir(os.path.join(d, n))
    os.makedirs(STORE, exist_ok=True)


def run_engine(classpath, workload, seed, seconds, trace, record=None):
    """Launches the engine JVM directly (not through sbt) and returns what
    it measured."""
    spec = WORKLOADS[workload]
    out = os.path.join(WORK, f"result-{workload}-{seed}-{trace}.json")
    if os.path.exists(out):
        os.remove(out)
    for d in ("tmp", "logs"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    opens = [x for p in JDK_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    cmd = (["java"] + opens + [f"-Xms{HEAP}", f"-Xmx{HEAP}",
                               f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
                               "-Dderby.stream.error.file=" + os.path.join(WORK, "logs", "derby.log"),
                               "-cp", classpath, "perfbench.Driver",
                               "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
                               "--trace", "1" if trace else "0", "--corpus", corpus_dir(spec["scale"]),
                               "--store", STORE, "--out", out, "--cores", str(CORES),
                               "--setups", str(SETUP_ROUNDS)])
    if record:
        cmd += ["--record", record]
    empty_store()
    logpath = os.path.join(WORK, "logs", f"engine-{workload}-{seed}-{int(trace)}.log")
    try:
        code = run_child(cmd + ["--launch-ns", str(time.time_ns())], logpath,
                         timeout=None if record else RUN_LIMIT_S, cwd=WORK)
    finally:
        empty_store()
    if code is None:
        fail(f"engine run exceeded {RUN_LIMIT_S} s; see {os.path.relpath(logpath, ROOT)}")
    if code != 0 or not os.path.isfile(out):
        fail(f"engine exited with {code}; see {os.path.relpath(logpath, ROOT)}")
    with open(out) as f:
        return json.load(f)


def load_json(path, default):
    if not os.path.isfile(path):
        return default
    with open(path) as f:
        return json.load(f)


def check(result, reference):
    """Each operation is correct when it raised nothing and its digest
    matches the reference digest of its query on this corpus."""
    ops = stats.ops_of(result["warmups"] + result["passes"] + result["probes"])
    bad = [op for op in ops if "error" in op or reference.get(op["name"]) != op["digest"]]
    return len(ops), bad


def provenance(result, seed, build_stamp, load_start):
    return {
        "nproc": os.cpu_count(), "k": result["cores"], "heap_mb": result["jvm"]["heap_mb"],
        "java": result["jvm"]["java"], "spark": result["jvm"]["spark"],
        "commit": commit(), "source_hash": build_stamp, "seed": seed,
        "loadavg_start": load_start, "loadavg_end": list(os.getloadavg()),
        "passes": len(result["passes"]), "ops": result["ops"],
    }


def commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except OSError:
        return None


def cpu_steal_s():
    """Seconds of CPU time the hypervisor gave to other guests, summed over
    CPUs (the steal column of /proc/stat; 0 where it is absent)."""
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


def bench(workload, seed, seconds, trace):
    """One benchmark run: prints a line per metric, the provenance block and,
    last, the result object."""
    if workload not in WORKLOADS:
        fail(f"unknown workload {workload!r}; one of {', '.join(WORKLOADS)}", 2)
    classpath, stamp = build()
    spec = WORKLOADS[workload]
    load_start, steal_start = list(os.getloadavg()), cpu_steal_s()
    result = run_engine(classpath, workload, seed, seconds, trace == 1)
    reference = load_json(DIGESTS, {}).get(corpus_id(spec["scale"]), {})
    attempted, bad = check(result, reference)
    for op in bad[:10]:
        log(f"FAILED {op['name']}: {op.get('error') or 'digest ' + op['digest'] + ' != ' + str(reference.get(op['name']))}")
    spec_file = load_json(os.path.join(ROOT, "BENCHMARK.json"), {})
    if trace == 1:
        values = stats.per_layer(result)
        units = {m["name"]: m["unit"] for m in spec_file.get("per_layer", [])}
    else:
        values = stats.end_to_end(result)
        values["ok_frac"] = (attempted - len(bad)) / attempted
        units = {m["name"]: m["unit"] for m in spec_file.get("end_to_end", [])}
    metrics = {k: {"value": v, "unit": units.get(k, "")} for k, v in values.items()}
    prov = provenance(result, seed, stamp, load_start)
    prov["cpu_steal_s"] = round(cpu_steal_s() - steal_start, 2)
    n_ops = len(stats.ops_of([p for p in result["passes"] if not p["traced"]]))
    for k, m in metrics.items():
        note = ""
        if k == "query_p50_s":
            tail = "" if stats.is_tail_estimate(n_ops, 0.5) else f", under the {stats.min_samples(0.5)} a median needs"
            note = f"  (n={n_ops} operations{tail})"
        print(f"{workload:18s} {k:28s} {m['value']:14.6g} {m['unit']}{note}")
    print(json.dumps({"provenance": prov}))
    print(json.dumps({"correct": not bad, "attempted": attempted, "failed": len(bad),
                      "metrics": metrics}), flush=True)


def record(workload):
    """Runs the workload's whole population once on its corpus and stores
    each operation's digest. The per-query results are also
    written as parquet with the engine's oracle SQL, for a DuckDB
    cross-check with tools/check_oracle.py."""
    require_sources()
    os.makedirs(WORK, exist_ok=True)
    lock = machine_lock()
    classpath, _ = build()
    spec = WORKLOADS[workload]
    out_dir = os.path.join(WORK, "record", workload)
    result = run_engine(classpath, workload, 0, 0, False, record=out_dir)
    ops = result["passes"][0]["ops"]
    errors = {op["name"]: op["error"] for op in ops if "error" in op}
    digests = load_json(DIGESTS, {})
    digests.setdefault(corpus_id(spec["scale"]), {}).update(
        {op["name"]: op["digest"] for op in ops if "error" not in op})
    with open(DIGESTS, "w") as f:
        json.dump(digests, f, indent=1, sort_keys=True)
        f.write("\n")
    lock.close()
    print(json.dumps({"workload": workload, "corpus": corpus_dir(spec["scale"]),
                      "results": out_dir, "ops": len(ops), "errors": errors}, indent=1))


def steady(args):
    """Repeats a workload over seeds 1..N and prints, per metric, the
    median, quartiles and spread beside the bound in BENCHMARK.json."""
    spec = load_json(os.path.join(ROOT, "BENCHMARK.json"), {})
    bounds = {m["name"]: m.get("bound") for m in spec.get("end_to_end", [])}
    values = {}
    for seed in range(1, args.steady + 1):
        p = subprocess.run([sys.executable, os.path.abspath(__file__), "--workload", args.workload,
                            "--seed", str(seed), "--seconds", str(args.seconds),
                            "--trace", str(args.trace)], cwd=ROOT, capture_output=True, text=True)
        if p.returncode != 0:
            fail(f"seed {seed} failed:\n{p.stderr[-2000:]}")
        last = json.loads(p.stdout.strip().splitlines()[-1])
        for k, m in last["metrics"].items():
            values.setdefault(k, []).append(m["value"])
        print(f"seed {seed}: correct={last['correct']} " +
              " ".join(f"{k}={m['value']:.4g}" for k, m in last["metrics"].items()), flush=True)
    print(f"{'metric':28s} {'median':>10s} {'q1':>10s} {'q3':>10s} {'spread':>8s} {'bound':>6s}")
    for k, xs in values.items():
        q1, q2, q3 = statistics.quantiles(xs, n=4)
        b = bounds.get(k)
        print(f"{k:28s} {q2:10.4g} {q1:10.4g} {q3:10.4g} {stats.spread(xs):8.3f} "
              f"{'' if b is None else b:>6}")


def main():
    # a terminated run still stops its children (run_child's cleanup)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--steady", type=int, metavar="RUNS")
    ap.add_argument("--record", metavar="WORKLOAD")
    args = ap.parse_args()
    if args.record:
        record(args.record)
    elif args.steady:
        steady(args)
    elif args.workload:
        require_sources()
        os.makedirs(WORK, exist_ok=True)
        lock = machine_lock()
        names = ([w["name"] for w in load_json(os.path.join(ROOT, "BENCHMARK.json"), {}).get("workloads", [])]
                 if args.workload == "all" else [args.workload])
        for name in names:
            bench(name, args.seed, args.seconds, args.trace)
        lock.close()
    else:
        ap.error("--workload is required")


if __name__ == "__main__":
    main()
