#!/usr/bin/env python3
"""graft benchmark launcher.

Usage (from the repository root):

    python3 graftbench/run.py --workload <alert_live|catalog_mix> \
        --seed <n> --seconds <s> --trace <0|1>
    python3 graftbench/run.py --digests    # print catalog_mix result digests

Builds graft and the harness from source with sbt on first use (offline),
then runs one workload in one pinned JVM. Prints a context line and, as
the last line of standard output, one JSON object with the keys
`correct`, `attempted`, `failed` and `metrics`: the end-to-end metrics
of BENCHMARK.json with `--trace 0`, its per-layer metrics with
`--trace 1`. Per-layer metrics that do not apply to a workload read 0
and are listed under `not_applicable` in the context line.

Everything the run writes stays under graftbench/.work, graftbench's
and the repository's sbt target directories.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, ".work")
LAUNCHER = os.path.join(BENCH, "target", "launcher.txt")
WORKLOADS = ("alert_live", "catalog_mix")

# Pinned JVM: fixed heap and young generation, the serial collector (no
# collector threads beside the work), and the C1 compiler only, compiling
# a method after a tenth of the usual calls. With C2, micro-batches and
# catalog passes keep getting faster for more than 40 s after set-up; at
# the usual thresholds C1 took 10 to 15 micro-batches (20-25 s) to reach
# its plateau, at a tenth 4 to 6. README.md gives C1 against C2 medians.
JVM_OPTS = ["-Xms2g", "-Xmx2g", "-Xmn512m", "-XX:+UseSerialGC", "-XX:TieredStopAtLevel=1",
            "-XX:CompileThresholdScaling=0.1", "-XX:ReservedCodeCacheSize=256m"]
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170


def fail(msg):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src", "main")):
        for d, _, files in os.walk(top):
            for f in files:
                yield os.path.join(d, f)
    for f in ("build.sbt", os.path.join("project", "build.properties")):
        yield os.path.join(ROOT, f)
        yield os.path.join(BENCH, f)


def build():
    """Compile graft and the harness unless the launcher file is newer
    than every source."""
    if os.path.exists(LAUNCHER):
        stamp = os.path.getmtime(LAUNCHER)
        if all(os.path.getmtime(f) < stamp for f in sources() if os.path.exists(f)):
            return
    env = dict(os.environ, COURSIER_MODE="offline")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
           "-Dsbt.server.forcestart=false", "launcher"]
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as out:
        rc = run_child(cmd, BENCH, env, out, BUILD_TIMEOUT_S)
    if rc != 0 or not os.path.exists(LAUNCHER):
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"build failed (exit {rc}); log in {log}")


def run_child(cmd, cwd, env, out, timeout):
    """Run `cmd` in its own process group; kill the whole group on
    timeout and wait for it, so nothing outlives the benchmark."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out, stderr=subprocess.STDOUT,
                         stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return -9
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def host_cpu():
    """The `cpu` line of /proc/stat (empty where there is none): the JVM
    measures the host's steal during set-up from this reading on."""
    try:
        with open("/proc/stat") as f:
            return f.readline().strip()
    except OSError:
        return ""


def launch(main_args, tag):
    with open(LAUNCHER) as f:
        lines = f.read().splitlines()
    classpath, graft_opts = lines[0], [l for l in lines[1:] if l]
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + JVM_OPTS + graft_opts +
           [f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.local.dir={os.path.join(WORK, 'spark-local')}",
            f"-Dspark.sql.warehouse.dir={os.path.join(WORK, 'warehouse')}",
            "-cp", classpath, "graftbench.Main",
            "--bench", BENCH, "--work", os.path.join(WORK, tag)] + main_args)
    shutil.rmtree(os.path.join(WORK, tag), ignore_errors=True)
    log = os.path.join(WORK, f"{tag}.log")
    t0 = time.time()
    stat = host_cpu()
    if stat:
        cmd += ["--host-cpu", stat]
    with open(log, "w") as out:
        rc = run_child(cmd, ROOT, dict(os.environ), out, RUN_TIMEOUT_S)
    with open(log) as f:
        text = f.read()
    if rc != 0:
        sys.stderr.write(text[-6000:])
        fail(f"workload JVM exited {rc} after {time.time() - t0:.0f}s; log in {log}")
    return text


def contract(result, spec, traced):
    wanted = spec["per_layer"] if traced else spec["end_to_end"]
    got = result["metrics"]
    metrics, missing = {}, []
    for m in wanted:
        v = got.get(m["name"])
        if v is None:
            if not traced:
                fail(f"end-to-end metric {m['name']} was not measured")
            missing.append(m["name"])
            v = 0.0
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    finite = all(isinstance(x["value"], (int, float)) for x in metrics.values())
    return {
        "correct": bool(result["correct"]) and finite,
        "attempted": int(result["attempted"]),
        "failed": int(result["failed"]),
        "metrics": metrics,
    }, missing


def main():
    # on SIGTERM unwind through run_child, which kills and reaps the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--digests", action="store_true")
    a = ap.parse_args()
    if not a.digests and a.workload is None:
        ap.error("--workload is required")

    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"{need} not found next to {os.path.basename(BENCH)}/: "
                 "run from a full checkout of the graft repository")
    spec_file = os.path.join(ROOT, "BENCHMARK.json")
    with open(spec_file) as f:
        spec = json.load(f)
    os.makedirs(WORK, exist_ok=True)
    build()

    if a.digests:
        sys.stdout.write(launch(["--workload", "digests", "--seed", "0",
                                 "--seconds", "0", "--trace", "0"], "digests"))
        return

    tag = f"{a.workload}-s{a.seed}-t{a.trace}"
    text = launch(["--workload", a.workload, "--seed", str(a.seed),
                   "--seconds", str(a.seconds), "--trace", str(a.trace)], tag)
    marker = "GRAFTBENCH_RESULT "
    lines = [l for l in text.splitlines() if l.startswith(marker)]
    if not lines:
        sys.stderr.write(text[-6000:])
        fail("the workload printed no result")
    result = json.loads(lines[-1][len(marker):])
    out, missing = contract(result, spec, a.trace == 1)
    context = dict(result["context"], not_applicable=missing)
    with open(os.path.join(WORK, f"{tag}.json"), "w") as f:
        json.dump({"result": out, "context": context}, f, indent=1)
    print(json.dumps({"context": context}))
    print(json.dumps(out))


if __name__ == "__main__":
    main()
