#!/usr/bin/env python3
"""Engine benchmark: one closed-loop client against one local Spark
session built by `graft.Engine.session`.

Usage (from the root of a checkout):
  python3 perfbench/run.py --workload sql_interactive --seed 1 \
      --seconds 15 --trace 0

Builds the engine and the harness once per checkout (sbt, into
`.bench_build/`), launches the harness, checks every operation's output
against `perfbench/expected.json`, and prints one line per metric with
its unit, then the result as one JSON object on the last line. With
`--trace 0` the result carries the end-to-end metrics, with `--trace 1`
the per-layer metrics named in BENCHMARK.json. Exits non-zero when an
output check fails or the run cannot complete.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)
import metrics  # noqa: E402

CONFIG = os.path.join(HERE, "workloads.json")
EXPECTED = os.path.join(HERE, "expected.json")
RUN_LIMIT_S = 170  # every run, build excluded, ends within this
BUILD_LIMIT_S = 850
HEAP = "3g"  # -Xms and -Xmx, the same on every run
WARMUP_PASSES = 3  # untimed passes over the mix before the timed ones
MAX_PASSES = 100  # timed passes planned; --seconds ends the run first

# what sbt's build of the engine and the harness depends on
BUILD_INPUTS = ("build.sbt", "project/build.properties", "src/main",
                "perfbench/build.sbt", "perfbench/project/build.properties",
                "perfbench/src")

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


class BenchError(Exception):
    pass


def load_config():
    with open(CONFIG) as f:
        return json.load(f)


def cores():
    return len(os.sched_getaffinity(0))


def sources_hash():
    h = hashlib.sha256()
    for rel in BUILD_INPUTS:
        path = os.path.join(ROOT, rel)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
        for p in files:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile the engine and the harness; return the runtime classpath.
    Rebuilds only when a build input changed."""
    for rel in ("src/main/scala/graft", "build.sbt"):
        if not os.path.exists(os.path.join(ROOT, rel)):
            raise BenchError(f"not an engine checkout: {rel} is missing")
    os.makedirs(BUILD, exist_ok=True)
    stamp = os.path.join(BUILD, "classpath.json")
    digest = sources_hash()
    if os.path.exists(stamp):
        with open(stamp) as f:
            s = json.load(f)
        if s["hash"] == digest:
            return s["classpath"]
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx3g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        try:
            rc = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                 "export Runtime/fullClasspath"],
                cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL, timeout=BUILD_LIMIT_S).returncode
        except subprocess.TimeoutExpired:
            raise BenchError(f"build exceeded {BUILD_LIMIT_S} s; see {log}")
    lines = [ln.strip() for ln in open(log) if ln.strip()]
    if rc != 0 or not lines or lines[-1].startswith("["):
        raise BenchError(f"build failed (rc {rc}); see {log}")
    with open(stamp, "w") as f:
        json.dump({"hash": digest, "classpath": lines[-1]}, f)
    return lines[-1]


def run_plan(mix, seed):
    """The run's passes: WARMUP_PASSES warm-up passes, then the timed
    ones, each an order of the mix drawn from the seed."""
    passes = metrics.plan(mix, seed, WARMUP_PASSES + MAX_PASSES)
    return passes[:WARMUP_PASSES], passes[WARMUP_PASSES:]


def launch(classpath, workload, seed, seconds, trace, warmup, timed,
           limit_s=RUN_LIMIT_S):
    """Run the harness once over the given warm-up and timed passes;
    return its raw record."""
    cfg = load_config()
    run_dir = os.path.join(BUILD, "tmp", f"{workload}-s{seed}-t{trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        plan_file = os.path.join(run_dir, "plan.txt")
        with open(plan_file, "w") as f:
            for kind, passes in (("warmup", warmup), ("timed", timed)):
                for p in passes:
                    f.write(" ".join([kind, *p]) + "\n")
        out = os.path.join(run_dir, "record.json")
        cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}"]
        for p in ADD_OPENS:
            cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
        cmd += [f"-Djava.io.tmpdir={run_dir}",
                f"-Dspark.local.dir={run_dir}/spark-local",
                f"-Dspark.sql.warehouse.dir={run_dir}/warehouse",
                "-Duser.timezone=UTC", "-Dspark.ui.enabled=false",
                "-cp", classpath, "perfbench.Main",
                "--workload", workload, "--seed", str(seed),
                "--plan", plan_file, "--out", out,
                "--sf", cfg["data"], "--cores", str(cores()),
                "--seconds", str(seconds), "--trace", str(trace),
                "--t0-ns", str(time.time_ns())]
        log = os.path.join(BUILD, "logs", f"{workload}-s{seed}-t{trace}.log")
        os.makedirs(os.path.dirname(log), exist_ok=True)
        with open(log, "w") as lf:
            proc = subprocess.Popen(cmd, cwd=run_dir, stdout=lf,
                                    stderr=subprocess.STDOUT,
                                    stdin=subprocess.DEVNULL)
            try:
                rc = proc.wait(timeout=limit_s)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                raise BenchError(f"harness exceeded {limit_s} s; see {log}")
        if rc != 0 or not os.path.exists(out):
            raise BenchError(f"harness failed (rc {rc}); see {log}")
        with open(out) as f:
            return json.load(f)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def check(record, expected):
    """Compare each operation's output with its expected digest, warm-up
    operations included; mark wrong outputs `mismatch`. Returns the
    entries that failed (threw, timed out or gave a wrong output) and are
    not listed as known failures."""
    unexpected = set()
    for op in record["ops"]:
        if op["status"] != "ok":
            if not expected.get(op["entry"], {}).get("known_failure"):
                unexpected.add(op["entry"])
            continue
        exp = expected.get(op["entry"])
        if exp is None:
            ok = False
        elif exp["check"] == "exact":
            ok = op["digest"] == exp["digest"]
        else:
            ok = op["rows"] == exp["rows"]
        if not ok:
            op["status"] = "mismatch"
            if not (exp or {}).get("known_failure"):
                unexpected.add(op["entry"])
    return sorted(unexpected)


def declared(section):
    path = os.path.join(ROOT, "BENCHMARK.json")
    with open(path) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[section]}


UNITS = {"setup_s": "s", "op_p50_ms": "ms", "op_p90_ms": "ms",
         "throughput_ops_s": "1/s", "stream_rows_s": "rows/s",
         "failed_ratio": "ratio", "rss_peak_mb": "MB"}


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    try:
        workloads = load_config()["workloads"]
        if a.workload not in workloads:
            raise BenchError(f"unknown workload {a.workload}")
        classpath = build()
        warmup, timed = run_plan(workloads[a.workload]["entries"], a.seed)
        record = launch(classpath, a.workload, a.seed, a.seconds, a.trace,
                        warmup, timed)
    except (BenchError, OSError, KeyError, ValueError) as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    with open(EXPECTED) as f:
        unexpected = check(record, json.load(f))
    ops = metrics.operations(record)
    failed = sum(o["status"] in metrics.FAILED for o in ops)
    e2e = metrics.end_to_end(record)
    layer = metrics.per_layer(record) if a.trace else {}

    os.makedirs(os.path.join(BUILD, "results"), exist_ok=True)
    with open(os.path.join(BUILD, "results",
                           f"{a.workload}-s{a.seed}-t{a.trace}.json"), "w") as f:
        json.dump({"workload": a.workload, "seed": a.seed, "trace": a.trace,
                   "end_to_end": e2e, "per_layer": layer,
                   "record": record}, f)

    warm_failed = sum(o["status"] in metrics.FAILED for o in record["ops"]
                      if o["pass"] == 0)
    print(f"# {a.workload} seed={a.seed} trace={a.trace} "
          f"ops={len(ops)} passes={record['passes']} failed={failed} "
          f"warmup_failed={warm_failed}")
    for name, v in e2e.items():
        shown = "omitted: fewer than 10 samples beyond it" if v is None else f"{v:.6g}"
        print(f"{name:<20} {shown} {UNITS[name]}")
    for e in unexpected:
        print(f"output check failed: {e}")
    if a.trace:
        wanted = declared("per_layer")
        out = {k: {"value": layer[k], "unit": u} for k, u in wanted.items()}
    else:
        wanted = declared("end_to_end")
        out = {k: {"value": e2e[k], "unit": u} for k, u in wanted.items()}
    print(json.dumps({"correct": not unexpected, "attempted": len(ops),
                      "failed": failed, "metrics": out}))
    return 1 if unexpected else 0


if __name__ == "__main__":
    sys.exit(main())
