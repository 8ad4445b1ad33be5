#!/usr/bin/env python3
"""graft benchmark: one seeded workload, end-to-end or traced.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the benchmark engine
(`perfbench/build.sbt`, which compiles graft from `src/`). Each run works
in a fresh directory under `perfbench/work/`, so graft's on-disk derived
artifacts are rebuilt inside the measured set-up, never inherited.

The last line of standard output is the result: `correct`, `attempted`,
`failed` and the metrics (end-to-end ones with `--trace 0`, per-layer
ones with `--trace 1`). Every output is checked; the exit code is 1 when
any check fails. The run record (commit, seed, cores, heap, scale, state
store, versions) and the raw result are kept in `perfbench/results/`.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import metrics  # noqa: E402
import model  # noqa: E402
import workloads  # noqa: E402

ROOT = os.path.dirname(HERE)
DEADLINE_S = 150  # the engine run; the whole run, build excluded, ends within 180 s
HEAP = "3g"
SBT_ENV = {
    "COURSIER_MODE": "offline",
    "SBT_OPTS": "-Dsbt.override.build.repos=true "
                "-Dsbt.repository.config=" +
                os.path.expanduser("~/.sbt/repositories") +
                " -Dsbt.offline=true -Dsbt.server.autostart=false -Xmx2g -XX:-UsePerfData"
                " -Djava.io.tmpdir=" + os.path.join(HERE, "target", "tmp"),
}
# what Spark on JDK 17 needs outside spark-submit (as in the root build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    """Hash of everything the benchmark engine is built from."""
    h = hashlib.sha1()
    for top in ("build.sbt", "project/build.properties", "src/main",
                "perfbench/build.sbt", "perfbench/src"):
        path = os.path.join(ROOT, top)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                              capture_output=True, text=True,
                              timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def classpath(digest):
    """Build the benchmark engine once per source digest; return its classpath."""
    cache = os.path.join(HERE, "target", "classpath.json")
    if os.path.exists(cache):
        with open(cache) as f:
            c = json.load(f)
        if c["digest"] == digest:
            return c["classpath"]
    env = dict(os.environ, **SBT_ENV)
    os.makedirs(os.path.join(HERE, "target", "tmp"), exist_ok=True)
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true",
         "export perfbench/Runtime/fullClasspath"],
        cwd=HERE, env=env, capture_output=True, text=True, timeout=840)
    lines = [ln for ln in p.stdout.splitlines() if ln.startswith("/")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-2000:])
        fail("build failed")
    os.makedirs(os.path.dirname(cache), exist_ok=True)
    with open(cache, "w") as f:
        json.dump({"digest": digest, "classpath": lines[-1]}, f)
    return lines[-1]


def run_engine(cp, work, plan, deadline):
    with open(os.path.join(work, "plan.json"), "w") as f:
        json.dump(plan, f)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = ["java", f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"]
    for o in ADD_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "plan.json"]
    with open(os.path.join(work, "engine.log"), "w") as log:
        # Spark's scratch space, inside the run's directory
        env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=log, stderr=log,
                                start_new_session=True)
        try:
            proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            fail("engine run exceeded its deadline")
        finally:
            # also on a deadline or a signal: leave no engine behind
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    if proc.returncode != 0:
        with open(os.path.join(work, "engine.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"engine exited with {proc.returncode}")
    with open(os.path.join(work, "result.json")) as f:
        return json.load(f)


def main():
    signal.signal(signal.SIGTERM, lambda *_: fail("terminated"))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(workloads.ALL))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    os.chdir(ROOT)
    if not (os.path.isfile("build.sbt") and
            os.path.isdir("src/main/scala/graft")):
        fail("run from the root of a graft checkout (build.sbt and "
             "src/main/scala/graft are missing)")
    digest = source_digest()
    cp = classpath(digest)
    deadline = time.time() + DEADLINE_S

    cores = len(os.sched_getaffinity(0))
    work = os.path.join(HERE, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spec = workloads.ALL[a.workload]
    plan = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
            "trace": bool(a.trace), "cores": cores}
    t0 = time.time()
    timing = {}
    try:
        if a.workload == "journey":
            j = gen.journey(a.seed, os.path.join(work, "deliveries"),
                            **spec["journey"])
            plan.update(warmup=j["warmup"], warm_min=j["warm_min"],
                        measured=j["measured"], steady=spec["steady"],
                        products_out=os.path.join(work, "products"))
            engine_plan = json.loads(json.dumps(plan))
            for d in engine_plan["warmup"] + engine_plan["measured"]:
                d.pop("records")
            timing["inputs_s"] = time.time() - t0
            res = run_engine(cp, work, engine_plan, deadline)
            timing["engine_s"] = time.time() - t0 - timing["inputs_s"]
            checks = model.check_journey(j, res, os.path.join(work, "products"))
        else:
            data = os.path.join(work, "data")
            gen.tables(a.seed, spec["sf"], data)
            keys = [(k, g) for g, ks in spec["keys"].items() for k in ks]
            rnd = random.Random(f"{a.workload}-{a.seed}")
            rnd.shuffle(keys)
            # the engine dumps the first `oracle_sample` of these that
            # have a DuckDB twin in SparkEntry.oracleSql
            oracle_keys = rnd.sample([k for k, _ in keys], len(keys))
            plan.update(data=data, keys=[{"key": k, "group": g} for k, g in keys],
                        steady=spec["steady"], max_warm=spec["max_warm"],
                        min_passes=spec["min_passes"], oracle_keys=oracle_keys,
                        oracle_sample=spec["oracle_sample"],
                        oracle_out=os.path.join(work, "oracle"))
            timing["inputs_s"] = time.time() - t0
            res = run_engine(cp, work, plan, deadline)
            timing["engine_s"] = time.time() - t0 - timing["inputs_s"]
            checks = model.check_mix(res, data, os.path.join(work, "oracle"))
        timing["check_s"] = time.time() - t0 - timing["inputs_s"] - timing["engine_s"]
        out = metrics.summarize(a.workload, res, checks, bool(a.trace))
        record = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
                  "seconds": a.seconds, "commit": git_commit(),
                  "source_digest": digest, "scale": spec.get("sf"),
                  **res["env"]}
        os.makedirs(os.path.join(HERE, "results"), exist_ok=True)
        with open(os.path.join(HERE, "results",
                               f"{a.workload}-{a.seed}-t{a.trace}.json"), "w") as f:
            json.dump({"record": record, "result": out, "failures": checks["failures"],
                       "timing": timing, "raw": res}, f)
        if a.trace:
            shutil.copy(os.path.join(work, "spans.jsonl"), os.path.join(
                HERE, "results", f"{a.workload}-{a.seed}-spans.jsonl"))
            base = os.path.join(HERE, "results", f"{a.workload}-{a.seed}-t0.json")
            if os.path.exists(base):
                with open(base) as f:
                    untraced = json.load(f)
                if untraced["record"]["source_digest"] == digest:
                    wall = metrics.end_to_end(a.workload, untraced["raw"])["wall_s"][0]
                    traced = out["metrics"]["trace.wall_s"]["value"]
                    print(f"tracing overhead: wall_s {traced:.3f} s traced vs "
                          f"{wall:.3f} s untraced ({traced / wall - 1:+.1%})")
        for msg in checks["failures"][:20]:
            print(f"FAIL {msg}")
        print("record " + json.dumps(record, sort_keys=True))
        print(json.dumps(out))
        sys.exit(0 if out["correct"] else 1)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
