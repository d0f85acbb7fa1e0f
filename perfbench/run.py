#!/usr/bin/env python3
"""Lake-pipeline benchmark: one run of one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the engine and the
benchmark driver from source with sbt (into `target/`, `perfbench/target/`
and `.bench_build/`); later runs reuse the build. The run then starts one
JVM that seeds the workload, issues calls from one closed-loop client,
checks the outputs and writes a raw record; this script turns the record
into metrics. The last line of standard output is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With `--trace 0` the metrics are the end-to-end ones of BENCHMARK.json,
with `--trace 1` the per-layer ones. A human-readable report (per-type
medians, tails with their percentile and sample count, failed checks)
goes to standard error.
"""

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import layers  # noqa: E402
import stats  # noqa: E402

BUILD_DIR = ".bench_build"
RUN_TIMEOUT_S = 165
BUILD_TIMEOUT_S = 840

# Call types behind each latency metric, by workload: the metric is the
# geometric mean of the median call walls of the types' variants.
LATENCY_TYPES = {
    "pipelines": {"long_op_p50_s": ["corpus_prep"],
                  "short_op_p50_s": ["orders_job"]},
    "lake": {"long_op_p50_s": ["upsert", "merge", "delete"],
             "short_op_p50_s": ["range_read", "point_read", "agg_read", "snapshot_read"]},
}

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    if "sbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
    repos = os.path.expanduser("~/.sbt/repositories")
    if "sbt.repository.config" not in opts and os.path.exists(repos):
        opts += f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
    env["SBT_OPTS"] = opts.strip()
    return env


def build(root):
    """Builds the engine and the driver once per checkout; returns the
    runtime classpath."""
    cp_file = os.path.join(root, BUILD_DIR, "classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            return f.read().strip()
    for need in ("build.sbt", os.path.join("src", "main", "scala"),
                 os.path.join("perfbench", "build.sbt")):
        if not os.path.exists(os.path.join(root, need)):
            fail(f"missing {need}: run from the repository root")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")
    log("building engine and driver (first run in this checkout)")
    t0 = time.time()
    try:
        out = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export perfbench/Runtime/fullClasspath"],
            cwd=os.path.join(root, "perfbench"), env=sbt_env(), text=True,
            stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    lines = [ln for ln in out.stdout.splitlines() if ".jar" in ln and ":" in ln
             and not ln.startswith("[")]
    if out.returncode != 0 or not lines:
        sys.stderr.write(out.stdout[-4000:])
        fail("build failed")
    cp = lines[-1].strip()
    os.makedirs(os.path.dirname(cp_file), exist_ok=True)
    with open(cp_file + ".tmp", "w") as f:
        f.write(cp)
    os.replace(cp_file + ".tmp", cp_file)
    log(f"built in {time.time() - t0:.0f} s")
    return cp


def run_jvm(cp, a, work, out):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xmx3g"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", os.path.join(work, "data"), "--out", out]
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = tmp
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdin=subprocess.DEVNULL,
                            stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                            text=True, start_new_session=True)
    try:
        output, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        fail("run timed out")
    if proc.returncode != 0 or not os.path.exists(out):
        sys.stderr.write(output[-6000:])
        fail(f"driver exited with {proc.returncode}")
    return output


def by_kind(calls):
    out = {}
    for c in calls:
        out.setdefault(c["kind"], []).append(c)
    return out


def type_p50(types, calls):
    """Geometric mean of the median walls of each (type, variant) of
    `types` (a single type with one variant: its median). The variants of
    a read type differ in cost (a selective or a wide band, present or
    absent keys), so each gets its own median."""
    groups = {}
    for c in calls:
        if c["kind"] in types:
            groups.setdefault((c["kind"], c["variant"]), []).append(c["wall"])
    missing = [k for k in types if not any(g[0] == k for g in groups)]
    if missing:
        raise ValueError(f"no {missing} call in the timed loop; raise --seconds")
    return stats.geomean([stats.median(w) for w in groups.values()])


def op_p50(workload, calls):
    """The same over every latency type of the workload."""
    return type_p50([t for ts in LATENCY_TYPES[workload].values() for t in ts], calls)


def setup_seconds(rec):
    return rec["session_s"] + stats.median(rec["setup_reps_s"]) + rec["setup_once_s"]


def e2e_metrics(rec):
    calls, timed = rec["calls"], rec["timed_s"]
    out = {"setup_s": (setup_seconds(rec), "s")}
    for name, types in LATENCY_TYPES[rec["workload"]].items():
        out[name] = (type_p50(types, calls), "s")
    out["ops_per_s"] = (len(calls) / timed, "1/s")
    return out


def report(rec):
    """Per-type medians and tails, for people (standard error)."""
    lines = [f"workload {rec['workload']} seed {rec['seed']} trace {int(rec['trace'])}: "
             f"{len(rec['calls'])} calls in {rec['timed_s']:.2f} s"]
    for kind, cs in sorted(by_kind(rec["calls"]).items()):
        walls = [c["wall"] for c in cs]
        t = stats.tail(walls)
        tail = (f"p{t[0]:.1f}={t[1]:.4f} s (n={t[2]})" if t
                else f"no tail (n={len(walls)} <= 10)")
        by_variant = {}
        for c in cs:
            by_variant.setdefault(c["variant"], []).append(c["wall"])
        variants = ("" if len(by_variant) < 2 else "  by variant " + ", ".join(
            f"{v}: {stats.median(w):.4f}" for v, w in sorted(by_variant.items())))
        lines.append(f"  {kind:14s} n={len(walls):3d} p50={stats.median(walls):.4f} s  "
                     f"{tail}{variants}")
    if rec["untraced_passes"]:
        w = rec["workload"]
        u1, u2 = (op_p50(w, p) for p in rec["untraced_passes"])
        lines.append(f"  op_p50 by pass: untraced {u1:.4f} s, traced {op_p50(w, rec['calls']):.4f} s, "
                     f"untraced {u2:.4f} s")
    lines.append(f"  setup: session {rec['session_s']:.2f} s, seeding reps "
                 f"{['%.2f' % x for x in rec['setup_reps_s']]}, once {rec['setup_once_s']:.2f} s")
    if rec["noop_s"]:
        lines.append(f"  noop action: {['%.4f' % x for x in rec['noop_s']]}")
    for k, v in rec["extra"].items():
        lines.append(f"  {k} = {v}")
    for c in rec["checks"]:
        if not c["ok"]:
            lines.append(f"  CHECK FAILED {c['name']}: {c['detail'][:500]}")
    return "\n".join(lines)


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(LATENCY_TYPES))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = p.parse_args()

    root = os.getcwd()
    cp = build(root)
    runs = os.path.join(root, BUILD_DIR, "runs")
    work = os.path.join(runs, f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = os.path.join(work, "record.json")
    try:
        run_jvm(cp, a, work, out)
        with open(out) as f:
            rec = json.load(f)
        if a.trace:
            traces = os.path.join(root, BUILD_DIR, "traces")
            os.makedirs(traces, exist_ok=True)
            spans = os.path.join(traces, f"{a.workload}-{a.seed}.spans.jsonl")
            shutil.copyfile(rec["spans_file"], spans)
            metrics = layers.metrics(rec, spans, op_p50)
            log(f"spans written to {os.path.relpath(spans, root)}")
        else:
            metrics = e2e_metrics(rec)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    log(report(rec))
    failed = sum(1 for c in rec["checks"] if not c["ok"])
    attempted = (len(rec["calls"]) + sum(len(p) for p in rec["untraced_passes"])
                 + len(rec["checks"]))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
