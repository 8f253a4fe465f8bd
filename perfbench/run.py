#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

    python3 perfbench/run.py --workload catalog|models \
        --seed N --seconds S --trace 0|1

Run from the repository root. The first run compiles graft's sources and the
benchmark harness with the Scala compiler that ships in Spark's jars
directory ($SPARK_HOME/jars) into the build
directory ($CARGO_TARGET_DIR, default .bench_build); later runs reuse the
build while the sources are unchanged. Inputs are generated from the seed.

Untraced (--trace 0), the last line of stdout is one JSON object with the
end-to-end metrics; traced (--trace 1), with the per-layer metrics. The
line before it is the full record: provenance, every metric and each
failed operation. See perfbench/README.md for the workloads and metrics.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gate  # noqa: E402
import gen  # noqa: E402
import models_project  # noqa: E402

ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]]
SPEC = json.load(open(f"{HERE}/../BENCHMARK.json"))
UNITS = {m["name"]: m["unit"] for m in SPEC["end_to_end"] + SPEC["per_layer"]}
HEAP = "3g"
CATALOG_SF = 0.02
MODEL_INCREMENTS = 1
RUN_LIMIT_S = 170  # a run, build excluded, ends within this or fails


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    jars = sorted(glob.glob(os.path.join(home, "jars", "*.jar"))) if home else []
    if not jars:
        fail("no Spark jars found; set SPARK_HOME to a Spark installation")
    return jars


def build(root, out):
    """Compile graft's main sources plus the harness; reuse a build whose
    source hash matches."""
    srcs = sorted(glob.glob(f"{root}/src/main/scala/**/*.scala", recursive=True))
    if not srcs:
        fail(f"no graft sources under {root}/src/main/scala")
    srcs += sorted(glob.glob(f"{HERE}/src/**/*.scala", recursive=True))
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, root).encode())
        h.update(open(s, "rb").read())
    stamp, classes = h.hexdigest(), f"{out}/classes"
    stamp_file = f"{out}/classes.sha256"
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes, stamp
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    cp = ":".join(spark_jars())
    r = subprocess.run(["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp,
                        "scala.tools.nsc.Main", "-nowarn", "-d", classes,
                        "-cp", cp] + srcs, capture_output=True, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
        fail("compilation failed")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes, stamp


def java_cmd(classes, work, main, args):
    # no hsperfdata file outside the checkout
    return (["java", "-XX:-UsePerfData"] + ADD_OPENS + [
        f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work}/jvm-tmp",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", classes + ":" + ":".join(spark_jars()), main] + args)


def run_proc(cmd, cwd, env, timeout):
    """Run to completion; the process group is killed on timeout."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=subprocess.PIPE,
                         stderr=subprocess.PIPE, text=True,
                         start_new_session=True)
    try:
        out, err = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, 9)
        p.communicate()
        return 124, "", "timed out"
    return p.returncode, out, err


def load_avg():
    return round(os.getloadavg()[0], 2)


def commit(root):
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root,
                           capture_output=True, text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except OSError:
        return None


def catalog_queries():
    with open(f"{HERE}/catalog_queries.txt") as f:
        return [l.split()[1] for l in f if l.strip() and not l.startswith("#")]


def make_inputs(workload, seed, inputs):
    """Generate the workload's inputs; returns (tables dir, harness args,
    facts about the inputs)."""
    tables = f"{inputs}/tables"
    if workload == "catalog":
        gen.star(tables, seed, CATALOG_SF)
        return tables, catalog_queries(), {"sf": CATALOG_SF}
    gen.star(tables, seed, 0.001)
    facts = models_project.generate(f"{inputs}/project", seed, MODEL_INCREMENTS)
    return tables, [f"{inputs}/project", str(MODEL_INCREMENTS)], facts


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=[w["name"] for w in SPEC["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    root = os.getcwd()
    out = os.path.abspath(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    classes, src_hash = build(root, out)
    deadline = time.monotonic() + RUN_LIMIT_S
    cores = min(os.cpu_count() or 1, 4)
    load_start = load_avg()

    work = f"{out}/run/{a.workload}-{a.seed}-{a.trace}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(f"{work}/jvm-tmp")
    try:
        t = time.monotonic()
        tables, wl_args, facts = make_inputs(a.workload, a.seed, f"{work}/inputs")
        gen_s = time.monotonic() - t

        env = dict(os.environ, SPARK_LOCAL_DIRS=f"{work}/spark-local")
        rc, o, e = run_proc(java_cmd(classes, work, "graftbench.Harness", [
            a.workload, tables, work, str(a.seconds), str(a.trace),
            str(a.seed), str(cores)] + wl_args), work, env,
            deadline - time.monotonic() - 15)
        if rc != 0 or not os.path.exists(f"{work}/harness.json"):
            sys.stderr.write(e[-6000:])
            fail(f"harness exited with {rc}")
        h = json.load(open(f"{work}/harness.json"))

        cli_s = None
        if a.workload == "models" and a.trace:
            cli_s, cli_err = run_cli(classes, work, tables, f"{work}/inputs/project",
                                     env, deadline - time.monotonic() - 5)
            if cli_err:
                h["ops"].append({"name": "cli", "pass": -1, "secs": cli_s,
                                 "ok": False, "err": cli_err, "out": ""})

        failures = run_gate(h, tables)
        rec = metrics(h, gen_s, cli_s, a.trace, failures)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    rec.update({
        "workload": a.workload, "seed": a.seed, "trace": a.trace,
        "seconds": a.seconds, "inputs": facts, "commit": commit(root),
        "source_sha256": src_hash, "nproc": os.cpu_count(),
        "spark_cores": cores, "heap_mb": h["heap_mb"],
        "spark_version": h["spark_version"],
        "load_avg_start": load_start, "load_avg_end": load_avg()})
    print(json.dumps(rec, sort_keys=True))
    names = [m["name"] for m in SPEC["per_layer" if a.trace else "end_to_end"]]
    print(json.dumps({
        "correct": rec["failed"] == 0, "attempted": rec["attempted"],
        "failed": rec["failed"],
        "metrics": {n: rec["metrics"][n] for n in names}}))


def run_cli(classes, work, tables, project, env, timeout):
    """One cold `graft.Cli <project> run` over the final inputs."""
    shutil.rmtree(f"{project}/warehouse", ignore_errors=True)
    cli_env = dict(env, SPARK_GRAFT_SF_DIR=tables,
                   SPARK_GRAFT_CPUS=str(min(os.cpu_count() or 1, 4)))
    t = time.monotonic()
    rc, o, e = run_proc(java_cmd(classes, work, "graft.Cli", [
        project, "run", "--var", "lo=0", "--var", f"hi={MODEL_INCREMENTS}"]),
        work, cli_env, timeout)
    secs = time.monotonic() - t
    return secs, (None if rc == 0 else f"graft.Cli exited {rc}: {(o + e)[-500:]}")


def run_gate(h, tables):
    """Checks every timed operation's output; returns {op id: reason}."""
    failures = {}
    oracle = gate.Oracle(tables, h["oracle"]) if h["oracle"] else None
    for op in h["ops"]:
        key = f"{op['name']}#{op['pass']}"
        if not op["ok"]:
            failures[key] = op["err"][:300]
        elif op["out"]:
            why = oracle.check(op["name"], op["out"])
            if why:
                failures[key] = why[:300]
    con = gate.connect()
    for c in h["checks"]:
        why = gate.check_pair(c["got"], c["expected"], con)
        if why:
            failures[f"{c['name']}#incremental=full_refresh"] = why[:300]
    return failures


def metrics(h, gen_s, cli_s, trace, failures):
    plain = [p for p in h["passes"] if not p["traced"]]
    traced = [p for p in h["passes"] if p["traced"]]
    untraced_pass_ids = {i for i, p in enumerate(h["passes"]) if not p["traced"]}
    secs = [o["secs"] for o in h["ops"] if o["pass"] in untraced_pass_ids and o["ok"]]
    attempted = len(h["ops"]) + len(h["checks"])
    failed = len(failures)
    q = (statistics.quantiles(secs, n=10, method="inclusive") if len(secs) > 1
         else (secs or [0.0]) * 9)
    st = h["setup"]
    register_s = statistics.median(st["register_s"])
    wall = statistics.median(p["wall_s"] for p in plain)
    m = {
        "setup_s": gen_s + st["session_s"] + register_s + st["warmup_s"],
        "wall_s": wall,
        "op_p50_s": statistics.median(secs) if secs else 0.0,
        "op_p90_s": q[8],
        "ok_frac": 1.0 - failed / attempted,
    }
    info = [p["info"] for p in plain if p["info"]]
    for k in ("full_run_s", "incr_run_s"):
        if info:
            m[k] = statistics.median(i[k] for i in info)
    if trace:
        layers = {}
        for p in traced:
            for k, v in p["layers"].items():
                layers.setdefault(k, []).append(v)
        for k, vs in layers.items():
            m[k] = statistics.median(vs)
        m["tables.register_s"] = register_s
        m["model.cli_run_s"] = cli_s or 0.0
        m["trace.overhead_frac"] = (
            statistics.median(p["wall_s"] for p in traced) / wall - 1.0)
        for name in UNITS:
            m.setdefault(name, 0.0)
    return {
        "attempted": attempted, "failed": failed,
        "fail_frac": failed / attempted, "ops_per_run": len(secs),
        "passes": len(plain), "traced_passes": len(traced),
        "setup": {"gen_s": gen_s, **st},
        "failures": dict(list(failures.items())[:20]),
        "metrics": {k: {"value": v, "unit": UNITS.get(k, "s")}
                    for k, v in sorted(m.items())},
    }


if __name__ == "__main__":
    main()
