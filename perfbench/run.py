#!/usr/bin/env python3
"""graft's benchmark: build the engine with the benchmark, run one workload
closed-loop for a fixed time, check its outputs, and print one JSON result.

Run from the root of a checkout:

  python3 perfbench/run.py --workload kg_build --seed 0 --seconds 15 --trace 0
  python3 perfbench/run.py --smoke              # tiny pass over every workload

The last line of standard output is
{"correct": .., "attempted": .., "failed": .., "metrics": {name: {value, unit}}}
with every end-to-end metric of BENCHMARK.json (--trace 0) or every
per-layer metric (--trace 1). Per-layer metrics of a layer the workload does
not reach read 0. Every run, with all it measured, is appended to
.bench_out/runs.jsonl; a traced run also writes its spans there.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
OUT = os.path.join(ROOT, ".bench_out")
TMP = os.path.join(ROOT, ".bench_tmp")
SPEC = os.path.join(ROOT, "BENCHMARK.json")
ENGINE = os.path.join(ROOT, "src", "main")
RUN_LIMIT_S = 170  # one run, JVM start to result, stays under 180 s
BUILD_LIMIT_S = 800
HEAP = "2g"

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=1):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    """Every file the build reads, in a stable order."""
    roots = [ENGINE, os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def build():
    """Compile engine + benchmark with sbt unless the sources are unchanged
    since the last build; return the runtime classpath."""
    digest = hashlib.sha256()
    for f in sources():
        digest.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            digest.update(hashlib.sha256(fh.read()).digest())
    stamp = digest.hexdigest()
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath")
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                with open(cp_file) as fh:
                    return fh.read()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                           f"-Dsbt.repository.config={repos} -Dsbt.offline=true -Xmx2g")
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as fh:
        code = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true",
                            "-Dsbt.server.autostart=false", "compile",
                            "export Runtime/fullClasspath"],
                           HERE, env, fh, BUILD_LIMIT_S)
    if code != 0:
        fail(f"build failed (exit {code}); see {log}")
    with open(log) as fh:
        lines = [l.strip() for l in fh if l.strip()]
    cps = [l for l in lines if os.sep + "classes" in l and not l.startswith("[")]
    if not cps:
        fail(f"build printed no classpath; see {log}")
    with open(cp_file, "w") as fh:
        fh.write(cps[-1])
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cps[-1]


def run_bounded(cmd, cwd, env, log, limit_s):
    """Run a child in its own process group; kill the group at the limit.
    Returns the exit code (None on timeout)."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=log, stderr=subprocess.STDOUT,
                         stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        return p.wait(timeout=limit_s)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def run_jvm(cp, workload, seed, seconds, trace, cores, smoke, limit_s, heap=HEAP):
    """One JVM run of one workload; returns its result object."""
    os.makedirs(OUT, exist_ok=True)
    tag = f"{workload}-{seed}-{trace}-{os.getpid()}-{time.time_ns()}"
    tmp = os.path.join(TMP, tag)
    os.makedirs(tmp)
    result = os.path.join(tmp, "result.json")
    args = ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--cores", str(cores), "--tmp", tmp,
            "--out", result, "--pins", os.path.join(HERE, "pins.json")]
    if trace:
        args += ["--spans", os.path.join(OUT, f"spans-{workload}-seed{seed}.jsonl")]
    if smoke:
        args.append("--smoke")
    opens = [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = (["java"] + opens +
           [f"-Xmx{heap}", f"-Xms{heap}", "-XX:+UseParallelGC", "-XX:-UseAdaptiveSizePolicy",
            f"-Djava.io.tmpdir={tmp}", "-cp", cp, "perfbench.Main"] + args)
    log = os.path.join(OUT, f"last-{workload}.log")
    try:
        with open(log, "w") as fh:
            code = run_bounded(cmd, ROOT, dict(os.environ), fh, limit_s)
        if code is None:
            fail(f"{workload} did not finish within {limit_s:.0f} s; see {log}")
        if code != 0 or not os.path.exists(result):
            fail(f"{workload} exited {code} without a result; see {log}")
        with open(result) as fh:
            return json.load(fh)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def contract_line(spec, res, trace):
    """The printed result: the metric set of this mode, each with its unit."""
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    got = res["metrics"]
    unknown = set(got) - set(e2e) - set(layer)
    if unknown:
        fail(f"metrics not named in BENCHMARK.json: {sorted(unknown)}")
    missing = [n for n in e2e if n not in got]
    if missing:
        fail(f"end-to-end metrics missing: {missing}")
    chosen = layer if trace else e2e
    return {"correct": bool(res["correct"]), "attempted": int(res["attempted"]),
            "failed": int(res["failed"]),
            "metrics": {n: {"value": float(got.get(n, 0.0)), "unit": u}
                        for n, u in chosen.items()}}


def record(entry):
    os.makedirs(OUT, exist_ok=True)
    with open(os.path.join(OUT, "runs.jsonl"), "a") as fh:
        fh.write(json.dumps(entry) + "\n")


def smoke(spec, cp, cores):
    """Tiny traced pass over every workload, all at once on small heaps:
    each must pass its checks, print every metric of BENCHMARK.json with
    its unit, and fail a deliberately perturbed operation."""
    from concurrent.futures import ThreadPoolExecutor
    t0 = time.time()
    names = [w["name"] for w in spec["workloads"]]
    with ThreadPoolExecutor(len(names)) as pool:
        results = list(pool.map(
            lambda n: run_jvm(cp, n, 0, 1, 1, cores, True, RUN_LIMIT_S, "1g"),
            names))
    ok = True
    # what each JVM emitted, before contract_line fills absent layers with 0:
    # every end-to-end metric from every workload, every per-layer metric
    # from at least one
    layer_names = [m["name"] for m in spec["per_layer"]]
    emitted = set()
    for name, res in zip(names, results):
        problems = []
        emitted |= set(res["metrics"])
        problems += [f"{m['name']} not emitted" for m in spec["end_to_end"]
                     if m["name"] not in res["metrics"]]
        for trace, group in ((0, "end_to_end"), (1, "per_layer")):
            line = contract_line(spec, res, trace)
            for m in spec[group]:
                got = line["metrics"].get(m["name"])
                if got is None or got["unit"] != m["unit"]:
                    problems.append(f"{m['name']} not printed with unit {m['unit']}")
        if not res["correct"]:
            problems.append(f"checks failed: {res['failures']}")
        if not res.get("perturbed_op_failed"):
            problems.append("a perturbed output passed its checks")
        record({"smoke": True, "workload": name, "result": res})
        ok = ok and not problems
        print(f"{name}: {'ok' if not problems else 'FAIL'}"
              + "".join(f"\n  {p}" for p in problems))
    silent = [n for n in layer_names if n not in emitted]
    if silent:
        ok = False
        print(f"per-layer metrics no workload emitted: {silent}")
    print(json.dumps({"smoke": "ok" if ok else "failed",
                      "seconds": round(time.time() - t0, 1)}))
    sys.exit(0 if ok else 1)


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=4,
                    help="Spark local[N]; 1 gives the scaling reading's base")
    ap.add_argument("--smoke", action="store_true")
    a = ap.parse_args()

    if not os.path.exists(SPEC) or not os.path.isdir(os.path.join(ENGINE, "scala", "graft")):
        fail("run from the root of a graft checkout (engine sources not found)", 2)
    with open(SPEC) as fh:
        spec = json.load(fh)
    names = [w["name"] for w in spec["workloads"]]
    cp = build()
    if a.smoke:
        smoke(spec, cp, a.cores)
    if a.workload not in names:
        fail(f"--workload must be one of {names}", 2)
    seconds = a.seconds if a.seconds is not None else spec["run_seconds"]
    res = run_jvm(cp, a.workload, a.seed, seconds, a.trace, a.cores, False,
                  RUN_LIMIT_S)
    line = contract_line(spec, res, a.trace)
    record({"workload": a.workload, "seed": a.seed, "seconds": seconds,
            "trace": a.trace, "cores": a.cores, "result": res})
    print(json.dumps(line))


if __name__ == "__main__":
    main()
