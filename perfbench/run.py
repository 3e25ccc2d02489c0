#!/usr/bin/env python3
"""perfbench: one closed-loop workload against the engine, end to end.

Usage (from the repository root):
  python3 perfbench/run.py --workload llm_v3|ingest_serve \
      --seed N --seconds S --trace 0|1

Builds the engine and the benchmark driver (perfbench/build.py), runs the
driver JVM at local[4], checks every round's outputs (perfbench/checks.py),
and prints two lines: a run summary (seed, input content hash, failures,
host pressure) and, last, the result object
`{"correct", "attempted", "failed", "metrics"}`. `--trace 0` reports the
end-to-end metrics, `--trace 1` the per-layer ones and writes the spans to
`.bench_build/perfbench/traces/`. See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ("llm_v3", "ingest_serve")
DEADLINE_S = 170  # the whole run after the build: generation, driver JVM, checks

ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def jvm(root, jar, args, work, log, timeout):
    """Run the driver JVM; returns its exit code, or None on timeout.

    The first run of a build records the classes it loads into a CDS
    archive next to the jar; later runs map it, which cuts JVM and Spark
    start-up by several seconds.
    """
    archive = os.path.join(os.path.dirname(jar), "classes.jsa")
    fresh = f"{archive}.{os.getpid()}"
    cds = (f"-XX:SharedArchiveFile={archive}" if os.path.exists(archive)
           else f"-XX:ArchiveClassesAtExit={fresh}")
    cmd = (["java", "-Xms2g", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", cds,
            f"-Djava.io.tmpdir={work}/tmp", "-Duser.timezone=UTC",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", os.pathsep.join([jar, os.path.join(build.spark_jars(root), "*")]),
              "graft.bench.Main"] + args)
    os.makedirs(f"{work}/tmp", exist_ok=True)
    # the session's tuning must not follow the caller's environment, and
    # Spark's scratch space stays inside the work directory
    env = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_EXTRA_CONF"}
    env["SPARK_LOCAL_DIRS"] = f"{work}/spark-local"
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, cwd=work, env=env)
        try:
            code = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            code = None
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if os.path.exists(fresh):
        if code == 0:
            os.replace(fresh, archive)
        else:
            os.remove(fresh)
    return code


def e2e(result):
    ops = result["ops"]
    walls = [o["wall_s"] for o in ops]
    comp = [o["compile_s"] for o in ops]
    return {
        "throughput_rows_per_s": sum(o["rows"] for o in ops) / sum(walls),
        "round_p50_s": statistics.median(walls),
        "compile_s": statistics.median(comp),
        "run_s": statistics.median(w - c for w, c in zip(walls, comp)),
        "peak_rss_mb": result["peak_rss_mb"],
        "setup_s": result["gen_s"] + result["session_start_s"] + result["warmup_s"],
    }


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", type=float, default=3)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--gen-only", action="store_true",
                    help="generate the inputs, print their content hash, and stop")
    a = ap.parse_args(argv)
    root = os.getcwd()
    if a.gen_only:
        tmp = os.path.join(build.build_dir(root), "work", f"gen-{os.getpid()}")
        try:
            digest = gen.generate(a.workload, tmp, a.seed)[0]
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
        print(json.dumps({"workload": a.workload, "seed": a.seed, "input_sha256": digest}))
        return 0
    try:
        jar = build.build(root)
    except (OSError, RuntimeError) as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        return 2
    t0 = time.time()
    base = build.build_dir(root)
    work = os.path.join(base, "work", f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        # set-up part 1: input generation, three times for a median
        inputs = os.path.join(work, "inputs")
        gen_s = []
        for _ in range(3):
            g0 = time.perf_counter()
            digest, info, params = gen.generate(a.workload, inputs, a.seed)
            gen_s.append(time.perf_counter() - g0)
        out = os.path.join(work, "result.json")
        trace_out = os.path.join(base, "traces", f"{a.workload}-seed{a.seed}.json")
        args = ["--workload", a.workload, "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--work", work, "--inputs", inputs, "--out", out, "--trace-out", trace_out,
                "--run-id", f"{a.workload}-seed{a.seed}-trace{a.trace}"]
        args += [x for k, v in params.items() for x in (f"--{k}", str(v))]
        code = jvm(root, jar, args, work, os.path.join(work, "jvm.log"),
                   DEADLINE_S - (time.time() - t0))
        if code != 0 or not os.path.exists(out):
            with open(os.path.join(work, "jvm.log")) as f:
                sys.stderr.write(f.read()[-6000:])
            print(f"[perfbench] driver JVM {'timed out' if code is None else f'exited {code}'}",
                  file=sys.stderr)
            return 3
        with open(out) as f:
            result = json.load(f)
        result["gen_s"] = statistics.median(gen_s)
        result["check"].update(info)
        import checks
        failures = checks.check(a.workload, result)
        failed = sum(1 for f in failures if f)
        if a.trace:
            layer = dict(result["per_layer"], **{"bench.gen_s": result["gen_s"]})
            unknown = set(layer) - {n for n, _ in metrics.PER_LAYER}
            if unknown:
                print(f"[perfbench] unlisted per-layer metrics: {sorted(unknown)}", file=sys.stderr)
            values = {n: (u, layer.get(n, 0.0)) for n, u in metrics.PER_LAYER}
        else:
            vals = e2e(result)
            values = {n: (u, vals[n]) for n, u in metrics.END_TO_END}
        summary = {
            "workload": a.workload, "seed": a.seed, "trace": a.trace,
            "input_sha256": digest, "rounds": len(failures),
            "ops_failed_frac": failed / len(failures),
            "failures": [m for f in failures for m in f][:20],
            "host_other_cores": result["other_cores"], "host_steal_cores": result["steal_cores"],
            "wall_s": time.time() - t0,
        }
        if a.trace:
            summary["trace_file"] = os.path.relpath(trace_out, root)
        print(json.dumps(summary))
        print(json.dumps({
            "correct": failed == 0, "attempted": len(failures), "failed": failed,
            "metrics": {n: {"value": v, "unit": u} for n, (u, v) in values.items()}}))
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
