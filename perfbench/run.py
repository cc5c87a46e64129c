"""Runs one benchmark workload and prints its metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine and the
benchmark (`build.py`) and generates the query tables (`datagen.py`); later
runs reuse both. `--seed` sets the pass order and the `populate_waves`
chunks (`chunks.py`). `--seconds` sets how many warm passes are measured:
that many seconds' worth at the workload's nominal pass time. With `--trace 0` the run reports the end-to-end
metrics of BENCHMARK.json, with `--trace 1` the per-layer metrics, and it
writes spans and per-op structural counts to
`perfbench/out/trace-<workload>-<seed>.json`. Every run leaves its record in
`perfbench/out/run-<workload>-<seed>-trace<t>.json`.

The last stdout line is one JSON object: correct, attempted, failed and
metrics. A wrong output makes `correct` false and the exit code 1.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import build  # noqa: E402
import chunks  # noqa: E402
import datagen  # noqa: E402

WORKLOADS = ("pairwise_kernels", "populate_waves")
JVM_TIMEOUT_S = 170
LOCAL_CORES = min(4, os.cpu_count() or 1)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def tables_dir():
    """The generated query tables, regenerated when datagen.py changes."""
    with open(os.path.join(BENCH, "datagen.py"), "rb") as fh:
        tag = hashlib.sha256(fh.read()).hexdigest()[:16]
    out = os.path.join(BENCH, ".data", tag)
    if not os.path.exists(os.path.join(out, "complete")):
        shutil.rmtree(os.path.join(BENCH, ".data"), ignore_errors=True)
        datagen.main(out)
        open(os.path.join(out, "complete"), "w").close()
    return out


def jvm(classes, main_args, work):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", "-Xms2g", "-Xmx2g", "-Xss8m"]
           + [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS]
           + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              "-Dspark.driver.host=localhost", "-Dspark.driver.bindAddress=127.0.0.1",
              "-Duser.language=en", "-Duser.country=US", "-Duser.timezone=UTC",
              f"-Djava.io.tmpdir={tmp}",
              "-Dlog4j2.configurationFile=" + os.path.join(BENCH, "log4j2.properties"),
              "-cp", classes + os.pathsep + os.path.join(build.spark_jars(), "*"),
              "perfbench.Main"] + main_args)
    return subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, timeout=JVM_TIMEOUT_S,
                          cwd=ROOT).returncode


def record():
    """`--workload record`: writes expected.json from the engine's current
    results of the `pairwise_kernels` queries. Check the new digests against
    the DuckDB oracle before committing them (perfbench/README.md)."""
    classes = build.build()
    work = os.path.join(BENCH, ".work", "record")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = os.path.join(work, "digests.json")
    rc = jvm(classes, ["--workload", "pairwise_kernels", "--seed", "0", "--seconds", "0",
                       "--record", "1", "--data", tables_dir(), "--work", work, "--out", out,
                       "--cpus", str(LOCAL_CORES)], work)
    if rc != 0:
        sys.exit(f"benchmark JVM exited with {rc}")
    with open(out) as fh:
        digests = json.load(fh)["digests"]
    shutil.rmtree(work, ignore_errors=True)
    with open(os.path.join(BENCH, "expected.json"), "w") as fh:
        json.dump({"digests": dict(sorted(digests.items()))}, fh, indent=1)
        fh.write("\n")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("record",))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if a.workload == "record":
        return record()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    try:
        classes = build.build()
    except build.BuildError as e:
        sys.exit(f"build failed: {e}")

    work = os.path.join(BENCH, ".work", f"{a.workload}-{a.seed}-{a.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out_dir = os.path.join(BENCH, "out")
    side = os.path.join(out_dir, f"trace-{a.workload}-{a.seed}.json")
    result = os.path.join(work, "result.json")
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--data", tables_dir(), "--work", work,
            "--out", result, "--side", side,
            "--cpus", str(LOCAL_CORES),
            "--expected", os.path.join(BENCH, "expected.json")]
    if a.workload == "populate_waves":
        plan = chunks.generate(os.path.join(work, "chunks"), a.seed)
        args += ["--waves", ";".join(",".join(map(str, w)) for w in plan)]
    try:
        rc = jvm(classes, args, work)
    except subprocess.TimeoutExpired:
        sys.exit(f"benchmark JVM exceeded {JVM_TIMEOUT_S} s")
    if rc != 0:
        sys.exit(f"benchmark JVM exited with {rc}")
    with open(result) as fh:
        rec = json.load(fh)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"run-{a.workload}-{a.seed}-trace{a.trace}.json"), "w") as fh:
        json.dump(rec, fh, indent=1)

    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    metrics = {m["name"]: {"value": rec["metrics"][m["name"]], "unit": m["unit"]} for m in wanted}
    correct = rec["failed"] == 0
    env = rec["env"]
    print(f"# {a.workload} seed={a.seed} trace={a.trace} nproc={env['nproc']} "
          f"local[{env['local_cores']}] spark={env['spark']} jvm={env['jvm']} "
          f"calibration_probe_s={env['calibration_probe_s']:.4f}")
    for name, m in metrics.items():
        print(f"{name} {m['value']} {m['unit']}")
    if not a.trace:
        p90 = rec.get("op_s_p90")
        print(f"cold_pass_s {rec['cold_pass_s']} s (one sample a run, so not gated)")
        print(f"fail_ratio {rec['failed'] / rec['attempted']} (of {rec['attempted']} ops)")
        print(f"op_samples {rec['op_samples']}; op_s_p90 "
              + (f"{p90} s" if p90 is not None else "not reported (fewer than 100 samples)"))
    else:
        o = rec["tracing_overhead"]
        print(f"tracing_overhead_s {o['seconds']} (traced minus untraced warm pass, medians of "
              f"{o['traced_passes']} and {o['untraced_passes']} passes); "
              f"side file {os.path.relpath(side, ROOT)}")
    for f in rec["failures"]:
        print(f"FAILED {f}")
    print(json.dumps({"correct": correct, "attempted": rec["attempted"],
                      "failed": rec["failed"], "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
