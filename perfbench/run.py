#!/usr/bin/env python3
"""graft benchmark: one command for the workloads in BENCHMARK.json.

    python3 perfbench/run.py --workload ar_serve --seed 1 --seconds 10 --trace 0

Builds graft and the JVM harness from source (perfbench/build.py), makes
the workload's inputs from --seed, runs the harness for --seconds of
measurement, checks every output, and prints as its last stdout line one
JSON object: {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are the end-to-end metrics, with --trace 1 the per-layer ones;
the traced run also writes its spans and the workload's named layer metrics
to .bench_build/trace/<workload>-<seed>.json. Lines before the last one
report the named metrics and every failed check. See perfbench/README.md.
"""
import argparse
import json
import os
import random
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import argen      # noqa: E402
import build      # noqa: E402
import catgen     # noqa: E402
import metrics    # noqa: E402

WORKLOADS = ("ar_serve", "catalog_sf001")
SIZES = {  # rows of the first AR snapshot, length of the request plan
    "full": {"rows": 20_000, "plan": 3000},
    "tiny": {"rows": 3_000, "plan": 300},
}
CPUS = 4
HEAP = "6g"
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def make_inputs(workload, seed, size, inputs):
    """Seeded inputs, the harness arguments naming them, and the expected
    answers, computed from the rules."""
    os.makedirs(inputs)
    extra, expected = {}, {}
    if workload == "ar_serve":
        first, second, _ = argen.generate(seed, size["rows"])
        argen.write_csv(os.path.join(inputs, "snap1.csv"), first, seed)
        argen.write_csv(os.path.join(inputs, "snap2.csv"), second, seed + 1)
        expected = {"create": argen.ingest_expectations(first),
                    "merge": argen.ingest_expectations(second)}
        model = argen.ServeModel(second)
        argen.write_plan(os.path.join(inputs, "plan.tsv"),
                         model.plan(random.Random(seed), size["plan"]))
    else:
        data = os.path.join(inputs, "catalog")
        catgen.write(data)
        order = list(catgen.QUERIES)
        random.Random(seed).shuffle(order)
        extra = {"--queries": ",".join(order), "--catalog": data}
        expected = catgen.expected()
    return extra, expected


def run_jvm(classpath, args, log):
    # -UsePerfData: no hsperfdata file outside the checkout
    cmd = ["java", f"-Xmx{HEAP}", "-XX:+UseParallelGC", "-XX:-UsePerfData",
           "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC", f"-Djava.io.tmpdir={args['--work']}",
           *ADD_OPENS, "-cp", classpath, "graftbench.Main"]
    for k, v in args.items():
        cmd += [k, v]
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=170)
        except subprocess.TimeoutExpired:
            raise SystemExit("run: harness timed out")
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if code != 0:
        with open(log) as f:
            sys.stderr.write(f.read()[-6000:])
        raise SystemExit(f"run: harness exited with {code}")


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=sorted(SIZES), default="full",
                   help="input size; tiny is for the self-test")
    a = p.parse_args()
    size = SIZES[a.size]

    classpath = build.build()
    work = os.path.join(build.BUILD, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    try:
        t0 = time.monotonic()
        extra, expected = make_inputs(a.workload, a.seed, size, os.path.join(work, "inputs"))
        gen_s = time.monotonic() - t0
        out = os.path.join(work, "result.json")
        run_jvm(classpath, {
            "--workload": a.workload, "--inputs": os.path.join(work, "inputs"),
            "--work": work, "--seconds": str(a.seconds), "--trace": str(a.trace),
            "--cpus": str(CPUS), "--out": out, **extra},
            os.path.join(work, "harness.log"))
        with open(out) as f:
            res = json.load(f)
    finally:
        shutil.rmtree(os.path.join(work, "serve"), ignore_errors=True)

    checks = metrics.check(res, expected)
    e2e, named = metrics.end_to_end(a.workload, res, gen_s)
    attempted = sum(c["attempted"] for c in checks.values())
    failed = sum(c["failed"] for c in checks.values())
    wrong = sum(c["wrong"] for c in checks.values())
    named["failed_share"] = (failed / attempted if attempted else 1.0, "share")
    if a.trace:
        layer, detail = metrics.per_layer(a.workload, res)
        os.makedirs(os.path.join(build.BUILD, "trace"), exist_ok=True)
        trace = os.path.join(build.BUILD, "trace", f"{a.workload}-{a.seed}.json")
        with open(trace, "w") as f:
            json.dump({"workload": a.workload, "seed": a.seed, "layer_metrics": detail,
                       "spans": res["spans"], "jobs": res["jobs"], "plans": res["plans"]}, f)
        print(json.dumps({"trace_file": os.path.relpath(trace, build.ROOT),
                          "layer_metrics": detail}))
        reported = layer
    else:
        reported = e2e
    print(json.dumps({"workload": a.workload, "seed": a.seed,
                      "named_metrics": {k: {"value": v, "unit": u} for k, (v, u) in named.items()}}))
    for name, c in checks.items():
        if c["failed"]:
            print(json.dumps({"failed_check": name, **c}))
    print(json.dumps({
        "correct": attempted > 0 and wrong == 0,
        "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in reported.items()}}))


if __name__ == "__main__":
    main()
