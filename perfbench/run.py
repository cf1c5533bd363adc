#!/usr/bin/env python3
"""Benchmark entry point for the graft psp.cz analyzer.

Run from the repository root:

    python3 perfbench/run.py --workload catalog|serve_cold \
        --seed N --seconds S --trace 0|1

It builds the program from source together with the harness in
perfbench/ (sbt, output under .bench_build/), starts one JVM sized from
this host (cores from nproc, heap from MemTotal as the tier-1 test
command sizes it), runs the workload, checks the outputs and prints the
effective config, every metric by name and unit, and as its last line
one JSON object: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are BENCHMARK.json's end_to_end list, with
--trace 1 its per_layer list. The full result (notes, per-query rows,
span totals) is kept in .bench_out/result-<workload>-<seed>-t<trace>.json.

Exit code 0 only when every output checked out.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
OUT = os.path.join(ROOT, ".bench_out")
CLASSPATH = os.path.join(BUILD, "perfbench", "classpath.txt")
STAMP = os.path.join(BUILD, "perfbench", "sources.stamp")
CATALOG_SF = "sf0.001"

# JDK 17 module opens Spark needs outside spark-submit (the program's
# build.sbt passes the same list)
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


def sources_stamp():
    """Newest mtime and count of every file the build reads."""
    newest, n = 0.0, 0
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, files in os.walk(top):
            for f in files:
                newest = max(newest, os.path.getmtime(os.path.join(d, f)))
                n += 1
    for f in (os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")):
        newest = max(newest, os.path.getmtime(f))
    return f"{newest}:{n}"


def build():
    """Compiles program + harness unless the last build saw these sources."""
    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"no program sources: {need} missing under the checkout root")
    if shutil.which("sbt") is None:
        fail("sbt not found on PATH")
    stamp = sources_stamp()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read() == stamp:
                return 0.0
    t0 = time.time()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    sbt_opts = env.get("SBT_OPTS", "")
    if "sbt.offline" not in sbt_opts:
        sbt_opts += " -Dsbt.offline=true"
    env["SBT_OPTS"] = (sbt_opts + " -Dsbt.server.autostart=false").strip()
    r = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "exportClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=840)
    if r.returncode != 0 or not os.path.exists(CLASSPATH):
        sys.stderr.write(r.stdout[-4000:])
        fail("build failed")
    with open(STAMP, "w") as f:
        f.write(stamp)
    return time.time() - t0


def host_cpus():
    return len(os.sched_getaffinity(0))


def host_heap_gb():
    """MemTotal / 2, clamped to [2, 8] GiB: the tier-1 command's rule."""
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    g = int(line.split()[1]) // 2097152
                    return max(2, min(8, g))
    except OSError:
        pass
    return 2


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=["catalog", "serve_cold"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record-digests", action="store_true",
                    help="catalog: rewrite the committed digests from two passes")
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    build_s = build()
    with open(CLASSPATH) as f:
        cp = f.read().strip()
    os.makedirs(OUT, exist_ok=True)
    tmp = os.path.join(OUT, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cpus, heap = host_cpus(), host_heap_gb()
    # heap ceiling and code cache as the program's build sets them, with
    # transparent huge pages for the heap (faulting a growing heap in 4 KiB
    # pages showed as system time inside the timing windows)
    cmd = (["java", f"-Xmx{heap}g", "-XX:ReservedCodeCacheSize=2g",
            "-XX:+UseTransparentHugePages",
            f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--cpus", str(cpus), "--out", OUT,
              "--data", os.path.join(HERE, "data", CATALOG_SF),
              "--digests", os.path.join(HERE, "data", CATALOG_SF + ".digests.json"),
              "--record-digests", "1" if a.record_digests else "0"])
    last = os.path.join(OUT, "last-result.json")
    if os.path.exists(last):
        os.remove(last)
    log = os.path.join(OUT, f"jvm-{a.workload}-{a.seed}.log")
    with open(log, "w") as err:
        r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=err,
                           text=True, timeout=900)
    sys.stdout.write(r.stdout)
    if not os.path.exists(last):
        fail(f"the JVM wrote no result (exit {r.returncode}); log: {log}")
    with open(last) as f:
        res = json.load(f)
    keep = os.path.join(OUT, f"result-{a.workload}-{a.seed}-t{a.trace}.json")
    res["notes"]["build_s"] = build_s
    res["notes"]["heap_gb"] = heap
    with open(keep, "w") as f:
        json.dump(res, f, indent=1)

    print("config: " + json.dumps({
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
        "trace": a.trace, "cpus": cpus, "heap_gb": heap,
        **{k: v for k, v in res["notes"].items()
           if k in ("rate_limit_per_min", "rate_limiter", "dump_scale",
                    "passes", "data", "hot_probe",
                    "gen_s", "build_s", "samples", "warmup_timeouts")}}))
    for k, unit in (("fail_ratio", "ratio"), ("catalog_s", "s"),
                    ("catalog_geomean_ms", "ms"), ("query_p50_ms", "ms")):
        if k in res["notes"]:
            print(f"metric {k} = {res['notes'][k]:.6g} {unit}")
    measured = {**res["e2e"], **res["layer"]}
    for k, m in measured.items():
        print(f"metric {k} = {m['value']:.6g} {m['unit']}")

    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    metrics = {}
    for m in wanted:
        v = measured.get(m["name"])
        # a layer this workload never calls reads 0
        metrics[m["name"]] = {"value": v["value"] if v else 0.0, "unit": m["unit"]}
        if v is None and not a.trace:
            fail(f"end-to-end metric {m['name']} was not measured")
    if a.trace:
        untraced = os.path.join(OUT, f"result-{a.workload}-{a.seed}-t0.json")
        if os.path.exists(untraced):
            with open(untraced) as f:
                base = json.load(f)["e2e"]
            over = {k: res["e2e"][k]["value"] - base[k]["value"]
                    for k in base if k in res["e2e"]}
            print("tracing overhead (traced - untraced, same seed): "
                  + json.dumps(over))
    ok = res["ok"] and r.returncode == 0
    print(json.dumps({"correct": bool(ok), "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]), "metrics": metrics}))
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
