#!/usr/bin/env python3
"""Layer-attributed benchmark of the graft engine.

Run from the repository root:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: curation_batch, store_lifecycle (see
BENCHMARK.json and perfbench/LAYERS.md). The first run builds the engine
and the benchmark's JVM program from source with sbt (perfbench/build.sbt)
and caches the classpath keyed by a hash of the sources. Each run then
starts one JVM, which generates the inputs from the seed, measures, and
writes its raw samples; this script checks the outputs (including an
exact-dedup count recomputed with DuckDB and digests pinned per seed in
perfbench/pins.json) and prints the metrics. The last line of standard
output is {"correct", "attempted", "failed", "metrics"}: the end-to-end
metrics with --trace 0, the per-layer metrics with --trace 1.
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
sys.path.insert(0, HERE)
import analyze  # noqa: E402

WORKLOADS = ("curation_batch", "store_lifecycle")
WORK = os.path.join(HERE, ".work")
CLASSPATH = os.path.join(WORK, "classpath.json")
# Class-data-sharing archive of the classes the workloads load, made with
# every build: it saves each run about 5 s of loading and verifying Spark's
# classes. Runs use it with -Xshare:on, so a run that cannot map it fails
# instead of silently measuring a slower start.
ARCHIVE = os.path.join(WORK, "classes.jsa")
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 840
JVM_HEAP = "-Xmx2g"
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
    sys.exit(1)


def build_inputs():
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main"),
                 os.path.join(HERE, "src", "main")):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    return env


def classpath():
    """Build (if the sources changed) and return the JVM classpath, with
    the class-data-sharing archive made for it."""
    h = hashlib.sha256()
    for f in build_inputs():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    if os.path.exists(CLASSPATH):
        with open(CLASSPATH) as f:
            cached = json.load(f)
        if cached.get("stamp") == stamp and os.path.exists(ARCHIVE):
            return cached["classpath"]
    os.makedirs(WORK, exist_ok=True)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           "export Runtime/fullClasspathAsJars"]
    try:
        proc = subprocess.run(cmd, cwd=HERE, env=sbt_env(), text=True,
                              stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                              timeout=BUILD_LIMIT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    with open(os.path.join(WORK, "build.log"), "w") as f:
        f.write(proc.stdout)
    lines = [l for l in proc.stdout.splitlines()
             if l and not l.startswith("[") and os.pathsep in l]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:])
        fail("build failed")
    cp = lines[-1].strip()
    if os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)
    # a throw-away JVM runs every workload's warm-up and writes the
    # classes it loaded into the archive as it exits
    train = os.path.join(WORK, "archive-run")
    shutil.rmtree(train, ignore_errors=True)
    os.makedirs(train)
    code = jvm(cp, ["--workload", "warmup_all", "--seed", "0",
                    "--seconds", "0", "--work", train],
               train, time.time() + BUILD_LIMIT_S,
               [f"-XX:ArchiveClassesAtExit={ARCHIVE}"])
    if code != 0 or not os.path.exists(ARCHIVE):
        with open(os.path.join(train, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        fail("could not make the class-data-sharing archive")
    shutil.rmtree(train, ignore_errors=True)
    with open(CLASSPATH, "w") as f:
        json.dump({"stamp": stamp, "classpath": cp}, f)
    return cp


def jvm(cp, main_args, work, deadline, flags):
    """Run the benchmark JVM to completion; returns its exit code. Its
    output goes to `work`/jvm.log."""
    env = dict(os.environ)
    # Spark prefers this variable over spark.local.dir; keep its scratch
    # files inside the run's own directory
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    java = os.path.join(env["JAVA_HOME"], "bin", "java") \
        if env.get("JAVA_HOME") else "java"
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = [java]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [JVM_HEAP, *flags, f"-Djava.io.tmpdir={tmp}",
            f"-Dderby.system.home={os.path.join(work, 'derby')}",
            "-cp", cp, "graft.perfbench.Main", *main_args]
    with open(os.path.join(work, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                env=env)
        try:
            return proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail("benchmark JVM timed out")


def run_jvm(cp, args, work, deadline):
    code = jvm(cp, ["--workload", args.workload, "--seed", str(args.seed),
                    "--seconds", str(args.seconds), "--trace",
                    str(args.trace), "--work", work], work, deadline,
               ["-Xshare:on", f"-XX:SharedArchiveFile={ARCHIVE}"])
    if code != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"benchmark JVM exited with {code}")
    with open(os.path.join(work, "result.json")) as f:
        return json.load(f)


def extra_checks(r):
    """Checks made outside the JVM: (name, ok, detail)."""
    out = []
    extra = r["extra"]
    if r["workload"] == "curation_batch":
        path = os.path.join(extra["documents_parquet"], "*.parquet")
        try:
            import duckdb
            want = duckdb.sql(
                "SELECT COUNT(*) FROM (SELECT text FROM read_parquet(?) "
                "GROUP BY text)", params=[path]).fetchone()[0]
            got = extra["kept_counts"]
            out.append(("exact_dedup_kept_matches_duckdb", got == [want],
                        f"{got} kept per pass, DuckDB {want}"))
        except Exception as e:  # a check that cannot run has failed
            out.append(("exact_dedup_kept_matches_duckdb", False, repr(e)))
        try:
            import duckdb
            want = list(duckdb.sql(
                "SELECT COUNT(DISTINCT t), COUNT(*) FROM (SELECT "
                "unnest(string_split(text, ' ')) AS t FROM read_parquet(?))",
                params=[path]).fetchone())
            got = extra["token_totals"]
            out.append(("token_counts_match_duckdb", got == [want],
                        f"{got} per pass vs DuckDB {want}"))
        except Exception as e:
            out.append(("token_counts_match_duckdb", False, repr(e)))
    # the distinct canonical (curation_batch) or cluster-store
    # (store_lifecycle) digests of every pass or cycle of every loop
    digests = extra["digests"]
    out.append(("digest_stable_across_rounds", len(digests) == 1, digests))
    with open(os.path.join(HERE, "pins.json")) as f:
        pins = json.load(f).get(r["workload"], {})
    pin = pins.get(str(r["seed"]))
    if pin is not None:
        out.append(("digest_matches_pin", digests == [pin],
                    f"{digests} vs pinned {pin}"))
    return out


def load_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def cpu_ticks():
    """(steal, total) CPU ticks of the machine so far (0s off Linux)."""
    try:
        with open("/proc/stat") as f:
            ticks = [int(x) for x in f.readline().split()[1:]]
        return ticks[7], sum(ticks)
    except (OSError, IndexError, ValueError):
        return 0, 0


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    deadline = time.time() + RUN_LIMIT_S
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("engine sources not found: run from the repository root")
    cp = classpath()
    deadline = max(deadline, time.time() + 150)  # a build pays its own way
    work = os.path.join(WORK, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    steal0, total0 = cpu_ticks()
    r = run_jvm(cp, args, work, deadline)
    steal1, total1 = cpu_ticks()
    outside = extra_checks(r)
    shutil.rmtree(work, ignore_errors=True)

    checks = [c for loop in ("plain", "traced", "plain_after")
              for c in (r.get(loop) or {}).get("checks", [])]
    attempted = r["plain"]["attempted"]
    failed = r["plain"]["failed"]
    for name, ok, detail in outside:
        checks.append({"name": name, "ok": ok, "detail": str(detail)})
        attempted += 1
        failed += 0 if ok else 1
    for loop in ("traced", "plain_after"):
        if r.get(loop):
            attempted += r[loop]["attempted"]
            failed += r[loop]["failed"]
    info = analyze.report(r)
    info["checks"] = checks
    # CPU time the hypervisor gave to other guests while the JVM ran: a
    # run with a high share was measured on a contended machine
    info["steal_share"] = (steal1 - steal0) / max(1, total1 - total0)
    print(json.dumps(info))
    if args.trace:
        metrics = analyze.per_layer(r)
        units = {m["name"]: m["unit"] for m in load_spec()["per_layer"]}
        print(json.dumps({"self_time_table":
                          [["layer", "span", "calls", "total_ms", "self_ms"]]
                          + analyze.self_time_table(r)}))
    else:
        e2e = analyze.end_to_end(r)
        metrics = {k: v for k, (v, _) in e2e.items()}
        units = {k: u for k, (_, u) in e2e.items()}
    print(json.dumps({
        "correct": failed == 0 and all(c["ok"] for c in checks),
        "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in metrics.items()}}))


if __name__ == "__main__":
    main()
