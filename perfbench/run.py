#!/usr/bin/env python3
"""Run one benchmark workload against graft and print its result.

    python3 perfbench/run.py --workload ecs_step --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The first run builds graft and the
benchmark program from source with sbt (later runs reuse the build while
the sources are unchanged), then runs one JVM on local[<cores>]. The last
line of stdout is the result: {"correct", "attempted", "failed",
"metrics"}, with the end-to-end metrics of BENCHMARK.json for
--trace 0 and its per-layer metrics for --trace 1. Everything the run
writes lands under .bench_build/: the build stamp, Spark scratch space,
a report per run (reports/) and, for traced runs, the spans (traces/).
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
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
OUT = ROOT / ".bench_build"
sys.path.insert(0, str(HERE))
import metrics  # noqa: E402

# A run must end within 180 s, or 900 s when it also builds.
BUILD_TIMEOUT_S = 780
RUN_LIMIT_S, BUILD_RUN_LIMIT_S = 170, 870
HEAP = "4g"
# Spark 4 on JDK 17 outside spark-submit; the same list as the
# repository's own forked runs.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def source_hash():
    """Hash of every input of the build, so a changed source rebuilds."""
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             HERE / "build.sbt", HERE / "project" / "build.properties"]
    for base in (ROOT / "src" / "main", HERE / "src"):
        files += sorted(p for p in base.rglob("*") if p.is_file())
    for p in files:
        if p.is_file():
            h.update(str(p.relative_to(ROOT)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Run `cmd` in its own process group; kill the whole group on
    timeout. Returns (returncode, stdout)."""
    p = subprocess.Popen(cmd, start_new_session=True, stdout=subprocess.PIPE, text=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        fail("%s timed out after %d s" % (cmd[0], timeout))
    return p.returncode, out


def build():
    """Compile graft and the benchmark program unless the build is current.
    Returns (runtime classpath, whether it built)."""
    stamp, cp_file = OUT / "build.stamp", OUT / "classpath.txt"
    digest = source_hash()
    if stamp.is_file() and cp_file.is_file() and stamp.read_text() == digest:
        return cp_file.read_text().strip(), False
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH")
    tmp = OUT / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    opts = os.environ.get("SBT_OPTS", "")
    repos = Path.home() / ".sbt" / "repositories"
    if repos.is_file() and "sbt.repository.config" not in opts:
        opts += (" -Dsbt.override.build.repos=true -Dsbt.repository.config=%s"
                 " -Dsbt.offline=true" % repos)
    if "-Xmx" not in opts:
        opts += " -Xmx2g"
    # keep sbt's scratch files inside the checkout; JAVA_TOOL_OPTIONS also
    # reaches the JVMs the sbt launcher starts before reading SBT_OPTS
    opts += " -Dsbt.server.autostart=false -Djava.io.tmpdir=%s" % tmp
    tool = (os.environ.get("JAVA_TOOL_OPTIONS", "") + " -XX:-UsePerfData").strip()
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=opts.strip(),
               JAVA_TOOL_OPTIONS=tool)
    t = time.time()
    code, out = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true",
                           "export perfbench/Runtime/fullClasspath"],
                          BUILD_TIMEOUT_S, cwd=HERE, env=env, stderr=sys.stderr)
    lines = [l for l in out.splitlines() if "perfbench" in l and "classes" in l and ":" in l]
    if code != 0 or not lines:
        sys.stderr.write(out[-4000:])
        fail("build failed (sbt exit %d)" % code)
    cp_file.write_text(lines[-1].strip())
    stamp.write_text(digest)
    print("perfbench: built in %.0f s" % (time.time() - t), file=sys.stderr)
    return lines[-1].strip(), True


def host_speed_probe():
    """Seconds a fixed pure-Python loop takes. Recorded before and after
    the JVM runs: this host's CPU speed drifts by up to 1.7x over
    minutes, and the probe shows which runs met a slow period."""
    t = time.perf_counter()
    s = 0
    for i in range(1_000_000):
        s += i * i
    return time.perf_counter() - t


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t0 = time.time()

    spec_path = ROOT / "BENCHMARK.json"
    if not spec_path.is_file():
        fail("no BENCHMARK.json at the checkout root")
    spec = json.loads(spec_path.read_text())
    metrics.check_spec(spec)
    if a.workload not in {w["name"] for w in spec["workloads"]}:
        fail("unknown workload %r" % a.workload)
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        fail("graft's sources (build.sbt, src/main/scala) are not in this checkout")

    cp, built = build()
    run_id = "%s-seed%d-trace%d" % (a.workload, a.seed, a.trace)
    work = OUT / "work" / run_id
    tmp = OUT / "tmp"
    for d in (work, tmp, OUT / "spark-local"):
        shutil.rmtree(d, ignore_errors=True)
        d.mkdir(parents=True)
    raw_path = work / "raw.json"
    cmd = (["java", "-Xmx" + HEAP, "-XX:-UsePerfData"]
           + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              "-Djava.io.tmpdir=" + str(tmp),
              "-Dlog4j2.configurationFile=" + str(HERE / "log4j2.properties"),
              "-cp", cp, "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--out", str(raw_path), "--work", str(work)])
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(OUT / "spark-local"))
    probe_before = host_speed_probe()
    limit = (BUILD_RUN_LIMIT_S if built else RUN_LIMIT_S) - (time.time() - t0)
    code, out = run_group(cmd, max(limit, 1), cwd=ROOT, env=env, stderr=sys.stderr)
    probes = [probe_before, host_speed_probe()]
    sys.stderr.write(out)
    if code != 0 or not raw_path.is_file():
        fail("benchmark JVM failed (exit %d)" % code)
    raw = json.loads(raw_path.read_text())
    shutil.rmtree(work, ignore_errors=True)
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(OUT / "spark-local", ignore_errors=True)

    line = metrics.result_line(raw, spec, traced=bool(a.trace))
    metrics.check_line(line, spec, traced=bool(a.trace))
    write_report(raw, line, a, run_id, probes)
    print(json.dumps(line))


def write_report(raw, line, a, run_id, probes):
    """Keep the run's record: machine, sizes, per-op breakdown, and for a
    traced run its spans and the tracing overhead against the untraced
    run of the same workload and seed, when one exists."""
    reports = OUT / "reports"
    reports.mkdir(parents=True, exist_ok=True)
    machine = dict(raw["machine"], git_commit=git_commit(), source_hash=source_hash(),
                   host_speed_probe_s=probes)
    cap = machine["block_capacity_bytes"]
    report = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "run_id": raw["run_id"], "machine": machine,
        "world": raw["extra"].get("world"),
        "peak_block_share_of_capacity": raw["peak_block_bytes"] / cap if cap else None,
        "result": line,
        "end_to_end": metrics.end_to_end(raw),
        "setup_s_samples": raw["setup_s"],
        "ops": raw["ops"],
        "by_op_type": metrics.by_op_type(raw),
        "checks": raw["checks"],
    }
    if a.trace:
        traces = OUT / "traces"
        traces.mkdir(parents=True, exist_ok=True)
        span_file = traces / (raw["run_id"] + ".json")
        span_file.write_text(json.dumps(raw["spans"]))
        report["spans_file"] = str(span_file.relative_to(ROOT))
        base = reports / ("%s-seed%d-trace0.json" % (a.workload, a.seed))
        if base.is_file():
            untraced = json.loads(base.read_text())["end_to_end"]
            report["tracing_overhead"] = {
                k: report["end_to_end"][k] - untraced[k] for k in untraced}
        else:
            report["tracing_overhead"] = "no untraced run of this workload and seed yet"
    (reports / (run_id + ".json")).write_text(json.dumps(report, indent=1))


if __name__ == "__main__":
    main()
