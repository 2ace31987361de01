#!/usr/bin/env python3
"""Benchmark runner for the graft engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first call builds the library from
src/main/scala together with the harness in perfbench/harness (plain
scalac against the Spark jars, no sbt) under .bench_build/perfbench/.
The inputs are the project's scale-0.01 tables, kept read-only in
perfbench/data/sf0.01. Each call then starts one fresh benchmark
JVM, turns its raw samples into metrics (perfbench/metrics.py), checks
its outputs, keeps the full result under .bench_build/perfbench/results/
and prints a human summary followed by one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones from the span recorder and listeners.
"""
import argparse
import fcntl
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import metrics  # noqa: E402

BUILD = ROOT / ".bench_build" / "perfbench"
WORKLOADS = ("warehouse_queries", "cdc_ingest")
FIXTURES = HERE / "data" / "sf0.01"
RUN_TIMEOUT_S = 165
BUILD_TIMEOUT_S = 600
HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]

_child = None


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def _stop_child(*_):
    if _child is not None and _child.poll() is None:
        try:
            os.killpg(_child.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        _child.wait()
    sys.exit(3)


def run_child(cmd, log, timeout):
    """Runs cmd in its own process group; kills the group on timeout."""
    global _child
    with open(log, "w") as out:
        _child = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                                  start_new_session=True, cwd=ROOT)
        try:
            rc = _child.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(_child.pid, signal.SIGKILL)
            _child.wait()
            rc = None
    _child = None
    return rc


def java():
    home = os.environ.get("JAVA_HOME")
    exe = Path(home) / "bin" / "java" if home else shutil.which("java")
    if not exe or not Path(exe).exists():
        die("no java found")
    return str(exe)


def spark_jars():
    """The jars of the Spark distribution at $SPARK_HOME."""
    home = os.environ.get("SPARK_HOME")
    jars = sorted(glob.glob(str(Path(home) / "jars" / "*.jar"))) if home else []
    if not jars:
        die("no Spark jars found: set SPARK_HOME to a Spark 4.1 distribution")
    return jars


def sources():
    lib = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    if not lib:
        die(f"no library sources under {ROOT}/src/main/scala")
    return lib, sorted((HERE / "harness").glob("*.scala"))


def stamp(lib, harness):
    h = hashlib.sha256()
    res = sorted((ROOT / "src" / "main" / "resources").rglob("*"))
    for p in lib + harness + res:
        if p.is_file():
            h.update(str(p.relative_to(ROOT)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def scalac(jars, out, classpath, files):
    compiler = [j for j in jars if Path(j).name.startswith(
        ("scala-compiler-", "scala-library-", "scala-reflect-"))]
    if len(compiler) < 3:
        die("scala compiler jars not found among the Spark jars")
    out.mkdir(parents=True, exist_ok=True)
    argfile = out.parent / f"{out.name}.args"
    argfile.write_text("\n".join(
        ["-nowarn", "-d", str(out), "-classpath", ":".join(classpath)]
        + [str(f) for f in files]) + "\n")
    rc = run_child([java(), "-XX:-UsePerfData", "-Xss8m", "-Xmx2g",
                    "-cp", ":".join(compiler),
                    "scala.tools.nsc.Main", f"@{argfile}"],
                   out.parent / f"{out.name}.log", BUILD_TIMEOUT_S)
    if rc != 0:
        die(f"compile failed, see {out.parent / (out.name + '.log')}")


def build():
    """Compiles the library and harness, once per source state."""
    lib, harness = sources()
    jars = spark_jars()
    BUILD.mkdir(parents=True, exist_ok=True)
    with open(BUILD / ".lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        want = stamp(lib, harness)
        stamp_file = BUILD / "stamp"
        if stamp_file.exists() and stamp_file.read_text() == want:
            return jars
        stamp_file.unlink(missing_ok=True)
        shutil.rmtree(BUILD / "classes", ignore_errors=True)
        lib_out = BUILD / "classes" / "lib"
        scalac(jars, lib_out, jars, lib)
        res = ROOT / "src" / "main" / "resources"
        if res.is_dir():
            shutil.copytree(res, lib_out, dirs_exist_ok=True)
        scalac(jars, BUILD / "classes" / "harness", [str(lib_out)] + jars,
               harness)
        stamp_file.write_text(want)
    return jars


def cpu_times():
    """(steal, total) jiffies of all CPUs, from /proc/stat; None where the
    file is missing."""
    try:
        with open("/proc/stat") as f:
            xs = [int(x) for x in f.readline().split()[1:]]
        return xs[7], sum(xs)
    except (OSError, IndexError, ValueError):
        return None


def steal_share(t0, t1):
    """Share of CPU time the hypervisor gave to other guests between two
    cpu_times() readings."""
    if not t0 or not t1 or t1[1] == t0[1]:
        return None
    return (t1[0] - t0[0]) / (t1[1] - t0[1])


def summary_lines(res):
    lines = [f"workload {res['workload']} seed {res['seed']} "
             f"trace {int(res['traced'])}"]
    for name, m in list(res["end_to_end"].items()) + list(res["detail"].items()):
        extra = f" n={m['n']}" if "n" in m else ""
        if "quantile" in m:
            extra += f" q={m['quantile']}"
        if "commits" in m:
            extra += f" commits={m['commits']}"
        lines.append(f"  {name:24s} {m['value']:.4f} {m['unit']}{extra}")
    c = res["conditions"]
    lines.append(f"  conditions: cores={c['cores']} threads={c['threads']} "
                 f"probe={c['probe_start_s']:.3f}/{c['probe_end_s']:.3f}s "
                 f"load1m={c['loadavg_1m_start']:.2f}/{c['loadavg_1m_end']:.2f} "
                 f"steal={c['cpu_steal_share']}")
    lines.append(f"  inputs: {json.dumps(res['inputs'])}")
    lines.append(f"  output check: {'PASS' if res['correct'] else 'FAIL'} "
                 f"attempted={res['attempted']} failed={res['failed']} "
                 f"error_rate={res['error_rate']:.4f}")
    lines += [f"    {n}" for n in res["notes"]]
    return lines


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    ap.add_argument("--latency-limit-ms", required=True, type=float,
                    help="cdc_ingest: commit p99 above this is not sustained "
                    "(set once, in BENCHMARK.json's command)")
    ap.add_argument("--record-expected", metavar="FILE",
                    help="write this run's output-check values to FILE")
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, _stop_child)

    if not (FIXTURES / "lineitem.parquet").is_file():
        die(f"fixtures missing under {FIXTURES}")
    jars = build()
    keysets = json.loads((HERE / "keys.json").read_text())
    expected = json.loads((HERE / "expected.json").read_text())["keys"]
    run_id = f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}"
    work = BUILD / "work" / run_id
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    out, spans = work / "raw.json", work / "spans.jsonl"
    cp = [str(BUILD / "classes" / "harness"), str(BUILD / "classes" / "lib")] + jars
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = [java(), "-XX:-UsePerfData"]
    cmd += [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd += [f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work / 'tmp'}",
            f"-Dderby.system.home={work / 'derby'}",
            f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
            "-cp", ":".join(cp), "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--fixtures", str(FIXTURES), "--work", str(work),
            "--out", str(out), "--spans", str(spans)]
    if a.workload in keysets:
        cmd += ["--keys", ",".join(keysets[a.workload])]
    load_start, cpu_start = os.getloadavg()[0], cpu_times()
    logs = BUILD / "logs"
    logs.mkdir(exist_ok=True)
    log = logs / f"{run_id}.log"
    rc = run_child(cmd, log, RUN_TIMEOUT_S)
    if rc != 0 or not out.exists():
        shutil.rmtree(work, ignore_errors=True)
        die(f"benchmark JVM {'timed out' if rc is None else f'exited {rc}'}, "
            f"see {log}")
    raw = json.loads(out.read_text())
    raw["loadavg_start"], raw["loadavg_end"] = load_start, os.getloadavg()[0]
    raw["cpu_steal_share"] = steal_share(cpu_start, cpu_times())
    raw["fixtures"] = str(FIXTURES.relative_to(ROOT))
    raw["latency_limit_ms"] = a.latency_limit_ms
    span_list = ([json.loads(x) for x in spans.read_text().splitlines()]
                 if spans.exists() else [])
    res = metrics.evaluate(raw, span_list, expected)

    keep = BUILD / "results" / a.workload / f"trace{a.trace}"
    keep.mkdir(parents=True, exist_ok=True)
    (keep / f"seed{a.seed}.json").write_text(json.dumps(res, indent=1))
    if a.trace:
        shutil.copy(spans, keep / f"seed{a.seed}.spans.jsonl")
    if a.record_expected:
        rec = Path(a.record_expected)
        got = json.loads(rec.read_text()) if rec.exists() else {"keys": {}}
        for c in raw.get("checks", []):
            if "rows" in c:
                got["keys"][c["key"]] = {"rows": c["rows"], "hash": c["hash"]}
        rec.write_text(json.dumps(got, indent=1, sort_keys=True) + "\n")
    shutil.rmtree(work, ignore_errors=True)

    for line in summary_lines(res):
        print(line)
    chosen = res["per_layer"] if a.trace else res["end_to_end"]
    print(json.dumps({
        "correct": res["correct"], "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": m["value"], "unit": m["unit"]}
                    for k, m in chosen.items()}}))


if __name__ == "__main__":
    main()
