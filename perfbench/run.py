#!/usr/bin/env python3
"""Seeded CDC-ingest benchmark for the graft engine.

Run from the repository root:

    python3 perfbench/run.py --workload cdc_trickle --seed 1 --seconds 8 --trace 0

It builds the engine and the benchmark from source (scalac from the Spark
distribution, into $CARGO_TARGET_DIR or .bench_build), runs one workload
in one JVM, checks the outputs against oracles that do not call the code
under test, and prints one JSON object as the last line of stdout: the
end-to-end metrics with --trace 0, the per-layer metrics with --trace 1.
The full record of every run is kept under <build dir>/perfbench/records.

`--self-test` runs the benchmark's own logic tests instead.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
ENGINE_SRC = ROOT / "src" / "main" / "scala"
BENCH_SRC = HERE / "src"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
# a fixed heap keeps peak RSS from following G1's heap resizing
HEAP = "2g"

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def build_dir():
    d = Path(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    if not d.is_absolute():
        d = ROOT / d
    return d / "perfbench"


def spark_jars():
    """The Spark distribution's jars: $SPARK_HOME, else the first
    distribution whose bin/spark-submit is on PATH."""
    homes = [os.environ.get("SPARK_HOME")] + [
        str(Path(d).parent) for d in os.environ.get("PATH", "").split(os.pathsep)
        if d and (Path(d) / "spark-submit").is_file()]
    for home in homes:
        if home and (Path(home) / "jars").is_dir():
            return Path(home) / "jars"
    fail("no Spark distribution found: set SPARK_HOME")


def sources():
    if not ENGINE_SRC.is_dir():
        fail(f"engine sources not found at {ENGINE_SRC}: run from a checkout "
             "of the repository")
    srcs = sorted(p for d in (ENGINE_SRC, BENCH_SRC) for p in d.rglob("*.scala"))
    if not any(p.is_relative_to(ENGINE_SRC) for p in srcs):
        fail(f"no Scala sources under {ENGINE_SRC}")
    return srcs


def build(bdir, jars):
    """Compile engine + benchmark with scalac unless the sources are unchanged.
    Returns the classes directory and the sources' hash."""
    srcs = sources()
    bdir.mkdir(parents=True, exist_ok=True)
    h = hashlib.sha256()
    for p in srcs:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    stamp = h.hexdigest()
    classes = bdir / "classes"
    stamp_file = bdir / "classes.stamp"
    if classes.is_dir() and stamp_file.is_file() and stamp_file.read_text() == stamp:
        return classes, stamp
    tmp = bdir / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = bdir / "sources.txt"
    argfile.write_text("\n".join(f'"{p}"' for p in srcs) + "\n")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={bdir}", "-cp", f"{jars}/*",
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
           "-d", str(tmp), f"@{argfile}"]
    t0 = time.time()
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr,
                       timeout=BUILD_TIMEOUT_S, cwd=ROOT)
    if r.returncode != 0:
        fail(f"build failed (scalac exit {r.returncode})", 3)
    shutil.rmtree(classes, ignore_errors=True)
    tmp.rename(classes)
    stamp_file.write_text(stamp)
    print(f"perfbench: built {len(srcs)} sources in {time.time() - t0:.1f} s",
          file=sys.stderr)
    return classes, stamp


def java_cmd(classes, jars, main, args, tmpdir, heap=HEAP):
    return (["java", f"-Xms{heap}", f"-Xmx{heap}", "-XX:-UsePerfData",
             f"-Djava.io.tmpdir={tmpdir}", "-Dspark.ui.enabled=false",
             f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
             "-Dspark.sql.session.timeZone=UTC", "-Duser.timezone=UTC"]
            + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + ["-cp", f"{classes}:{jars}/*", main] + args)


def run_jvm(cmd, env):
    """Run the JVM, echo its output to stderr, return (exit code, stdout lines)."""
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr,
                            text=True, env=env, cwd=ROOT)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S} s", 4)
    return proc.returncode, out.splitlines()


def load_records(rdir):
    recs = []
    for p in sorted(rdir.glob("*.json")):
        try:
            recs.append(json.loads(p.read_text()))
        except (OSError, ValueError):
            pass
    return recs


def medians(recs, section):
    vals = {}
    for r in recs:
        for k, m in r.get(section, {}).items():
            if isinstance(m.get("value"), (int, float)):
                vals.setdefault(k, []).append(m["value"])
    return {k: statistics.median(v) for k, v in vals.items()}


def overhead(rdir, workload, record):
    """Traced minus untraced medians of each end-to-end metric, over the
    records of the same code (source hash), workload and sizes."""
    same = lambda r: (r.get("workload") == workload and r.get("correct")
                      and r.get("source_hash") == record.get("source_hash")
                      and r.get("seconds") == record.get("seconds")
                      and r.get("info", {}).get("sizes")
                      == record.get("info", {}).get("sizes"))
    recs = [r for r in load_records(rdir) if same(r)]
    untraced = [r for r in recs if r.get("trace") == 0]
    traced = [r for r in recs if r.get("trace") == 1
              and r.get("run_id") != record.get("run_id")] + [record]
    if not untraced:
        return {"note": "no untraced record of this workload in this checkout yet"}
    mu, mt = medians(untraced, "end_to_end"), medians(traced, "end_to_end")
    return {"untraced_runs": len(untraced), "traced_runs": len(traced),
            "delta": {k: mt[k] - mu[k] for k in mt if k in mu}}


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=8)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()

    spec_file = ROOT / "BENCHMARK.json"
    if not spec_file.is_file():
        fail("BENCHMARK.json not found at the repository root")
    spec = json.loads(spec_file.read_text())
    bdir = build_dir()
    rdir = bdir / "records"
    jars = spark_jars()
    classes, source_hash = build(bdir, jars)
    tmpdir = bdir / "tmp"
    tmpdir.mkdir(exist_ok=True)
    env = dict(os.environ, TZ="UTC", SPARK_LOCAL_IP="127.0.0.1",
               SPARK_LOCAL_HOSTNAME="localhost")

    if a.self_test:
        code, out = run_jvm(java_cmd(classes, jars, "perfbench.SelfTest", [],
                                     tmpdir, "1g"), env)
        print("\n".join(out))
        sys.exit(code)

    names = [w["name"] for w in spec["workloads"]]
    if a.workload not in names:
        fail(f"--workload must be one of {', '.join(names)}")
    work = bdir / "work" / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    args = ["--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", str(work)]
    try:
        code, out = run_jvm(java_cmd(classes, jars, "perfbench.Main", args,
                                     tmpdir), env)
        spans = work / "spans.jsonl"
        rec_line = next((l for l in reversed(out) if l.startswith("RECORD ")), None)
        if rec_line is None:
            fail(f"the run printed no record (exit {code})", code or 5)
        record = json.loads(rec_line[len("RECORD "):])
        record["source_hash"] = source_hash
        rdir.mkdir(parents=True, exist_ok=True)
        stem = f"{a.workload}-t{a.trace}-s{a.seed}-{int(time.time() * 1000)}"
        if a.trace:
            record["trace_overhead"] = overhead(rdir, a.workload, record)
            if spans.is_file():
                shutil.copy(spans, rdir / f"{stem}.spans.jsonl")
        (rdir / f"{stem}.json").write_text(json.dumps(record, indent=1))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    print(json.dumps(record, indent=1), file=sys.stderr)
    section = "per_layer" if a.trace else "end_to_end"
    measured = record[section]
    metrics = {}
    for m in spec[section]:
        v = measured.get(m["name"], {}).get("value")
        if not isinstance(v, (int, float)):
            record["correct"] = False
            print(f"perfbench: metric {m['name']} missing", file=sys.stderr)
            continue
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    result = {"correct": bool(record["correct"]) and code == 0,
              "attempted": max(1, int(record["attempted"])),
              "failed": int(record["failed"]), "metrics": metrics}
    print(json.dumps(result))
    sys.exit(0 if result["correct"] else 1)


if __name__ == "__main__":
    main()
