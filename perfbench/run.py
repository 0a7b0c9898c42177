#!/usr/bin/env python3
"""Medallion benchmark for graft: builds the engine from source, runs one
workload in a fresh JVM and prints one JSON result line.

    python3 perfbench/run.py --workload medallion --seed 1 --seconds 12 --trace 0
    python3 perfbench/run.py --workload all --seed 1      # every workload
    python3 perfbench/run.py --self-test                  # generator tests
    python3 perfbench/run.py --summarize                  # spread over runs
    python3 perfbench/run.py --record-ops                 # operator digests

Run it from the repository root. Build outputs, run directories and
result files go under `.bench_build/` there; see perfbench/README.md.
"""
import argparse
import fcntl
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
BUILD = ROOT / ".bench_build"
WORKLOADS = ["medallion", "query_api"]
RUN_TIMEOUT_S = 165
OPS_FILE = BENCH / "expected_ops.json"
HEAP = "4g"

# Spark 4 on JDK 17 outside spark-submit (JavaModuleOptions defaults)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars():
    """The jar directory the repository builds against: $SPARK_HOME/jars,
    else build.sbt's `unmanagedBase`."""
    cands = []
    if os.environ.get("SPARK_HOME"):
        cands.append(Path(os.environ["SPARK_HOME"]) / "jars")
    sbt = ROOT / "build.sbt"
    if sbt.exists():
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
        if m:
            cands.append(Path(m.group(1)))
    for c in cands:
        if glob.glob(str(c / "scala-compiler-*.jar")):
            return c
    die("no Spark jar directory with a Scala compiler found")


def sf_dir():
    """The fixture graft.Bench measures on: $SPARK_GRAFT_SF_DIR, else the
    default written in Bench.scala."""
    if os.environ.get("SPARK_GRAFT_SF_DIR"):
        return os.environ["SPARK_GRAFT_SF_DIR"]
    m = re.search(r'"SPARK_GRAFT_SF_DIR",\s*"([^"]+)"',
                  (ROOT / "src/main/scala/graft/Bench.scala").read_text())
    if not m:
        die("cannot find the fixture directory; set SPARK_GRAFT_SF_DIR")
    return m.group(1)


def tree_hash(files, salt=""):
    h = hashlib.sha256(salt.encode())
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def scalac(jars, out, classpath, files, log):
    comp = [glob.glob(str(jars / f"scala-{n}-*.jar"))[0]
            for n in ("compiler", "library", "reflect")]
    if out.exists():
        shutil.rmtree(out)
    out.mkdir(parents=True)
    argfile = out.parent / (out.name + ".args")
    argfile.write_text("\n".join(str(f) for f in files) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", ":".join(comp),
           "scala.tools.nsc.Main", "-nowarn", "-d", str(out),
           "-classpath", classpath, f"@{argfile}"]
    with open(log, "ab") as lf:
        r = subprocess.run(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=ROOT)
    if r.returncode != 0:
        die(f"compile failed, see {log}", 1)


def build():
    """Compile the engine and the benchmark (cached by source hash)."""
    main_src = sorted((ROOT / "src/main/scala").rglob("*.scala"))
    if not (ROOT / "src/main/scala/graft/Lake.scala").exists() or not main_src:
        die("no graft sources next to perfbench/ (run from a repository checkout)")
    jars = spark_jars()
    BUILD.mkdir(exist_ok=True)
    log = BUILD / "build.log"  # compiler output of the latest build only
    main_out, bench_out = BUILD / "classes-main", BUILD / "classes-bench"
    with open(BUILD / "build.lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        log.write_bytes(b"")
        mh = tree_hash(main_src)
        stamp = BUILD / "classes-main.sha256"
        if not (stamp.exists() and stamp.read_text() == mh and main_out.exists()):
            scalac(jars, main_out, f"{jars}/*", main_src, log)
            stamp.write_text(mh)
        bench_src = sorted((BENCH / "src").rglob("*.scala"))
        bh = tree_hash(bench_src, mh)
        stamp = BUILD / "classes-bench.sha256"
        if not (stamp.exists() and stamp.read_text() == bh and bench_out.exists()):
            scalac(jars, bench_out, f"{main_out}:{jars}/*", bench_src, log)
            stamp.write_text(bh)
    return f"{bench_out}:{main_out}:{jars}/*", mh


def git_head():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                           capture_output=True, text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def java_cmd(cp, run_dir, main, args):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java", *opens, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:ReservedCodeCacheSize=512m",
             "-Duser.timezone=UTC", f"-Djava.io.tmpdir={run_dir}/tmp",
             "-cp", cp, main] + [str(a) for a in args])


def run_jvm(cmd, run_dir, timeout):
    """Run the benchmark JVM in its own process group; stderr goes to a log
    file that is never parsed. Returns stdout text or None on failure."""
    with open(run_dir / "stderr.log", "wb") as err:
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err,
                             cwd=run_dir, start_new_session=True)
        try:
            out, _ = p.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            print("perfbench: run timed out", file=sys.stderr)
            return None
        except BaseException:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise
    if p.returncode != 0:
        tail = (run_dir / "stderr.log").read_text(errors="replace")[-3000:]
        print(f"perfbench: JVM exited {p.returncode}\n{tail}", file=sys.stderr)
        return None
    return out.decode()


def load_per_layer():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return spec["per_layer"]


def run_one(workload, seed, seconds, trace, cp, src_hash, deadline):
    run_dir = BUILD / "runs" / f"{workload}-{seed}-{trace}-{os.getpid()}"
    if run_dir.exists():
        shutil.rmtree(run_dir)
    (run_dir / "tmp").mkdir(parents=True)
    spawn_ms = int(time.time() * 1000)
    t0 = time.time()
    cmd = java_cmd(cp, run_dir, "perfbench.Main",
                   [workload, seed, seconds, 1 if trace else 0, sf_dir(),
                    run_dir, spawn_ms, OPS_FILE])
    try:
        out = run_jvm(cmd, run_dir, max(30, deadline - time.time()))
        if out is None:
            return None
        line = next((l for l in out.splitlines()
                     if l.startswith("PERFBENCH_DETAIL ")), None)
        if line is None:
            print("perfbench: no result from the JVM", file=sys.stderr)
            return None
        d = json.loads(line[len("PERFBENCH_DETAIL "):])
        d["env"].update({"git_head": git_head(), "src_sha256": src_hash,
                         "seconds": seconds, "run_wall_s": time.time() - t0})
        spans = run_dir / "spans.json"
        res = BUILD / "results"
        res.mkdir(exist_ok=True)
        stem = f"{workload}-seed{seed}-trace{1 if trace else 0}"
        if spans.exists():
            shutil.copy(spans, res / f"{stem}-spans.json")
        (res / f"{stem}.json").write_text(json.dumps(d, indent=1))
        return d
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def num(v):
    return v if isinstance(v, (int, float)) and v == v else 0.0


def report(d, trace):
    """Human-readable lines, then the result line (always last)."""
    for m in d["named"]:
        print(f"metric {d['workload']}.{m['name']} = {num(m['value']):.6g} {m['unit']}")
    for name, n in sorted(d["failed_checks"].items()):
        tag = "UNEXPECTED" if name in d["unexpected_checks"] else "known defect"
        print(f"failed check {name}: {n} ({tag}) {d['failed_check_detail'].get(name, '')[:200]}")
    if trace:
        for s in d["spans"]:
            if s["phase"] == "measure":
                print(f"span {s['span']}: n={s['count']} self={s['self_total_s']:.3f}s "
                      f"total={s['total_s']:.3f}s")
        base = BUILD / "results" / f"{d['workload']}-seed{d['seed']}-trace0.json"
        if base.exists():
            b = json.loads(base.read_text())["contract"]
            for k, v in d["contract"].items():
                if b.get(k):
                    print(f"tracing overhead {k}: {100 * (num(v) / b[k] - 1):+.1f}%")
        metrics = {m["name"]: {"value": num(d["per_layer"].get(m["name"])), "unit": m["unit"]}
                   for m in load_per_layer()}
    else:
        units = {"setup_s": "s", "throughput_per_s": "1/s", "latency_p50_ms": "ms",
                 "latency_tail_ms": "ms", "batch_s": "s"}
        metrics = {k: {"value": num(d["contract"][k]), "unit": units[k]} for k in units}
    print(json.dumps({"correct": bool(d["correct"]), "attempted": int(d["attempted"]),
                      "failed": int(d["failed"]), "metrics": metrics}))


def summarize():
    """Spread (IQR / median) of every contract metric over stored runs."""
    res = sorted((BUILD / "results").glob("*-trace0.json"))
    by = {}
    for f in res:
        d = json.loads(f.read_text())
        for k, v in d["contract"].items():
            by.setdefault((d["workload"], k), []).append(v)
    for (w, k), vs in sorted(by.items()):
        med = statistics.median(vs)
        spread = ""
        if len(vs) >= 2 and med:
            q = statistics.quantiles(vs, n=4)
            spread = f" spread={(q[2] - q[0]) / med:.3f}"
        print(f"{w:10s} {k:18s} n={len(vs):2d} median={med:.4f}{spread}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", default="medallion")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--trace", type=int, default=0, choices=[0, 1])
    ap.add_argument("--self-test", action="store_true")
    ap.add_argument("--summarize", action="store_true")
    ap.add_argument("--record-ops", action="store_true")
    a = ap.parse_args()
    # a terminated run still stops its JVM or compiler and removes its run
    # directory: SystemExit unwinds through run_jvm and subprocess.run
    for sig in (signal.SIGTERM, signal.SIGHUP):
        signal.signal(sig, lambda n, _f: sys.exit(128 + n))
    if a.summarize:
        summarize()
        return
    cp, src_hash = build()
    # a run gets its time budget after the (possibly long) first build
    deadline = time.time() + RUN_TIMEOUT_S
    if a.self_test:
        run_dir = BUILD / "runs" / f"selftest-{os.getpid()}"
        (run_dir / "tmp").mkdir(parents=True, exist_ok=True)
        try:
            out = run_jvm(java_cmd(cp, run_dir, "perfbench.SelfTest", [sf_dir()]),
                          run_dir, RUN_TIMEOUT_S)
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)
        print(out or "")
        sys.exit(0 if out and "SELFTEST OK" in out else 1)
    if a.record_ops:
        if OPS_FILE.exists():
            OPS_FILE.unlink()
        d = run_one("query_api", a.seed, 1, False, cp, src_hash, deadline)
        if d is None:
            sys.exit(1)
        OPS_FILE.write_text(json.dumps(
            {"source": "graft engine digest per operator query at sf0.1",
             "git_head": d["env"]["git_head"], "digests": d["ops_digests"]},
            indent=1) + "\n")
        print(f"wrote {OPS_FILE}")
        return
    if a.workload == "all":
        for w in WORKLOADS:
            d = run_one(w, a.seed, a.seconds, bool(a.trace), cp, src_hash,
                        time.time() + RUN_TIMEOUT_S)
            if d is None:
                sys.exit(1)
            report(d, bool(a.trace))
        return
    if a.workload not in WORKLOADS:
        die(f"unknown workload {a.workload}")
    d = run_one(a.workload, a.seed, a.seconds, bool(a.trace), cp, src_hash, deadline)
    if d is None:
        sys.exit(1)
    report(d, bool(a.trace))


if __name__ == "__main__":
    main()
