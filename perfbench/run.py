#!/usr/bin/env python3
"""The repository's benchmark of record.

Usage (from the root of a checkout):
  python3 perfbench/run.py --workload stream_paced|stream_burst|registry \
      --seed N --seconds S --trace 0|1

Builds the engine and the harness from source on first use (sbt, offline),
runs one JVM per invocation, checks every output for correctness, prints the
stamp and further named metrics as `# ...` lines, and ends with one
JSON line: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are BENCHMARK.json's end_to_end set, with --trace 1 its per_layer
set. Workload parameters live in perfbench/workloads.json; perfbench/README.md
defines every metric. Run files go to .bench_build/, which keeps only the
last result, JVM log and spans of each workload.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
JVM_TIMEOUT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def source_files():
    """Every file the build reads, in a stable order."""
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             HERE / "build.sbt", HERE / "project" / "build.properties"]
    for base in (ROOT / "src" / "main", HERE / "src" / "main"):
        files += sorted(p for p in base.rglob("*") if p.is_file())
    return files


def source_hash():
    h = hashlib.sha1()
    for f in source_files():
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def build():
    """Compile engine + harness once per source state; returns the classpath."""
    stamp = BUILD / "classpath.json"
    digest = source_hash()
    if stamp.exists():
        saved = json.loads(stamp.read_text())
        if saved.get("sources") == digest:
            return saved["classpath"]
    BUILD.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ)
    # resolve only from the local caches, never the network
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true")
    env.setdefault("COURSIER_MODE", "offline")
    log("[perfbench] building engine and harness (sbt) ...")
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true",
         "export perfbench/Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=840)
    (BUILD / "build.log").write_text(p.stdout)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        log(p.stdout[-3000:])
        raise SystemExit("[perfbench] build failed")
    cp = lines[-1].strip()
    stamp.write_text(json.dumps({"sources": digest, "classpath": cp}))
    log(f"[perfbench] build took {time.time() - t0:.1f} s")
    return cp


def git_stamp():
    try:
        sha = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        if sha.returncode == 0:
            dirty = subprocess.run(["git", "status", "--porcelain", "--untracked-files=no"],
                                   cwd=ROOT, capture_output=True, text=True, timeout=10)
            return sha.stdout.strip(), bool(dirty.stdout.strip())
    except (OSError, subprocess.SubprocessError):
        pass
    return "none", None


def run_jvm(cp, workload, seed, seconds, trace, cfg, run_dir, out, spans):
    args = ["java"] + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        # no hsperfdata file under /tmp: the run writes only inside the checkout
        "-Xmx4g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={run_dir}/tmp",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", cp, "perfbench.Main",
        "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
        "--trace", str(trace), "--out", str(out), "--run-dir", str(run_dir),
        "--spans", str(spans)]
    w = cfg["workloads"][workload]
    for k in ("rate", "burst-invoices", "scale"):
        if k in w:
            args += [f"--{k}", str(w[k])]
    if "queries" in w:
        args += ["--queries", ",".join(w["queries"])]
    (run_dir / "tmp").mkdir(parents=True, exist_ok=True)
    logf = (BUILD / "last" / f"{workload}.jvm.log").open("w")
    try:
        p = subprocess.run(args, cwd=ROOT, stdin=subprocess.DEVNULL, stdout=logf,
                           stderr=subprocess.STDOUT, timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        raise SystemExit(f"[perfbench] {workload} JVM killed after {JVM_TIMEOUT_S} s")
    finally:
        logf.close()
    if p.returncode != 0:
        tail = (BUILD / "last" / f"{workload}.jvm.log").read_text()[-3000:]
        log(tail)
        raise SystemExit(f"[perfbench] {workload} JVM exited {p.returncode}")


def oracle_check(dump_dir, data_dir):
    """Each dumped registry result against its DuckDB oracle over the same
    generated tables, with the comparator of tools/check_oracle.py.
    Returns {query: failure or None}."""
    env = dict(os.environ, GRAFT_DUCKDB_THREADS="2", GRAFT_DUCKDB_MEM="2GB")
    p = subprocess.run([sys.executable, str(ROOT / "tools" / "check_oracle.py"),
                        str(dump_dir), str(data_dir)], cwd=ROOT, env=env, capture_output=True,
                       text=True, timeout=170)
    verdict = {}
    for line in p.stdout.splitlines():
        if line.startswith("PASS "):
            verdict[line[5:].split(":")[0]] = None
        elif line.startswith("FAIL "):
            name = line[5:].split(":")[0]
            verdict[name] = line[5:].strip()
    return verdict


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not (ROOT / "build.sbt").exists() or not (ROOT / "src" / "main" / "scala").is_dir():
        raise SystemExit("[perfbench] no engine sources next to perfbench/: nothing to measure")
    cfg = json.loads((HERE / "workloads.json").read_text())
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    if a.workload not in cfg["workloads"]:
        raise SystemExit(f"[perfbench] unknown workload {a.workload}")
    w = cfg["workloads"][a.workload]
    if set(w.get("queries", ())) & set(w.get("excluded", {})):
        raise SystemExit("[perfbench] a timed registry query is also listed as excluded")

    load_before = os.getloadavg()
    cp = build()
    (BUILD / "last").mkdir(parents=True, exist_ok=True)
    run_dir = BUILD / "run" / f"{a.workload}-{os.getpid()}"
    out = BUILD / "last" / f"{a.workload}.json"
    spans = BUILD / "last" / f"{a.workload}.spans.jsonl"
    try:
        run_jvm(cp, a.workload, a.seed, a.seconds, a.trace, cfg, run_dir, out, spans)
        res = json.loads(out.read_text())
        if a.workload == "registry":
            t0 = time.time()
            verdict = oracle_check(run_dir / "dump", run_dir / "data")
            log(f"[perfbench] oracle check took {time.time() - t0:.1f} s")
            for name, q in res["extra"]["queries"].items():
                why = verdict.get(name, "no oracle verdict")
                if why is not None:
                    # every execution of a query whose result fails its
                    # oracle is a failed execution
                    res["failed"] += q["executions"] - q["failed"]
                    res["failures"].append(f"{name}: oracle: {why}")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            (BUILD / "run").rmdir()
        except OSError:
            pass
    load_after = os.getloadavg()

    sha, dirty = git_stamp()
    stamp = dict(res["stamp"], git_sha=sha, git_dirty=dirty, sources=source_hash()[:12],
                 nproc=os.cpu_count(), loadavg_before=round(load_before[0], 2),
                 loadavg_after=round(load_after[0], 2), workload=a.workload,
                 trace=a.trace, seconds=a.seconds)
    res["report"]["fail_frac"] = res["failed"] / max(1, res["attempted"])
    for k, v in sorted(stamp.items()):
        print(f"# stamp {k} = {json.dumps(v)}")
    for k, v in sorted(res["report"].items()):
        print(f"# report {k} = {v:.6g}")
    for k, v in sorted(res.get("extra", {}).items()):
        if k != "queries":
            print(f"# extra {k} = {json.dumps(v)}")
    for f in res["failures"][:20]:
        print(f"# FAILED {f}")
    print(f"# attempted = {res['attempted']}  failed = {res['failed']}")

    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    source = res["layers"] if a.trace else res["e2e"]
    metrics = {}
    for m in wanted:
        v = source.get(m["name"])
        if v is None:
            raise SystemExit(f"[perfbench] metric {m['name']} was not measured")
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    if not a.trace:
        for k, v in sorted(metrics.items()):
            print(f"# metric {k} = {v['value']:.6g} {v['unit']}")
    print(json.dumps({"correct": res["failed"] == 0, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
