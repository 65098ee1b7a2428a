#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine and the
harness from source (sbt, offline); later runs reuse the build while the
sources are unchanged. Each run then

1. derives the workload's inputs from the seed (`gen.py`),
2. times set-up, process start to a ready SparkSession with the engine's
   extensions installed, in a set-up-only JVM and in the measuring JVM,
3. starts the measuring JVM (`local[4]`, fresh warehouse): a cold pass
   whose outputs are written as parquet, then warm passes into the noop
   sink for `--seconds` (at least two), the workload's queries one at a
   time in their listed order,
4. checks every query's output: the DuckDB oracle (`tools/check.py`) on
   the cold pass's files for queries that have one, identical row
   digests across passes for the rows-only ones,
5. prints the metrics, the last line one JSON object.

`--trace 0` reports the end-to-end metrics. `--trace 1` reports the
per-layer metrics and writes the span file and the per-query profile
under `.bench_build/perfbench/<workload>/`.
"""
import argparse
import ctypes
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".bench_build" / "perfbench"
SPEC = json.loads((HERE / "workloads.json").read_text())
CPUS = str(SPEC["cpus"])
RUN_LIMIT_S = 170.0
SETUP_SAMPLES = 2  # one set-up-only JVM plus the measuring JVM
PR_SET_PDEATHSIG = 1
KEEP_INPUTS = 8

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def median(xs):
    return statistics.median(xs) if xs else 0.0


# ---------------------------------------------------------------- build

def source_key() -> str:
    """Fingerprint of everything the build reads."""
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             HERE / "build.sbt", HERE / "project" / "build.properties"]
    for d in (ROOT / "src" / "main", HERE / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    for p in files:
        st = p.stat()
        h.update(f"{p.relative_to(ROOT)}\0{st.st_size}\0{st.st_mtime_ns}\0".encode())
    return h.hexdigest()


def build() -> str:
    cp_file, key_file = WORK / "classpath.txt", WORK / "classpath.key"
    key = source_key()
    if cp_file.exists() and key_file.exists() and key_file.read_text() == key:
        return cp_file.read_text()
    WORK.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "sbt.offline" not in env.get("SBT_OPTS", ""):
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    log = WORK / "build.log"
    with open(log, "w") as out:
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "export harness/Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=840)
    lines = log.read_text().splitlines()
    if proc.returncode != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail("build failed")
    cp_file.write_text(lines[-1].strip())
    key_file.write_text(key)
    return lines[-1].strip()


# ---------------------------------------------------------------- inputs

def inputs(seed: int) -> Path:
    base = WORK / "inputs"
    out = base / f"seed-{seed}"
    done = out / "_DONE"
    if not done.exists():
        shutil.rmtree(out, ignore_errors=True)
        subprocess.run([sys.executable, str(HERE / "gen.py"), str(seed), str(out)],
                       check=True, timeout=120)
        done.write_text("")
    os.utime(done)
    old = sorted(base.iterdir(), key=lambda p: (p / "_DONE").stat().st_mtime
                 if (p / "_DONE").exists() else 0.0)
    for p in old[:-KEEP_INPUTS]:
        shutil.rmtree(p, ignore_errors=True)
    return out


# ---------------------------------------------------------------- JVMs

def java_cmd(classpath: str, run_dir: Path, mode: str, args: list) -> list:
    java = Path(os.environ["JAVA_HOME"]) / "bin" / "java" if "JAVA_HOME" in os.environ else "java"
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # A fixed heap: with G1 growing it on demand, peak RSS moved by 0.20
    # (quartile spread over median) from run to run.
    return [str(java), *opens, "-Xms2g", "-Xmx2g",
            "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            f"-Dspark.sql.warehouse.dir={run_dir / 'warehouse'}",
            f"-Dspark.local.dir={run_dir / 'spark-local'}",
            f"-Djava.io.tmpdir={run_dir / 'tmp'}",
            f"-Dderby.system.home={run_dir / 'tmp'}",
            f"-Dgraft.fixtures.dir={ROOT / 'tools' / 'fixtures'}",
            "-cp", classpath, "perfbench.Harness", mode, "--cpus", CPUS, *args]


def die_with_parent() -> None:
    """In the child: have the kernel kill it if this process dies first."""
    ctypes.CDLL("libc.so.6", use_errno=True).prctl(PR_SET_PDEATHSIG, signal.SIGKILL)


def launch(cmd: list, run_dir: Path, name: str, deadline: float):
    """Run one JVM to its end; return seconds from spawn to its READY line."""
    for d in ("warehouse", "spark-local", "tmp"):
        (run_dir / d).mkdir(parents=True, exist_ok=True)
    ready = None
    with open(run_dir / f"{name}.log", "w") as err:
        t0 = time.time()
        with subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=err,
                              stdin=subprocess.DEVNULL, text=True,
                              preexec_fn=die_with_parent) as proc:
            timer = threading.Timer(max(1.0, deadline - t0), proc.kill)
            timer.start()
            try:
                for line in proc.stdout:
                    if line.startswith("READY ") and ready is None:
                        ready = float(line.split()[1]) - t0
                proc.wait()
            finally:
                timer.cancel()
                if proc.poll() is None:
                    proc.kill()
                    proc.wait()
        if time.time() >= deadline:
            fail(f"{name} JVM did not finish in time; see {run_dir / (name + '.log')}")
    if proc.returncode != 0:
        tail = (run_dir / f"{name}.log").read_text().splitlines()[-30:]
        sys.stderr.write("\n".join(tail) + "\n")
        fail(f"{name} JVM exited with {proc.returncode}")
    return ready


# ---------------------------------------------------------------- checks

def oracle_check(input_dir: Path, verify: Path, names: list, deadline: float) -> dict:
    """tools/check.py over the dumped outputs: {query: None | failure}."""
    oracle = json.loads((verify / "oracle_sql.json").read_text())
    graded = [n for n in names if n in oracle]
    if not graded:
        return {}
    proc = subprocess.run(
        [sys.executable, str(ROOT / "tools" / "check.py"), str(input_dir), str(verify),
         ",".join(graded)],
        cwd=ROOT, capture_output=True, text=True,
        timeout=max(1.0, deadline - time.time()))
    result = {n: "no verdict from tools/check.py" for n in graded}
    for line in proc.stdout.splitlines():
        if line.startswith("PASS "):
            result[line.split()[1]] = None
        elif line.startswith("FAIL "):
            n = line.split()[1].rstrip(":")
            result[n] = line[5:].strip()
    return result


# ---------------------------------------------------------------- metrics

def self_times(spans: list) -> dict:
    """Per query id: layer durations from the span tree, in seconds."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)

    def covered(parent):
        iv = sorted((c["start_ms"], c["end_ms"]) for c in kids.get(parent["id"], []))
        tot, cur_s, cur_e = 0.0, None, None
        for s, e in iv:
            s, e = max(s, parent["start_ms"]), min(e, parent["end_ms"])
            if e <= s:
                continue
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    tot += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            tot += cur_e - cur_s
        return tot

    out = {}
    for s in spans:
        q = out.setdefault(s["query"], {})
        dur = s["end_ms"] - s["start_ms"]
        key = s["name"]
        q[key] = q.get(key, 0.0) + dur / 1e3
        q[key + ".self"] = q.get(key + ".self", 0.0) + (dur - covered(s)) / 1e3
    return out


def layer_gaps(spans: list, traced_queries: list) -> list:
    """|wall - (build + plan phases + exec)| / wall per traced query."""
    st = self_times(spans)
    gaps = []
    for q in traced_queries:
        if q.get("error") or q["wall_s"] <= 0:
            continue
        t = st.get(q["qid"], {})
        layers = (t.get("build", 0.0) + t.get("plans.analysis", 0.0)
                  + t.get("plans.optimization", 0.0) + t.get("plans.planning", 0.0)
                  + t.get("exec", 0.0))
        gaps.append(abs(q["wall_s"] - layers) / q["wall_s"])
    return gaps


def pass_sum(p, field):
    return sum(q.get(field, 0) or 0 for q in p["queries"])


def end_to_end(res, setup_samples, warm):
    samples = [q["wall_s"] for p in warm for q in p["queries"]]
    deciles = statistics.quantiles(samples, n=10, method="inclusive")
    cold = [p for p in res["passes"] if p["kind"] == "cold"][0]
    return {
        "setup_s": (median(setup_samples), "s"),
        "cold_pass_s": (cold["elapsed_s"], "s"),
        "pass_s": (median([p["elapsed_s"] for p in warm]), "s"),
        "query_s.p50": (deciles[4], "s"),
        "query_s.p90": (deciles[8], "s"),
        "peak_rss_mb": (res["peak_rss_mb"], "MB"),
    }, len(samples)


def per_layer(res, traced, untraced, gaps):
    cold = [p for p in res["passes"] if p["kind"] == "cold"][0]

    def med(field):
        return median([pass_sum(p, field) for p in traced])

    m = {
        "session.start_s": (res["session_start_s"], "s"),
        "queries.build_s": (med("build_s"), "s"),
        "queries.build_jobs": (med("build_jobs"), "count"),
        "operators.checkpoint_blocks": (med("checkpoint_blocks"), "count"),
        "operators.checkpoint_mb": (med("checkpoint_mb"), "MB"),
        "index_store.cold_builds": (pass_sum(cold, "index_builds"), "count"),
        "index_store.cold_reads": (pass_sum(cold, "index_reads"), "count"),
        "index_store.builds": (med("index_builds"), "count"),
        "index_store.reads": (med("index_reads"), "count"),
        "index_store.mb": (cold["index_mb"], "MB"),
        "plans.analysis_s": (med("analysis_s"), "s"),
        "plans.optimization_s": (med("optimization_s"), "s"),
        "plans.planning_s": (med("planning_s"), "s"),
        "plans.exchanges": (med("exchanges"), "count"),
        "plans.scans": (med("scans"), "count"),
        "plans.bnlj": (med("bnlj"), "count"),
        "plans.upw": (med("upw"), "count"),
        "exec.s": (med("exec_s"), "s"),
        "exec.jobs": (med("exec_jobs"), "count"),
        "exec.stages": (med("exec_stages"), "count"),
        "exec.tasks": (med("exec_tasks"), "count"),
        "exec.task_s": (med("task_s"), "s"),
        "exec.task_cpu_s": (med("task_cpu_s"), "s"),
        "exec.gc_s": (med("gc_s"), "s"),
        "exec.shuffle_write_mb": (med("shuffle_write_mb"), "MB"),
        "exec.shuffle_read_mb": (med("shuffle_read_mb"), "MB"),
        "exec.spill_mb": (med("spill_mb"), "MB"),
        "exec.input_mb": (med("input_mb"), "MB"),
        "exec.task_failures": (med("task_failures"), "count"),
    }
    reads, builds = m["index_store.reads"][0], m["index_store.builds"][0]
    m["index_store.hit_ratio"] = (reads / (reads + builds) if reads + builds else 0.0, "ratio")
    busy = median([pass_sum(p, "task_s") / (pass_sum(p, "action_s") * int(CPUS))
                   for p in traced if pass_sum(p, "action_s") > 0])
    m["exec.busy_ratio"] = (busy, "ratio")
    for k, v in sorted(res["micro"].items()):
        m[k] = (v, "MB/s" if k.endswith("_mb_s") else "MB" if k.endswith(".mb") else "s")
    m["trace.overhead_frac"] = (
        median([p["elapsed_s"] for p in traced]) / median([p["elapsed_s"] for p in untraced]) - 1,
        "ratio")
    m["trace.layer_gap_max"] = (max(gaps) if gaps else 0.0, "ratio")
    return m


# ---------------------------------------------------------------- main

def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(SPEC["workloads"]))
    ap.add_argument("--seed", type=int, default=SPEC["default_seed"])
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        fail(f"no engine sources under {ROOT}: run from the root of a graft checkout")

    classpath = build()
    started = time.time()
    deadline = started + RUN_LIMIT_S
    input_dir = inputs(a.seed)
    wl = SPEC["workloads"][a.workload]
    names = list(wl["queries"])
    rows_only = [n for n in names if n in SPEC["rows_only"]]

    out_dir = WORK / a.workload
    for old in WORK.glob("run-*"):
        if not Path(f"/proc/{old.name[4:]}").exists():
            shutil.rmtree(old, ignore_errors=True)
    run_dir = WORK / f"run-{os.getpid()}"
    run_dir.mkdir(parents=True)

    setup = []
    for i in range(SETUP_SAMPLES - 1):
        d = run_dir / f"setup{i}"
        setup.append(launch(java_cmd(classpath, d, "setup", []), d, f"setup{i}", deadline))

    result = run_dir / "result.json"
    verify = run_dir / "verify"
    ready = launch(java_cmd(classpath, run_dir, "run", [
        "--input", str(input_dir), "--warehouse", str(run_dir / "warehouse"),
        "--queries", ",".join(names), "--seconds", str(a.seconds),
        "--trace", str(a.trace),
        "--digest", ",".join(rows_only), "--work", str(run_dir / "tmp"),
        "--verify", str(verify), "--out", str(result)]), run_dir, "run", deadline)
    setup.append(ready)
    res = json.loads(result.read_text())

    # correctness: oracle for graded queries, digests for rows-only ones
    failures = {n: why for n, why in oracle_check(input_dir, verify, names, deadline).items()
                if why}
    oracle = json.loads((verify / "oracle_sql.json").read_text())
    for n in names:
        if n in oracle or n in failures:
            continue
        if n not in rows_only:
            failures[n] = "no correctness check"
            continue
        digests = {q["digest"] for p in res["passes"] for q in p["queries"] if q["name"] == n}
        if len(digests) != 1 or None in digests:
            failures[n] = f"rows-only digest differs across passes: {sorted(map(str, digests))}"

    timed = [q for p in res["passes"] for q in p["queries"]]
    attempted = len(timed)
    failed = sum(1 for q in timed if q["error"] or q["name"] in failures)
    errors = {q["name"]: q["error"] for q in timed if q["error"]}

    warm = [p for p in res["passes"] if p["kind"] == "warm" and not p["traced"]]
    traced = [p for p in res["passes"] if p["kind"] == "warm" and p["traced"]]
    if a.trace:
        spans = res["spans"]
        traced_queries = [q for p in res["passes"] if p["traced"] for q in p["queries"]]
        metrics = per_layer(res, traced, warm, layer_gaps(spans, traced_queries))
        shutil.rmtree(out_dir, ignore_errors=True)
        out_dir.mkdir(parents=True)
        (out_dir / "spans.json").write_text(json.dumps(spans))
        (out_dir / "profile.json").write_text(json.dumps(
            {"workload": a.workload, "seed": a.seed, "passes": res["passes"],
             "micro": res["micro"], "self_times": self_times(spans)}))
        print(f"spans: {len(spans)} written to {out_dir / 'spans.json'}")
    else:
        metrics, n_samples = end_to_end(res, setup, warm)
        print(f"query_s over {n_samples} warm (query, pass) samples, "
              f"{len(warm)} warm passes")

    print(f"{'query':28s} {'cold_s':>9s} {'warm_p50_s':>10s}")
    for n in names:
        cold_s = [q["wall_s"] for p in res["passes"] if p["kind"] == "cold"
                  for q in p["queries"] if q["name"] == n]
        warm_s = [q["wall_s"] for p in warm for q in p["queries"] if q["name"] == n]
        print(f"{n:28s} {cold_s[0]:9.3f} {median(warm_s):10.3f}")
    print(f"workload {a.workload}, seed {a.seed}, {len(names)} queries, "
          f"trace {a.trace}")
    for k, (v, unit) in metrics.items():
        print(f"  {k:32s} {v:14.6f} {unit}")
    print(f"  {'failed_frac':32s} {failed / attempted:14.6f} ratio ({failed}/{attempted})")
    for n, why in sorted({**errors, **failures}.items()):
        print(f"  FAILED {n}: {why}")

    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
