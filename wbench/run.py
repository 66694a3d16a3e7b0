#!/usr/bin/env python3
"""Crawl-engine benchmark: builds the program from source, runs one workload
in its own local[nproc] JVM, checks the outputs, and prints one JSON result
line.

    python3 wbench/run.py --workload crawl_deep --seed 1 --seconds 15 --trace 0
    python3 wbench/run.py --workload ops_suite --seed 1 --smoke        # tiny sizes
    python3 wbench/run.py --repeat 10 [--workload crawl_resume]       # steadiness

Run it from the repository root. Everything it builds or writes goes under
.bench_build/wbench/ (see wbench/README.md).
"""
import argparse
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
import warnings
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build" / "wbench"
DATA = HERE / "data" / "sf0.1"
JVM_TIMEOUT_S = 165

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def die(msg, code=2):
    print(f"wbench: {msg}", file=sys.stderr)
    sys.exit(code)


def load_spec():
    path = ROOT / "BENCHMARK.json"
    if not path.is_file():
        die(f"{path.name} not found next to {HERE.name}/")
    return json.loads(path.read_text())


def check_tree():
    for rel in ("build.sbt", "project/build.properties", "src/main/scala/graft"):
        if not (ROOT / rel).exists():
            die(f"{rel} is missing: run from a full checkout of the repository")


# ------------------------------------------------------------------- build

def source_stamp():
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties"]
    files += sorted(p for p in (ROOT / "src" / "main").rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Compiles src/main with sbt once per source state; returns the runtime
    classpath."""
    BUILD.mkdir(parents=True, exist_ok=True)
    stamp, stamp_file, cp_file = source_stamp(), BUILD / "stamp", BUILD / "classpath.txt"
    if stamp_file.is_file() and cp_file.is_file() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true")
    log = BUILD / "build.log"
    with open(log, "w") as out:
        try:
            rc = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                 "export Runtime/fullClasspath"],
                cwd=ROOT, env=env, stdin=subprocess.DEVNULL, stdout=out,
                stderr=subprocess.STDOUT, timeout=850).returncode
        except subprocess.TimeoutExpired:
            die(f"build timed out (see {log})", 1)
    lines = log.read_text().splitlines()
    cps = [l.strip() for l in lines if "scala-2.13/classes" in l and not l.startswith("[")]
    if rc != 0 or not cps:
        die(f"build failed (see {log})", 1)
    cp_file.write_text(cps[-1])
    stamp_file.write_text(stamp)
    return cps[-1]


# ------------------------------------------------------------------- JVM

def mem_total_gib():
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    return int(line.split()[1]) / (1 << 20)
    except OSError:
        pass
    return 8.0


def jvm_settings():
    """Task threads = usable cores; heap a quarter and off-heap an eighth of
    MemTotal (clamped to 2-8 GiB and 1-4 GiB)."""
    cores = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    mem = mem_total_gib()
    heap = min(8, max(2, int(mem / 4)))
    offheap = min(4, max(1, int(mem / 8)))
    return cores, heap, offheap


def run_jvm(cp, args, work):
    cores, heap, offheap = jvm_settings()
    if work.exists():
        shutil.rmtree(work)
    (work / "tmp").mkdir(parents=True)
    java = shutil.which("java") or str(Path(os.environ.get("JAVA_HOME", "/usr")) / "bin" / "java")
    # a fixed heap under the throughput collector: no heap resizing and no
    # concurrent GC threads competing with the task threads. It is not
    # pre-touched, so peak_rss_mb counts only the heap pages the program uses.
    cmd = [java, f"-Xms{heap}g", f"-Xmx{heap}g", "-XX:+UseParallelGC",
           "-XX:-UsePerfData",  # no hsperfdata file outside the work directory
           f"-Dwbench.offheap={offheap}g",
           f"-Djava.io.tmpdir={work / 'tmp'}",
           f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "wbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", str(work), "--data", str(DATA), "--cores", str(cores),
            "--smoke", "1" if args.smoke else "0"]
    log = work / "jvm.log"
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, cwd=work, stdin=subprocess.DEVNULL,
                                stdout=subprocess.PIPE, stderr=err, text=True,
                                start_new_session=True)
        try:
            stdout, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            die(f"{args.workload} did not finish in {JVM_TIMEOUT_S} s (see {log})", 1)
    lines = [l for l in stdout.splitlines() if l.startswith("WBENCH ")]
    if proc.returncode != 0 or not lines:
        tail = "\n".join(log.read_text().splitlines()[-30:])
        die(f"{args.workload} JVM exited with {proc.returncode}:\n{tail}", 1)
    return json.loads(lines[-1][len("WBENCH "):])


# ------------------------------------------------------------------- ops_suite checks

def duckdb_check(check):
    """Replays each query's oracle SQL in DuckDB over the same parquet and
    compares it with the engine's output. Returns [(query, executions, why)]
    for every mismatch."""
    import duckdb
    import pandas as pd
    sys.path.insert(0, str(ROOT / "tools"))
    import check_oracle  # the repository's oracle gate: same normalization and digest
    out_dir = Path(check["dir"])
    sqls = json.loads((out_dir / "oracle_sql.json").read_text())
    con = duckdb.connect()
    for t in sorted(DATA.glob("*.parquet")):
        con.execute(f"CREATE VIEW {t.stem} AS SELECT * FROM read_parquet('{t}')")
    bad = []
    for name, executions in sorted(check["executions"].items()):
        files = sorted((out_dir / name).glob("*.parquet"))
        engine = pd.concat([pd.read_parquet(f) for f in files]) if files else pd.DataFrame()
        try:
            oracle = con.execute(sqls[name]).fetchdf()
        except Exception as e:  # noqa: BLE001 - a broken oracle is a failed check
            bad.append((name, executions, f"{name}: oracle SQL error {e}"))
            continue
        with warnings.catch_warnings():  # check_oracle uses DataFrame.applymap
            warnings.simplefilter("ignore", FutureWarning)
            s, o = check_oracle.canon_df(engine), check_oracle.canon_df(oracle)
        if (len(s) != len(o) or list(s.columns) != list(o.columns)
                or check_oracle.df_hash(s) != check_oracle.df_hash(o)):
            bad.append((name, executions,
                        f"{name}: engine rows={len(s)} cols={list(s.columns)} "
                        f"differ from DuckDB rows={len(o)} cols={list(o.columns)}"))
    con.close()
    return bad


# ------------------------------------------------------------------- modes

CRAWL_LAYERS = ("kern.", "crawl.", "prep.", "resume.", "politeness.", "rank.", "bloom.",
                "storage.")
QUERY_METRIC = re.compile(r"q\d\d_")


def not_run(workload, name, smoke):
    """Per-layer metrics a workload does not exercise. They are reported as
    0, since every metric of the result line must hold a number; any other
    metric that is missing fails the run."""
    if smoke and name == "trace.overhead_s":
        return True  # one traced repetition, no untraced one to subtract
    if workload == "ops_suite":
        return name.startswith(CRAWL_LAYERS)
    if QUERY_METRIC.match(name):
        return True
    if workload == "crawl_deep":  # depth 4, no checkpointed timed crawl
        return name in ("crawl.d5_s", "resume.ckpt_crawl_s", "resume.resume_s",
                        "storage.snapshot_mb")
    return name == "prep.pages_s"  # crawl_resume reads pages prepared at set-up

def run_once(args, spec):
    check_tree()
    cp = build()
    work = BUILD / "work" / f"{args.workload}-seed{args.seed}{'-trace' if args.trace else ''}"
    res = run_jvm(cp, args, work)
    problems, failed = list(res["problems"]), res["failed"]
    if "ops_check" in res:
        t0 = time.time()
        for _, executions, why in duckdb_check(res["ops_check"]):
            failed += executions
            problems.append(why)
        res["info"]["duckdb_s"] = time.time() - t0
    for entry in work.iterdir():  # keep the log and the span file only
        if entry.name not in ("jvm.log", "spans.json"):
            shutil.rmtree(entry) if entry.is_dir() else entry.unlink()
    for p in problems:
        print(f"wbench: check failed: {p}", file=sys.stderr)
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    metrics = {}
    for m in wanted:
        v = res["metrics"].get(m["name"])
        if v is None:
            if not (args.trace and not_run(args.workload, m["name"], args.smoke)):
                die(f"{args.workload} produced no {m['name']} (every operation failed?)", 1)
            v = 0.0  # the result line needs a number; see not_run
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    info = " ".join(f"{k}={v:.4g}" for k, v in res["info"].items())
    print(f"wbench: {args.workload} seed={args.seed} {info}", file=sys.stderr)
    if args.trace:
        print(f"wbench: spans written to {work / 'spans.json'}", file=sys.stderr)
    print(json.dumps({"correct": not problems and res["attempted"] >= 1,
                      "attempted": res["attempted"], "failed": failed, "metrics": metrics}))


def run_repeat(args, spec):
    """Runs each workload `--repeat` times on seeds 1..N and prints every
    end-to-end metric's median and quartiles beside its bound."""
    workloads = [args.workload] if args.workload else [w["name"] for w in spec["workloads"]]
    report = {}
    for w in workloads:
        rows = []
        for seed in range(1, args.repeat + 1):
            cmd = [sys.executable, str(Path(__file__).resolve()), "--workload", w,
                   "--seed", str(seed), "--seconds", str(args.seconds), "--trace", "0"]
            t0 = time.time()
            p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
            if p.returncode != 0:
                die(f"{w} seed {seed} exited with {p.returncode}", 1)
            r = json.loads(p.stdout.strip().splitlines()[-1])
            rows.append(r)
            vals = " ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items())
            print(f"{w} seed={seed} wall={time.time() - t0:.0f}s correct={r['correct']} "
                  f"attempted={r['attempted']} failed={r['failed']} {vals}", flush=True)
        report[w] = {"failed_share": [r["failed"] / r["attempted"] for r in rows]}
        for m in spec["end_to_end"]:
            vals = [r["metrics"][m["name"]]["value"] for r in rows]
            q1, med, q3 = statistics.quantiles(vals, n=4)
            spread = (q3 - q1) / med
            ok = "ok" if m["name"] == "setup_s" or spread < m["bound"] / 3 else "WIDE"
            report[w][m["name"]] = {"q1": q1, "median": med, "q3": q3, "spread": spread,
                                    "bound": m["bound"], "values": vals}
            print(f"  {w:13s} {m['name']:17s} median={med:<12.6g} q1={q1:<12.6g} q3={q3:<12.6g} "
                  f"spread={spread:.4f} bound={m['bound']} {ok}", flush=True)
    BUILD.mkdir(parents=True, exist_ok=True)
    out = BUILD / f"repeat-{int(time.time())}.json"
    out.write_text(json.dumps(report, indent=1))
    print(f"wrote {out}")


def main():
    spec = load_spec()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=spec["run_seconds"])
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs, one repetition")
    ap.add_argument("--repeat", type=int, default=0, help="steadiness mode: N seeds per workload")
    args = ap.parse_args()
    if args.repeat:
        check_tree()
        run_repeat(args, spec)
    elif not args.workload:
        ap.error("--workload is required")
    else:
        run_once(args, spec)


if __name__ == "__main__":
    main()
