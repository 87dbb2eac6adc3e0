#!/usr/bin/env python3
"""fdfspark benchmark: drives the program from outside, through its public
functions, and prints one JSON result line.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --check [--workload W] [--seed N] [--seconds S]
    python3 perfbench/run.py --spread K [--workload W] [--seed N] [--seconds S]

The first form is one run: it builds the program and the harness from the
checkout's sources (cached by content), makes the workload's inputs for
the seed (cached per seed), measures for S seconds, verifies every timed
output, and prints as its last line
    {"correct": …, "attempted": …, "failed": …, "metrics": {…}}
with every end-to-end metric (trace 0) or every per-layer metric (trace 1)
of BENCHMARK.json.

--check runs each workload untraced and traced, prints every metric
by name with its unit, the tracing overhead and every failure, and exits 1
on a wrong output. --spread K repeats each workload K times on seeds
N..N+K-1 and reports each end-to-end metric's quartile spread against its
bound. See perfbench/README.md.
"""
import argparse
import hashlib
import importlib.util
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
CACHE = ROOT / ".bench_build"
sys.path.insert(0, str(HERE))
import gen  # noqa: E402

RUN_LIMIT_S = 170
BUILD_LIMIT_S = 880
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


# query_mix runs by name but is not in BENCHMARK.json: it was not steady
# enough on a shared 4-core host (see README.md)
WORKLOADS = ("signal_lookup", "query_mix", "corpus_curation")


class BenchError(Exception):
    pass


def spec():
    return json.loads((ROOT / "BENCHMARK.json").read_text())


def cpus():
    return int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 4)


# ---- build ----------------------------------------------------------------

def _sources():
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             HERE / "build.sbt", HERE / "project" / "build.properties"]
    for d in (ROOT / "src" / "main", HERE / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    return files


def build():
    """Compile the program and the harness; returns the runtime classpath."""
    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir() or not (ROOT / "build.sbt").is_file():
        raise BenchError("program sources not found next to perfbench/ (src/main/scala/graft, build.sbt)")
    h = hashlib.sha256()
    for f in _sources():
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    stamp = h.hexdigest()
    cp_file, stamp_file = CACHE / "classpath.txt", CACHE / "build.stamp"
    if cp_file.exists() and stamp_file.exists() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip()
    CACHE.mkdir(parents=True, exist_ok=True)
    log = CACHE / "build.log"
    code = run_proc(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                     "export perfbench/Runtime/fullClasspath"], HERE, log, BUILD_LIMIT_S)
    lines = [l.strip() for l in log.read_text().splitlines() if l.strip()]
    if code != 0 or not lines or "classes" not in lines[-1]:
        raise BenchError(f"build failed (exit {code}); see {log}")
    cp_file.write_text(lines[-1])
    stamp_file.write_text(stamp)
    return lines[-1]


def run_proc(cmd, cwd, log, timeout):
    """Run a command in its own process group with output to `log`; on
    timeout, kill the whole group and wait for it."""
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, cwd=cwd, stdout=out, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            return proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise BenchError(f"{cmd[0]} exceeded {timeout:.0f} s; see {log}")


def java(cp, args, log, timeout):
    mem = os.environ.get("SPARK_DRIVER_MEM", "3g")
    tmp = Path(args[args.index("--run") + 1]) / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    opens = [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = ["java", *opens, f"-Xmx{mem}", f"-Xms{mem}",
           "-XX:ReservedCodeCacheSize=512m", f"-Djava.io.tmpdir={tmp}",
           "-cp", cp, "perfbench.Main", *args]
    code = run_proc(cmd, ROOT, log, timeout)
    if code != 0:
        tail = "\n".join(Path(log).read_text().splitlines()[-15:])
        raise BenchError(f"harness exited {code}; see {log}\n{tail}")


# ---- inputs ---------------------------------------------------------------

def inputs(cp, workload, seed):
    """The workload's inputs for this seed, generated once per build and
    cached (the signal warehouse is written by the program itself)."""
    d = CACHE / "inputs" / f"{workload}-{seed}-{(CACHE / 'build.stamp').read_text()[:12]}"
    if (d / "sizes.json").exists():
        return d
    if d.exists():
        shutil.rmtree(d)
    tmp = d.with_name(f".{d.name}.tmp")
    if tmp.exists():
        shutil.rmtree(tmp)
    tmp.mkdir(parents=True)
    if workload == "signal_lookup":
        scratch = CACHE / "runs" / f"gen-{os.getpid()}"
        java(cp, ["--mode", "gen", "--workload", workload, "--inputs", str(tmp),
                  "--run", str(scratch), "--cpus", str(cpus()), "--seed", str(seed)],
             CACHE / "gen.log", RUN_LIMIT_S)
        shutil.rmtree(scratch, ignore_errors=True)
    else:
        sizes = gen.GENERATORS[workload](seed, tmp)
        (tmp / "sizes.json").write_text(json.dumps(sizes) + "\n")
    tmp.rename(d)
    return d


# ---- output checks outside the JVM ----------------------------------------

def oracle_failures(inp, run_dir):
    """Check query_mix's warm-up outputs against the DuckDB oracle with the
    repository's tools/check_oracle.py canonical form."""
    spec_ = importlib.util.spec_from_file_location("check_oracle", ROOT / "tools" / "check_oracle.py")
    co = importlib.util.module_from_spec(spec_)
    spec_.loader.exec_module(co)
    import duckdb
    out = run_dir / "qout"
    sqls = json.loads((out / "oracle_sql.json").read_text())
    # the oracle's answer depends only on the SQL and the tables, which are
    # the same for every seed: cache it across seeds
    data = hashlib.sha256(b"".join(p.read_bytes() for p in sorted((inp / "data").glob("*.parquet"))))
    cache_f = CACHE / "oracle.json"
    cache = json.loads(cache_f.read_text()) if cache_f.exists() else {}
    con = duckdb.connect()
    for t in gen.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{inp / 'data' / t}.parquet'")
    fails = []
    for q, sql in sorted(sqls.items()):
        key = hashlib.sha256((sql + data.hexdigest()).encode()).hexdigest()
        try:
            if key not in cache:
                cols, n, hsh, _ = co.canon(con, sql, "oracle")
                cache[key] = [cols, n, hsh]
            if not list((out / q).glob("*.parquet")):
                continue  # the run already recorded this query's failure
            cols, n, hsh, _ = co.canon(con, f"SELECT * FROM '{out / q}/*.parquet'", "spark")
            if [cols, n, hsh] != cache[key]:
                fails.append({"workload": "query_mix", "op": q, "class": "WrongResult",
                              "message": f"oracle mismatch: spark rows={n} cols={cols}, "
                                         f"oracle rows={cache[key][1]} cols={cache[key][0]}"})
        except Exception as e:  # an oracle that cannot run is a failed check
            fails.append({"workload": "query_mix", "op": q, "class": type(e).__name__,
                          "message": (str(e).splitlines() or [""])[0][:300]})
    cache_f.write_text(json.dumps(cache))
    return fails


# ---- one run --------------------------------------------------------------

def run_once(workload, seed, seconds, trace):
    s = spec()
    if workload not in WORKLOADS:
        raise BenchError(f"unknown workload {workload}")
    start = time.time()
    cp = build()
    inp = inputs(cp, workload, seed)
    run_dir = CACHE / "runs" / f"{workload}-{seed}-{os.getpid()}"
    if run_dir.exists():
        shutil.rmtree(run_dir)
    run_dir.mkdir(parents=True)
    if workload == "signal_lookup":
        shutil.copytree(inp / "warehouse", run_dir / "warehouse")
    left = RUN_LIMIT_S - (time.time() - start)
    last = CACHE / "last" / f"{workload}-trace{int(trace)}"
    shutil.rmtree(last, ignore_errors=True)
    last.mkdir(parents=True)
    try:
        java(cp, ["--workload", workload, "--inputs", str(inp), "--run", str(run_dir),
                  "--cpus", str(cpus()), "--seed", str(seed), "--seconds", str(seconds),
                  "--trace", "1" if trace else "0"], run_dir / "harness.log", max(10, left))
        res = json.loads((run_dir / "result.json").read_text())
        failures = res["failures"]
        if workload == "query_mix":
            failures += oracle_failures(inp, run_dir)
    finally:
        # keep what explains the run; drop the bulky copies
        for f in ("result.json", "spans.jsonl", "harness.log"):
            if (run_dir / f).exists():
                shutil.copy(run_dir / f, last / f)
        shutil.rmtree(run_dir, ignore_errors=True)
    res["sizes"] = json.loads((inp / "sizes.json").read_text())
    (last / "sizes.json").write_text(json.dumps(res["sizes"]) + "\n")
    wanted = s["per_layer"] if trace else s["end_to_end"]
    metrics = {m["name"]: {"value": res["metrics"][m["name"]], "unit": m["unit"]} for m in wanted}
    return {"correct": not failures, "attempted": res["attempted"],
            "failed": len(failures), "metrics": metrics}, failures, res


# ---- modes ----------------------------------------------------------------

def check(workloads, seed, seconds):
    s = spec()
    units = {m["name"]: m["unit"] for m in s["end_to_end"] + s["per_layer"]}
    wrong = False
    for w in workloads:
        plain, f0, r0 = run_once(w, seed, seconds, False)
        traced, f1, _ = run_once(w, seed, seconds, True)
        print(f"== {w} (seed {seed}, {seconds} s; {r0['ops_timed']} ops, "
              f"{r0['passes_timed']} passes timed)")
        print(f"  inputs: {(CACHE / 'last' / f'{w}-trace0' / 'sizes.json').read_text().strip()}")
        for name, m in plain["metrics"].items():
            print(f"  {name:28s} {m['value']:14.4f} {units[name]}")
        print(f"  failed_frac                  {plain['failed'] / plain['attempted']:14.4f} fraction")
        for name, m in traced["metrics"].items():
            print(f"  {name:28s} {m['value']:14.4f} {units[name]}")
        for k in ("op_p50_ms", "work_per_s"):
            a, b = plain["metrics"][k]["value"], traced["metrics"][f"trace.{k}"]["value"]
            print(f"  tracing overhead {k:12s} {b - a:+14.4f} {units[k]} ({(b - a) / a:+.1%})")
        for f in f0 + f1:
            print(f"  FAILED {f['workload']} {f['op']}: {f['class']}: {f['message']}")
            wrong = True
    return 1 if wrong else 0


def spread(workloads, seed, seconds, k):
    s = spec()
    for w in workloads:
        vals = {m["name"]: [] for m in s["end_to_end"]}
        failed = 0
        for i in range(k):
            out, _, _ = run_once(w, seed + i, seconds, False)
            failed += out["failed"]
            for name in vals:
                vals[name].append(out["metrics"][name]["value"])
            print(f"  {w} seed {seed + i}: " + " ".join(f"{n}={v[-1]:.4f}" for n, v in vals.items()),
                  flush=True)
        print(f"== {w}: {k} runs, {failed} failed ops")
        for m in s["end_to_end"]:
            v = vals[m["name"]]
            q1, med, q3 = statistics.quantiles(v, n=4)
            iqr = (q3 - q1) / med
            flag = "ok" if iqr <= m["bound"] / 3 else ("within bound" if iqr <= m["bound"] else "TOO WIDE")
            print(f"  {m['name']:16s} median {med:12.4f} {m['unit']:6s} spread {iqr:6.3f} "
                  f"bound {m['bound']:.2f}  {flag}")
    return 0


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--check", action="store_true")
    ap.add_argument("--spread", type=int, metavar="K")
    a = ap.parse_args()
    try:
        s = spec()
        seconds = a.seconds or s["run_seconds"]
        workloads = [a.workload] if a.workload else [w["name"] for w in s["workloads"]]
        if a.check:
            return check(workloads, a.seed, seconds)
        if a.spread:
            return spread(workloads, a.seed, seconds, a.spread)
        if not a.workload:
            ap.error("--workload is required for a single run")
        out, failures, res = run_once(a.workload, a.seed, seconds, bool(a.trace))
        print(f"{a.workload} seed {a.seed}: inputs {res['sizes']}; "
              f"{res['ops_timed']} ops and {res['passes_timed']} passes timed")
        for f in failures:
            print(f"FAILED {f['workload']} {f['op']}: {f['class']}: {f['message']}")
        print(json.dumps(out))
        return 0
    except (BenchError, FileNotFoundError, subprocess.TimeoutExpired) as e:
        print(f"benchmark error: {e}", file=sys.stderr)
        return 2


if __name__ == "__main__":
    sys.exit(main())
