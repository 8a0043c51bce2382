#!/usr/bin/env python3
"""Benchmark of the graft engine: three seeded workloads, run end to end
against the engine's public entry points.

  python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a checkout. It builds the engine and the JVM harness
from source (once per source state, under .bench_build/), generates the
workload's inputs from the seed, runs one JVM with a local[nproc] session
and one closed-loop client (each operation starts when the previous one
ended), checks every output, and prints as its last stdout line

  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones (BENCHMARK.json
"end_to_end"); with --trace 1 the per-layer ones ("per_layer"). A full
record of each run (inputs, environment, every operation, spans) is written
under .bench_build/perfbench/results/.

Workloads (see BENCHMARK.json for why each is there, README.md for more):
  mapreduce  MapReduceJob wc + indexer over an 8-file seeded text corpus
  roster     5 TPC-H-shape roster entries and 2 st_* stream twins on seeded
             TPC-H-like tables and events
  curation   CurationPipeline.run on seeded documents with near-duplicates
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

sys.dont_write_bytecode = True  # write nothing next to the sources
sys.path.insert(0, str(Path(__file__).resolve().parent))
import gen  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent
BENCH = ROOT / "perfbench"
BUILD = ROOT / ".bench_build" / "perfbench"

# a run must end within 180 s, the first one (which builds) within 900 s
HARNESS_TIMEOUT_S = 150
BUILD_TIMEOUT_S = 360

REFUSED_ENV = ("SPARK_GRAFT_EXTRA_CONF", "SPARK_GRAFT_EXTRA_JVM_OPTS",
               "SPARK_GRAFT_RERUN_SEC")

# The roster workload: five of the 22 TPC-H-shape entries and two stream
# twins, one of each plan shape, few enough that a run (set-up, cold pass,
# warm passes, checks) stays near 40 s on 4 cores.
ROSTER = ["q01_pricing_summary",  # scan + group-by aggregate
          "q63_tpch_q6",          # filtered scan, global aggregate
          "q44_tpch_q3",          # 3-way join + top-k
          "q45_tpch_q5",          # 6-way join through region/nation
          "q67_tpch_q13",         # left outer join + count of counts
          "st_time_window",       # stream: watermarked window aggregate
          "st_sessionize"]        # stream: flatMapGroupsWithState sessions
ROSTER_TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
                 "lineitem", "events"]

# input sizes (scale 1.0 = the sf0.1 table sizes), cut so that a run stays
# near 40 s on 4 cores (README.md has the run times at full size)
MR_MBYTES = 3.3        # the reference's Gutenberg corpus is ~3.3 MB
ROSTER_SCALE = 0.25
CURATION_SCALE = 0.3   # 1500 of sf0.1's 5000 documents
SIZES = {"mapreduce": MR_MBYTES, "roster": ROSTER_SCALE, "curation": CURATION_SCALE}

WORKLOADS = {
    "mapreduce": ["wc", "indexer"],
    "roster": ROSTER,
    "curation": ["pipeline"],
}

JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


# ------------------------------------------------------------------ build

def source_stamp():
    """Hash of every file the build reads, to rebuild only when it changed."""
    h = hashlib.sha256()
    files = [ROOT / "build.sbt"]
    for d in (ROOT / "project", ROOT / "src" / "main", BENCH / "harness"):
        files += [p for p in d.rglob("*") if p.is_file()
                  and "target" not in p.relative_to(ROOT).parts]
    for p in sorted(files):
        if p.exists():
            h.update(str(p.relative_to(ROOT)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()[:16]


def sbt(cwd, commands, env):
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           "-Dsbt.server.autostart=false"] + commands
    try:
        p = subprocess.run(cmd, cwd=cwd, env=env, stdout=subprocess.PIPE,
                           stderr=subprocess.STDOUT, text=True, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail(f"build still running after {BUILD_TIMEOUT_S} s ({cwd})")
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:])
        fail(f"build failed in {cwd}")
    cps = [l for l in p.stdout.splitlines() if "scala-library" in l
           and not l.startswith("[")]
    if not cps:
        fail(f"no classpath in sbt output ({cwd})")
    return cps[-1].strip()


def build():
    stamp = source_stamp()
    cp_file = BUILD / "classpath.txt"
    stamp_file = BUILD / "stamp.txt"
    if cp_file.exists() and stamp_file.exists() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip(), stamp
    BUILD.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    if not env.get("SBT_OPTS"):
        # offline: resolve only from the local caches
        opts = ["-Dsbt.offline=true", "-Xmx2g", "-XX:-UsePerfData"]
        repos = Path.home() / ".sbt" / "repositories"
        if repos.exists():
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    # the root build points the forked JVM's temp dir at this value; keep
    # it inside the checkout
    env["SPARK_GRAFT_TMPDIR"] = str(BUILD / "tmp")
    t = time.time()
    program_cp = sbt(ROOT, ["compile", "export Runtime/fullClasspath"], env)
    env["PERFBENCH_PROGRAM_CP"] = program_cp
    cp = sbt(BENCH / "harness", ["compile", "export Runtime/fullClasspath"], env)
    cp = cp + os.pathsep + program_cp
    log(f"built in {time.time() - t:.1f} s")
    cp_file.write_text(cp)
    stamp_file.write_text(stamp)
    return cp, stamp


# ----------------------------------------------------------------- inputs

def make_inputs(workload, seed):
    """Seeded inputs under BUILD/inputs; returns (dir, record)."""
    d = BUILD / "inputs" / f"{workload}-{seed}-x{SIZES[workload]}"
    rec_file = d / "inputs.json"
    if rec_file.exists():
        return d, json.loads(rec_file.read_text())
    if d.exists():
        shutil.rmtree(d)
    t = time.time()
    if workload == "mapreduce":
        rec = {"corpus": gen.mr_corpus(d / "corpus", seed, MR_MBYTES)}
    elif workload == "roster":
        rec = gen.tables(d, seed, ROSTER_SCALE, ROSTER_TABLES)
    else:
        rec = {"documents": gen.curation_docs(d, seed, CURATION_SCALE)}
    rec_file.write_text(json.dumps(rec, sort_keys=True))
    log(f"generated {workload} inputs for seed {seed} in {time.time() - t:.1f} s")
    return d, rec


# ----------------------------------------------------------------- checks

def norm(df):
    """Sort columns by name, then rows by all columns (tools/check.py)."""
    df = df[sorted(df.columns)]
    if len(df):
        df = df.sort_values(by=list(df.columns), kind="mergesort")
    return df.reset_index(drop=True)


def oracle_failures(inputs, verify_dir, oracles):
    """Entries whose written result differs from their DuckDB oracle."""
    import duckdb
    con = duckdb.connect()
    con.sql("SET threads TO 2")
    con.sql(f"SET temp_directory = '{verify_dir.parent / 'duckdb-tmp'}'")
    for p in sorted(Path(inputs).glob("*.parquet")):
        con.sql(f"CREATE VIEW {p.stem} AS SELECT * FROM '{p}'")
    bad = {}
    for name, sql in sorted(oracles.items()):
        if not sql:
            bad[name] = "no oracle SQL"
            continue
        try:
            got = norm(con.sql(f"SELECT * FROM '{verify_dir / name}/*.parquet'").df())
            want = norm(con.sql(sql).df())
        except Exception as e:  # noqa: BLE001 - reported as a failure
            bad[name] = f"{type(e).__name__}: {e}"
            continue
        if list(got.columns) != list(want.columns):
            bad[name] = f"columns {list(got.columns)} != {list(want.columns)}"
        elif len(got) != len(want):
            bad[name] = f"rows {len(got)} != {len(want)}"
        elif len(got) == 0:
            bad[name] = "0 rows on both sides"
        elif not got.astype(str).equals(want.astype(str)):
            bad[name] = "values differ"
    return bad


# ------------------------------------------------------------ environment

def environment(cores, stamp, local_dir):
    mem_kb = 0
    for line in Path("/proc/meminfo").read_text().splitlines():
        if line.startswith("MemTotal:"):
            mem_kb = int(line.split()[1])
    fstype, best = "?", ""
    for line in Path("/proc/mounts").read_text().splitlines():
        parts = line.split()
        if len(parts) > 2 and str(local_dir).startswith(parts[1]) and len(parts[1]) > len(best):
            best, fstype = parts[1], parts[2]
    commit = None
    if (ROOT / ".git").exists():
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        commit = r.stdout.strip() or None
    return {"nproc": cores, "mem_total_mb": mem_kb // 1024,
            "spark_local_dir": str(local_dir), "spark_local_dir_fs": fstype,
            "commit": commit, "source_stamp": stamp}


# -------------------------------------------------------------------- run

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    # a stopped benchmark stops its build or JVM too: subprocess.run kills
    # and waits for its child when an exception leaves it
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    set_env = [k for k in REFUSED_ENV if os.environ.get(k)]
    if set_env:
        fail(f"refusing to run with {', '.join(set_env)} set: the benchmark "
             "pins its own configuration")
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        fail("no engine sources next to the benchmark (build.sbt, src/main/scala)")

    cp, stamp = build()
    inputs, input_rec = make_inputs(args.workload, args.seed)
    cores = len(os.sched_getaffinity(0))

    work = BUILD / "work" / f"{args.workload}-{args.seed}-t{args.trace}"
    if work.exists():
        shutil.rmtree(work)
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    local_dir = work / "spark-local"
    local_dir.mkdir()
    plan = work / "plan.txt"
    plan.write_text("\n".join(" ".join(gen.permutation(args.seed, WORKLOADS[args.workload], k))
                              for k in range(256)) + "\n")
    # C1 only and the parallel collector on a fixed heap, where the
    # engine's own forked JVMs use C2 and G1 with -Xmx8g: under those, C2's
    # background compilation doubled the roster's CPU seconds and warm
    # passes were still falling at the end of a run, so cpu_s spread 0.51
    # over five seeds against 0.09 with these flags (see README.md);
    # -XX:-UsePerfData stops the JVM writing its perf-data file outside
    # the checkout
    jvm = (["java", "-Xms3g", "-Xmx3g", "-Xss4m", "-XX:TieredStopAtLevel=1",
            "-XX:+UseParallelGC", "-XX:-UsePerfData"]
           + [x for p in JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Djava.io.tmpdir={tmp}",
              f"-Dlog4j2.configurationFile={BENCH / 'log4j2.properties'}",
              "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              "-cp", cp, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--inputs", str(inputs), "--work", str(work),
              "--cores", str(cores), "--plan", str(plan)])
    t = time.time()
    # Spark reads these in place of spark.local.dir and its defaults
    env = {k: v for k, v in os.environ.items()
           if k not in ("SPARK_LOCAL_DIRS", "SPARK_CONF_DIR", "SPARK_EXECUTOR_DIRS")}
    # graft.Bench.session reads its core count and scratch root from these;
    # the scratch root is in the checkout, not the engine's /dev/shm default
    env["SPARK_GRAFT_CPUS"] = str(cores)
    env["SPARK_GRAFT_LOCAL_DIR"] = str(local_dir)
    # the result line must be this script's last stdout line: the JVM's
    # stdout goes to stderr
    try:
        p = subprocess.run(jvm, cwd=work, env=env, stdout=sys.stderr,
                           timeout=HARNESS_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail(f"harness still running after {HARNESS_TIMEOUT_S} s", 1)
    log(f"harness ran {time.time() - t:.1f} s, exit {p.returncode}")
    res_file = work / "result.json"
    if p.returncode != 0 or not res_file.exists():
        fail("harness failed", 1)
    res = json.loads(res_file.read_text())

    ops = res["ops"]
    bad = {}
    if res["oracles"]:
        bad = oracle_failures(inputs, work / "verify", res["oracles"])
        for name, why in bad.items():
            log(f"oracle mismatch {name}: {why}")
    failed = sum(1 for o in ops if not o["ok"] or o["name"] in bad)
    attempted = len(ops)

    if args.trace:
        spec = json.loads((ROOT / "BENCHMARK.json").read_text())["per_layer"]
        layers = res["layers"]
        metrics = {m["name"]: {"value": layers.get(m["name"], 0.0), "unit": m["unit"]}
                   for m in spec}
    else:
        spec = json.loads((ROOT / "BENCHMARK.json").read_text())["end_to_end"]
        metrics = {m["name"]: {"value": res["metrics"][m["name"]], "unit": m["unit"]}
                   for m in spec}

    record = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "inputs": input_rec,
              "environment": environment(cores, stamp, local_dir),
              "failed_frac": failed / attempted if attempted else 1.0,
              "oracle_mismatches": bad, "harness": res}
    out = BUILD / "results"
    out.mkdir(parents=True, exist_ok=True)
    stem = f"{args.workload}-s{args.seed}-t{args.trace}"
    (out / f"{stem}.json").write_text(json.dumps(record, indent=1, sort_keys=True))
    if (work / "spans.jsonl").exists():
        shutil.copy(work / "spans.jsonl", out / f"{stem}-spans.jsonl")
    shutil.rmtree(work, ignore_errors=True)
    log(f"record: {out / stem}.json; warm ops {res['op_samples']}, "
        f"failed {failed}/{attempted}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
