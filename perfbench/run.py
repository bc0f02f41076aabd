#!/usr/bin/env python3
"""The repository's benchmark: one command, two workloads.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run it from the root of a source tree. It compiles src/main and the
benchmark's own Scala files with the Scala compiler that ships with
Spark (cached under .bench_build until a source changes), takes the
workload's inputs (the fixture tables under perfbench/data, or a reads
table generated from the seed), runs the workload in one JVM on
local[nproc] as a closed loop with one client, checks every op's
output, and prints as its last line one JSON object with `correct`,
`attempted`, `failed` and `metrics`: the end-to-end metrics with
--trace 0, the per-layer metrics of a traced run with --trace 1. The
line before it is the run's full record (environment, pass and op
times, tail percentile, failures).
"""
import argparse
import glob
import hashlib
import json
import math
import os
import re
import resource
import shutil
import statistics
import subprocess
import sys
import time
import zipfile

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402

BUILD = ".bench_build"
WORK = ".bench_run"
FIXTURES = os.path.join(HERE, "data", "sf0.01")   # the queries' tables
READS = 10000                 # rows of the disq round-trip table
DRIVER_MEM = "2g"
TAIL_LADDER = (50, 75, 90, 95, 99, 99.9)
WORKLOADS = ("scan_battery", "disq_roundtrip")
JDK17_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
               "java.base/java.lang.reflect", "java.base/java.io",
               "java.base/java.net", "java.base/java.nio",
               "java.base/java.util", "java.base/java.util.concurrent",
               "java.base/java.util.concurrent.atomic",
               "java.base/sun.nio.ch", "java.base/sun.nio.cs",
               "java.base/sun.security.action",
               "java.base/sun.util.calendar"]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory build.sbt compiles against."""
    if "SPARK_HOME" in os.environ:
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        with open("build.sbt") as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
        jars = m.group(1) if m else ""
    if not glob.glob(os.path.join(jars, "spark-core_*.jar")):
        die(f"no Spark jars under '{jars}'")
    return jars


def sources(root, pattern="*.scala"):
    return sorted(glob.glob(f"{root}/**/{pattern}", recursive=True))


def java(jars, work, *args):
    """The benchmark JVM's command line."""
    opens = [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java", f"-Xmx{DRIVER_MEM}", "-XX:-UsePerfData",
             f"-Djava.io.tmpdir={work}", "-Dspark.ui.enabled=false",
             "-Dspark.sql.session.timeZone=UTC"] + opens +
            ["-cp", f"{BUILD}/bench.jar:{BUILD}/main.jar:{jars}/*"] + list(args))


def bench_jvm(jars, work, a, data):
    """Run the benchmark JVM in `work`, wait for it, and return the JSON
    it wrote. The launch time it is given makes JVM start part of its
    set-up time."""
    os.makedirs(os.path.join(work, "tmp"))
    result = os.path.join(work, "result.json")
    cmd = java(jars, os.path.join(work, "tmp"), "perfbench.Main",
               a.workload, str(a.seed), str(a.seconds), str(a.trace), result,
               work, data, str(int(time.time() * 1000)))
    subprocess.run(cmd, check=True, stdout=sys.stderr, timeout=170)
    with open(result) as fh:
        return json.load(fh)


def jar(path, *roots):
    with zipfile.ZipFile(path, "w") as z:
        for root in roots:
            for d, _, files in os.walk(root):
                for f in files:
                    full = os.path.join(d, f)
                    z.write(full, os.path.relpath(full, root))


def build(jars):
    """Compile src/main, then the benchmark against it; skip both when
    the sources are unchanged since the last build."""
    main_src = sources("src/main/scala")
    bench_src = sources(os.path.join(HERE, "scala"))
    digest = hashlib.sha256()
    resources = [f for f in sources("src/main/resources", "*") if os.path.isfile(f)]
    for f in main_src + bench_src + resources:
        digest.update(os.path.relpath(f).encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    stamp = digest.hexdigest()
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return stamp
    shutil.rmtree(BUILD, ignore_errors=True)
    compiler = ":".join(glob.glob(os.path.join(jars, f"scala-{p}-2.13*.jar"))[0]
                        for p in ("compiler", "library", "reflect"))
    for out, cp, files in (("main", f"{jars}/*", main_src),
                           ("bench", f"{BUILD}/main:{jars}/*", bench_src)):
        os.makedirs(os.path.join(BUILD, out))
        subprocess.run(["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData",
                        f"-Djava.io.tmpdir={BUILD}", "-cp", compiler,
                        "scala.tools.nsc.Main", "-nowarn", "-Ybackend-parallelism", "4",
                        "-classpath", cp,
                        "-d", os.path.join(BUILD, out)] + files,
                       check=True, stdout=sys.stderr, timeout=600)
    jar(f"{BUILD}/main.jar", f"{BUILD}/main", "src/main/resources")
    jar(f"{BUILD}/bench.jar", f"{BUILD}/bench")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return stamp


def tail(values):
    """The highest ladder percentile with at least ten ops beyond it, as
    (percentile, seconds by nearest rank), or None when the run has too
    few ops for any."""
    xs, n = sorted(values), len(values)
    ps = [q for q in TAIL_LADDER if n * (1 - q / 100) >= 10]
    return (ps[-1], xs[math.ceil(ps[-1] / 100 * n) - 1]) if ps else None


def oracle_failures(data, work, oracle):
    """Compare each query's dumped result with its DuckDB oracle, using
    tools/compare.py's canonicalisation. Returns ({name: reason},
    self-test problems)."""
    sys.path.insert(0, os.path.abspath("tools"))
    import duckdb
    from compare import TABLES, canon
    con = duckdb.connect()
    con.execute(f"SET threads TO {len(os.sched_getaffinity(0))}")
    con.execute(f"SET temp_directory = '{work}/duckdb'")
    for t in TABLES:
        p = f"{data}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    fails, probe = {}, None

    def differ(s_cols, s_rows, d_cols, d_rows):
        if sorted(s_cols) != sorted(d_cols):
            return f"columns spark={sorted(s_cols)} duckdb={sorted(d_cols)}"
        sc, dc = canon(s_rows, s_cols)[1], canon(d_rows, d_cols)[1]
        if sc != dc:
            bad = sum(a != b for a, b in zip(sc, dc)) + abs(len(sc) - len(dc))
            return f"{bad} of {len(dc)} rows differ"
        return None

    for name, sql in sorted(oracle.items()):
        try:
            if sql is None:
                raise ValueError("no oracle SQL")
            d = con.execute(sql)
            d_cols, d_rows = [c[0] for c in d.description], d.fetchall()
            files = sorted(glob.glob(f"{work}/check/{name}/*.parquet"))
            s = con.execute(f"SELECT * FROM read_parquet({files!r})")
            s_cols, s_rows = [c[0] for c in s.description], s.fetchall()
            why = differ(s_cols, s_rows, d_cols, d_rows)
        except Exception as e:  # an op whose check cannot run has failed
            why = f"oracle check error: {e}"
        if why:
            fails[name] = why
        elif probe is None and d_rows:
            probe = (s_cols, s_rows, d_cols, d_rows)
    # self-test: the comparison must trip on a wrong expected value
    self_test = []
    if probe:
        s_cols, s_rows, d_cols, d_rows = probe
        wrong = [tuple("wrong" for _ in d_rows[0])] + d_rows[1:]
        if differ(s_cols, s_rows, d_cols, wrong) is None:
            self_test.append("oracle check does not trip on a wrong value")
    return fails, self_test


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not all(os.path.exists(p) for p in ("src/main/scala", "tools/compare.py", "build.sbt")):
        die("run from the root of the source tree (src/main/scala, tools/compare.py, build.sbt)")
    jars = spark_jars()
    stamp = build(jars)

    work = os.path.abspath(os.path.join(WORK, f"{a.workload}-{a.seed}-{os.getpid()}"))
    shutil.rmtree(work, ignore_errors=True)
    try:
        if a.workload == "scan_battery":
            data = FIXTURES
        else:
            data = os.path.join(work, "data")
            os.makedirs(data)
            gen.reads_table(data, a.seed, READS)
        t_jvm, cpu0, host0 = time.time(), children_cpu(), host_cpu()
        r = bench_jvm(jars, work, a, data)
        t_jvm, cpu1, host1 = time.time() - t_jvm, children_cpu(), host_cpu()
        t_oracle = time.time()
        fails, self_test = oracle_failures(data, work, r["oracle"])
        t_oracle = time.time() - t_oracle
    finally:
        shutil.rmtree(work, ignore_errors=True)

    ops = r["ops"]
    for o in ops:
        if o["error"] is None and o["name"] in fails:
            o["error"] = fails[o["name"]]
    failed = sum(o["error"] is not None for o in ops)
    secs = [o["s"] for o in ops]
    n = len(secs)
    self_test += r["self_test"]
    setup_errors = r["setup_errors"]
    passes, pass_cpu = r["passes"], r["pass_cpu_s"]
    end_to_end = {
        "setup_s": r["setup_s"],
        # pass 0 is left out: the JIT is still compiling its code, and its
        # storage checks run on the threads whose CPU time is counted
        "cpu_s": statistics.mean(pass_cpu[1:] or pass_cpu),
        "live_heap_mb": r["live_heap_mb"],
    }
    record = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace,
        "ops": n, "wall_s": statistics.median(passes), "pass_s": passes,
        "pass_cpu_s": pass_cpu, "window_s": r["window_s"], "jvm_s": t_jvm,
        "op_p50_s": statistics.median(secs), "op_tail_pct_s": tail(secs),
        "peak_rss_mb": r["peak_rss_mb"],
        "ops_failed_frac": failed / max(1, n),
        "op_median_s": {k: statistics.median(o["s"] for o in ops if o["name"] == k)
                        for k in sorted({o["name"] for o in ops})},
        "failures": sorted({f"{o['name']}: {o['error']}" for o in ops if o["error"]}),
        "session_s": r["session_s"],
        "setup_errors": setup_errors,
        "self_test": self_test, "oracle_check_s": t_oracle,
        "env": dict(r["env"], driver_memory=DRIVER_MEM, build_sha256=stamp,
                    git_sha=git_sha(), jvm_cpu_s=cpu1 - cpu0,
                    **{f"host_{k}_s": host1[k] - host0[k] for k in host0}),
        "end_to_end": end_to_end,
        "per_layer": r["layers"],
    }
    print(json.dumps(record))
    # names and units as BENCHMARK.json declares them
    with open("BENCHMARK.json") as fh:
        declared = json.load(fh)["end_to_end" if a.trace == 0 else "per_layer"]
    values = end_to_end if a.trace == 0 else r["layers"]
    if sorted(values) != sorted(m["name"] for m in declared):
        die(f"measured metrics {sorted(values)} differ from BENCHMARK.json")
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
               for m in declared}
    print(json.dumps({
        "correct": failed == 0 and not self_test and not setup_errors,
        "attempted": n, "failed": failed, "metrics": metrics}))


def children_cpu():
    """User plus system CPU seconds of the finished child processes."""
    ru = resource.getrusage(resource.RUSAGE_CHILDREN)
    return ru.ru_utime + ru.ru_stime


def host_cpu():
    """CPU seconds of the whole machine, summed over its CPUs, by state
    (/proc/stat): busy time of other processes and time stolen by the
    hypervisor show a run on a loaded machine."""
    with open("/proc/stat") as fh:
        t = [int(x) / os.sysconf("SC_CLK_TCK") for x in fh.readline().split()[1:9]]
    return {"busy": sum(t[:3]) + sum(t[5:7]), "idle": t[3] + t[4], "steal": t[7]}


def git_sha():
    """HEAD of the tree's own repository, if it is one."""
    if not os.path.isdir(".git"):
        return None
    try:
        return subprocess.run(["git", "--git-dir=.git", "rev-parse", "HEAD"],
                              capture_output=True, text=True,
                              timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


if __name__ == "__main__":
    main()
