#!/usr/bin/env python3
"""End-to-end pipeline benchmark of the graft engine.

Usage (from the repository root):

    python3 pipebench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

One run is one benchmark JVM. The run

1. builds the engine and the harness (`pipebench/harness`) with sbt and
   archives the classes the workloads load (AppCDS), once per source
   state, and launches the JVM directly from the exported classpath with
   that archive;
2. derives the workload's input dirs from the base scale-factor dir and
   the seed (`gen.py`) and deletes the engine's scratch stores for them;
3. in the JVM: runs the workload's set-up, then a fixed number of passes
   over its op list, each call materialised with the `noop` sink and
   timed; then writes each op's last output for the check;
4. checks each output against its DuckDB oracle by row count and an
   order-insensitive hash (ops without an oracle must be non-empty);
5. deletes the scratch stores and prints one JSON line: the end-to-end
   metrics with `--trace 0`, the per-layer metrics with `--trace 1`.

The number of passes is fixed by `--seconds` and the workload's nominal
pass length in `workloads.json`, so a run always does the same work.
Before them the set-up runs the op list `setup_rounds` times. A workload
with `fresh_dir_per_pass` (nightly_cold) gets one new input dir per pass
and per set-up round, so every pass builds its stores; with no set-up
round its pass is a cold night, JIT and codegen warm-up included, as a
cron job that starts a new JVM every night pays them. The other
workloads reuse one dir whose stores and caches the set-up builds, and a
timed pass that builds a store fails the run.

`selftest.py` calls `run()` with a smaller base dir and one pass.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import re
import shutil
import statistics
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

SPEC = json.load(open(os.path.join(HERE, "workloads.json")))
BENCH = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
# the op families the per-layer metrics report, as BENCHMARK.json
# declares them (operators.<Family>.busy_s)
FAMILIES = [m["name"].split(".")[1] for m in BENCH["per_layer"]
            if re.fullmatch(r"operators\.\w+\.busy_s", m["name"])]
WORK = os.path.join(HERE, ".work")
CACHE = os.path.join(HERE, ".cache")
TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()
# JDK 17 module opens Spark needs outside spark-submit (the engine's
# build.sbt passes the same list to its forked runs)
ADD_OPENS = [a for p in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar")
    for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
JVM_TIMEOUT_S = 160
ARCHIVE_TIMEOUT_S = 600

END_TO_END = {
    "makespan_s": "s", "pass_p50_s": "s", "setup_s": "s",
    "peak_rss_mb": "MB", "stored_bytes_ratio": "ratio", "ops_ok_ratio": "ratio",
}


class BenchError(Exception):
    pass


def log(msg):
    print(f"[pipebench] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------- build

def source_files():
    pats = ["build.sbt", "project/*.sbt", "project/*.scala",
            "project/build.properties", "src/main/**/*",
            "pipebench/harness/build.sbt",
            "pipebench/harness/project/build.properties",
            "pipebench/harness/src/**/*"]
    out = set()
    for p in pats:
        out.update(f for f in glob.glob(os.path.join(ROOT, p), recursive=True)
                   if os.path.isfile(f))
    return sorted(out)


def build():
    """Compile engine and harness once per source state and archive the
    classes the workloads load; return the classpath, a key of the
    source state and the class archive."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isfile(os.path.join(
                ROOT, "src/main/scala/graft/SparkEntry.scala"))):
        raise BenchError(f"no engine sources under {ROOT}")
    h = hashlib.sha256()
    # the class archive is only valid for the JVM flags it was made with
    h.update(json.dumps(SPEC["jvm"]).encode())
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    key = h.hexdigest()[:16]
    out = os.path.join(HERE, ".build")
    cp_file = os.path.join(out, f"classpath-{key}")
    jsa = os.path.join(out, f"classes-{key}.jsa")
    if os.path.isfile(cp_file) and os.path.isfile(jsa):
        return open(cp_file).read().strip(), key, jsa
    log("building engine and harness with sbt")
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true",
         "export harness/Runtime/fullClasspath"],
        cwd=os.path.join(HERE, "harness"), stdout=subprocess.PIPE,
        stderr=sys.stderr, text=True, timeout=840)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or "harness" not in lines[-1]:
        sys.stderr.write(proc.stdout[-4000:])
        raise BenchError("sbt build failed")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    classpath = ":".join(jar_of(e, os.path.join(out, f"jars-{key}"), i)
                         for i, e in enumerate(lines[-1].strip().split(":")))
    archive_classes(classpath, jsa)
    with open(cp_file, "w") as fh:
        fh.write(classpath)
    return classpath, key, jsa


def jar_of(entry, jar_dir, i):
    """`entry` as a jar: a class dir is packed into one under `jar_dir`,
    since the JVM archives classes from jars only."""
    if not os.path.isdir(entry):
        return entry
    os.makedirs(jar_dir, exist_ok=True)
    jar = os.path.join(jar_dir, f"{i:03d}-classes.jar")
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
        for r, _, fs in sorted(os.walk(entry)):
            for f in sorted(fs):
                p = os.path.join(r, f)
                z.write(p, os.path.relpath(p, entry))
    return jar


def archive_classes(classpath, jsa):
    """Write the JVM class archive (AppCDS) that every benchmark JVM of
    this source state maps at start: one untimed JVM calls every op of
    the workloads BENCHMARK.json lists once and dumps the classes it
    loaded at exit. Mapping
    them instead of loading them from the jars takes about 5 s off each
    JVM's start on 4 cores, and makes no difference to what the engine
    computes."""
    import gen
    log("archiving the classes the workloads load")
    ops = list(dict.fromkeys(op for w in BENCH["workloads"]
                             for op in SPEC["workloads"][w["name"]]["ops"]))
    work = os.path.join(WORK, "archive")
    d = os.path.join(work, "corpus")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    gen.make_dir(os.path.expanduser(SPEC["base_dir"]), d, 0, "archive")
    root = store_root(os.path.join(work, "tmp"))
    ckpt_before = checkpoint_dirs(root)
    try:
        jvm(work, classpath, ["-XX:ArchiveClassesAtExit=" + jsa],
            {"workload": ["archive"], "trace": ["0"], "op": ops,
             "pass_dir": [d], "store_root": [root],
             "store_pattern": [store_pattern([d])]},
            ARCHIVE_TIMEOUT_S)
    finally:
        delete_stores(root, [d])
        for c in checkpoint_dirs(root) - ckpt_before:
            shutil.rmtree(c, ignore_errors=True)
        shutil.rmtree(work, ignore_errors=True)
    if not os.path.isfile(jsa):
        raise BenchError("the JVM wrote no class archive")


def jvm(work, classpath, flags, conf, timeout):
    """Run the harness JVM in `work` on `conf` (plus the settings common
    to every run); return its result file's contents.

    The JVM flags of workloads.json pin the heap and the young generation
    and stop the JIT at its first tier (C1, with room in the code cache
    for all the code it compiles): at these input sizes the warm passes
    run no slower on it, and a run uses about half the CPU time that
    compiling with C2 as well costs, which leaves the run less exposed
    to other load on a few shared cores. The session settings of
    workloads.json raise Spark's cache of generated classes from 100
    entries to 2000: incremental_warm's passes use about 290 of them, and
    with 100 the number a pass recompiled changed from run to run (35 or
    57), which made pass times bimodal. `spark.codegen_compiles` counts
    the compiles of the timed phase."""
    conf = {
        "cpus": [str(len(os.sched_getaffinity(0)))],
        "result": [os.path.join(work, "result.json")],
        "spans": [os.path.join(work, "spans.jsonl")],
        "local_dir": [os.path.join(work, "spark-local")],
        "family": FAMILIES,
        "spark": [f"{k}={v}" for k, v in SPEC["spark"].items()],
        **conf,
    }
    conf_path = os.path.join(work, "run.conf")
    with open(conf_path, "w") as fh:
        for k, vs in conf.items():
            fh.writelines(f"{k}={v}\n" for v in vs)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, *SPEC["jvm"], *flags, *ADD_OPENS,
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-cp", classpath, "pipebench.Main", conf_path]
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as jlog:
        env = {k: v for k, v in os.environ.items()
               if k not in ("SPARK_LOCAL_DIRS", "LOCAL_DIRS")}
        proc = subprocess.run(cmd, cwd=work, stdout=jlog, env=env,
                              stderr=subprocess.STDOUT, timeout=timeout)
    if proc.returncode != 0:
        sys.stderr.write(open(log_path).read()[-4000:])
        raise BenchError(f"benchmark JVM exited with {proc.returncode}")
    return json.load(open(conf["result"][0]))


# --------------------------------------------------------------- stores

def store_root(tmpdir):
    """Where the engine keeps scratch stores (SinkOps.scratchRoot)."""
    shm = "/dev/shm"
    return shm if os.path.isdir(shm) and os.access(shm, os.W_OK) else tmpdir


def store_suffix(d):
    """The name suffix of an input dir's stores (SinkOps.stagingDir)."""
    return re.sub(r"[^a-zA-Z0-9.]", "_", d)


def store_pattern(dirs):
    """A regex matching the names of the input dirs' scratch stores:
    `graft_<tag>` ended by a dir's suffix, or by the suffix and one
    extension, as in the `.meta` and `.checkpoint` siblings of the
    streaming stores. The harness gets the same pattern."""
    alts = "|".join(re.escape(store_suffix(d)) for d in dirs)
    return rf"^graft_.*({alts})(\.[A-Za-z]+)?$"


def delete_stores(root, dirs):
    pattern = re.compile(store_pattern(dirs))
    for name in os.listdir(root):
        if pattern.match(name):
            shutil.rmtree(os.path.join(root, name), ignore_errors=True)


def checkpoint_dirs(root):
    return set(glob.glob(os.path.join(root, "graft-ckpt-*")))


# --------------------------------------------------------------- checks

def duck(dir_):
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute("SET memory_limit = '4GB'")
    con.execute(f"SET temp_directory = '{os.path.join(WORK, 'duckdb-tmp')}'")
    for t in TABLES:
        p = os.path.join(dir_, f"{t}.parquet")
        if os.path.isdir(p):
            p = os.path.join(p, "*.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def fingerprint(con, relation):
    """Row count, sorted column names and an order-insensitive hash of a
    relation; cells are compared as their text form, the way
    tools/check.py compares normalised values."""
    cols = [d[0] for d in
            con.execute(f"SELECT * FROM ({relation}) q LIMIT 0").description]
    cells = ", ".join('CAST("' + c.replace('"', '""') + '" AS VARCHAR)'
                      for c in sorted(cols))
    n, s = con.execute(
        f"SELECT count(*), coalesce(sum(hash({cells})::HUGEINT), 0) "
        f"FROM ({relation}) q").fetchone()
    return {"rows": n, "cols": sorted(cols), "hash": str(s)}


def expected(op, sql, dir_, digest):
    """The oracle's fingerprint on `dir_`, cached per oracle and inputs."""
    key = hashlib.sha256(f"{sql}\n{digest}".encode()).hexdigest()[:24]
    path = os.path.join(CACHE, "oracle", f"{op}-{key}.json")
    if os.path.isfile(path):
        return json.load(open(path))
    con = duck(dir_)
    fp = fingerprint(con, sql.strip().rstrip(";"))
    con.close()
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        json.dump(fp, fh)
    return fp


def check_outputs(result, check_out, dir_):
    """Failed output checks, op -> reason."""
    import gen
    digest = gen.digest(dir_)
    con = duck(dir_)
    bad = {}
    for c in result["check"]:
        op = c["op"]
        if c["error"]:
            bad[op] = f"check run failed: {c['error']}"
            continue
        files = glob.glob(os.path.join(check_out, op, "*.parquet"))
        got = (fingerprint(con, f"SELECT * FROM read_parquet({files!r})")
               if files else {"rows": 0, "cols": [], "hash": "0"})
        sql = next(o["sql"] for o in result["oracle"] if o["op"] == op)
        if sql is None:
            if got["rows"] == 0:
                bad[op] = "no oracle and an empty output"
            continue
        want = expected(op, sql, dir_, digest)
        if got != want:
            bad[op] = f"engine {got} != oracle {want}"
    con.close()
    return bad


# ----------------------------------------------------------------- run

def percentile_note(xs):
    """The highest percentile with at least ten samples beyond it."""
    n = len(xs)
    best = None
    for p in (75, 90, 95, 99, 99.9):
        if n - math.ceil(n * p / 100) >= 10:
            best = p
    if best is None:
        return f"n={n}: no percentile above p50 has ten passes beyond it"
    v = sorted(xs)[min(n - 1, math.ceil(n * best / 100) - 1)]
    return f"n={n}: p{best}={v:.4f}s"


def run(workload, seed, seconds, trace, base=None, passes=None):
    """One benchmark run; returns a dict of results."""
    spec = SPEC["workloads"][workload]
    base = base or os.path.expanduser(SPEC["base_dir"])
    if not os.path.isfile(os.path.join(base, "lineitem.parquet")):
        raise BenchError(f"no base tables under {base}")
    classpath, source_key, jsa = build()
    import gen

    n_passes = passes or max(1, round(seconds / spec["pass_seconds"]))
    work = os.path.join(WORK, workload)
    tmpdir = os.path.join(work, "tmp")
    root = None
    dirs = []
    ckpt_before = set()
    try:
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(tmpdir)
        root = store_root(tmpdir)
        ckpt_before = checkpoint_dirs(root)
        rounds = spec["setup_rounds"]
        if spec.get("fresh_dir_per_pass"):
            dirs = [os.path.join(work, f"night-{i:02d}")
                    for i in range(rounds + n_passes)]
            setup_dirs, pass_dirs = dirs[:rounds], dirs[rounds:]
        else:
            dirs = [os.path.join(work, "corpus")]
            setup_dirs, pass_dirs = dirs * rounds, dirs * n_passes
        delete_stores(root, dirs)
        for d in dirs:
            gen.make_dir(base, d, seed, os.path.basename(d))
        input_bytes = sum(gen.size(d) for d in dirs)

        log(f"{workload} seed={seed}: {n_passes} passes, "
            f"{len(spec['ops'])} ops per pass")
        result = jvm(work, classpath, ["-XX:SharedArchiveFile=" + jsa], {
            "workload": [workload], "trace": [str(trace)],
            "store_root": [root], "op": spec["ops"], "setup_dir": setup_dirs,
            "pass_dir": pass_dirs, "store_pattern": [store_pattern(dirs)],
            "check_out": [os.path.join(work, "check")],
        }, JVM_TIMEOUT_S)
        bad = check_outputs(result, os.path.join(work, "check"), pass_dirs[-1])
    finally:
        if root:
            delete_stores(root, dirs)
            for d in checkpoint_dirs(root) - ckpt_before:
                shutil.rmtree(d, ignore_errors=True)
        for d in dirs + [os.path.join(work, n) for n in ("check", "spark-local")]:
            shutil.rmtree(d, ignore_errors=True)

    calls = result["calls"]
    failed_calls = {(c["pass"], c["op"]) for c in calls if c["error"]}
    last_pass = n_passes - 1
    failed = len(failed_calls | {(last_pass, op) for op in bad})
    builds = [p["builds"] for p in result["passes"]]
    problems = [f"{op}: {why}" for op, why in sorted(bad.items())]
    problems += [f"{c['op']} (pass {c['pass']}): {c['error']}"
                 for c in calls if c["error"]]
    if spec.get("fresh_dir_per_pass"):
        problems += [f"night {i + 1} built no store" for i, b in
                     enumerate(builds) if b == 0]
    else:
        problems += [f"pass {i} built {b} store(s) in a warm pass"
                     for i, b in enumerate(builds) if b != 0]
    pass_s = [p["s"] for p in result["passes"]]
    metrics = {
        "makespan_s": result["makespan_s"],
        "pass_p50_s": statistics.median(pass_s),
        "setup_s": result["setup_s"],
        "peak_rss_mb": result["vm_hwm_kb"] / 1024.0,
        "stored_bytes_ratio": result["stored_bytes"] / input_bytes,
        "ops_ok_ratio": 1.0 - failed / len(calls),
    }
    return {
        "workload": workload, "seed": seed, "passes": n_passes,
        "attempted": len(calls), "failed": failed, "problems": problems,
        "metrics": metrics, "pass_s": pass_s, "builds": builds,
        "layers": result.get("layers"), "result": result,
        "input_bytes": input_bytes, "source_key": source_key,
    }


def history_path(workload, passes, source_key):
    """Untraced makespans of this workload and source state, the base of
    the tracing overhead."""
    return os.path.join(CACHE, "history",
                        f"{workload}-{passes}-{source_key}.json")


def unit_of(name):
    """Unit of a per-layer metric, from its name's suffix."""
    for suffix, unit in (("_s", "s"), ("_mb", "MB")):
        if name.endswith(suffix):
            return unit
    return "count"


def report(r, trace, untraced):
    """The result line's metrics: end-to-end ones untraced, per-layer ones
    traced, with the traced makespan and its excess over the median of
    the `untraced` makespans."""
    m = r["metrics"]
    if not trace:
        return {k: {"value": v, "unit": END_TO_END[k]} for k, v in m.items()}
    out = dict(r["layers"])
    out["trace.makespan_s"] = m["makespan_s"]
    out["trace.overhead_s"] = (m["makespan_s"] - statistics.median(untraced)
                               if untraced else 0.0)
    return {k: {"value": v, "unit": unit_of(k)} for k, v in out.items()}


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=sorted(SPEC["workloads"]))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    try:
        r = run(a.workload, a.seed, a.seconds, a.trace)
    except BenchError as e:
        log(f"failed: {e}")
        return 2
    except subprocess.TimeoutExpired as e:
        log(f"failed: {os.path.basename(e.cmd[0])} ran over {e.timeout:.0f} s")
        return 2
    res = r["result"]
    for p in r["problems"]:
        print(f"problem: {p}")
    print(f"info: passes={r['passes']} "
          f"pass_s={[round(x, 4) for x in r['pass_s']]}")
    print(f"info: pass latency {percentile_note(r['pass_s'])}")
    print(f"info: ops_failed_ratio={r['failed'] / r['attempted']:.6f} "
          f"({r['failed']}/{r['attempted']})")
    print(f"info: store builds per pass={r['builds']} "
          f"load1 start={res['load1_start']} end={res['load1_end']}")
    print(f"info: timed phase used {res['cpu_s']:.3f} s of process CPU; "
          f"the host stole {res['steal_s']:.2f} s of CPU from this VM")
    hist = history_path(a.workload, r["passes"], r["source_key"])
    untraced = json.load(open(hist)) if os.path.isfile(hist) else []
    if a.trace:
        if not untraced:
            print("info: no untraced run of this workload and source state "
                  "is recorded in this checkout, so trace.overhead_s reads 0")
        print("info: spans in " + os.path.relpath(
            os.path.join(WORK, a.workload, "spans.jsonl"), ROOT))
    else:
        os.makedirs(os.path.dirname(hist), exist_ok=True)
        with open(hist, "w") as fh:
            json.dump((untraced + [r["metrics"]["makespan_s"]])[-50:], fh)
    print(json.dumps({
        "correct": not r["problems"], "attempted": r["attempted"],
        "failed": r["failed"], "metrics": report(r, a.trace, untraced),
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
