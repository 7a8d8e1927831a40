#!/usr/bin/env python3
"""graft's benchmark: one run of one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a graft checkout. The first run compiles graft and
the harness in perfbench/ (sbt, offline); later runs reuse the build while
the sources are unchanged. The run generates its inputs from the seed,
drives graft from one JVM, checks every output, and prints a stamp line and
then, as its last line, the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are BENCHMARK.json's end_to_end metrics, with
--trace 1 its per_layer metrics. The exit code is 0 only when every output
was correct. See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSPATH = os.path.join(BUILD, "classpath")
WORK = os.path.join(ROOT, ".bench_work")
WORKLOADS = ("etl_addresses", "dedup_corpus", "table_mix")
HEAP = "3g"
RUN_LIMIT_S = 170     # a run (after the build) must end well inside 180 s


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def run_group(cmd, timeout, **kw):
    """Run `cmd` in its own process group; on timeout kill the whole group
    and wait for it, so no process outlives the run."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def source_hash():
    h = hashlib.sha256()
    pats = ["build.sbt", "project/build.properties", "src/main/**/*.scala",
            "perfbench/build.sbt", "perfbench/project/build.properties",
            "perfbench/src/**/*.scala"]
    for pat in pats:
        for f in sorted(glob.glob(os.path.join(ROOT, pat), recursive=True)):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def build(src_hash):
    """Compile graft and the harness unless this source state is built."""
    stamp = os.path.join(BUILD, "stamp")
    if (os.path.exists(stamp) and open(stamp).read() == src_hash
            and os.path.exists(CLASSPATH)):
        return
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
    env["SBT_OPTS"] = opts.strip()
    logf = os.path.join(BUILD, "build.log")
    log("building graft and the harness (sbt compile)")
    t0 = time.time()
    with open(logf, "w") as out:
        rc = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       timeout=840, cwd=HERE, env=env, stdout=out,
                       stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    lines = open(logf).read().splitlines()
    # `export` prints the run classpath as a plain line
    cp = [l for l in lines if os.pathsep in l and not l.startswith("[")]
    if rc != 0 or not cp:
        sys.stderr.write("\n".join(lines)[-4000:])
        raise SystemExit(f"build failed (exit {rc}), log in {logf}")
    log(f"built in {time.time() - t0:.0f} s")
    with open(CLASSPATH, "w") as f:
        f.write(cp[-1].strip())
    with open(stamp, "w") as f:
        f.write(src_hash)


JDK17_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
               "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
               "java.base/java.nio", "java.base/java.util",
               "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
               "java.base/sun.nio.ch", "java.base/sun.nio.cs",
               "java.base/sun.security.action", "java.base/sun.util.calendar"]


def run_jvm(args, inputs, work, cores, timeout):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # a fixed-size heap and the throughput collector: no heap resizing and
    # no concurrent GC threads competing with tasks and the JIT mid-run
    cmd = [java, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC",
           f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", open(CLASSPATH).read(), "graft.perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--inputs", inputs, "--work", work, "--cores", str(cores)]
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    logf = os.path.join(work, "jvm.log")
    with open(logf, "w") as out:
        rc = run_group(cmd, timeout=timeout, cwd=work, env=env, stdout=out,
                       stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    res = os.path.join(work, "result.json")
    if rc != 0 or not os.path.exists(res):
        sys.stderr.write(open(logf).read()[-6000:])
        raise SystemExit(f"harness failed (exit {rc})")
    return json.load(open(res))


# ---- oracles -------------------------------------------------------------

def check_queries(inputs, work):
    """Each query's reference answer (the harness checks every timed run
    against it) must equal DuckDB's answer to graft's oracle SQL: the same
    column names and types and the same cells in the same order, compared
    as graft's tools/check.py compares them."""
    import duckdb
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    from check import canon
    con = duckdb.connect()
    for f in glob.glob(os.path.join(inputs, "*.parquet")):
        t = os.path.basename(f)[:-8]
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{f}')")
    oracle = json.load(open(os.path.join(work, "dumps", "oracle_sql.json")))
    errors = {}
    for name, sql in sorted(oracle.items()):
        files = sorted(glob.glob(os.path.join(work, "dumps", name, "*.parquet")))
        flist = "[" + ",".join(f"'{f}'" for f in files) + "]"
        stypes = {r[0]: r[1] for r in con.execute(
            f"DESCRIBE SELECT * FROM read_parquet({flist})").fetchall()}
        otypes = {r[0]: r[1] for r in con.execute(f"DESCRIBE {sql}").fetchall()}
        scols = sorted(stypes)
        o = con.execute(sql)
        ocols = [d[0] for d in o.description]
        orows = o.fetchall()
        if scols != sorted(ocols):
            errors[name] = f"columns {scols} vs oracle {sorted(ocols)}"
            continue
        tdiff = {c: (stypes[c], otypes.get(c)) for c in scols if stypes[c] != otypes.get(c)}
        if tdiff:
            errors[name] = f"column types (answer, oracle) differ: {tdiff}"
            continue
        cols = ", ".join(f'"{c}"' for c in scols)
        srows = con.execute(f"SELECT {cols} FROM read_parquet({flist})").fetchall()
        perm = [ocols.index(c) for c in scols]
        sc = [[canon(v) for v in r] for r in srows]
        oc = [[canon(r[i]) for i in perm] for r in orows]
        if sc != oc:
            errors[name] = f"{len(sc)} rows differ from the oracle's {len(oc)}"
    return errors


def check_pairs(corpus, pairs, planted):
    """Every emitted pair (a, b, inter, na, nb) must have exact token Jaccard
    >= 0.8; recall is the share of planted pairs at or above 0.8 that were
    emitted."""
    import pyarrow.parquet as pq
    t = pq.read_table(corpus, columns=["doc_id", "text"]).to_pydict()
    docs = {i: set(s.split(" ")) for i, s in zip(t["doc_id"], t["text"])}
    errors, found = [], set()
    for a, b, inter, na, nb in pairs:
        A, B = docs[a], docs[b]
        i = len(A & B)
        if not (a < b and (inter, na, nb) == (i, len(A), len(B))
                and 10 * i >= 8 * (len(A) + len(B) - i)):
            errors.append(f"pair ({a},{b}) reported {inter}/{na}/{nb}, "
                          f"exact {i}/{len(A)}/{len(B)}")
        found.add((a, b))
    want = [(a, b) for a, b, i, na, nb in json.load(open(planted))
            if 5 * i >= 4 * (na + nb - i)]
    return errors[:5], sum(p in found for p in want) / len(want)


# ---- result --------------------------------------------------------------

def median(xs):
    return statistics.median(xs) if xs else 0.0


def loadavg():
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (os.path.exists(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        log(f"no graft sources at {ROOT}: run from the root of a graft checkout")
        return 2
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    load0 = loadavg()
    src_hash = source_hash()
    build(src_hash)
    t_start = time.time()

    import gen
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(WORK, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    inputs = os.path.join(work, "in")
    os.makedirs(inputs)
    try:
        gen.GENERATORS[args.workload](inputs, args.seed)
        res = run_jvm(args, inputs, work, cores,
                      timeout=RUN_LIMIT_S - (time.time() - t_start))
        errors = list(res["errors"])
        stats = dict(res["stats"])
        perr = []
        attempted, failed = res["attempted"], res["failed"]
        # an oracle mismatch fails every operation that returned that answer
        if args.workload == "table_mix":
            bad = check_queries(inputs, work)
            errors += [f"{q}: {e}" for q, e in bad.items()]
            failed += sum(o["ok"] and o["name"] in bad for o in res["ops"])
            stats["recall"] = 1.0 - len(bad) / len(json.load(
                open(os.path.join(work, "dumps", "oracle_sql.json"))))
        if args.workload == "dedup_corpus":
            with open(os.path.join(work, "pairs.tsv")) as f:
                pairs = [tuple(int(x) for x in line.split("\t")) for line in f]
            perr, stats["recall"] = check_pairs(os.path.join(inputs, "corpus.parquet"),
                                                pairs, os.path.join(inputs, "planted.json"))
        if perr:
            errors += perr
            failed = attempted
    finally:
        # a traced run's spans outlive the work directory
        spans = os.path.join(work, "spans.jsonl")
        if os.path.exists(spans):
            os.replace(spans, os.path.join(WORK, f"spans-{args.workload}-{args.seed}.jsonl"))
        shutil.rmtree(work, ignore_errors=True)
    ops = [o for o in res["ops"] if not o["traced"]]
    secs = [o["secs"] for o in ops]
    rounds, round_cpu = {}, {}
    for o in ops:
        rounds[o["round"]] = rounds.get(o["round"], 0.0) + o["secs"]
        round_cpu[o["round"]] = round_cpu.get(o["round"], 0.0) + o["cpu_s"]
    by_kind = {k: median([o["secs"] for o in ops if o["kind"] == k])
               for k in sorted({o["kind"] for o in ops})}
    e2e = {
        "setup_s": res["setup_s"],
        "run_s": median(list(rounds.values())),
        "ops_per_s": len(secs) / sum(secs),
        "ok_ratio": 1.0 - failed / attempted,
        "recall": stats["recall"],
    }
    stamp = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "nproc": cores, "loadavg_start": load0, "loadavg_end": loadavg(),
        "heap_max_bytes": res["heap_max_bytes"], "commit": commit(), "source_hash": src_hash,
        "warm_rounds_s": res["warm_rounds_s"], "warm_cpu_s": res["warm_cpu_s"],
        "round_s": list(rounds.values()), "round_cpu_s": list(round_cpu.values()),
        "ops": len(secs), "fail_ratio": failed / attempted,
        # CPU seconds per operation (all JVM threads) and the share of the
        # machine's CPU time the hypervisor stole while it ran: a reader can
        # tell a contended host from a slower program
        "cpu_s_p50": median([o["cpu_s"] for o in ops]),
        "steal_share_p50": median([o["steal"] for o in ops]),
        "p50_s_by_kind": by_kind, "errors": errors[:20],
    }
    if args.workload == "table_mix":
        stamp.update({f"{k}_p50_s": by_kind.get(k, 0.0) for k in ("query", "scan", "write")})
    if args.workload == "dedup_corpus":
        stamp["dedup_recall"] = stats["recall"]
    if args.trace:
        # tracing overhead: traced minus untraced rounds of this same run
        stamp["trace_overhead"] = {k: res["layers"][k] for k in
                                   ("trace.run_overhead_s", "trace.query_overhead_s")}
        want, have = spec["per_layer"], res["layers"]
    else:
        want, have = spec["end_to_end"], e2e
    missing = [m["name"] for m in want if m["name"] not in have or have[m["name"]] is None]
    if missing:
        errors.append(f"metrics not measured: {missing}")
    metrics = {m["name"]: {"value": have.get(m["name"]), "unit": m["unit"]} for m in want}
    correct = not errors and failed == 0
    print(json.dumps({"stamp": stamp, "end_to_end": e2e}))
    for e in errors[:20]:
        log(f"FAILED {e}")
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if correct else 1


def commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except Exception:
        return None


if __name__ == "__main__":
    sys.exit(main())
