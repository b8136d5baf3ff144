#!/usr/bin/env python3
"""graft benchmark: layered batch workloads and the reference sensor stream.

Run from the root of a checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

The first run builds the repository and the harness with sbt into
.bench_build/ (later runs reuse the build while the sources are
unchanged). Each run starts one JVM at local[nproc], measures the
workload, checks its outputs, writes the full record to
.bench_build/records/ and prints as its last line

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics (--trace 0) or the per-layer metrics
(--trace 1). Other entry points:

    --self-test          tiny-scale checks of the benchmark itself
    --compare A B        compare two record sets (files or directories)
    --record-expected    rewrite the expected outputs of the batch workload
    --oracle-check       cross-check the batch workload against DuckDB

See perfbench/README.md for the workloads and metrics.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(ROOT, ".bench_build")
JVM_TIMEOUT_S = 170

# Stated sizes. "full" is what the benchmark measures; "tiny" is the
# scale of the self-tests.
WORKLOADS = {
    "batch": {
        "full": {"data": "sf0.01"},
        "tiny": {"data": "sf0.001"},
    },
    "stream_sensor": {
        "full": {"data": "sf0.1", "backlog": 30000, "intake": 15000, "rate": 1000,
                 "live-seconds": 3.5},
        "tiny": {"data": "sf0.001", "backlog": 4000, "intake": 2000, "rate": 500,
                 "live-seconds": 2},
    },
}

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spec():
    with open(os.path.join(BENCH, "..", "BENCHMARK.json")) as f:
        return json.load(f)


# ---------------------------------------------------------------- build

def source_hash():
    """Digest of every input of the build: the repository's main sources
    and build files, and the harness's own."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs.sort()
            files += [os.path.join(d, n) for n in sorted(names)]
    for p in files:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build():
    """Compile with sbt once per source state; returns the classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("no graft sources next to perfbench/ (expected build.sbt and src/main/scala/graft "
             "at the checkout root); nothing to build")
    os.makedirs(BUILD, exist_ok=True)
    cp_file, hash_file = os.path.join(BUILD, "classpath.txt"), os.path.join(BUILD, "build.hash")
    digest = source_hash()
    if os.path.exists(cp_file) and os.path.exists(hash_file):
        with open(hash_file) as f:
            if f.read().strip() == digest:
                with open(cp_file) as g:
                    return g.read().strip()
    log_path = os.path.join(BUILD, "build.log")
    print("perfbench: building with sbt (log in .bench_build/build.log)", file=sys.stderr)
    with open(log_path, "w") as log:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
             "export Runtime/fullClasspath"],
            cwd=BENCH, stdout=subprocess.PIPE, stderr=log, stdin=subprocess.DEVNULL,
            text=True, timeout=800)
        log.write(r.stdout)
    lines = [l for l in r.stdout.splitlines() if l.strip()]
    if r.returncode != 0 or not lines or "classes" not in lines[-1]:
        fail(f"build failed (exit {r.returncode}); see .bench_build/build.log")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(hash_file, "w") as f:
        f.write(digest)
    return cp


# ------------------------------------------------------------------ run

def heap_arg():
    """Half of the host's memory, between 2 and 8 GiB."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        g = max(2, min(8, kb // 2097152))
    except (OSError, StopIteration, ValueError):
        g = 2
    return f"-Xmx{g}g"


def java(cp, main, tmp):
    """The JVM command line every run uses, up to the main class."""
    cmd = ["java", heap_arg(), "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-Duser.timezone=UTC", "-Dspark.ui.enabled=false",
           f"-Dlog4j2.configurationFile={os.path.join(BENCH, 'log4j2.properties')}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + ["-cp", cp, main]


def data_dir(name):
    d = os.path.join(BENCH, "data", name)
    if not os.path.isdir(d):
        fail(f"input tables missing: {os.path.relpath(d, ROOT)}")
    return d


def expected_file(workload, data):
    return os.path.join(BENCH, "workloads", "expected", f"{workload}.{data}.tsv")


def run_jvm(cp, workload, seed, seconds, trace, scale="full", overrides=None):
    """Launch one measurement; returns (exit code, record or None)."""
    conf = dict(WORKLOADS[workload][scale])
    conf.update(overrides or {})
    tag = f"{workload}-s{seed}-t{trace}-{scale}"
    work = os.path.join(BUILD, "run", tag)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    args = {"workload": workload, "seed": seed, "seconds": seconds, "trace": trace,
            "data": data_dir(conf["data"]), "work": work,
            "traces": os.path.join(BUILD, "traces"), "cores": len(os.sched_getaffinity(0))}
    if workload == "batch":
        args["list"] = conf.get("list", os.path.join(BENCH, "workloads", f"{workload}.txt"))
        args["expected"] = conf.get("expected", expected_file(workload, conf["data"]))
        if "record-expected" in conf:
            args["record-expected"] = conf["record-expected"]
    else:
        for k in ("backlog", "intake", "rate", "live-seconds"):
            args[k] = conf[k]
        # pre-generated events: the two warm-up cycles plus every cycle
        # that can start within the measured time (each lasts its live
        # phase and a drain of about 2 s or more; at least three run), plus
        # one. A faster stream stops when the events run out.
        cycles = max(3, math.ceil(float(seconds) / (float(conf["live-seconds"]) + 2))) + 1
        per_cycle = int(conf["backlog"]) + int(float(conf["rate"]) * float(conf["live-seconds"]))
        warmup = int(conf["backlog"]) + int(conf["intake"]) + int(conf["rate"])
        args["events"] = warmup + cycles * per_cycle
    cmd = java(cp, "perfbench.Main", os.path.join(work, "tmp"))
    for k, v in args.items():
        cmd += [f"--{k}", str(v)]
    try:
        r = subprocess.run(cmd, cwd=work, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL,
                           text=True, timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"perfbench: run exceeded {JVM_TIMEOUT_S}s and was stopped", file=sys.stderr)
        return 124, None
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in r.stdout.splitlines() if l.startswith("{")]
    if r.returncode != 0 or not lines:
        return r.returncode or 1, None
    return 0, json.loads(lines[-1])


def result_line(record, trace):
    metrics = record["per_layer"] if trace else record["end_to_end"]
    return {"correct": record["correct"], "attempted": record["attempted"],
            "failed": record["failed"], "metrics": metrics}


def save_record(record):
    d = os.path.join(BUILD, "records")
    os.makedirs(d, exist_ok=True)
    name = f"{record['workload']}-s{record['seed']}-t{int(record['trace'])}.json"
    with open(os.path.join(d, name), "w") as f:
        json.dump(record, f, indent=1)


def measure(args):
    if args.workload not in WORKLOADS:
        fail(f"unknown workload {args.workload}; known: {', '.join(WORKLOADS)}")
    cp = build()
    code, record = run_jvm(cp, args.workload, args.seed, args.seconds, args.trace)
    if record is None:
        fail(f"run failed (exit {code})", code or 1)
    save_record(record)
    for m in record["mismatches"]:
        print(f"perfbench: output mismatch: {m}", file=sys.stderr)
    for m in record["flags"]:
        print(f"perfbench: run flagged: {m}", file=sys.stderr)
    print(json.dumps(result_line(record, args.trace)))


# -------------------------------------------------------------- compare

def load_records(path):
    if os.path.isdir(path):
        out = []
        for n in sorted(os.listdir(path)):
            if n.endswith(".json"):
                with open(os.path.join(path, n)) as f:
                    out.append(json.load(f))
        return out
    with open(path) as f:
        return [json.load(f)]


def host(record):
    return {k: v for k, v in record["fingerprint"].items() if k != "load1"}


def compare(a_path, b_path):
    """Median of each end-to-end metric per workload, B against A, judged
    by the bounds in BENCHMARK.json. Records measured on different hosts
    are refused."""
    a, b = load_records(a_path), load_records(b_path)
    hosts = {json.dumps(host(r), sort_keys=True) for r in a + b}
    if len(hosts) != 1:
        fail("refusing to compare records with different host fingerprints:\n  "
             + "\n  ".join(sorted(hosts)))
    bounds = {m["name"]: (m["bound"], m["better"]) for m in spec()["end_to_end"]}
    worse = 0
    for w in sorted({r["workload"] for r in a + b}):
        for name, (bound, better) in bounds.items():
            va = [r["end_to_end"][name]["value"] for r in a if r["workload"] == w and not r["trace"]]
            vb = [r["end_to_end"][name]["value"] for r in b if r["workload"] == w and not r["trace"]]
            if not va or not vb:
                continue
            ma, mb = statistics.median(va), statistics.median(vb)
            change = (mb - ma) / ma if better == "lower" else (ma - mb) / ma
            verdict = "WORSE" if change > bound else "ok"
            worse += verdict == "WORSE"
            print(f"{w:18s} {name:17s} A={ma:12.4f} B={mb:12.4f} "
                  f"worse by {100 * change:+6.1f}% (bound {100 * bound:.0f}%) {verdict}")
    sys.exit(1 if worse else 0)


# ------------------------------------------------------- expected values

def record_expected(workload="batch"):
    """Run the batch workload at both scales and write the outputs its
    check pass sees as the expected values."""
    cp = build()
    for scale in ("full", "tiny"):
        d = WORKLOADS[workload][scale]["data"]
        out = expected_file(workload, d)
        code, rec = run_jvm(cp, workload, 0, 1, 0, scale,
                            {"record-expected": out, "expected": os.devnull})
        if rec is None:
            fail(f"recording {workload} at {d} failed (exit {code})", code or 1)
        print(f"perfbench: wrote {os.path.relpath(out, ROOT)}", file=sys.stderr)


def oracle_check(workload="batch"):
    """Write each listed query's Spark output with graft.Verify, compare
    it with the DuckDB oracle SQL through the repository's
    dev/check_oracle.py, and compare the Spark row counts with the
    expected values, so the expected digests are known to come from
    outputs the oracle agrees with."""
    import duckdb
    cp = build()
    sf = data_dir(WORKLOADS[workload]["full"]["data"])
    out = os.path.join(BUILD, "oracle", workload)
    shutil.rmtree(out, ignore_errors=True)
    names = [l.strip() for l in open(os.path.join(BENCH, "workloads", f"{workload}.txt"))
             if l.strip() and not l.startswith("#")]
    os.makedirs(os.path.join(out, "tmp"))
    r = subprocess.run(java(cp, "graft.Verify", os.path.join(out, "tmp"))
                       + [sf, out, ",".join(names)], stdin=subprocess.DEVNULL, timeout=1800)
    if r.returncode != 0:
        fail(f"graft.Verify failed (exit {r.returncode})")
    oracle = subprocess.run([sys.executable, os.path.join(ROOT, "dev", "check_oracle.py"), sf, out],
                            stdin=subprocess.DEVNULL, timeout=600)
    with open(expected_file(workload, os.path.basename(sf))) as f:
        expected = {r[0]: int(r[1]) for r in (l.split("\t") for l in f)
                    if r[0].strip() and not r[0].startswith("#")}
    bad = 0
    for n in names:
        got = duckdb.sql(f"SELECT count(*) FROM read_parquet('{os.path.join(out, n)}/*.parquet')"
                         ).fetchone()[0]
        if got != expected.get(n):
            print(f"FAIL  {n}: row count {got} vs expected {expected.get(n)}")
            bad += 1
    print(f"row counts: {len(names) - bad}/{len(names)} match the expected values")
    sys.exit(1 if bad or oracle.returncode else 0)


# ------------------------------------------------------------ self-test

def self_test():
    """Tiny-scale checks of the benchmark: every metric prints with its
    unit, a perturbed expected digest is counted as a failure, an unknown
    query fails loudly, and an over-capacity live rate is flagged."""
    s = spec()
    cp = build()
    problems = []

    def expect(cond, what):
        print(f"self-test: {'ok  ' if cond else 'FAIL'} {what}", file=sys.stderr)
        if not cond:
            problems.append(what)

    for w in (x["name"] for x in s["workloads"]):
        for trace, section in ((0, "end_to_end"), (1, "per_layer")):
            code, rec = run_jvm(cp, w, 7, 2, trace, "tiny")
            expect(rec is not None, f"{w} trace={trace} produces a record")
            if rec is None:
                continue
            line = result_line(rec, trace)
            want = {m["name"]: m["unit"] for m in s[section]}
            got = {k: v["unit"] for k, v in line["metrics"].items()}
            expect(got == want, f"{w} trace={trace} prints every {section} metric with its unit")
            expect(line["correct"] and line["failed"] == 0,
                   f"{w} trace={trace} outputs are correct ({rec['mismatches']} {rec['flags']})")
            if trace:
                expect(rec["span_file"] and os.path.exists(rec["span_file"]) and rec["self_time_ms"],
                       f"{w} traced run writes spans and a self-time table")

    batch = "batch"
    data = WORKLOADS[batch]["tiny"]["data"]
    with open(expected_file(batch, data)) as f:
        rows = [l.rstrip("\n").split("\t") for l in f if l.strip() and not l.startswith("#")]
    rows[0][2] = str(int(rows[0][2]) + 1)
    tmp_dir = os.path.join(BUILD, "selftest")
    os.makedirs(tmp_dir, exist_ok=True)
    perturbed = os.path.join(tmp_dir, "perturbed.tsv")
    with open(perturbed, "w") as f:
        f.writelines("\t".join(r) + "\n" for r in rows)
    _, rec = run_jvm(cp, batch, 7, 1, 0, "tiny", {"expected": perturbed})
    expect(rec is not None and rec["failed"] > 0 and not rec["correct"],
           "a perturbed expected digest counts as a failure")

    unknown = os.path.join(tmp_dir, "unknown.txt")
    with open(unknown, "w") as f:
        f.write("q6_forecast_revenue\nno_such_query\n")
    code, rec = run_jvm(cp, batch, 7, 1, 0, "tiny", {"list": unknown})
    expect(code != 0 and rec is None, "an unknown query name fails the run")

    # several times what the tiny stream processes (at most 2,000 rows
    # per trigger of a few hundred ms), yet quick to drain afterwards
    _, rec = run_jvm(cp, "stream_sensor", 7, 2, 0, "tiny", {"rate": 20000, "live-seconds": 2})
    expect(rec is not None and any("growing backlog" in f for f in rec["flags"])
           and not rec["correct"], "a live rate above capacity is flagged as a growing backlog")

    shutil.rmtree(tmp_dir, ignore_errors=True)
    print(f"self-test: {'PASSED' if not problems else 'FAILED: ' + '; '.join(problems)}",
          file=sys.stderr)
    sys.exit(1 if problems else 0)


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload")
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=int, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--self-test", action="store_true")
    p.add_argument("--compare", nargs=2, metavar=("A", "B"))
    p.add_argument("--record-expected", action="store_true")
    p.add_argument("--oracle-check", action="store_true")
    args = p.parse_args()
    if args.self_test:
        self_test()
    elif args.compare:
        compare(*args.compare)
    elif args.record_expected:
        record_expected()
    elif args.oracle_check:
        oracle_check()
    elif args.workload:
        measure(args)
    else:
        p.error("--workload is required")


if __name__ == "__main__":
    main()
