#!/usr/bin/env python3
"""Benchmark entry point: build the engine, make seeded inputs, run one workload
in the harness JVM, check its outputs and print one JSON result line.

    python3 perfbench/run.py --workload etl_orders --seed 1 --seconds 5 --trace 0

Run it from the root of a checkout. `--trace 0` prints the end-to-end
metrics of BENCHMARK.json, `--trace 1` the per-layer ones (and writes the
spans to .perfbench/trace-<workload>-<seed>.json). `--freeze` re-derives
keys.json and golden.json from the code at hand; see README.md.
"""

import argparse
import hashlib
import json
import math
import os
import resource
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
DATA = os.path.join(HERE, "data", "sf0.01")
KEYS = os.path.join(HERE, "keys.json")
GOLDEN = os.path.join(HERE, "golden.json")
HARNESS = os.path.join(HERE, "harness")

sys.path.insert(0, HERE)
import inputs  # noqa: E402

# BENCHMARK.json lists the workloads the benchmark runs by default;
# suite_single and stream_curation are kept runnable by hand (README.md).
WORKLOADS = ["etl_orders", "suite_iterative", "suite_single", "stream_curation"]
# local[N] on half the cores (at most 4): the JVM's JIT compiler, GC and
# scheduler threads keep the other half, so a run does not time the scheduler
# of an over-subscribed VM. On a 4-core VM, alternating suite runs varied by
# 64 % of wall at local[4] (21.9-36.0 s) and by 18 % at local[2] in the same
# minutes.
CPUS = max(1, min(8, len(os.sched_getaffinity(0))) // 2)
JVM_THREADS = [f"-XX:ParallelGCThreads={CPUS}", "-XX:ConcGCThreads=1",
               "-XX:CICompilerCount=2"]
DEADLINE_S = 170    # a run must end within 180 s

# The percentile reported as latency_tail_s. A stream run has about 75
# samples; the others have a handful, so their tail is an upper quantile.
TAIL_PCT = {"etl_orders": 90, "suite_iterative": 75, "suite_single": 75,
            "stream_curation": 95}

# Keys a suite run measures: eight took about 27 s after set-up on a 4-core
# VM, and a full benchmark pass of 4 + 22 runs per workload must fit a
# fixed time budget.
SUITE_SAMPLE_SIZE = 8

ETL = {"n_orders": 100000, "n_products": 20000, "n_candidates": 20}
WARM_ETL = {"n_orders": 3000, "n_products": 500, "n_lookups": 1,
            "n_candidates": 5}
STREAM = {"rate": 20.0, "warm_docs": 40, "budget_share": 0.5}
# Warm-up inputs come from a random stream no --seed value selects, so they
# never repeat the documents or orders a timed run is given.
WARM_SEED = [0, 1]

JAVA_OPENS = [
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


# ---------------------------------------------------------------- build

def _source_digest():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HARNESS, "src")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HARNESS, "build.sbt"),
             os.path.join(HARNESS, "project", "build.properties")]
    for r in roots:
        for d, _, fs in sorted(os.walk(r)):
            files += [os.path.join(d, f) for f in sorted(fs)]
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile engine and harness with sbt unless the sources are unchanged;
    return the runtime classpath and whether it built."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        die("no engine sources (build.sbt, src/main/scala) at the checkout root")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        die("sbt and java are required")
    stamp = os.path.join(WORK, "build.json")
    digest = _source_digest()
    if os.path.exists(stamp):
        with open(stamp) as f:
            s = json.load(f)
        if s.get("digest") == digest:
            return s["classpath"], False
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                           f"-Dsbt.repository.config={repos} -Dsbt.offline=true -Xmx2g")
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HARNESS, env=env, stdin=subprocess.DEVNULL,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=800)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:])
        die("build failed")
    cp = [ln for ln in p.stdout.splitlines() if ln and not ln.startswith("[")][-1]
    print(f"perfbench: built in {time.time() - t0:.0f}s", file=sys.stderr)
    with open(stamp, "w") as f:
        json.dump({"digest": digest, "classpath": cp}, f)
    return cp, True


# ---------------------------------------------------------------- inputs

def _inputs_digest():
    """Digest of the generator's source and its sizes: a cached input made
    by other code or sizes is never reused."""
    h = hashlib.sha256(json.dumps([ETL, WARM_ETL, STREAM, WARM_SEED]).encode())
    with open(inputs.__file__, "rb") as f:
        h.update(f.read())
    return h.hexdigest()[:12]


def _cached(name, make):
    """Run `make(dir)` once per name and generator digest; return its JSON
    result. Keeps the six most recently used entries."""
    cache = os.path.join(WORK, "cache")
    d = os.path.join(cache, f"{name}-{_inputs_digest()}")
    meta = os.path.join(d, "expected.json")
    if not os.path.exists(meta):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        res = make(d)
        with open(meta + ".tmp", "w") as f:
            json.dump(res, f)
        os.replace(meta + ".tmp", meta)
    os.utime(d)
    old = sorted((os.path.getmtime(os.path.join(cache, e)), e) for e in os.listdir(cache))
    for _, e in old[:-6]:
        shutil.rmtree(os.path.join(cache, e), ignore_errors=True)
    with open(meta) as f:
        return json.load(f), d


def prepare_etl(seed, run_dir, seconds):
    n_lookups = max(20, round(4 * seconds))
    exp, d = _cached(f"etl-{seed}-{ETL['n_orders']}-{n_lookups}", lambda d: inputs.etl_orders(
        seed, d, ETL["n_orders"], ETL["n_products"], n_lookups, ETL["n_candidates"]))
    warm, wd = _cached("etl-warm", lambda d: inputs.etl_orders(
        WARM_SEED, d, WARM_ETL["n_orders"], WARM_ETL["n_products"], WARM_ETL["n_lookups"],
        WARM_ETL["n_candidates"]))
    conf = {
        "orders": os.path.join(d, "orders.csv"),
        "products": os.path.join(d, "products.csv"),
        "warm_orders": os.path.join(wd, "orders.csv"),
        "warm_products": os.path.join(wd, "products.csv"),
        "warehouse": os.path.join(run_dir, "warehouse"),
        "warm_warehouse": os.path.join(run_dir, "warm_warehouse"),
        "prefix_warehouse": os.path.join(run_dir, "prefix_warehouse"),
        "lookups": exp["lookups"],
        "warm_lookups": [[t] + c for t, c in warm["lookups"]],
    }
    return conf, exp


def suite_sample(keys, workload, seconds):
    """The keys one run measures, slowest first: every key of the list when
    its first-run latencies fit `seconds`, otherwise SUITE_SAMPLE_SIZE keys
    spread evenly over the list in order of first-run latency (every
    step-th key, from the middle of the first step)."""
    cold = keys["cold_s"]
    ordered = sorted(keys[workload], key=lambda k: (-cold[k], k))
    if sum(cold[k] for k in ordered) <= seconds:
        return ordered
    step = len(ordered) / SUITE_SAMPLE_SIZE
    return [ordered[int(step * i + step / 2)] for i in range(SUITE_SAMPLE_SIZE)]


def prepare_suite(workload, seconds):
    """The sample, slowest key first, and the workload's cheapest key outside
    it, which set-up runs as its warm-up.

    The order is fixed rather than seeded: each sampled key runs once, in a
    fresh JVM, and the first keys after warm-up pay JIT and codegen costs
    the later ones reuse, so a seeded order moved the median of a
    four-key sample by 16 % across seeds."""
    with open(KEYS) as f:
        keys = json.load(f)
    sample = suite_sample(keys, workload, seconds)
    cheapest = min((k for k in keys[workload] if k not in sample),
                   key=lambda k: (keys["cold_s"][k], k), default=sample[-1])
    return {"iterative": keys["suite_iterative"], "single": keys["suite_single"],
            "keys": sample, "warm_keys": [cheapest]}


def prepare_stream(seed, seconds):
    n = int(STREAM["rate"] * seconds)
    docs = os.path.join(DATA, "documents.parquet")
    planted, d = _cached(f"feed-{seed}-{n}", lambda d: inputs.feed(
        seed, docs, os.path.join(d, "feed.jsonl"), n, 1000000))
    _, wd = _cached("feed-warm", lambda d: inputs.feed(
        WARM_SEED, docs, os.path.join(d, "feed.jsonl"), STREAM["warm_docs"], 900000000))
    budget = int(statistics.median(planted["per_source"].values()) * STREAM["budget_share"])
    conf = {"feed": os.path.join(d, "feed.jsonl"),
            "warm_feed": os.path.join(wd, "feed.jsonl"),
            "rate": STREAM["rate"], "budget": budget}
    return conf, planted


# ---------------------------------------------------------------- harness

def _cpu_times():
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return sum(v[:8]), v[7], sum(v[:8]) - v[3] - v[4]   # total, steal, busy


def _log_excerpt(log_path):
    """Print the end of a failed harness log, then its exception lines
    without their stack frames, so the cause ends the output."""
    with open(log_path, errors="replace") as f:
        lines = f.read().splitlines()
    sys.stderr.write("\n".join(lines[-40:]) + "\n")
    causes = [ln for ln in lines if ln.strip() and not ln.startswith(("\tat ", "\t... "))]
    sys.stderr.write("perfbench: harness log without stack frames:\n"
                     + "\n".join(causes[-20:]) + "\n")


def launch(cp, conf, deadline):
    """Run the harness JVM on `conf`; return its result and host readings."""
    tmp = os.path.join(WORK, "tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    conf_path = os.path.join(WORK, "conf.json")
    with open(conf_path, "w") as f:
        json.dump(conf, f)
    cmd = ["java"] + [a for p in JAVA_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        *JVM_THREADS, "-Xmx3g", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
        "-cp", cp, "perfbench.Main", conf_path]
    env = dict(os.environ, SPARK_GRAFT_LOCAL_DIR=os.path.join(tmp, "spark"))
    log_path = os.path.join(WORK, f"{conf['workload']}.log")
    t0 = time.time()
    before, ru0 = _cpu_times(), resource.getrusage(resource.RUSAGE_CHILDREN)
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=WORK, env=env, stdin=subprocess.DEVNULL,
                             stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            _log_excerpt(log_path)
            die(f"harness timed out after {time.time() - t0:.0f}s; log in {log_path}", 3)
        except BaseException:
            p.kill()
            p.wait()
            raise
    after, ru1 = _cpu_times(), resource.getrusage(resource.RUSAGE_CHILDREN)
    shutil.rmtree(tmp, ignore_errors=True)
    if rc != 0:
        _log_excerpt(log_path)
        die(f"harness failed with code {rc} after {time.time() - t0:.0f}s", 3)
    with open(conf["out"]) as f:
        res = json.load(f)
    tick = os.sysconf("SC_CLK_TCK")
    total = max(1, after[0] - before[0])
    ours = (ru1.ru_utime + ru1.ru_stime - ru0.ru_utime - ru0.ru_stime) * tick
    res["host"] = {"steal_frac": (after[1] - before[1]) / total,
                   "foreign_frac": max(0.0, (after[2] - before[2]) - ours) / total}
    return res


# ---------------------------------------------------------------- checks

def pct(xs, p):
    xs = sorted(xs)
    if len(xs) == 1:
        return xs[0]
    return statistics.quantiles(xs, n=100, method="inclusive")[p - 1]


def check_etl(res, exp):
    """(attempted, failed, problems) for the write and every lookup."""
    problems = []
    out = res["output"]
    if out["rows"] != exp["rows"]:
        problems.append(f"rows {out['rows']} != {exp['rows']}")
    if abs(out["sum_total"] - exp["sum_total"]) > 1e-9 * abs(exp["sum_total"]):
        problems.append(f"sum {out['sum_total']} != {exp['sum_total']}")
    if out["unmatched"] != exp["unmatched"]:
        problems.append(f"unmatched {out['unmatched']} != {exp['unmatched']}")
    if out["name_hash"] != exp["name_hash"]:
        problems.append("cleaned-name hash differs")
    failed = 1 if problems else 0
    for lk in res["lookups"]:
        want = exp["scores"][lk["i"]]
        got = lk["scores"]
        if set(got) != set(want) or any(abs(got[k] - want[k]) > 1.01e-5 for k in want):
            failed += 1
            problems.append(f"lookup {lk['i']} scores differ")
    return 1 + len(res["lookups"]), failed, problems


def check_suite(res):
    with open(GOLDEN) as f:
        golden = json.load(f)
    rows_only = set(golden["rows_only"])
    failed, problems = 0, []
    for r in res["keys"]:
        g = golden["keys"][r["key"]]
        bad = ("error" in r or r["rows"] != g["rows"]
               or (r["key"] not in rows_only and r["hash"] != g["hash"]))
        if bad:
            failed += 1
            problems.append(f"{r['key']}: {r.get('error') or 'output differs from golden'}")
    return len(res["keys"]), failed, problems


def _compare_decisions(decisions, expected, what):
    """The offered documents whose decisions differ from `expected`: one
    that should have exactly one decision and has none, several or another
    one, or one that should have none and has some."""
    got = {}
    for doc, src, n, kept, cum, _ in decisions:
        got.setdefault(doc, []).append((src, n, kept, cum))
    bad = {doc for doc in set(got) | set(expected)
           if got.get(doc) != ([expected[doc]] if doc in expected else None)}
    kinds = {
        "missing": sum(1 for d in bad if d in expected and d not in got),
        "unexpected": sum(1 for d in bad if d not in expected),
        "duplicated or wrong": sum(1 for d in bad if d in expected and d in got),
    }
    problems = [f"{what}: {n} decisions {k}" for k, n in kinds.items() if n]
    return bad, problems


def check_stream(res, conf, planted):
    """Every offered document that passes the quality filter and is neither
    an exact nor a near copy of an earlier one is decided exactly once, and
    no other is; the decisions and running token totals per source are
    those of the curation gate's reference (`inputs.curate`), which also
    sees the warm-up documents that went through the same query before the
    feed. Planted exact copies are never decided. In a traced run the
    single-batch run of the same feed, on a fresh query, must match the
    reference of the feed alone."""
    feed = inputs.read_feed(conf["feed"])
    warm = [(d, t, f"warm-{s}") for d, t, s in inputs.read_feed(conf["warm_feed"])]
    ids = {d for d, _, _ in feed}
    problems = []
    if [d for d, _, _ in feed] != res["offered"]:
        problems.append("the offered documents are not the feed's")
    expected = {d: v for d, v in inputs.curate(warm + feed, conf["budget"]).items()
                if d in ids}
    if set(planted["exact"]) & set(expected):
        die("the reference decides a planted exact copy")
    bad, p = _compare_decisions(res["decisions"], expected, "stream")
    problems += p
    if "single_batch" in res:
        b, p = _compare_decisions(res["single_batch"], inputs.curate(feed, conf["budget"]),
                                  "single batch")
        bad |= b
        problems += p
    failed = len(bad) + (1 if problems and not bad else 0)
    return len(feed), failed, problems


# ---------------------------------------------------------------- main

def run(args):
    started = time.time()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.workload not in WORKLOADS:
        die(f"unknown workload {args.workload}; one of {WORKLOADS}")
    cp, built = build()
    deadline = (time.time() if built else started) + DEADLINE_S
    run_dir = os.path.join(WORK, "run", args.workload)
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    conf = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "cpus": CPUS, "data_dir": DATA,
            "work_dir": run_dir, "out": os.path.join(run_dir, "result.json")}
    exp = None
    if args.workload == "etl_orders":
        conf["etl"], exp = prepare_etl(args.seed, run_dir, args.seconds)
    elif args.workload == "stream_curation":
        conf["stream"], exp = prepare_stream(args.seed, args.seconds)
    else:
        conf["suite"] = prepare_suite(args.workload, args.seconds)

    res = launch(cp, conf, deadline)

    w = args.workload
    setup = res["setup"]["total_s"]
    if w == "etl_orders":
        attempted, failed, problems = check_etl(res, exp)
        wall = res["write_s"]
        samples = [lk["seconds"] for lk in res["lookups"]]
    elif w == "stream_curation":
        attempted, failed, problems = check_stream(res, conf["stream"], exp)
        wall = res["wall_s"]
        samples = res["latencies"]
    else:
        attempted, failed, problems = check_suite(res)
        wall = res["wall_s"]
        samples = [r["seconds"] for r in res["keys"] if "seconds" in r and r["round"] == 0]
    for p in problems[:20]:
        print(f"perfbench: check failed: {p}", file=sys.stderr)
    if not samples:
        die("no latency samples: every request failed", 4)

    if not args.trace:
        values = {"setup_s": setup, "wall_s": wall,
                  "latency_p50_s": statistics.median(samples),
                  "latency_tail_s": pct(samples, TAIL_PCT[w])}
        print(f"perfbench: {len(samples)} latency samples, tail = p{TAIL_PCT[w]}",
              file=sys.stderr)
        want = spec["end_to_end"]
    else:
        values = dict(res["layers"])
        for k in ("session_s", "first_touch_s", "warmup_s"):
            values[f"setup.{k}"] = res["setup"][k]
        values["host.steal_frac"] = res["host"]["steal_frac"]
        values["host.foreign_frac"] = res["host"]["foreign_frac"]
        if w == "etl_orders":
            out = res["output"]
            values["etl.rows_in"] = exp["rows_in"]
            values["etl.rows_out"] = out["rows"]
            values["etl.dedup_keep_ratio"] = out["rows"] / exp["rows_in"]
            values["etl.join_match_ratio"] = 1 - out["unmatched"] / max(1, out["rows"])
            values["etl.output_bytes"] = out["bytes"]
        if "construct_jobs" in res:
            jobs = res["construct_jobs"]
            iterative = w == "suite_iterative"
            values["queries.partition_mismatches"] = sum(
                1 for j in jobs.values() if (j > 0) != iterative)
        trace_path = os.path.join(WORK, f"trace-{w}-{args.seed}.json")
        with open(trace_path, "w") as f:
            json.dump({"workload": w, "seed": args.seed, "spans": res.get("spans", []),
                       "construct_jobs": res.get("construct_jobs", {}),
                       "layers": values}, f)
        print(f"perfbench: spans written to {trace_path}", file=sys.stderr)
        want = spec["per_layer"]
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in want}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


def freeze():
    """Derive keys.json and golden.json from two passes over every key."""
    cp, _ = build()
    run_dir = os.path.join(WORK, "run", "freeze")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    conf = {"workload": "freeze", "seed": 0, "seconds": 0, "trace": 1, "cpus": CPUS,
            "data_dir": DATA, "work_dir": run_dir,
            "out": os.path.join(run_dir, "result.json"),
            "suite": {"warm_keys": [], "keys": []}}
    res = launch(cp, conf, time.time() + 3600)
    by_key = {}
    for r in res["keys"]:
        by_key.setdefault(r["key"], []).append(r)
    errors = {k: rs[0]["error"] for k, rs in by_key.items() if any("error" in r for r in rs)}
    if errors:
        die(f"keys failed: {errors}")
    # the second pass is the steady state: a key that memoizes per session
    # fires its construction jobs only once
    iterative = sorted(k for k, rs in by_key.items()
                       if any(r["round"] == 1 and r["construct_jobs"] > 0 for r in rs))
    single = sorted(k for k in by_key if k not in iterative)
    keys = {
        "rule": "suite_iterative holds every SparkEntry.queries key that fires at least "
                "one Spark job while its DataFrame is being constructed (before the "
                "final write), on perfbench/data/sf0.01, in the second of two "
                "passes over all keys in one session; suite_single holds every "
                "other key.",
        "suite_iterative": iterative,
        "suite_single": single,
        "cold_s": {k: round(r["seconds"], 4) for k, rs in sorted(by_key.items())
                   for r in rs if r["round"] == 0},
    }
    golden = {
        "note": "rows and order-insensitive hash of each key's output on "
                "perfbench/data/sf0.01; keys in rows_only gave different hashes "
                "in two passes and are checked by row count only.",
        "rows_only": sorted(k for k, rs in by_key.items()
                            if len({r["hash"] for r in rs}) > 1),
        "keys": {k: {"rows": rs[0]["rows"], "hash": rs[0]["hash"]}
                 for k, rs in sorted(by_key.items())},
    }
    for path, doc in ((KEYS, keys), (GOLDEN, golden)):
        with open(path, "w") as f:
            json.dump(doc, f, indent=1, sort_keys=True, ensure_ascii=False)
            f.write("\n")
    print(f"perfbench: {len(iterative)} iterative, {len(single)} single, "
          f"{len(golden['rows_only'])} rows-only", file=sys.stderr)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--freeze", action="store_true")
    args = ap.parse_args()
    # a terminated run stops its harness JVM too (see launch)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    os.makedirs(WORK, exist_ok=True)
    if args.freeze:
        freeze()
    elif not args.workload:
        die("--workload is required")
    else:
        run(args)


if __name__ == "__main__":
    main()
