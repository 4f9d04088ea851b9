#!/usr/bin/env python3
"""Run one benchmark workload against the engine and print its metrics.

usage: python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout of the repository. The first run builds
the engine and the benchmark program from source with sbt (offline) and
caches the classpath under .bench_build/; later runs reuse it while the
sources are unchanged. Each run generates its inputs from the seed under
a fresh directory in .bench_build/runs/, drives the engine in one JVM
(perfbench.Main), checks every operation's answer, deletes the directory
and prints, as its last line, one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end ones; with --trace 1 the per-layer ones, and the lines
before it hold the span report. See perfbench/README.md.
"""
import argparse
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
REPO = os.path.dirname(HERE)
BUILD = os.path.join(REPO, ".bench_build")
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402

# Input geometry per workload. The same for every seed, so seeds change
# the values and not the amount of work. `op_s` is about how long one
# operation (for sql_serving one cycle of requests) took on a 4-core host
# when the benchmark was added: a run does round(seconds / op_s) of them,
# so it measures about --seconds there, and the work a run does never
# depends on how fast the engine is.
#
# sql_serving syncs the two primary-named roots and prepares a corpus
# without exact-duplicate groups: the inputs on which the engine gives
# the right answer. sql_serving_full is the same workload over all three
# roots, the alternative-named one included, and a corpus with
# exact-duplicate groups; its checks fail on two program defects (see
# README.md, Correctness), so it is not in BENCHMARK.json's gated set.
SERVING = {"rows_per_month": 1000, "months": 1, "tables_scale": 0.01, "cycles": 20,
           "shards": 4, "op_s": 6.5, "as": "sql_serving"}
GEOMETRY = {
    "sql_serving": dict(SERVING, roots=["cur-a", "cur-c"],
                        corpus={"n_base": 60, "near_groups": 4, "exact_groups": 0,
                                "copies": 3}),
    "sql_serving_full": dict(SERVING, roots=list(gen.ROOTS),
                             corpus={"n_base": 60, "near_groups": 4, "exact_groups": 3,
                                     "copies": 3}),
    "corpus_prep": {"n_base": 300, "near_groups": 30, "exact_groups": 15, "copies": 3,
                    "shards": 4, "warmup_docs": 60, "op_s": 8},
    "cur_stream": {"files": 48, "rows_per_file": 100, "warmup_files": 16, "op_s": 5},
}
AS_OF = "2024-12-15"
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
XMX = "3g"


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    h = hashlib.sha256()
    for base in ("src/main", "project", "perfbench/src", "perfbench/project"):
        for dirpath, dirnames, filenames in os.walk(os.path.join(REPO, base)):
            dirnames[:] = sorted(d for d in dirnames if d not in ("target", "project"))
            for f in sorted(filenames):
                if f.endswith((".scala", ".java", ".sbt", ".properties")):
                    p = os.path.join(dirpath, f)
                    h.update(os.path.relpath(p, REPO).encode())
                    with open(p, "rb") as fh:
                        h.update(fh.read())
    for f in ("build.sbt", "perfbench/build.sbt"):
        with open(os.path.join(REPO, f), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the engine and the benchmark program with sbt; return the
    runtime classpath."""
    if not (os.path.isfile(os.path.join(REPO, "build.sbt"))
            and os.path.isdir(os.path.join(REPO, "src", "main", "scala", "graft"))):
        sys.exit("perfbench: no engine sources next to perfbench/ (run from a checkout root)")
    stamp = source_stamp()
    cache = os.path.join(BUILD, "classpath.json")
    if os.path.exists(cache):
        with open(cache) as fh:
            c = json.load(fh)
        if c.get("stamp") == stamp:
            return c["classpath"]
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log("building the engine and the benchmark program (sbt, offline)")
    t = time.monotonic()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
                        "export Runtime/fullClasspath"], cwd=HERE, env=env,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=850)
    lines = [ln for ln in p.stdout.splitlines() if ln.startswith("/") and ".jar" in ln]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        sys.exit(f"perfbench: build failed (sbt exit {p.returncode})")
    os.makedirs(BUILD, exist_ok=True)
    with open(cache, "w") as fh:
        json.dump({"stamp": stamp, "classpath": lines[-1]}, fh)
    log(f"built in {time.monotonic() - t:.0f} s")
    return lines[-1]


def make_inputs(workload, seed, root):
    """Generate the workload's inputs under root; return (spec, book, dirs)."""
    g = GEOMETRY[workload]
    kind = g.get("as", workload)
    spec = {"workload": kind, "as_of": AS_OF, "cur_paths": g.get("roots", [])}
    book, dirs = {}, []
    if kind == "sql_serving":
        cur = os.path.join(root, "cur")
        book["cur"] = gen.gen_cur(cur, seed, g["rows_per_month"], g["roots"])
        window = list(range(13 - g["months"], 13))
        book["source_rows"] = gen.source_rows(book["cur"], window)
        book["expect_sync"] = gen.expected_costs(book["cur"], window)
        tables = os.path.join(root, "tables")
        gen.gen_tables(tables, seed, g["tables_scale"])
        book["requests"] = gen.serving_requests(book["cur"], seed, g["cycles"], window,
                                                check.C_SERVED)
        # the set-up also prepares a small corpus, so the gated runs reach ext
        docs = os.path.join(root, "docs", "docs.parquet")
        book["corpus"] = gen.gen_corpus(docs, seed, **g["corpus"])
        spec.update({"cur_root": cur, "months": g["months"], "tables_dir": tables,
                     "requests": [{k: v for k, v in r.items() if k != "expect"}
                                  for r in book["requests"]],
                     "cycle": len(book["requests"]) // g["cycles"],
                     "docs": docs, "shards": g["shards"]})
        dirs += [cur, tables, os.path.dirname(docs)]
    elif kind == "corpus_prep":
        docs = os.path.join(root, "docs", "docs.parquet")
        book["corpus"] = gen.gen_corpus(docs, seed, g["n_base"], g["near_groups"],
                                        g["exact_groups"], g["copies"])
        warm = os.path.join(root, "warmup", "docs.parquet")
        gen.gen_corpus(warm, seed + 1, g["warmup_docs"], 4, 2, g["copies"])
        spec.update({"docs": docs, "warmup_docs": warm, "shards": g["shards"]})
        dirs.append(os.path.dirname(docs))
    else:
        stream = os.path.join(root, "stream")
        book["stream"] = gen.gen_stream(stream, seed, g["files"], g["rows_per_file"])
        warm = os.path.join(root, "warmup_stream")
        gen.gen_stream(warm, seed + 1, g["warmup_files"], g["rows_per_file"])
        spec.update({"stream_dir": stream, "warmup_stream_dir": warm})
        dirs.append(stream)
    return spec, book, dirs


def git_sha():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=REPO, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def foreign_jvms():
    """Other java processes on the host, which would share its cores."""
    out = []
    for pid in os.listdir("/proc"):
        if not pid.isdigit() or int(pid) == os.getpid():
            continue
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as fh:
                cmd = fh.read().split(b"\0")
        except OSError:
            continue
        if cmd and os.path.basename(cmd[0].decode(errors="replace")) == "java":
            out.append(int(pid))
    return out


def loadavg():
    with open("/proc/loadavg") as fh:
        return [float(x) for x in fh.read().split()[:3]]


def cpu_sample(seconds=0.5):
    """Share of the host's CPU time that was busy, and stolen by the
    hypervisor, over a short sample taken while this run has no JVM."""
    def read():
        with open("/proc/stat") as fh:
            v = [int(x) for x in fh.readline().split()[1:]]
        return sum(v), v[3] + v[4], v[7] if len(v) > 7 else 0
    t0, idle0, st0 = read()
    time.sleep(seconds)
    t1, idle1, st1 = read()
    total = max(1, t1 - t0)
    return {"busy": round(1 - (idle1 - idle0) / total, 3), "steal": round((st1 - st0) / total, 3)}


def pct(values, q):
    """Linear-interpolated percentile (q in 0..100)."""
    s = sorted(values)
    if not s:
        return float("nan")
    k = (len(s) - 1) * q / 100
    lo, hi = int(k), min(int(k) + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def main():
    # a terminated run still stops its JVM and deletes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit("perfbench: terminated"))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(GEOMETRY))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    classpath = build()
    kind = GEOMETRY[args.workload].get("as", args.workload)
    cores = len(os.sched_getaffinity(0))
    load_start, cpu_start = loadavg(), cpu_sample()
    jvms_start = foreign_jvms()
    os.makedirs(os.path.join(BUILD, "runs"), exist_ok=True)
    root = os.path.join(BUILD, "runs", f"{args.workload}-{os.getpid()}-{time.time_ns()}")
    try:
        # set-up part 1: input generation
        t = time.monotonic()
        spec, book, dirs = make_inputs(args.workload, args.seed, os.path.join(root, "inputs"))
        generate_s = time.monotonic() - t
        inputs = gen.summarize(dirs)
        runs = max(1, round(args.seconds / GEOMETRY[args.workload]["op_s"]))
        spec.update({"root": root, "cores": cores, "trace": bool(args.trace),
                     "ops": runs * spec.get("cycle", 1)})
        spec_path, out_path = os.path.join(root, "spec.json"), os.path.join(root, "out.json")
        with open(spec_path, "w") as fh:
            json.dump(spec, fh)
        jtmp = os.path.join(root, "jtmp")
        os.makedirs(jtmp)
        env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(root, "spark-local"))
        cmd = (["java", f"-Xmx{XMX}", f"-Djava.io.tmpdir={jtmp}", "-Dspark.ui.enabled=false"]
               + ADD_OPENS + ["-cp", classpath, "perfbench.Main", spec_path, out_path])
        log(f"{args.workload} seed={args.seed} seconds={args.seconds} trace={args.trace}")
        with open(os.path.join(root, "jvm.log"), "w") as jlog:
            p = subprocess.Popen(cmd, cwd=root, env=env, stdout=jlog, stderr=subprocess.STDOUT)
            try:
                p.wait(timeout=max(150, args.seconds * 6))
            finally:
                # never leave the JVM behind, whatever ended this run
                if p.poll() is None:
                    p.kill()
                    p.wait()
        if p.returncode != 0 or not os.path.exists(out_path):
            with open(os.path.join(root, "jvm.log")) as fh:
                sys.stderr.write(fh.read()[-6000:])
            sys.exit(f"perfbench: engine run failed (exit {p.returncode})")
        with open(out_path) as fh:
            out = json.load(fh)
        verdicts = check.check_ops(kind, out, book, os.path.join(root, "answers"),
                                   spec.get("tables_dir"))
    finally:
        shutil.rmtree(root, ignore_errors=True)

    load_end, cpu_end = loadavg(), cpu_sample()
    attempted = len(verdicts)
    failed = sum(1 for v in verdicts if v is not None)
    for i, v in enumerate(verdicts):
        if v is not None:
            log(f"op {i} failed: {v}")
    setup_s = generate_s + out["session_s"] + out["engine_setup_s"]
    named = workload_metrics(kind, out, book)
    named.update({"setup_s": (setup_s, "s"), "failed_ratio": (failed / attempted, "ratio"),
                  "cpu_ms_per_op": (statistics.median(o["cpu_ms"] for o in out["ops"]), "ms"),
                  "peak_heap_mib": (out["peak_heap_mib"], "MiB")})
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "traced": bool(args.trace), "git_sha": git_sha(), "nproc": cores,
        "spark_master": out["conf"].get("spark.master"), "spark_version": out["spark_version"],
        "xmx_mib": out["xmx_mib"], "session_conf": out["conf"],
        "inputs": dict(inputs, rows=input_rows(book)),
        "setup": {"generate_s": generate_s, "session_s": out["session_s"],
                  "engine_setup_s": out["engine_setup_s"]},
        "loadavg_start": load_start, "loadavg_end": load_end,
        "foreign_jvms": sorted(set(jvms_start) | set(foreign_jvms())),
        "cpu_start": cpu_start, "cpu_end": cpu_end,
        "busy_host": max(cpu_start["busy"], cpu_end["busy"]) > 0.25 or bool(jvms_start),
        "named_metrics": {k: {"value": v, "unit": u} for k, (v, u) in named.items()},
        "op_ms": [round(o["ms"], 3) for o in out["ops"]],
    }
    print(json.dumps({"record": record}, sort_keys=True))
    last = os.path.join(BUILD, "last", f"{args.workload}-{args.seed}.json")
    if args.trace:
        layers = layer_metrics(kind, out, len(spec["cur_paths"]))
        baseline = None
        if os.path.exists(last):
            with open(last) as fh:
                baseline = json.load(fh)
        for line in report(out, layers, named, baseline):
            print(line)
        metrics = {k: {"value": layers.get(k, 0.0), "unit": unit_of(k)} for k in COMMON_LAYERS}
    else:
        os.makedirs(os.path.dirname(last), exist_ok=True)
        with open(last, "w") as fh:
            json.dump({k: v for k, (v, _) in named.items()}, fh)
        metrics = {k: {"value": named[src][0], "unit": unit}
                   for k, (src, unit) in e2e_map(kind).items()}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


def input_rows(book):
    """CUR rows, corpus documents and stream rows the run generated."""
    return (int(sum(len(b["acct"]) for b in book.get("cur", {}).values()))
            + book.get("corpus", {}).get("n_docs", 0)
            + book.get("stream", {}).get("rows_sent", 0))


def workload_metrics(workload, out, book):
    """The workload's named end-to-end metrics: name -> (value, unit)."""
    ops = out["ops"]
    if workload == "sql_serving":
        ms = [o["ms"] for o in ops]
        st = out["setup"]
        return {"serve_p50_ms": (pct(ms, 50), "ms"), "serve_p95_ms": (pct(ms, 95), "ms"),
                "serve_requests_per_s": (1000 * len(ms) / sum(ms), "1/s"),
                "requests": (len(ms), "count"),
                "sync_rows_per_s": (book["source_rows"] / (st["sync_ms"] / 1000), "rows/s")}
    if workload == "corpus_prep":
        ms = [o["ms"] for o in ops]
        return {"corpus_docs_per_s": (statistics.median(
                    book["corpus"]["n_docs"] / (m / 1000) for m in ms), "docs/s"),
                "corpus_op_p50_ms": (statistics.median(ms), "ms"), "ops": (len(ops), "count")}
    batches = [b for o in ops for b in o.get("batch_ms", [])]
    return {"stream_rows_per_s": (sum(o.get("rows", 0) for o in ops) * 1000
                                  / sum(o["ms"] for o in ops), "rows/s"),
            "stream_batch_p50_ms": (pct(batches, 50), "ms"),
            "stream_batch_p90_ms": (pct(batches, 90), "ms"),
            "batches": (len(batches), "count")}


def e2e_map(workload):
    """BENCHMARK.json's end-to-end metrics, common to every workload, and
    the named metric each reads on this workload."""
    throughput, latency = {
        "sql_serving": ("serve_requests_per_s", "serve_p50_ms"),
        "corpus_prep": ("corpus_docs_per_s", "corpus_op_p50_ms"),
        "cur_stream": ("stream_rows_per_s", "stream_batch_p50_ms"),
    }[workload]
    return {"setup_s": ("setup_s", "s"), "throughput_per_s": (throughput, "1/s"),
            "latency_p50_ms": (latency, "ms")}


def unit_of(name):
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith(("_ratio", "_precision", "_utilization", "_skew", "_amplification",
                      "_per_row_returned")):
        return "ratio"
    return "count"


# Per-layer metrics every workload measures; BENCHMARK.json lists these.
# The traced run's report prints these and the workload-specific ones.
COMMON_LAYERS = [
    "catalyst.analysis_ms", "catalyst.optimization_ms", "catalyst.planning_ms",
    "spark.jobs", "spark.stages", "spark.tasks", "spark.job_wall_ms", "spark.driver_gap_ms",
    "spark.task_run_ms", "spark.task_cpu_ms", "spark.core_utilization", "spark.task_skew",
    "spark.shuffle_write_bytes", "spark.shuffle_read_bytes", "spark.input_bytes",
    "spark.input_rows", "spark.rows_scanned_per_row_returned", "op.wall_ms", "op.uncovered_ms",
]


def layer_metrics(workload, out, n_roots):
    """Per-layer metrics: the mean over operations of each per-operation
    value; per-request-kind latencies; for sql_serving the etl and ext
    metrics of the set-up's sync and corpus preparation."""
    keys = sorted({k for m in out["layers"] for k in m})
    res = {k: statistics.fmean(m.get(k, 0.0) for m in out["layers"]) for k in keys}
    if workload == "sql_serving":
        by = {}
        for o in out["ops"]:
            by.setdefault(o["kind"], []).append(o["ms"])
        d13 = by.get("D1", []) + by.get("D2", []) + by.get("D3", [])
        for k, v in (("etl.costs_query_p50_ms", d13), ("etl.raw_inspect_p50_ms", by.get("D4")),
                     ("etl.sync_log_query_p50_ms", by.get("D5")),
                     ("ops.conformance_p50_ms", by.get("c"))):
            if v:
                res[k] = pct(v, 50)
        setup = out.get("setup_layers") or {}
        res.update({k: v for k, v in setup.items() if k.startswith(("etl.", "ext."))})
        if "etl.files_read" in res:
            res["etl.scan_pruning_ratio"] = res.pop("etl.files_read") / (n_roots * 12)
    res.pop("etl.files_read", None)
    return res


def report(out, layers, named, baseline):
    """The traced run's report: each operation's span tree with self
    times and the part of its wall time no span covers, every per-layer
    metric, and the tracing overhead against the last untraced run of
    the same workload and seed, when there is one."""
    lines = ["# span tree per operation: name, duration ms, self ms (minus children)"]
    by_op = {}
    for s in out["spans"]:
        by_op.setdefault(s["op"], []).append(s)
    for op in sorted(by_op)[:3]:
        kids = {}
        for s in by_op[op]:
            kids.setdefault(s["parent"], []).append(s)
        lay = (out.get("setup_layers") or {}) if op < 0 else (
            out["layers"][op] if op < len(out["layers"]) else {})
        lines.append(f"{'set-up' if op < 0 else f'op {op}'}: wall "
                     f"{lay.get('op.wall_ms', 0):.1f} ms, not covered by any span "
                     f"{lay.get('op.uncovered_ms', 0):.1f} ms")

        def walk(pid, depth):
            for s in sorted(kids.get(pid, []), key=lambda x: x["start"]):
                lines.append(f"{'  ' * depth}{s['name']}  {s['end'] - s['start']:.1f}"
                             f"  self {s['self_ms']:.1f}")
                walk(s["id"], depth + 1)
        walk(-1, 1)
    lines.append("# per-layer metrics (mean over operations)")
    lines += [f"{k} = {v:.6g} {unit_of(k)}" for k, v in sorted(layers.items())]
    lines.append("# tracing overhead: traced value vs the last untraced run of this seed")
    for k, (v, u) in sorted(named.items()):
        b = (baseline or {}).get(k)
        over = f"  untraced {b:.6g}  overhead {(v - b) / b:+.1%}" if b else "  (no untraced run)"
        lines.append(f"{k} = {v:.6g} {u}{over}")
    return lines


if __name__ == "__main__":
    main()
