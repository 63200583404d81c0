#!/usr/bin/env python3
"""One benchmark run: builds the program if needed, runs one workload in
a fresh JVM, checks its outputs and prints its metrics.

Usage:
  python3 benchmark/run.py --workload {sql-short,batch-pipelines,rest-mixed}
      --seed N --seconds S --trace {0,1} [--data DIR]

The last line of standard output is one JSON object:
{"correct", "attempted", "failed", "metrics"}; untraced runs carry the
end-to-end metrics, traced runs the per-layer ones. The line before it
is the full report (every metric with its sample count, failures by
name, the seed and the environment). Artifacts of each run, including
the span file of a traced run, are kept under `.bench_build/runs/`.
See benchmark/README.md.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import oracle  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("sql-short", "batch-pipelines", "rest-mixed")
# The project's fixture tables (see TESTDATA.md), relative to the home
# directory; --data or GRAFTBENCH_DATA points elsewhere.
DEFAULT_DATA = os.path.join("~", "testdata", "sf0.1")
SMALL_DATA_NAME = "sf0.001"
HEAP = "3g"
YOUNG = "768m"
JVM_TIMEOUT_S = 150
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
FAMILIES = ("Relational", "Function", "Pipeline", "Procedure", "SqlDialect",
            "Eav")
SPARK_EXEC = ("jobs", "stages", "tasks", "task_run_ms", "task_cpu_ms",
              "task_wait_ms", "gc_ms", "shuffle_read_bytes",
              "shuffle_write_bytes", "spill_bytes", "input_bytes",
              "failed_tasks")


def read(path):
    try:
        with open(path) as f:
            return f.read()
    except OSError:
        return None


def environment():
    """Load, CPU-throttling and steal state, so runs can be compared.
    `cpu_steal_s` counts since boot: the time the hypervisor gave this
    host's CPUs to others."""
    load = (read("/proc/loadavg") or "0 0 0").split()[:3]
    cpu = (read("/proc/stat") or "cpu").splitlines()[0].split()
    steal = int(cpu[8]) / os.sysconf("SC_CLK_TCK") if len(cpu) > 8 else -1.0
    cg = {}
    for p in ("/sys/fs/cgroup/cpu.stat", "/sys/fs/cgroup/cpu/cpu.stat"):
        text = read(p)
        if text:
            cg = dict(line.split()[:2] for line in text.splitlines()
                      if len(line.split()) >= 2)
            break
    return {"loadavg_1m": float(load[0]), "loadavg_5m": float(load[1]),
            "cgroup_nr_throttled": int(cg.get("nr_throttled", -1)),
            "cgroup_throttled_usec": int(cg.get("throttled_usec", -1)),
            "cpu_steal_s": steal, "cores": os.cpu_count()}


def median(xs):
    return statistics.median(xs) if xs else 0.0


def metric(value, unit, n=None):
    m = {"value": value, "unit": unit}
    if n is not None:
        m["samples"] = n
    return m


def latency_metrics(lat, prefix, wanted_tail, tail_name):
    """{prefix_p50_ms, prefix_<tail_name>_ms} under the tail rule."""
    if not lat:
        return {}
    p, t = stats.tail(lat, wanted_tail)
    return {f"{prefix}_p50_ms": metric(stats.quantile(lat, 50), "ms", len(lat)),
            f"{prefix}_{tail_name}_ms": dict(metric(t, "ms", len(lat)),
                                             percentile=round(p, 2))}


# ---- closed-loop workloads ----------------------------------------------

def check_closed(raw, data_dir, recorded):
    """Marks ops whose output differs from the reference as failed."""
    orc = oracle.Oracle(data_dir, os.path.join(build.BUILD, "oracle"))
    unchecked = []
    for op in raw["ops"]:
        if op["status"] != "ok":
            continue
        why = oracle.check_op(op, orc, recorded)
        if why is None:
            unchecked.append(op["name"])
        elif why:
            op["status"], op["reason"] = "mismatch", why
    return sorted(set(unchecked))


def closed_metrics(raw):
    ops = raw["ops"]
    ok = [o for o in ops if o["status"] == "ok"]
    # latency and throughput are the queries'; the ingest chain's ops are
    # measured by csv_rows_per_s and stream_events_per_s below
    lat = [o["latency_ms"] for o in ok if o["family"] != "Ingest"]
    m = {"setup_s": metric(median(raw["setup_ms"]) / 1000.0, "s",
                           len(raw["setup_ms"]))}
    m.update(latency_metrics(lat, "latency", 90, "p90"))
    # a closed loop's throughput: its timed ops back to back (sql-short's
    # untimed first executions sit between them in the window)
    m["ops_per_s"] = metric(len(lat) / (sum(lat) / 1000.0) if lat else 0.0, "1/s",
                            len(lat))
    m["error_rate"] = metric((len(ops) - len(ok)) / max(1, len(ops)), "ratio",
                             len(ops))
    imports = [o for o in ok if o["name"] == "ingest.import_text"]
    if imports:
        m["csv_rows_per_s"] = metric(
            sum(o["extra"]["rows"] for o in imports)
            / (sum(o["latency_ms"] for o in imports) / 1000.0), "rows/s",
            len(imports))
    streams = [o["extra"] for o in ok if o["name"] == "ingest.stream_record"]
    if streams and sum(s["trigger_ms_after_first"] for s in streams) > 0:
        m["stream_events_per_s"] = metric(
            sum(s["events_after_first"] for s in streams)
            / (sum(s["trigger_ms_after_first"] for s in streams) / 1000.0),
            "events/s", sum(s["batches"] - 1 for s in streams))
    return m


def spark_totals(records):
    tot = {k: 0.0 for k in SPARK_EXEC}
    for o in records:
        for a in o.get("spark", {}).values():
            for k in SPARK_EXEC:
                tot[k] += a[k]
    return tot


def probe(raw, name):
    return [p for p in raw.get("probes", []) if p["name"] == name
            and p["status"] == "ok"]


def layer_common(raw):
    """Per-layer metrics every workload reports (0 where a layer is not
    exercised)."""
    m = {}
    loads = probe(raw, "probe.load")
    m["graft.core.load_ms"] = metric(median([p["phase_ms"]["build"] for p in loads]), "ms")
    m["graft.core.load_jobs"] = metric(
        median([p["spark"].get("build", {}).get("jobs", 0) for p in loads]), "count")
    lower = probe(raw, "probe.lower")
    m["graft.sql.parse_us"] = metric(
        median(lower[0]["extra"]["parse_us"]) if lower else 0.0, "us")
    m["graft.sql.lower_ms"] = metric(
        median(lower[0]["extra"]["lower_ms"]) if lower else 0.0, "ms")
    m["jvm.gc_ms"] = metric(raw["jvm_gc_ms"], "ms")
    m["jvm.heap_used_peak_mb"] = metric(raw["jvm_heap_used_peak_mb"], "MB")
    return m


def closed_layers(raw):
    ops = [o for o in raw["ops"] if o["status"] == "ok"]
    m = layer_common(raw)

    def ph(o, p):
        return o["phase_ms"].get(p, 0.0)

    def jobs(o, p):
        return o.get("spark", {}).get(p, {}).get("jobs", 0)

    queries = [o for o in ops if o["family"] in FAMILIES]
    m["op.build_ms"] = metric(median([ph(o, "build") for o in queries]), "ms")
    m["op.plan_ms"] = metric(median([ph(o, "plan") for o in queries]), "ms")
    m["op.exec_ms"] = metric(median([ph(o, "exec") for o in queries]), "ms")
    m["op.build_jobs"] = metric(
        statistics.fmean([jobs(o, "build") for o in queries]) if queries else 0.0,
        "count")
    all_jobs = sum(jobs(o, p) for o in queries for p in ("build", "plan", "exec"))
    m["op.build_job_share"] = metric(
        sum(jobs(o, "build") for o in queries) / all_jobs if all_jobs else 0.0,
        "ratio")
    for f in FAMILIES:
        fam = [o for o in queries if o["family"] == f]
        for p in ("build", "exec"):
            m[f"family.{f}.{p}_ms"] = metric(
                statistics.fmean([ph(o, p) for o in fam]) if fam else 0.0, "ms")
    for k, name in (("analysis", "analysis_ms"), ("optimization", "optimization_ms"),
                    ("planning", "planning_ms")):
        m[f"spark.catalyst.{name}"] = metric(
            median([o["catalyst_ms"].get(k, 0.0) for o in queries]), "ms")
    tot = spark_totals(raw["ops"])
    for k in SPARK_EXEC:
        m[f"spark.exec.{k}"] = metric(tot[k], "ms" if k.endswith("_ms") else
                                      "bytes" if k.endswith("bytes") else "count")
    m["spark.exec.core_busy_ratio"] = metric(
        tot["task_run_ms"] / (raw["window_ms"] * raw["cores"]), "ratio")
    imports = [o for o in ops if o["name"] == "ingest.import_text"]
    m["graft.sources.import_text_ms"] = metric(median([o["latency_ms"] for o in imports]), "ms")
    m["graft.sources.import_text_jobs"] = metric(
        median([sum(jobs(o, p) for p in o["phase_ms"]) for o in imports]), "count")
    streams = [o["extra"] for o in ops if o["name"] == "ingest.stream_record"]
    for k, name, unit in (("batches", "batches", "count"),
                          ("trigger_ms_after_first", "trigger_ms", "ms"),
                          ("add_batch_ms", "add_batch_ms", "ms"),
                          ("wal_commit_ms", "wal_commit_ms", "ms"),
                          ("planning_ms", "planning_ms", "ms"),
                          ("files_written", "files_written", "count")):
        m[f"graft.streaming.{name}"] = metric(median([s[k] for s in streams]), unit)
    compacts = [o for o in ops if o["name"] == "ingest.compact"]
    m["graft.procedures.compact_ms"] = metric(
        median([o["phase_ms"]["build"] for o in compacts]), "ms")
    for k, unit in (("files_before", "count"), ("files_after", "count"),
                    ("bytes_rewritten", "bytes")):
        m[f"graft.procedures.{k}"] = metric(
            median([o["extra"][k] for o in compacts]), unit)
    return m


# ---- rest-mixed ----------------------------------------------------------

REQ_FIELDS = ("kind", "sub", "due", "enq", "send", "done", "code", "reason")


def requests(step):
    return [dict(zip(REQ_FIELDS, r)) for r in step["requests"]]


def fixed_step(raw):
    return next(s for s in raw["steps"] if s["phase"] == "fixed")


def rest_metrics(raw):
    fixed = fixed_step(raw)
    reqs = requests(fixed)
    secs = fixed["seconds"]
    ok = [r for r in reqs if not r["reason"]]

    def lat(kind, sub=None):
        return [stats.latency_from_due(r["due"], r["done"]) for r in ok
                if r["kind"] == kind and (sub is None or r["sub"] == sub)]

    score = lat("score")
    m = {"setup_s": metric(median(raw["setup_ms"]) / 1000.0, "s",
                           len(raw["setup_ms"]))}
    m.update(latency_metrics(score, "latency", 90, "p90"))
    m["ops_per_s"] = metric(len(ok) / secs, "1/s", len(ok))
    m["error_rate"] = metric((len(reqs) - len(ok)) / max(1, len(reqs)), "ratio",
                             len(reqs))
    m.update(latency_metrics(score, "score", 99, "p99"))
    m.update(latency_metrics(lat("query"), "query", 90, "p90"))
    m.update(latency_metrics(lat("write"), "write", 90, "p90"))
    ladder = []
    for s in raw["steps"]:
        rs = [r for r in requests(s) if r["kind"] == "score"]
        ladder.append({"rate": s["rate"], "backlog": s["backlog"],
                       "latencies": [math.inf if r["reason"] else
                                     stats.latency_from_due(r["due"], r["done"])
                                     for r in rs]})
    m["score_max_rps"] = dict(metric(stats.max_rate(ladder, raw["limit_ms"]), "1/s",
                                     sum(len(s["latencies"]) for s in ladder)),
                              limit_ms=raw["limit_ms"],
                              rates=[s["rate"] for s in ladder])
    return m


def api_layers(raw):
    """graft.api from the in-process probes (http_us needs the server)."""
    m = {}
    score = probe(raw, "probe.score")
    parse_us = median(score[0]["extra"]["json_parse_us"]) if score else 0.0
    apply_us = median(score[0]["extra"]["apply_us"]) if score else 0.0
    m["graft.api.json_parse_us"] = metric(parse_us, "us")
    m["graft.api.apply_us"] = metric(apply_us, "us")
    m["graft.api.score_jobs"] = metric(
        sum(a["jobs"] for a in score[0]["spark"].values()) if score else 0, "count")
    for name, key in (("record", "record_ms"), ("query", "query_ms")):
        p = probe(raw, f"probe.{name}")
        m[f"graft.api.{name}_ms"] = metric(median(p[0]["extra"][key]) if p else 0.0, "ms")
        m[f"graft.api.{name}_jobs"] = metric(
            sum(a["jobs"] for a in p[0]["spark"].values()) / p[0]["extra"]["calls"]
            if p else 0.0, "count")
    # the same scoring calls over HTTP, one at a time
    http = probe(raw, "probe.http")
    m["graft.api.http_us"] = metric(
        max(0.0, median(http[0]["extra"]["rtt_us"]) - apply_us) if http else 0.0, "us")
    return m


def queue_layers(step):
    """rest.* from one open-loop step."""
    reqs = requests(step)
    waits = [r["send"] - r["due"] for r in reqs if r["send"] >= 0]
    lags = [r["enq"] - r["due"] for r in reqs]
    return {"rest.queue_wait_ms": metric(median(waits), "ms"),
            "rest.backlog_max": metric(max((q for _, q in step["backlog"]),
                                           default=0), "count"),
            "rest.generator_lag_ms": metric(max(lags, default=0.0), "ms")}


def rest_layers(raw):
    m = layer_common(raw)
    m.update(api_layers(raw))
    m.update(queue_layers(fixed_step(raw)))
    return m


# ---- main ----------------------------------------------------------------

E2E = ("setup_s", "latency_p50_ms", "latency_p90_ms", "ops_per_s",
       "peak_rss_mb")


def zero_layers():
    """Every per-layer metric name, so each workload reports all of them."""
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--data", default=os.environ.get("GRAFTBENCH_DATA", DEFAULT_DATA))
    ap.add_argument("--record", action="store_true",
                    help="run every op twice and rewrite reference/ops.json")
    a = ap.parse_args()
    t_start = time.monotonic()
    data = os.path.abspath(os.path.expanduser(a.data))
    small = os.path.join(os.path.dirname(data), SMALL_DATA_NAME)
    try:
        cp = build.ensure()
    except build.BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        return 2
    if not os.path.isdir(data):
        print(f"no table directory {data}", file=sys.stderr)
        return 2
    ref_path = os.path.join(HERE, "reference", "ops.json")
    recorded = json.load(open(ref_path))["ops"] if os.path.exists(ref_path) else {}
    out = os.path.join(build.BUILD, "runs", "%s-s%d-t%d-%d" % (
        a.workload, a.seed, a.trace, time.time_ns()))
    os.makedirs(out)
    env_before = environment()
    try:
        archive = cds_archive(cp, data, small)
    except build.BuildError as e:
        print(e, file=sys.stderr)
        return 2
    cmd = jvm(cp, ["-Djava.io.tmpdir=" + out,
                   f"-XX:SharedArchiveFile={archive}", "-Xshare:on"]) + [
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--data", data, "--small-data", small, "--out", out,
        "--stage", os.path.join(build.BUILD, "stage-" + build_key(cp + data)),
        "--record", "1" if a.record else "0"]
    with open(os.path.join(out, "jvm.log"), "w") as log:
        try:
            r = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT,
                               timeout=JVM_TIMEOUT_S if not a.record else 3000)
        except subprocess.TimeoutExpired:
            print(f"the JVM did not finish within {JVM_TIMEOUT_S} s; see {out}/jvm.log",
                  file=sys.stderr)
            return 3
    raw_path = os.path.join(out, "raw.json")
    if r.returncode != 0 or not os.path.exists(raw_path):
        print(f"the JVM failed (exit {r.returncode}); see {out}/jvm.log",
              file=sys.stderr)
        return 3
    raw = json.load(open(raw_path))
    if a.record:
        return record(raw, ref_path, recorded)

    report = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
              "trace": a.trace, "build": build_key(cp),
              "cds_archive": os.path.basename(archive), "data": data,
              "heap": HEAP, "run_dir": out,
              "env_before": env_before, "env_after": environment()}
    problems = []
    if a.workload == "rest-mixed":
        reqs = requests(fixed_step(raw))
        attempted = len(reqs)
        failures = [f"{r['kind']}.{r['sub']}: {r['reason']}" for r in reqs if r["reason"]]
        m = rest_metrics(raw)
        wrong = [f for f in failures if "expected" in f]
        if wrong:
            problems.append(f"{len(wrong)} responses did not match the client's values")
        if raw["writes_missing_count"]:
            problems.append(f"{raw['writes_missing_count']} acknowledged writes did not "
                            f"read back, e.g. {raw['writes_missing'][:5]}")
        report["writes_acked"] = raw["writes_acked"]
    else:
        unchecked = check_closed(raw, data, recorded)
        attempted = len(raw["ops"])
        failures = [f"{o['name']}: {o['status']}: {o['reason']}"
                    for o in raw["ops"] if o["status"] != "ok"]
        mism = [o["name"] for o in raw["ops"] if o["status"] == "mismatch"]
        if mism:
            problems.append(f"outputs differ from their references: {mism}")
        m = closed_metrics(raw)
        report["unchecked"] = unchecked
        report["stage_s"] = raw["stage_ms"] / 1000.0
        report["prerun_failed"] = raw["prerun_failed"]
    m["peak_rss_mb"] = metric(raw["peak_rss_mb"], "MB")
    report["metrics"] = m
    report["failures"] = failures
    report["output_check"] = problems or "all outputs match their references"
    correct = not problems
    report["jobs_total"] = raw["jobs_total"]

    if a.trace:
        names = zero_layers()
        layers = {n: metric(0.0, u) for n, u in names.items()}
        if a.workload == "rest-mixed":
            layers.update(rest_layers(raw))
        else:
            layers.update(closed_layers(raw))
            layers.update(api_layers(raw))
            report["probes"] = [f"{p['name']}: {p['status']}: {p['reason']}"
                                for p in raw.get("probes", [])
                                if p["status"] != "ok"]
            if raw.get("rest_step"):
                layers.update(queue_layers(raw["rest_step"]))
                report["probes"] += [f"rest.{r['kind']}.{r['sub']}: {r['reason']}"
                                     for r in requests(raw["rest_step"])
                                     if r["reason"]]
        layers["tracing.latency_p50_ms"] = metric(
            m.get("latency_p50_ms", {}).get("value", 0.0), "ms")
        layers["tracing.overhead_pct"] = metric(overhead(report, m), "%")
        report["spans"] = os.path.join(out, "spans.jsonl")
        report["layers"] = layers
        final = {k: {"value": v["value"], "unit": names[k]} for k, v in layers.items()
                 if k in names}
    else:
        final = {k: {"value": m[k]["value"], "unit": m[k]["unit"]} for k in E2E if k in m}
    print(json.dumps(report, default=str))
    report_path = os.path.join(out, "report.json")
    with open(report_path, "w") as f:
        json.dump(report, f, indent=1, default=str)
    print(json.dumps({"correct": correct, "attempted": max(1, attempted),
                      "failed": len(failures), "metrics": final}))
    print(f"[{a.workload}] {time.monotonic() - t_start:.1f} s wall", file=sys.stderr)
    return 0


def jvm(cp, flags):
    return (["java"] + [x for p in JDK_OPENS for x in
                        ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
            + [f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Xmn{YOUNG}", "-Xss8m",
               "-XX:-UsePerfData", "-Dspark.ui.enabled=false"] + flags
            + ["-cp", cp, "graftbench.Main"])


def cds_archive(cp, data, small):
    """The class-data sharing archive every run of this build maps, made
    once by a short rest-mixed run (it touches SQL, ML and the REST
    server). It halves the JVM's first-use class loading, which would
    otherwise be a large, slow and noisy share of every run. Raises
    BuildError when it cannot be made: runs with and without it are not
    comparable."""
    path = os.path.join(build.BUILD, f"cds-{build_key(cp)}.jsa")
    if os.path.exists(path):
        return path
    for old in glob.glob(os.path.join(build.BUILD, "cds-*.jsa*")):
        os.remove(old)
    train = os.path.join(build.BUILD, "cds-train")
    shutil.rmtree(train, ignore_errors=True)
    os.makedirs(train)
    cmd = jvm(cp, [f"-XX:ArchiveClassesAtExit={path}.tmp",
                   "-Djava.io.tmpdir=" + train]) + [
        "--workload", "rest-mixed", "--seed", "0", "--seconds", "2",
        "--trace", "0", "--data", data, "--small-data", small, "--out", train,
        "--stage", os.path.join(train, "stage")]
    with open(os.path.join(train, "jvm.log"), "w") as log:
        try:
            ok = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT,
                                timeout=JVM_TIMEOUT_S).returncode == 0
        except subprocess.TimeoutExpired:
            ok = False
    if not ok or not os.path.exists(path + ".tmp"):
        raise build.BuildError(
            f"could not make the class-data sharing archive; see {train}/jvm.log")
    os.replace(path + ".tmp", path)
    return path


def build_key(cp):
    """Names the build a run used: its classpath holds a hash of the
    program's and the harness's sources."""
    return hashlib.sha256(cp.encode()).hexdigest()[:16]


def overhead(report, m):
    """Traced latency_p50_ms against the latest untraced run of the same
    workload, build and --seconds in this checkout, in percent; 0 when
    there is none."""
    runs = os.path.join(build.BUILD, "runs")
    latest = (-1, None)
    for d in os.listdir(runs):
        base = read(os.path.join(runs, d, "report.json"))
        if base is None:
            continue
        base = json.loads(base)
        if (base["trace"], base["workload"], base.get("build"), base["seconds"]) == \
                (0, report["workload"], report["build"], report["seconds"]):
            latest = max(latest, (int(d.rsplit("-", 1)[1]), base),
                         key=lambda x: x[0])
    b = latest[1] and latest[1]["metrics"].get("latency_p50_ms", {}).get("value")
    if not b or "latency_p50_ms" not in m:
        return 0.0
    return 100.0 * (m["latency_p50_ms"]["value"] / b - 1.0)


def record(raw, ref_path, recorded):
    """Writes reference/ops.json: each op's fingerprint (hash null where
    the two passes disagree); keeps other workloads' ops."""
    by = {}
    for o in raw["ops"]:
        by.setdefault(o["name"], []).append(o)
    ops = dict(recorded)
    for name, runs in by.items():
        fps = {(o["rows"], o["hash"]) for o in runs if o["status"] == "ok"}
        entry = {}
        if len(fps) == 1:
            rows, h = fps.pop()
            entry.update(rows=rows, hash=h)
        elif fps:
            rows = {r for r, _ in fps}
            entry.update(rows=rows.pop() if len(rows) == 1 else None, hash=None)
        else:
            entry["failed"] = sorted({o["reason"] for o in runs})[0][:200]
        ops[name] = entry
    with open(ref_path, "w") as f:
        json.dump({"about": "Output fingerprints of every op at sf0.1, "
                            "written by run.py --record.",
                   "ops": dict(sorted(ops.items()))}, f, indent=1)
        f.write("\n")
    print(json.dumps({k: v for k, v in ops.items() if k in by}, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
