#!/usr/bin/env python3
"""graft benchmark: one workload, one JVM, Spark local[4].

    python3 perfbench/run.py --workload <serve_live|merge_churn|query_catalog>
        --seed <n> --seconds <s> --trace <0|1>

Run from the root of a source checkout. The first run compiles the
program's sources (src/main/scala) together with the benchmark's own
(perfbench/scala) into a jar under .bench_build/perfbench with the Scala
compiler that ships in the Spark distribution; later runs reuse the jar
while no source changes. The first run of a build also leaves a
class-data-sharing archive that later runs' JVMs start from. The JVM writes an event log; this script turns it into
metrics (perfbench/metrics.py), prints a readable summary and, as the last
line, one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end_to_end list of BENCHMARK.json, with
--trace 1 the per_layer list. See perfbench/README.md for what each metric
means.
"""

import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True  # leave nothing behind in perfbench/
sys.path.insert(0, HERE)
import metrics as M  # noqa: E402

WORKLOADS = ("serve_live", "merge_churn", "query_catalog")
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    for home in (os.environ.get("SPARK_HOME"), "/opt/spark"):
        if home and glob.glob(os.path.join(home, "jars", "scala-compiler-*.jar")):
            return os.path.join(home, "jars")
    fail("no Spark distribution with a Scala compiler (set SPARK_HOME)")


def build(root, jars):
    """Compile program + benchmark sources once per source state."""
    src = os.path.join(root, "src", "main", "scala")
    if not os.path.isdir(src):
        fail(f"no program sources under {src}: run from the root of a graft checkout")
    files = sorted(glob.glob(os.path.join(src, "**", "*.scala"), recursive=True) +
                   glob.glob(os.path.join(HERE, "scala", "*.scala")))
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    out = os.path.join(root, ".bench_build", "perfbench")
    # a jar, not a class directory: class-data sharing (cds below) refuses
    # non-empty directories on the class path
    jar = os.path.join(out, "classes-" + h.hexdigest()[:16] + ".jar")
    if os.path.isfile(jar):
        return jar, out
    staging = os.path.join(out, "staging")
    shutil.rmtree(staging, ignore_errors=True)
    os.makedirs(staging)
    cp = os.path.join(jars, "*")
    t0 = time.time()
    r = subprocess.run(
        ["java", "-XX:-UsePerfData", "-Xmx2g", "-Xss8m", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
         "-d", staging, "-cp", cp] + files,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=800)
    if r.returncode != 0:
        print(r.stdout[-4000:], file=sys.stderr)
        fail("compilation failed")
    for old in glob.glob(os.path.join(out, "classes-*")) + glob.glob(os.path.join(out, "cds-*")):
        if os.path.isdir(old):
            shutil.rmtree(old)
        else:
            os.remove(old)
    with zipfile.ZipFile(jar + ".tmp", "w", zipfile.ZIP_STORED) as z:
        for d, _, names in sorted(os.walk(staging)):
            for n in sorted(names):
                f = os.path.join(d, n)
                z.write(f, os.path.relpath(f, staging))
    shutil.rmtree(staging)
    os.rename(jar + ".tmp", jar)
    print(f"built {len(files)} sources in {time.time() - t0:.1f}s")
    return jar, out


def cpu_steal():
    """(steal, total) jiffies from /proc/stat, or None: time a shared host
    gave to other guests, printed next to the results as context."""
    try:
        with open("/proc/stat") as f:
            ticks = [int(x) for x in f.readline().split()[1:]]
        return ticks[7], sum(ticks)
    except (OSError, ValueError, IndexError):
        return None


def cds(jar, out):
    """Class-data sharing flags: the first run of a build dumps the classes
    it loaded into an archive beside the build, and later runs map that
    archive instead of loading and verifying the same classes again.
    Returns (flags, archive to install after a clean exit, or None)."""
    archive = os.path.join(out, "cds-" + os.path.basename(jar)[len("classes-"):-len(".jar")] + ".jsa")
    if os.path.isfile(archive):
        return [f"-XX:SharedArchiveFile={archive}"], None
    return [f"-XX:ArchiveClassesAtExit={archive}.tmp"], archive


def run_jvm(root, jar, out, jars, a):
    work = os.path.join(out, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    log = os.path.join(work, "events.jsonl")
    share, archive = cds(jar, out)
    cmd = (["java"] + share + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] +
           ["-XX:-UsePerfData", "-Xmx3g", "-Xss4m", f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.local.dir={tmp}", f"-Dspark.hadoop.hadoop.tmp.dir={tmp}",
            "-Dspark.ui.enabled=false", f"-Dspark.sql.warehouse.dir={work}/warehouse",
            f"-Dderby.system.home={work}",
            "-cp", jar + os.pathsep + os.path.join(jars, "*"), "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work, "--out", log,
            "--data", os.path.join(HERE, "data", "sf0.001"),
            "--pinned", os.path.join(HERE, "data", "catalog_rows.tsv")])
    steal0 = cpu_steal()
    with open(os.path.join(out, f"last-{a.workload}.stderr"), "w") as err:
        try:
            r = subprocess.run(cmd, cwd=root, stdout=err, stderr=subprocess.STDOUT,
                               timeout=JVM_TIMEOUT_S)
            code = r.returncode
        except subprocess.TimeoutExpired:
            code = "timeout"
    steal1 = cpu_steal()
    if steal0 and steal1 and steal1[1] > steal0[1]:
        print(f"host CPU steal during the run: {(steal1[0] - steal0[0]) / (steal1[1] - steal0[1]):.1%}")
    if archive and code == 0 and os.path.isfile(archive + ".tmp"):
        os.rename(archive + ".tmp", archive)
    events = M.load(log) if os.path.isfile(log) else []
    if code != 0:
        print(f"perfbench: JVM exited with {code}; see {err.name}", file=sys.stderr)
        for e in events:
            if e["ev"] == "check" and not e["ok"]:
                print(f"  {e['name']}: {e['why']}", file=sys.stderr)
        sys.exit(1)
    shutil.copy(log, os.path.join(out, f"last-{a.workload}.jsonl"))
    shutil.rmtree(work, ignore_errors=True)
    return events


# ------------------------------------------------------------ summarizing

def p50(xs):
    return M.percentile(xs, 50.0) if xs else 0.0


def per_pass(total, passes):
    return total / passes if passes else 0.0


class Run:
    """One run's log, indexed for the metric definitions below."""

    def __init__(self, events):
        self.events = events
        self.values = {e["name"]: e["v"] for e in events if e["ev"] == "value"}
        self.ops, self.attempted, self.failed, self.reasons = M.outcomes(events)
        self.ws = self.values.get("window_start", 0)
        self.we = self.values.get("window_end", 0)
        self.jobs = [e for e in events if e["ev"] == "job"]
        self.window_jobs = [j for j in self.jobs if self.ws <= j["start"] <= self.we]

    def of(self, ev):
        return [e for e in self.events if e["ev"] == ev]

    def durs(self, kind, **kw):
        return M.durations(self.ops, kind, self.ws, self.we, **kw)

    def setup_s(self):
        return (M.median([e["dur"] for e in self.of("setup")]) +
                sum(e["dur"] for e in self.of("boot")))

    def progress(self, name):
        return [e for e in self.of("progress") if e["name"] == name and e["at"] >= self.ws]

    def jobs_in(self, op, group):
        t1 = op["t0"] + op["dur"] * 1000.0
        return [j for j in self.jobs if j["group"] == group and op["t0"] <= j["start"] <= t1]


def e2e(w, r):
    """The end_to_end metrics: the same names on every workload, each
    measuring that workload's own primary op, side op and throughput."""
    if w == "serve_live":
        op = r.durs("batch")
        side = [d * 1000 for d in r.durs("page")]
        rate = M.median([e["drain_rows"] / e["drain_s"] for e in r.of("setup")])
    elif w == "merge_churn":
        # the window's first two waves: a fixed count, since whether a third
        # fits depends on the host, and it meets a freshly compacted table
        merged = sorted((o for o in r.ops.values() if o["kind"] == "merge" and o["ok"] and o["t0"] >= r.ws),
                        key=lambda o: o["t0"])[:2]
        op = [o["dur"] for o in merged]
        side = [d * 1000 for d in r.durs("read")]
        rate = sum(o["rows"] for o in merged) / sum(op) if merged else 0.0
    else:
        # every execution of the first pooled_passes timed passes (whole
        # passes, so each query counts equally): pooling them makes the
        # median a steady figure where one query's best time is not
        plans = {e["op"]: e["plan_s"] for e in r.of("query_plan")}
        timed = [o for o in r.ops.values() if o["kind"] == "query" and o.get("measured")]
        pooled = sorted({o["pass"] for o in timed})[:int(r.values["pooled_passes"])]
        queries = [o for o in timed if o["ok"] and o["pass"] in pooled]
        op = [o["dur"] for o in queries]
        side = [plans[o["id"]] * 1000 for o in queries]
        rate = len(op) / sum(op) if op else 0.0
    if not op or not side:
        fail(f"{w}: no successful measured ops (op={len(op)}, side={len(side)})")
    tail, tp, n = M.tail(op)
    return {
        "setup_s": r.setup_s(),
        "op_s.p50": M.percentile(op, 50.0),
        "op_s.tail": tail,
        "side_ms.p50": M.percentile(side, 50.0),
        "rate_per_s": rate,
    }, {"op_s.tail": f"p{tp:g} of {n}", "op_s.p50": f"{len(op)} samples",
        "side_ms.p50": f"{len(side)} samples"}


def spark_layer(w, r):
    wall = max(1e-9, (r.we - r.ws) / 1000.0)
    jobs = r.window_jobs
    sched = [d for j in jobs for d in j["sched_ms"]]
    if w == "merge_churn":
        per_op = [len(r.jobs_in(o, "merge")) for o in r.ops.values()
                  if o["kind"] == "merge" and o["ok"] and o["t0"] >= r.ws]
    elif w == "query_catalog":
        per_op = [len(r.jobs_in(o, "catalog")) for o in r.ops.values()
                  if o["kind"] == "query" and o["ok"] and o.get("measured")]
    else:
        per_op = [batch_jobs(r)[0]]
    return {
        "spark.jobs_total": len(jobs),
        "spark.stages_total": sum(j["stages"] for j in jobs),
        "spark.tasks_total": sum(j["tasks"] for j in jobs),
        "spark.jobs_per_op.p50": p50(per_op),
        "spark.task_cpu_frac": sum(j["cpu_ns"] for j in jobs) / 1e9 / (wall * 4),
        "spark.sched_delay_ms.p50": p50(sched),
        "spark.shuffle_bytes_total": sum(j["shuf_w"] for j in jobs),
        "spark.spill_bytes_total": sum(j["spill"] for j in jobs),
        "spark.pool_batch_task_s": sum(j["run_ms"] for j in jobs if j["pool"] == "batch") / 1000.0,
        "spark.pool_streaming_task_s": sum(j["run_ms"] for j in jobs if j["stream"]) / 1000.0,
        "spark.persisted_end": r.values.get("persisted_end", 0),
        "trace.probe_s": r.values.get("probe_self_s", 0.0),
        "trace.overhead_frac": r.values.get("probe_self_s", 0.0) / wall,
    }


def batch_jobs(r):
    """(jobs per batch, batch-pool jobs, completed batches) in the window:
    batch jobs run on the service's own threads, attributed by its pool."""
    done = [o for o in r.ops.values() if o["kind"] == "batch" and o["ok"] and o["t0"] >= r.ws]
    jobs = [j for j in r.jobs if j["pool"] == "batch" and j["start"] >= r.ws]
    return (len(jobs) / len(done) if done else 0.0), jobs, done


def layers(w, r):
    m = {}
    # http + batch.service (serve_live)
    jpb, bjobs, done = batch_jobs(r) if w == "serve_live" else (0.0, [], [])
    nb = max(1, len(done))
    pages = {o["id"]: o for o in r.ops.values() if o["kind"] == "page" and o["ok"] and o["t0"] >= r.ws}
    direct = [o for o in r.ops.values() if o["kind"] == "page_direct" and o["ok"] and o["of"] in pages]
    # batch phases by file time: start -> newest snapshot file -> end
    phases = [e for e in r.of("batch_files")
              if e["op"] in {o["id"] for o in done} and e["raw_done"] and e["start_at"] and e["end_at"]]
    snap_s = [(e["raw_done"] - e["start_at"]) / 1000.0 for e in phases]
    agg_s = [(e["end_at"] - e["raw_done"]) / 1000.0 for e in phases]
    submitted = [o for o in r.ops.values() if o["kind"] == "batch" and o["t0"] >= r.ws]
    page_jobs = [j for j in r.window_jobs if not j["group"] and not j["pool"] and not j["stream"]]
    m.update({
        "http.submit_ms.p50": p50([d * 1000 for d in r.durs("http.submit")]),
        "http.status_ms.p50": p50([d * 1000 for d in r.durs("http.status")]),
        "http.agg_ms.p50": p50([d * 1000 for d in r.durs("agg_page")]),
        "http.page_bytes.p50": p50([e["bytes"] for e in r.of("page_bytes") if e["op"] in pages]),
        "http.page_overhead_ms.p50": p50([(pages[o["of"]]["dur"] - o["dur"]) * 1000 for o in direct]),
        "batch.queue_ms.p50": p50(r.durs("batch", field="queue_ms")),
        "batch.run_ms.p50": p50(r.durs("batch", field="run_ms")),
        "batch.jobs_per_batch": jpb,
        "batch.tasks_per_batch": sum(j["tasks"] for j in bjobs) / nb,
        "batch.shuffle_bytes_per_batch": sum(j["shuf_w"] for j in bjobs) / nb,
        "batch.bytes_written_per_batch": sum(j["out_bytes"] for j in bjobs) / nb,
        "batch.files_written_per_batch":
            sum(e["n"] for e in r.of("batch_files") if e["op"] in {o["id"] for o in done}) / nb,
        "batch.snapshot_write_s": p50(snap_s),
        "batch.analysis_write_s": p50(agg_s),
        "batch.completed_frac": len(done) / len(submitted) if submitted else 0.0,
        "batch.page_jobs_per_page": len(page_jobs) / len(pages) + 0.0 if pages else 0.0,
    })
    # streaming (serve_live)
    ing = r.progress("transactions-ingest")
    dash = [e for e in r.progress("realtime-dashboard") if e["rows"] > 0]
    lands = r.of("land")
    lags, late, backlog = M.ingest_lag(lands, ing) if lands else ([], [], 0)
    lag_tail = M.tail(lags)[0] if lags else 0.0
    busy = [e for e in ing if e["rows"] > 0]
    dur = lambda k: p50([e["dur"].get(k, 0) for e in busy])  # noqa: E731
    m.update({
        "ingest.trigger_ms.p50": dur("triggerExecution"),
        "ingest.addbatch_ms.p50": dur("addBatch"),
        "ingest.latestoffset_ms.p50": dur("latestOffset"),
        "ingest.planning_ms.p50": dur("queryPlanning"),
        "ingest.walcommit_ms.p50": dur("walCommit"),
        "ingest.rows_per_trigger.p50": p50([e["rows"] for e in busy]),
        "ingest.backlog_files.max": backlog,
        "ingest.gen_late_ms.max": max(late) if late else 0,
        "ingest.lag_s.p50": p50(lags),
        "ingest.lag_s.tail": lag_tail,
        "dashboard.trigger_ms.p50": p50([e["dur"].get("triggerExecution", 0) for e in dash]),
        "ingest.sink_files_end": r.values.get("sink_files_end", 0),
    })
    # batch.upsert + core (merge_churn; resolve on serve_live too)
    merges = [o for o in r.ops.values() if o["kind"] == "merge" and o["ok"] and o["t0"] >= r.ws]
    mjobs = [r.jobs_in(o, "merge") for o in merges]
    rows = sum(o["rows"] for o in merges)
    reads = [o for o in r.ops.values() if o["kind"] in M.RETRYABLE_KINDS and o["t0"] >= r.ws]
    retries = [o for o in reads if o["retry"]]
    resolve = ([e["dur"] for e in r.of("resolve")] if w == "merge_churn" else r.durs("resolve"))
    versions = [e["after"] - e["before"] for e in r.of("version")]
    table_files = [e["files"] for e in r.of("table_files")]
    admit = lambda i: (sum(e["files"] for e in r.of("admit") if e["index"] == i) /  # noqa: E731
                       max(1, len([e for e in r.of("admit") if e["index"] == i])) /
                       (sum(table_files) / len(table_files))) if table_files else 0.0
    m.update({
        "upsert.merge_jobs.p50": p50([len(js) for js in mjobs]),
        "upsert.merge_tasks.p50": p50([sum(j["tasks"] for j in js) for js in mjobs]),
        "upsert.merge_files_written.p50":
            p50([e["n"] for e in r.of("files_written") if e["op"] in {o["id"] for o in merges}]),
        "upsert.merge_bytes_written_per_row":
            sum(j["out_bytes"] for js in mjobs for j in js) / rows if rows else 0.0,
        "upsert.compact_s.p50": p50(r.durs("compact")),
        "upsert.point_ms.p50": p50([d * 1000 for d in r.durs("point")]),
        "upsert.range_ms.p50": p50([d * 1000 for d in r.durs("range")]),
        "upsert.read_retry_frac": len(retries) / len(reads) if reads else 0.0,
        "upsert.resolve_ms.p50": p50([d * 1000 for d in resolve]),
        "core.txnlog.version_delta_per_merge": sum(versions) / len(versions) if versions else 0.0,
        "core.txnlog.probe_ms.p50": p50([d * 1000 for d in r.durs("txnlog.probe")]),
        "core.bloom.admit_frac": admit("bloom"),
        "core.stats.admit_frac": admit("stats"),
        "core.space_amp_end": r.values.get("space_amp_end", 0.0),
    })
    # operators (query_catalog): totals per timed pass
    passes = len(r.of("pass")) if w == "query_catalog" else 0
    q = [o for o in r.ops.values() if o["kind"] == "query" and o["ok"] and o.get("measured")]
    plans = {e["op"]: e for e in r.of("query_plan")}
    fam = {}
    for o in q:
        fam[o["family"]] = fam.get(o["family"], 0.0) + o["dur"]
    for f in ("rel", "evt", "sql", "dedup", "sim", "txt", "media"):
        m[f"operators.{f}_s"] = per_pass(fam.get(f, 0.0), passes)
    phase = lambda k: per_pass(sum(plans[o["id"]]["phases"].get(k, 0)  # noqa: E731
                                   for o in q if o["id"] in plans), passes)
    m.update({
        "operators.plan_s_total": per_pass(sum(plans[o["id"]]["plan_s"] for o in q if o["id"] in plans),
                                           passes),
        "operators.plan_ms.p50": p50([plans[o["id"]]["plan_s"] * 1000 for o in q if o["id"] in plans]),
        "operators.analysis_ms_total": phase("analysis"),
        "operators.optimization_ms_total": phase("optimization"),
        "operators.planning_ms_total": phase("planning"),
        "operators.exec_s_total": per_pass(sum(o["dur"] - plans[o["id"]]["plan_s"]
                                               for o in q if o["id"] in plans), passes),
    })
    m.update(spark_layer(w, r))
    return m


def named(w, r, e):
    """The workload's metrics under their workload-specific names, printed
    in the readable summary (the JSON line carries the generic names)."""
    rename = {
        "serve_live": {"op_s.p50": "batch_s.p50", "op_s.tail": "batch_s.tail",
                       "side_ms.p50": "page_ms.p50", "rate_per_s": "ingest_drain_rows_per_s"},
        "merge_churn": {"op_s.p50": "merge_s.p50", "op_s.tail": "merge_s.tail",
                        "side_ms.p50": "read_ms.p50", "rate_per_s": "merged_rows_per_s"},
        "query_catalog": {"op_s.p50": "query_s.p50", "op_s.tail": "query_s.tail",
                          "side_ms.p50": "plan_ms.p50", "rate_per_s": "queries_per_s"},
    }[w]
    out = {rename.get(k, k): v for k, v in e.items()}
    out["failed_frac"] = r.failed / r.attempted if r.attempted else 0.0
    if w == "serve_live":
        lags, _, _ = M.ingest_lag(r.of("land"), r.progress("transactions-ingest"))
        if lags:
            out["ingest_lag_s.p50"] = M.percentile(lags, 50.0)
            v, p, n = M.tail(lags)
            out[f"ingest_lag_s.tail (p{p:g} of {n})"] = v
    if w == "query_catalog":
        out["catalog_s"] = sum(e["dur"] for e in r.of("pass")) / max(1, len(r.of("pass")))
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    root = os.getcwd()
    spec_path = os.path.join(root, "BENCHMARK.json")
    if not os.path.isfile(spec_path):
        fail("no BENCHMARK.json: run from the root of a graft checkout")
    with open(spec_path) as f:
        spec = json.load(f)
    jars = spark_jars()
    jar, out = build(root, jars)
    r = Run(run_jvm(root, jar, out, jars, a))

    e, notes = e2e(a.workload, r)
    readable = named(a.workload, r, e)
    for k, v in readable.items():
        print(f"{a.workload} {k} = {v:.6g}" + (f"  [{notes[k]}]" if k in notes else ""))
    for msg in r.reasons[:20]:
        print(f"FAILED {msg}")
    record = os.path.join(out, f"untraced-{a.workload}.jsonl")
    if not a.trace:
        with open(record, "a") as f:
            f.write(json.dumps(e) + "\n")
    elif os.path.isfile(record):
        # tracing overhead: this traced run against the untraced runs of
        # the same checkout
        past = M.load(record)
        base = M.median([x["op_s.p50"] for x in past])
        print(f"tracing overhead: op_s.p50 {e['op_s.p50']:.4g} traced vs {base:.4g} untraced "
              f"(median of {len(past)} runs): {e['op_s.p50'] / base - 1:+.1%}")
    if a.trace:
        chosen = layers(a.workload, r)
        wanted = spec["per_layer"]
    else:
        chosen = e
        wanted = spec["end_to_end"]
    names = [x["name"] for x in wanted]
    missing = set(names) - set(chosen)
    if missing:
        fail(f"metrics missing from this run: {sorted(missing)}")
    for k in names:
        if a.trace:
            print(f"  {k} = {chosen[k]:.6g}")
    result = {
        "correct": r.failed == 0,
        "attempted": r.attempted,
        "failed": r.failed,
        "metrics": {x["name"]: {"value": float(chosen[x["name"]]), "unit": x["unit"]} for x in wanted},
    }
    print(json.dumps(result))


if __name__ == "__main__":
    main()
