#!/usr/bin/env python3
"""The repo benchmark: the log service's ingest and query paths plus an
analytics pass, measured end to end and per layer.

    python3 perfbench/run.py --workload ingest|analytics \\
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run compiles the service and the
harness (perfbench/scala) with the Scala compiler from the Spark install into
.bench_build/; later runs reuse the classes while the sources are unchanged.
Each run starts one JVM that assembles the service in-process, drives one
workload and writes its raw measurements; this script turns them into the
metrics, runs the correctness checks and prints one JSON line last:
{"correct", "attempted", "failed", "metrics"}. Untraced runs report the
end-to-end metrics, traced runs the per-layer ones (see perfbench/LAYERS.md).
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import stats  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("ingest", "analytics")
ANALYTICS_SF = 0.01
HEAP = "4g"
RUN_TIMEOUT_S = 165
# ingest's freshness deadline, due time → returned by /v1/logs: about six of
# the 0.9–1.7 s micro-batch cycles the service runs at 5,000 rows/s, and
# twice the latest marker of a run on a 4-core box (3.4–5.4 s). Data served
# 10 s stale, or batches falling behind the offered rate, fail it.
VISIBLE_DEADLINE_MS = 10000.0
# analytics' end-to-end times are scaled to one host speed: measured ×
# CANARY_REF_MS ÷ the run's canary, the fastest of the run's rounds of a fixed
# kernel on every core (Canary.scala), timed between the passes. The fastest
# round is the host's speed with the least interference (a JIT or GC thread
# of the program still busy slows some rounds). 75 ms is about its value on
# the 4-core box the bounds were set on; the same code there ran up to 1.4
# times slower from one minute to the next, and the canary with it.
CANARY_REF_MS = 75.0
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def read_json(path):
    with open(path) as f:
        return json.load(f)


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """The Spark install's jar directory: $SPARK_HOME, else the install that
    puts spark-submit on PATH, else the one build.sbt compiles against."""
    cands = []
    if os.environ.get("SPARK_HOME"):
        cands.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    submit = shutil.which("spark-submit")
    if submit:
        cands.append(os.path.join(os.path.dirname(os.path.dirname(os.path.realpath(submit))), "jars"))
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            for line in f:
                if line.strip().startswith("unmanagedBase"):
                    cands.append(line.split('file("', 1)[1].split('")', 1)[0])
    except (OSError, IndexError):
        pass
    for c in cands:
        if glob.glob(os.path.join(c, "spark-core_*.jar")) and glob.glob(os.path.join(c, "scala-compiler-*.jar")):
            return c
    return None


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "scala/*.scala")))
    return main, bench


def build(jars):
    """Compile the service and the harness once per source digest. The
    digest also covers the benchmark's Python, so it names the version of
    everything that makes a report."""
    main, bench = sources()
    h = hashlib.sha256()
    for f in main + bench + sorted(glob.glob(os.path.join(HERE, "*.py"))):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    digest = h.hexdigest()[:16]
    out = os.path.join(BUILD, f"classes-{digest}")
    if os.path.exists(os.path.join(out, ".ok")):
        return out, digest
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.path.join(jars, "*")
    t0 = time.time()
    subprocess.run(["java", "-Xmx3g", "-Xss16m", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
                    "-classpath", cp, "-d", tmp, "-nowarn"] + main + bench,
                   check=True, stdout=sys.stderr)
    print(f"perfbench: compiled {len(main) + len(bench)} files in {time.time() - t0:.1f}s",
          file=sys.stderr)
    os.rename(tmp, out)
    open(os.path.join(out, ".ok"), "w").close()
    return out, digest


def git_head():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def run_jvm(classes, jars, workload, seed, seconds, trace, work, data_dir, cpus, timeout):
    # -XX:-UsePerfData: no hsperfdata file in the system's /tmp
    cmd = ["java", f"-Xmx{HEAP}", "-Xss16m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp",
           "-Dspark.ui.enabled=false"]
    for p in JVM_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{classes}:{os.path.join(jars, '*')}", "perfbench.Main", workload,
            str(seed), str(seconds), str(trace), work, data_dir, str(cpus)]
    with open(os.path.join(work, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = "timeout"
    if code != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            tail = f.read()[-3000:]
        fail(f"harness JVM ended with {code}:\n{tail}")
    return read_json(os.path.join(work, "raw.json"))


# ── statistics helpers ──────────────────────────────────────────────────

class Report:
    """Collects metrics; percentiles follow stats.percentile's sample rule."""

    def __init__(self):
        self.values, self.counts, self.warnings = {}, {}, []

    def put(self, name, value):
        self.values[name] = float(value)

    def pct(self, name, samples, q):
        v, n = stats.percentile(samples, q)
        self.counts[name] = n
        if v is None:
            xs = stats.clean(samples)
            self.warnings.append(f"{name}: {n} samples, p{q} needs {stats.min_samples(q)}; "
                                 "reporting the largest sample")
            v = xs[-1] if xs else 0.0
        self.values[name] = float(v)
        return v


def med(xs):
    xs = stats.clean(xs)
    return statistics.median(xs) if xs else 0.0


def host_scale(raw):
    """CANARY_REF_MS over the run's fastest canary round: multiply a time by it
    (divide a rate) to get the figure at the reference host speed."""
    return CANARY_REF_MS / min(raw["canary_ms"])


def diff(a, b):
    return [y - x for x, y in zip(a, b) if x is not None and y is not None and x >= 0 and y >= 0]


# ── per-workload metrics ────────────────────────────────────────────────

def committed_at(batches, t):
    """Rows committed by time t: the cumulative row count at micro-batch
    ends, linear in between; before the first end it is 0, after the last
    it stays at the total."""
    prev_t, prev_c, c = 0.0, 0, 0
    for b in batches:
        c += b["rows"]
        if b["end_ms"] >= t:
            span = b["end_ms"] - prev_t
            return prev_c + (c - prev_c) * ((t - prev_t) / span if span > 0 else 1.0)
        prev_t, prev_c = b["end_ms"], c
    return c


def ingest_metrics(raw, trace):
    e2e, lay = Report(), Report()
    due, sent, sin, sout = raw["due_ms"], raw["sent_ms"], raw["sink_in_ms"], raw["sink_out_ms"]
    ack, vis, status = raw["ack_ms"], raw["visible_ms"], raw["status"]
    n = len(due)
    ok = [i for i in range(n) if status[i] == 0]
    seen = [i for i in ok if vis[i] is not None]
    # every request is checked; the warm-up requests are not measured
    warm = raw["warm"]
    due, sent, sin, sout, ack, vis = (x[warm:] for x in (due, sent, sin, sout, ack, vis))
    m_ok = [i - warm for i in ok if i >= warm]
    m_seen = [i - warm for i in seen if i >= warm]
    acks = stats.open_loop_latencies([due[i] for i in m_ok], [ack[i] for i in m_ok])
    # committed rows per second over the measured window; rows committed by a
    # time are interpolated between micro-batch ends, so a batch ending just
    # outside the window does not move the rate, while a growing backlog does
    w0, w1 = raw["window_ms"]
    rate = (committed_at(raw["batches"], w1) - committed_at(raw["batches"], w0)) / \
        ((w1 - w0) / 1000.0)
    inside = [x for x in raw["batches"] if w0 < x["end_ms"] <= w1]
    # freshness is checked, not bounded: every acked marker must be returned
    # by /v1/logs within VISIBLE_DEADLINE_MS of its request's due time
    fresh = stats.open_loop_latencies([raw["due_ms"][i] for i in seen],
                                      [raw["visible_ms"][i] for i in seen])
    late = sum(1 for x in fresh if x > VISIBLE_DEADLINE_MS)
    failures = (n - len(ok)) + (len(ok) - len(seen)) + late + raw["poll_failures"] + \
        (raw["table_rows"] != raw["expected_rows"]) + \
        sum(1 for i in ok if raw["written"][i] != raw["rows_per_write"])
    attempted = n + raw["polls"] + 1
    # not host-scaled: at the design point the ack waits on the batcher's
    # contention more than on the host's speed, and over four sets of runs
    # scaling it by the canary narrowed its spread once and widened it twice
    e2e.put("setup_s", med(raw["setup_s"]))
    e2e.pct("latency_ms", acks, 50)
    raw_latency = e2e.values["latency_ms"]
    e2e.put("rate_per_s", rate)
    if trace:
        lay.pct("e2e.ack_p50_ms", acks, 50)
        lay.pct("e2e.ack_p95_ms", acks, 95)
        visible = diff([ack[i] for i in m_seen], [vis[i] for i in m_seen])
        lay.pct("e2e.visible_p50_ms", visible, 50)
        lay.pct("e2e.visible_p95_ms", visible, 95)
        lay.put("e2e.ingest_rows_per_s", rate)
        lay.pct("loadgen.lag_p95_ms", diff(due, sent), 95)
        lay.pct("grpc.to_sink_ms.p50", diff(due, sin), 50)
        lay.pct("grpc.to_sink_ms.p95", diff(due, sin), 95)
        lay.put("proto.decode_us_per_row", raw["decode_us_per_row"])
        lay.pct("admit.ms.p50", diff(sin, sout), 50)
        lay.pct("admit.ms.p95", diff(sin, sout), 95)
        lay.pct("grpc.from_sink_ms.p50", diff(sout, ack), 50)
        # a run sees about ten micro-batches, too few for percentiles: means and max
        b = inside
        dur = lambda k: [x["duration_ms"].get(k, 0) for x in b]
        mean = lambda xs: statistics.fmean(xs) if xs else 0.0
        lay.put("stream.batches", len(b))
        lay.put("stream.rows_per_batch.mean", mean([x["rows"] for x in b]))
        lay.put("stream.trigger_ms.mean", mean(dur("triggerExecution")))
        lay.put("stream.trigger_ms.max", max(dur("triggerExecution"), default=0))
        lay.put("stream.add_batch_ms.mean", mean(dur("addBatch")))
        lay.put("stream.add_batch_ms.max", max(dur("addBatch"), default=0))
        lay.put("stream.planning_ms.mean", mean(dur("queryPlanning")))
        lay.put("stream.commit_ms.mean", mean([x["duration_ms"].get("commitOffsets", 0) +
                                               x["duration_ms"].get("walCommit", 0) for x in b]))
        lay.put("stream.backlog_rows.max", raw["backlog_rows_max"])
        lay.put("table.files_written", raw["files"])
        lay.put("table.files_per_batch", raw["files"] / max(1, len(b)))
        lay.put("table.bytes_per_row", raw["bytes"] / max(1, raw["table_rows"]))
        lay.put("table.files_per_month", raw["files"] / max(1, raw["months"]))
        # self time along the blocking steps of the ack (due → ack); the
        # row's later path to visibility is stream + http + wait
        lay.put("self.loadgen_ms", med(diff(due, sent)))
        lay.put("self.grpc_ms", med(diff(sent, sin)) + med(diff(sout, ack)))
        lay.put("self.admit_ms", med(diff(sin, sout)))
        ack_path = lay.values["self.loadgen_ms"] + lay.values["self.grpc_ms"] + \
            lay.values["self.admit_ms"]
        lay.put("self.explained_frac", ack_path / raw_latency)
        # the read path: the prober's /v1/logs queries in the measured window
        inwin = lambda xs, k="end_ms": [x for x in xs if w0 < x[k] <= w1]
        poll = [x["ms"] for x in inwin(raw["polls_log"])]
        read = [x["ms"] for x in inwin(raw["reads"])]
        ex = inwin(raw["execs"])
        exe = [x["exec_ms"] for x in ex]
        lay.pct("e2e.poll_p50_ms", poll, 50)
        lay.pct("table.read_ms.p50", read, 50)
        lay.pct("table.read_ms.p70", read, 70)
        lay.pct("sql.exec_ms.p50", exe, 50)
        lay.pct("sql.exec_ms.p70", exe, 70)
        qjobs = inwin(raw["query_jobs"], "start_ms")
        groups = {j["tag"] for j in qjobs}
        lay.put("sql.jobs_per_query", len(qjobs) / max(1, len(groups)))
        lay.put("sql.tasks_per_query", sum(j["tasks"] for j in qjobs) / max(1, len(groups)))
        per = lambda k: sum(x[k] for x in ex) / max(1, len(ex))
        lay.put("scan.files_per_query", per("files"))
        lay.put("scan.months_per_query", per("months"))
        lay.put("scan.bytes_per_query", per("bytes"))
        counts = [x["count"] for x in inwin(raw["polls_log"]) if x["count"] >= 0]
        lay.put("scan.rows_per_result", sum(counts) / max(1, len(counts)))
        lay.put("sql.timeouts", raw["poll_failures"])
        lay.put("http.overhead_ms.p50", max(0.0, med(poll) - med(read) - med(exe)))
        # the row's way from ack to visible: the running and its own micro-batch,
        # then the next poll (list + execute + http); wait is the rest
        lay.put("self.stream_ms", mean(dur("triggerExecution")))
        lay.put("self.table_ms", med(read))
        lay.put("self.sql_ms", med(exe))
        lay.put("self.http_ms", lay.values["http.overhead_ms.p50"])
        lay.put("self.wait_ms", max(0.0, lay.values["e2e.visible_p50_ms"] -
                                    lay.values["self.stream_ms"] - med(poll)))
        lay.put("n.ops", len(acks))
    details = {"latency_raw_ms": raw_latency, "host_scale": 1.0,
               "visible_from_due_ms": {"p50": med(fresh), "max": max(fresh, default=None)},
               "failures": {"grpc": n - len(ok), "never_visible": len(ok) - len(seen),
                            "late": late,
                            "poll": raw["poll_failures"],
                            "table_rows": [raw["table_rows"], raw["expected_rows"]]}}
    return e2e, lay, attempted, failures, details


def oracle_check(data_dir, check_dir):
    """Runs the repo's DuckDB oracle compare; returns {row: passed}."""
    p = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "check_oracle.py"),
                        data_dir, check_dir], capture_output=True, text=True, timeout=120)
    verdict = {}
    for line in p.stdout.splitlines():
        for word, ok in (("PASS ", True), ("FAIL ", False)):
            if line.startswith(word):
                verdict[line[len(word):].split(":")[0].split(" ")[0]] = ok
    return verdict, p.stdout


def analytics_metrics(raw, trace, data_dir):
    e2e, lay = Report(), Report()
    rounds = raw["rounds"]
    ok = [r for r in raw["rows"] if all("wall_s" in x for x in r["runs"])]
    # each row's fastest timed pass (noise only ever adds time); the pass
    # count is fixed (Analytics.Passes)
    row = {r["name"]: min(r["runs"], key=lambda x: x["wall_s"]) for r in ok}
    suite_s = sum(v["wall_s"] for v in row.values())
    # latency: the geometric mean of the rows' times, so each row weighs the
    # same; the rate is dominated by the heavy rows
    raw_latency = statistics.geometric_mean([v["wall_s"] * 1000.0 for v in row.values()]) \
        if row else 0.0
    k = host_scale(raw)
    e2e.put("setup_s", med(raw["setup_s"]) * k)
    e2e.put("latency_ms", raw_latency * k)
    e2e.put("rate_per_s", len(row) / suite_s / k if suite_s else 0.0)
    verdict, out = oracle_check(data_dir, raw["check_dir"])
    known = set(read_json(os.path.join(HERE, "known_failures.json")).get("analytics", []))
    bad = [r["name"] for r in raw["rows"] if r["name"] not in row or verdict.get(r["name"]) is not True]
    if trace:
        lay.put("host.canary_ms", min(raw["canary_ms"]))
        lay.put("e2e.suite_s", suite_s)
        for r in raw["rows"]:
            lay.put(f"analytics.{r['name']}.build_s", row.get(r["name"], {}).get("build_s", 0.0))
            lay.put(f"analytics.{r['name']}.exec_s", row.get(r["name"], {}).get("exec_s", 0.0))
        jobs, st, tot = raw["jobs"], raw["stages"], raw["task_totals"]
        per_pass = lambda x: x / rounds
        lay.put("analytics.plan_s", sum(v["plan_s"] for v in row.values()))
        lay.put("analytics.build_jobs", per_pass(sum(1 for j in jobs if j["tag"].startswith("build:"))))
        lay.put("analytics.jobs", per_pass(sum(1 for j in jobs if ":" in j["tag"])))
        pass_stages = [x for x in st if ":" in x["tag"]]
        lay.put("analytics.stages", per_pass(len(pass_stages)))
        t = [v for k, v in tot.items() if ":" in k]
        lay.put("analytics.tasks", per_pass(sum(v["tasks"] for v in t)))
        lay.put("analytics.tasks_per_stage.min", min((x["tasks"] for x in pass_stages), default=0))
        lay.put("analytics.exchanges", sum(r["runs"][0].get("exchanges", 0) for r in ok))
        lay.put("analytics.shuffle_mb", per_pass(sum(v["shuffle_bytes"] for v in t)) / 2**20)
        lay.put("analytics.spill_mb", per_pass(sum(v["spill_bytes"] for v in t)) / 2**20)
        lay.put("analytics.gc_s", per_pass(raw["gc_s"]))
        run_s = sum(v["run_ms"] for v in t) / 1000.0
        lay.put("analytics.busy_frac", run_s / (raw["pass_s"] * raw["cores"]))
        phases = sum(v["build_s"] + v["plan_s"] + v["exec_s"] for v in row.values())
        lay.put("self.analytics_ms", 1000.0 * phases)
        lay.put("self.explained_frac", phases / suite_s if suite_s else 0.0)
        lay.put("n.ops", len(row))
    details = {"latency_raw_ms": raw_latency, "host_scale": k, "oracle": verdict, "failed_rows": bad, "known_failures": sorted(known & set(bad)),
               "rows": row}
    if set(bad) - known:
        print(out, file=sys.stderr)
    return e2e, lay, len(raw["rows"]), len(bad), details


def untraced_medians(workload, digest, seconds, cpus):
    """Median latency_ms and rate_per_s over the untraced reports of the same
    workload, code and run config, or None when there are none."""
    reps = []
    for path in glob.glob(os.path.join(BUILD, "results", f"{workload}-*-0.json")):
        r = read_json(path)
        c = r["config"]
        if (c["source_digest"], c["seconds"], c["nproc"]) == (digest, seconds, cpus):
            reps.append(r["metrics"])
    if not reps:
        return None
    return {k: statistics.median(m[k]["value"] for m in reps) for k in ("latency_ms", "rate_per_s")}


# ── the metric catalogue ────────────────────────────────────────────────

def catalogue():
    return read_json(os.path.join(os.path.dirname(HERE), "BENCHMARK.json"))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t_start = time.time()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")) or \
            not os.path.isfile(os.path.join(ROOT, "tools", "check_oracle.py")):
        fail("run from the root of a repo checkout (src/main/scala and tools/ are missing)")
    jars = spark_jars()
    if jars is None:
        fail("no Spark install found (set SPARK_HOME)")
    classes, digest = build(jars)
    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    data_dir = ""
    try:
        if a.workload == "analytics":
            import datagen
            data_dir = os.path.join(work, "data")
            datagen.write(data_dir, a.seed, ANALYTICS_SF)
        budget = RUN_TIMEOUT_S - (time.time() - t_start)
        raw = run_jvm(classes, jars, a.workload, a.seed, a.seconds, a.trace, work, data_dir,
                      cpus, max(30, budget))
        if a.workload == "ingest":
            e2e, lay, attempted, failed, details = ingest_metrics(raw, a.trace)
        else:
            e2e, lay, attempted, failed, details = analytics_metrics(raw, a.trace, data_dir)
        if a.trace:
            spans = os.path.join(work, "spans.jsonl")
            with open(spans) as f:
                n_spans = sum(1 for _ in f)
            lay.put("trace.spans_per_op", n_spans / max(1, lay.values.get("n.ops", 1)))
            lay.put("trace.ns_per_span", raw.get("ns_per_span", 0.0))
            lay.put("trace.span_cost_pct", 100.0 * lay.values["trace.spans_per_op"] *
                    lay.values["trace.ns_per_span"] / 1e6 / details["latency_raw_ms"])
            base = untraced_medians(a.workload, digest, a.seconds, cpus)
            if base is None:
                lay.warnings.append("no untraced report of this code in .bench_build/results: "
                                    "trace.overhead_*_pct read 0")
            else:
                lay.put("trace.overhead_latency_pct", 100.0 *
                        (e2e.values["latency_ms"] - base["latency_ms"]) / base["latency_ms"])
                lay.put("trace.overhead_rate_pct",
                        100.0 * (base["rate_per_s"] - e2e.values["rate_per_s"]) / base["rate_per_s"])
    finally:
        shutil.rmtree(work, ignore_errors=True)
    cat = catalogue()
    names = [m for m in cat["per_layer" if a.trace else "end_to_end"]]
    have = lay.values if a.trace else e2e.values
    metrics = {m["name"]: {"value": have.get(m["name"], 0.0), "unit": m["unit"]} for m in names}
    config = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
              "nproc": cpus, "master": raw["config"]["master"], "heap_mb": raw["config"]["heap_mb"],
              "spark": raw["config"]["spark"], "git_head": git_head(), "source_digest": digest,
              "analytics_sf": ANALYTICS_SF if a.workload == "analytics" else None,
              "offered_rows_per_s": raw.get("rate_per_s", 0) * raw.get("rows_per_write", 0)
              if a.workload == "ingest" else None}
    report = {"config": config, "metrics": metrics, "sample_counts": {**e2e.counts, **lay.counts},
              "warnings": e2e.warnings + lay.warnings, "details": details,
              "attempted": attempted, "failed": failed,
              "error_rate": stats.failure_rate(attempted, failed)}
    os.makedirs(os.path.join(BUILD, "results"), exist_ok=True)
    with open(os.path.join(BUILD, "results", f"{a.workload}-{a.seed}-{a.trace}.json"), "w") as f:
        json.dump(report, f, indent=1)
    for w in report["warnings"]:
        print(f"perfbench: warning: {w}", file=sys.stderr)
    print("config " + json.dumps(config, sort_keys=True))
    correct = failed == len(details.get("known_failures", []))
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
