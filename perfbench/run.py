#!/usr/bin/env python3
"""Benchmark of the product-view stream pipeline and a batch query mix.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the program and
the benchmark's JVM side (``perfbench/build.sbt``, offline) into
``.bench_build``. Each run generates its inputs from ``--seed``, runs
one workload in a fresh JVM, checks every output against a reference,
prints one line per figure and, as the last line, one JSON object.

Workloads (``workloads.json`` records why each was chosen):

* ``replay_drain``  closed loop: a seeded 100k-event click table rendered
  by ``Simulator.productViewJson`` into time-ordered files, drained with
  ``Trigger.AvailableNow`` through ``fileSource -> parse ->
  windowedCounts -> dualSinkQueries``; drains repeat until ``--seconds``.
* ``batch_mix``     closed loop: 15 ``SparkEntry.queries`` over an
  sf0.1-sized corpus, each built and then forced with a ``noop`` write,
  one at a time, in a seeded order; passes repeat until ``--seconds``.

End-to-end metrics (``--trace 0``):

* ``setup_s``       JVM start to the end of the untimed warm-up (replay:
  a drain of the first file; batch: one pass of the mix). Input
  generation is excluded.
* ``total_s``       replay: seconds per drain, query start to the final
  commit of both sinks (median over drains); batch: construction plus
  execution summed over the mix (median over passes).
* ``latency_ms_p50`` median time to result of one operation. Replay: a
  wire file, from the start of the drain (every file is due then) to
  the return of the emit of the micro-batch that read it. Batch: a
  query, its construction plus execution.

Every operation is checked: a wire file for replay, a query for the mix.
``failed / attempted`` is the error share. Replay also prints
``events_per_s`` and ``batch_ms_p50``, the median ``triggerExecution`` of
the emit query's micro-batches that carry data, with its sample count.

``--trace 1`` repeats the measurement with listeners and spans on, then
reports the per-layer metrics and writes every span to
``.bench_out/trace-<workload>-<seed>.json``.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

import numpy as np
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import gen  # noqa: E402
import metrics  # noqa: E402
import oracle  # noqa: E402

BUILD_DIR = os.path.join(ROOT, ".bench_build")
DATA_DIR = os.path.join(ROOT, ".bench_data")
WORK_DIR = os.path.join(ROOT, ".bench_work")
TRACE_DIR = os.path.join(ROOT, ".bench_out")

CORES = len(os.sched_getaffinity(0))
CORPUS_SEED = 42           # the batch corpus is fixed so its oracle can be stored
CORPUS_SCALE = {"bench": 0.1, "tiny": 0.01}   # of sf0.1's row counts
REPLAY_EVENTS, REPLAY_FILES, WARM_FILES = 100_000, 30, 1
MIX = ["q_dedup_fuzzy", "q_overlap_profile", "q_dup_communities", "q_ann_ivf",
       "q_hybrid_rrf", "q_curation_funnel", "q_bpe_apply",
       "q_pricing_summary", "q_market_share", "q_basket_pairs", "q_asof_next_order",
       "q_column_profile", "q_product_view_pipeline", "q_wire_ts_window",
       "q_multimodal_features"]
MODULES = ["queries.Dedup", "queries.Similarity", "queries.Curation", "queries.TextOps",
           "queries.Relational", "queries.Analytics", "queries.TemporalOps",
           "queries.Layout", "queries.PipelineQueries", "sources.WireEvents",
           "multimodal.Multimodal"]
# build.sbt's javaOptions: the add-opens Spark needs on JDK 17 outside
# spark-submit, no UI, UTC; no perf-data file under /tmp.
JAVA_OPTS = [o for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")
    for o in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] + [
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC", "-Xmx3g",
    "-XX:-UsePerfData"]
JVM_TIMEOUT_S = 170


class BenchError(Exception):
    pass


# ------------------------------------------------------------------ build

def _source_key():
    h = hashlib.sha256()
    paths = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for p in paths:
        files = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(p) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles the program and ``perfbench.Main`` once per source state; returns
    the runtime classpath."""
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            raise BenchError(f"no program to build: {need} is missing under {ROOT}")
    key = _source_key()
    cp_file, key_file = os.path.join(BUILD_DIR, "classpath.txt"), os.path.join(BUILD_DIR, "key")
    if os.path.exists(cp_file) and os.path.exists(key_file) and open(key_file).read() == key:
        return open(cp_file).read()
    os.makedirs(BUILD_DIR, exist_ok=True)
    # offline, as the repository's own build runs: every dependency comes
    # from the local caches
    opts = os.environ.get("SBT_OPTS", "-Xmx2g") + " -Dsbt.offline=true"
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=opts)
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "export Runtime/fullClasspath"], cwd=HERE, env=env,
                       stdin=subprocess.DEVNULL, capture_output=True, text=True, timeout=850)
    lines = [l for l in r.stdout.splitlines() if l.strip()]
    if r.returncode != 0 or not lines or "classes" not in lines[-1]:
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
        raise BenchError("build failed")
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(key_file, "w") as f:
        f.write(key)
    return lines[-1].strip()


# ----------------------------------------------------------------- inputs

def corpus(kind):
    """The fixed batch corpus, generated once per checkout: ``bench`` has
    the sf0.01 fixture's row counts, ``tiny`` (for the tests) sf0.001's."""
    d = os.path.join(DATA_DIR, f"corpus-{kind}-{CORPUS_SEED}")
    if not os.path.exists(os.path.join(d, "done")):
        shutil.rmtree(d, ignore_errors=True)
        gen.write_tables(d, CORPUS_SEED, CORPUS_SCALE[kind])
        open(os.path.join(d, "done"), "w").close()
    return d


# -------------------------------------------------------------------- JVM

def jvm(cp, work, args):
    """Runs ``perfbench.Main`` with ``key=value`` args; returns its JSON."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    out = os.path.join(work, "out.json")
    cmd = ["java", *JAVA_OPTS, f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
           f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
           "-cp", cp, "perfbench.Main", f"work={work}", f"out={out}", f"cores={CORES}",
           *[f"{k}={v}" for k, v in args.items()]]
    t0 = time.time()
    with open(os.path.join(work, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, cwd=work, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
                             stderr=log, text=True)
        timer = threading.Timer(JVM_TIMEOUT_S, p.kill)
        timer.start()
        try:
            p.stdout.read()
            rc = p.wait()
        finally:
            timer.cancel()
            if p.poll() is None:
                p.kill()
                p.wait()
    if rc != 0 or not os.path.exists(out):
        with open(os.path.join(work, "jvm.log")) as f:
            log = f.read()
        first = log.find("Exception")
        sys.stderr.write(log[max(first - 2000, 0):first + 3000] if first >= 0 else log[-5000:])
        raise BenchError(f"JVM exited with {rc}")
    with open(out) as f:
        raw = json.load(f)
    raw["jvm_s"] = time.time() - t0
    return raw


def oracle_sql(cp):
    """``SparkEntry.oracleSql`` for the mix, as the program registers it."""
    work = os.path.join(WORK_DIR, f"oracle-sql-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    try:
        raw = jvm(cp, work, dict(workload="oracle_sql", queries=",".join(MIX)))
        return {q: raw[q] for q in MIX}
    finally:
        shutil.rmtree(work, ignore_errors=True)


# -------------------------------------------------------------- workloads

def _file_stats(path):
    """Row count and event-time range of one rendered file (its rows are
    sorted on the timestamp)."""
    with open(path) as f:
        lines = f.read().splitlines()
    ts = [metrics.wire_ms(json.loads(lines[i])["timestamp"]) for i in (0, -1)]
    return {"rows": len(lines), "lo_ms": ts[0], "hi_ms": ts[1]}


def replay(cp, work, seed, seconds, trace, tiny=False, fault=None):
    events = REPLAY_EVENTS // 50 if tiny else REPLAY_EVENTS
    files = 8 if tiny else REPLAY_FILES
    data = os.path.join(work, "data")
    os.makedirs(data)
    pq.write_table(gen.events_table(np.random.default_rng(seed), events),
                   os.path.join(data, "events.parquet"))
    args = dict(workload="replay_drain", data=data, files=files, warm_files=WARM_FILES,
                seconds=seconds, trace=trace)
    if fault == "drop_file":
        args["omit"] = files // 2
    raw = jvm(cp, work, args)
    meta = [dict(f, **_file_stats(os.path.join(work, "staged", f["name"]))) for f in raw["files"]]
    oracle_rows = next(r for r in raw["runs"] if r["run"] == "untraced-0")["oracle"]
    reps = [r for r in raw["runs"] if r["run"].startswith("untraced")]
    lat, drains, trig, failed = [], [], [], 0
    for r in reps:
        latest = {(s, src): n for s, src, n in r["latest"]}
        if fault == "bad_count":
            k = min(latest)
            latest[k] += 1
        dropped = sum(s.get("numRowsDroppedByWatermark", 0)
                      for p in r["console"] + r["parquet"] for s in p.get("stateOperators", []))
        bad = metrics.replay_failures(meta, oracle_rows, latest, r["parquet_rows"],
                                      r["parquet"], dropped)
        # every file is due when the drain starts; a file no batch read fails
        read = [f for f in meta if not f["omitted"]]
        emit_end = {e["batch"]: e["end_ms"] for e in r["emits"]}
        it = iter(metrics.file_latencies([r["start_ms"]] * len(read), [f["rows"] for f in read],
                                         metrics.data_batches(r["console"]), emit_end))
        per_file = [None if f["omitted"] else next(it) for f in meta]
        bad |= {i for i, v in enumerate(per_file) if v is None}
        if "error" in r:
            bad = set(range(len(meta)))
        failed += len(bad)
        lat += [v for v in per_file if v is not None]
        drains.append((r["end_ms"] - r["start_ms"]) / 1000.0)
        trig += [p["durationMs"]["triggerExecution"] for p in r["console"]
                 if p["numInputRows"] > 0]
    total_s = statistics.median(drains)
    info = {"drains": (len(drains), "count", len(drains)),
            "events_per_s": (events, "ev/s", events / total_s),
            "batch_ms_p50": (len(trig), "ms", metrics.percentile(trig, 50))}
    return raw, dict(total_s=total_s, latency_ms=lat, attempted=len(meta) * len(reps),
                     failed=failed, info=info)


def batch_mix(cp, work, seed, seconds, trace, tiny=False, fault=None):
    order = MIX[:]
    random.Random(seed).shuffle(order)
    kind = "tiny" if tiny else "bench"
    raw = jvm(cp, work, dict(workload="batch_mix", data=corpus(kind), queries=",".join(order),
                             seconds=seconds, trace=trace))
    want = oracle.load()[kind]
    per_query, totals, construct, failed, attempted = [], [], 0.0, 0, 0
    for r in [r for r in raw["runs"] if r["run"].startswith("untraced")]:
        total = 0.0
        for q in r["queries"]:
            attempted += 1
            if "error" in q:
                failed += 1
                continue
            got = oracle.result_fingerprint(os.path.join(work, "results", r["run"], q["name"]))
            if fault == "bad_count" and q is r["queries"][0]:
                got = dict(got, rows=got["rows"] + 1)
            if got != want.get(q["name"]):
                failed += 1
            t = q["construct_s"] + q["execute_s"]
            print(f"query {q['name']} construct {q['construct_s']:.3f} s execute "
                  f"{q['execute_s']:.3f} s check {q['check_s']:.3f} s")
            per_query.append(t * 1000.0)
            construct += q["construct_s"]
            total += t
        totals.append(total)
    info = {"passes": (len(totals), "count", len(totals)),
            "construct_share": (len(per_query), "ratio", construct / sum(totals))}
    return raw, dict(total_s=statistics.median(totals), latency_ms=per_query,
                     attempted=attempted, failed=failed, info=info)


WORKLOADS = {"replay_drain": replay, "batch_mix": batch_mix}


# ---------------------------------------------------------------- tracing

def _spans(raw):
    """The benchmark's own spans plus one span per micro-batch (from the
    traced run's progress events) with its phases as children; jobs are
    attached to their micro-batch or to the span open when they began."""
    spans = list(raw["spans"])
    next_id = max([s["id"] for s in spans] + [0]) + 1
    traced = next(r for r in raw["runs"] if r["run"] == "traced")
    parent = next((s["id"] for s in spans if s["name"] == "streaming.replay_drain"
                   and s["run"] == "traced"), 0)
    qname = {traced.get("console_id"): "console", traced.get("parquet_id"): "parquet"}
    batch_span = {}
    for p in raw.get("progress", []):
        start, end, kids = metrics.phase_children(p)
        q = qname.get(p["id"], "other")
        sid = next_id
        next_id += 1
        spans.append(dict(id=sid, name=f"streaming.{q}.batch", parent=parent, run="traced",
                          start_ms=start, end_ms=end,
                          attrs=dict(batch=p["batchId"], rows=p["numInputRows"])))
        batch_span[(p["id"], str(p["batchId"]))] = sid
        for name, lo, hi in kids:
            layer = "sources" if name in ("latestOffset", "getBatch") else "streaming"
            spans.append(dict(id=next_id, name=f"{layer}.{q}.{name}", parent=sid,
                              run="traced", start_ms=lo, end_ms=hi, attrs={}))
            next_id += 1
    for e in traced.get("emits", []):
        spans.append(dict(id=next_id, name="streaming.emit", run="traced",
                          parent=batch_span.get((traced["console_id"], str(e["batch"])), 0),
                          start_ms=e["start_ms"], end_ms=e["end_ms"], attrs={}))
        next_id += 1
    jobs = raw["jobs"]
    for j in jobs:
        if j["query_id"]:
            j["span"] = batch_span.get((j["query_id"], j["batch_id"]), 0)
    st = metrics.self_times(spans)
    for s in spans:
        s["self_ms"] = st[s["id"]]
    return spans, jobs


def _summary(raw, spans):
    """Per sink query: triggerExecution against the sum of its named
    phases; per layer: self time of its spans in the traced run."""
    traced = next(r for r in raw["runs"] if r["run"] == "traced")
    qname = {traced.get("console_id"): "console", traced.get("parquet_id"): "parquet"}
    phases = {}
    for p in raw.get("progress", []):
        q = phases.setdefault(qname.get(p["id"], "other"),
                              {"batches": 0, "trigger_ms": 0, "phases_ms": {}})
        q["batches"] += 1
        q["trigger_ms"] += p["durationMs"].get("triggerExecution", 0)
        for k in metrics.PHASES:
            q["phases_ms"][k] = q["phases_ms"].get(k, 0) + p["durationMs"].get(k, 0)
    for q in phases.values():
        named = sum(q["phases_ms"].values())
        q["unattributed_ms"] = q["trigger_ms"] - named
        q["named_share"] = named / q["trigger_ms"] if q["trigger_ms"] else 0.0
    layers = {}
    for s in spans:
        if s["run"] == "traced":
            layer = next((m for m in MODULES if s["name"].startswith(m + ".")),
                         s["name"].split(".")[0])
            layers[layer] = layers.get(layer, 0.0) + s["self_ms"]
    return {"phases": phases, "layer_self_ms": layers}


def per_layer(workload, raw, res, spans, jobs):
    traced = next(r for r in raw["runs"] if r["run"] == "traced")
    ids = (traced.get("console_id"), traced.get("parquet_id"))
    progress = [p for p in raw.get("progress", []) if p["id"] in ids]
    m = {"sources." + k: v for k, v in metrics.source_layers(progress).items()}
    m["functions.parse_s"] = raw["functions_parse_s"]
    m["functions.window_count_s"] = raw["functions_window_count_s"]
    sl = metrics.stream_layers(progress, traced.get("emits", []), len(traced.get("parquet_rows", [])))
    for k in metrics.STREAM_LAYERS:
        m["streaming." + k] = sl[k]
    for mod in MODULES:
        for k in ("construct_s", "construct_jobs", "execute_s", "cpu_s", "shuffle_mb"):
            m[f"{mod}.{k}"] = 0.0
    for q in traced.get("queries", []):
        m[f"{q['module']}.construct_s"] += q.get("construct_s", 0.0)
        m[f"{q['module']}.execute_s"] += q.get("execute_s", 0.0)
    by_id = {s["id"]: s for s in spans}
    tj = [j for j in jobs if j["run"] == "traced"]
    for j in tj:
        name = by_id.get(j["span"], {}).get("name", "")
        mod = next((x for x in MODULES if name.startswith(x + ".")), None)
        if mod and name.endswith((".construct", ".execute")):
            m[f"{mod}.construct_jobs"] += name.endswith(".construct")
            m[f"{mod}.cpu_s"] += j["cpu_ms"] / 1000.0
            m[f"{mod}.shuffle_mb"] += j["shuffle_write_b"] / 2**20
    m["spark.jobs"] = len(tj)
    m["spark.tasks"] = sum(j["tasks"] for j in tj)
    m["spark.cpu_s"] = sum(j["cpu_ms"] for j in tj) / 1000.0
    m["spark.gc_s"] = sum(j["gc_ms"] for j in tj) / 1000.0
    m["spark.shuffle_write_mb"] = sum(j["shuffle_write_b"] for j in tj) / 2**20
    m["spark.spill_mb"] = sum(j["spill_b"] for j in tj) / 2**20
    one = [r for r in raw["runs"] if r["run"] == "1core"]
    m["scaling.events_per_s_1core"] = (
        sum(p["numInputRows"] for p in one[0]["console"]) /
        ((one[0]["end_ms"] - one[0]["start_ms"]) / 1000.0)) if one else 0.0
    # tracing overhead: the traced run against the untraced runs' total_s
    if workload == "replay_drain":
        t = (traced["end_ms"] - traced["start_ms"]) / 1000.0
    else:
        t = sum(q["construct_s"] + q["execute_s"] for q in traced["queries"] if "error" not in q)
    m["trace.overhead_frac"] = t / res["total_s"] - 1.0
    return m


# ------------------------------------------------------------------- main

def run(workload, seed, seconds, trace, tiny=False, fault=None):
    cp = build()
    work = os.path.join(WORK_DIR, f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        raw, res = WORKLOADS[workload](cp, work, seed, seconds, trace, tiny, fault)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(f"input_generation_s {raw['gen_s']:.6g} s")
    print(f"jvm_wall_s {raw['jvm_s']:.6g} s")
    res["info"]["latency_samples"] = (len(res["latency_ms"]), "count", len(res["latency_ms"]))
    res["info"]["error_frac"] = (res["attempted"], "ratio", res["failed"] / res["attempted"])
    for k, (n, unit, v) in res["info"].items():
        print(f"{k} {v:.6g} {unit} (n={n})")
    declared = _declared()
    if trace:
        spans, jobs = _spans(raw)
        m = per_layer(workload, raw, res, spans, jobs)
        names = declared["per_layer"]
        summary = dict(_summary(raw, spans), overhead_frac=m["trace.overhead_frac"])
        print("trace summary " + json.dumps(summary))
        os.makedirs(TRACE_DIR, exist_ok=True)
        with open(os.path.join(TRACE_DIR, f"trace-{workload}-{seed}.json"), "w") as f:
            json.dump({"workload": workload, "seed": seed, "summary": summary,
                       "spans": spans, "jobs": jobs}, f)
    else:
        m = {"setup_s": raw["setup_s"], "total_s": res["total_s"],
             "latency_ms_p50": metrics.percentile(res["latency_ms"], 50)}
        names = declared["end_to_end"]
    result = {e["name"]: {"value": m[e["name"]], "unit": e["unit"]} for e in names}
    for k, v in result.items():
        print(f"{k} {v['value']:.6g} {v['unit']}")
    return {"correct": res["failed"] == 0, "attempted": res["attempted"],
            "failed": res["failed"], "metrics": result}


def _declared():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true", help="small inputs, for the tests")
    ap.add_argument("--fault", choices=("drop_file", "bad_count"), help="plant a fault")
    a = ap.parse_args()
    # a terminated run still stops its JVM and removes its scratch
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        out = run(a.workload, a.seed, a.seconds, a.trace, a.tiny, a.fault)
    except BenchError as e:
        sys.exit(f"perfbench: {e}")
    print(json.dumps(out))


if __name__ == "__main__":
    main()
