#!/usr/bin/env python3
"""Run one graftbench workload and print its metrics.

    python3 graftbench/run.py --workload board|board_small|stream \
        --seed N --seconds S --trace 0|1 [--results DIR]

Run from the root of a graft checkout. The first run builds the harness and
the library from source (sbt, offline) and generates the input tables; both
are cached under graftbench/.work. The last line of standard output is one
JSON object: {"correct", "attempted", "failed", "metrics"}. Every run also
writes its full record (settings, raw samples, checks) under
graftbench/.work/results/<workload>/ unless --results says otherwise.
"""
import argparse
import datetime
import glob
import hashlib
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

import benchlib
import gen

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
SCALE = {"board": 0.1, "board_small": 0.001, "stream": 0.1}
HEAP = "4g"
DEADLINE_S = 170          # the harness JVM is killed after this
BUILD_DEADLINE_S = 850
ROWS_PER_FILE = 1000      # stream: events per published file
MAX_DISORDER_US = 20 * 60 * 1_000_000  # stays inside StreamRun.Watermark
N_CRASHES = 3             # StreamRun.CrashAt
TAIL_Q = {"board": 0.75, "board_small": 0.75}  # needs 40 samples: recorded, not gated


def log(msg):
    print(f"[graftbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=1):
    log(msg)
    sys.exit(code)


# ---- build ----------------------------------------------------------------

def source_digest():
    """Digest of everything the harness build reads."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
             os.path.join(HERE, "src"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in names
                      if n.endswith((".scala", ".java", ".sbt", ".properties"))]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def build():
    """Compile the library and harness unless this source digest is built."""
    launch = os.path.join(HERE, "target", "launch")
    stamp = os.path.join(launch, "digest.txt")
    digest = source_digest()
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return launch, digest
    os.makedirs(WORK, exist_ok=True)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           f"-Djava.io.tmpdir={tmp_dir()}", f"-Djna.tmpdir={tmp_dir()}",
           "-Dsbt.boot.lock=false"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        cmd += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}",
                "-Dsbt.offline=true"]
    log("building the harness and the library (sbt writeLaunch) ...")
    with open(os.path.join(WORK, "build.log"), "w") as out:
        rc = run_group(cmd + ["writeLaunch"], out, BUILD_DEADLINE_S, cwd=HERE,
                       env=dict(os.environ, COURSIER_MODE="offline", TMPDIR=tmp_dir(),
                                JAVA_TOOL_OPTIONS="-XX:-UsePerfData"))
    if rc != 0:
        with open(os.path.join(WORK, "build.log")) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail(f"build failed (exit {rc}); log in {WORK}/build.log")
    with open(stamp, "w") as f:
        f.write(digest)
    return launch, digest


def tmp_dir():
    """Scratch space for sbt, the JVM and Spark, inside the checkout."""
    d = os.path.join(WORK, "tmp")
    os.makedirs(d, exist_ok=True)
    return d


def run_group(cmd, out, deadline_s, **kw):
    """Run cmd in its own process group; kill the group at the deadline.
    Returns the exit code (None on timeout) after the group has ended."""
    p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                         start_new_session=True, **kw)
    try:
        return p.wait(timeout=deadline_s)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None
    finally:
        try:
            os.killpg(p.pid, signal.SIGKILL)  # stray children of the group
        except ProcessLookupError:
            pass


# ---- inputs ---------------------------------------------------------------

def panel():
    with open(os.path.join(HERE, "expected", "board.json")) as f:
        return json.load(f)


def board_order(names, seed):
    order = sorted(names)
    random.Random(seed).shuffle(order)
    return order


def cut_stream(events_parquet, seed, pending):
    """Shuffle events by at most MAX_DISORDER_US of event time and cut them
    into ROWS_PER_FILE-row files, named in publication order."""
    t = pq.read_table(events_parquet)
    t = t.set_column(1, "ts", pc.assume_timezone(t["ts"], "UTC"))
    us = t["ts"].cast(pa.int64()).to_numpy()
    rng = np.random.default_rng(seed)
    order = np.argsort(us + rng.integers(0, MAX_DISORDER_US, len(us)), kind="stable")
    t = t.take(pa.array(order))
    os.makedirs(pending)
    rows = {}
    for i, off in enumerate(range(0, t.num_rows, ROWS_PER_FILE)):
        name = f"part-{i:05d}.parquet"
        chunk = t.slice(off, ROWS_PER_FILE)
        pq.write_table(chunk, os.path.join(pending, name))
        rows[name] = chunk.num_rows
    return rows


def harness(workload, seed, seconds, trace, names, extra_jvm=()):
    """Build if needed, prepare the inputs, run the harness JVM once.
    Returns (raw samples, run dir, rows per stream file, source digest)."""
    launch, digest = build()
    data_dir = gen.ensure(os.path.join(WORK, "data"), SCALE[workload])
    run_dir = os.path.join(WORK, "runs", f"{workload}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    rows_per_file = None
    order_file = os.path.join(run_dir, "order.txt")
    with open(order_file, "w") as f:
        if workload == "stream":
            rows_per_file = cut_stream(os.path.join(data_dir, "events.parquet"), seed,
                                       os.path.join(run_dir, "pending"))
        else:
            f.write("\n".join(board_order(names, seed)) + "\n")
    with open(os.path.join(launch, "classpath.txt")) as f:
        cp = f.read().strip()
    with open(os.path.join(launch, "jvm_options.txt")) as f:
        jvm = [o for o in f.read().split("\n") if o and not o.startswith("-Xmx")]
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    cmd = (["java"] + jvm + list(extra_jvm) + [
           f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.local.dir={tmp}",
           "-cp", cp, "graft.harness.Main",
           workload, data_dir, run_dir, str(seconds), str(trace), order_file])
    with open(os.path.join(run_dir, "jvm.log"), "w") as out:
        rc = run_group(cmd, out, DEADLINE_S, cwd=run_dir, env=dict(os.environ, TMPDIR=tmp))
    raw_path = os.path.join(run_dir, "raw.json")
    if rc != 0 or not os.path.exists(raw_path):
        with open(os.path.join(run_dir, "jvm.log")) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail(f"harness failed (exit {rc}); log in {run_dir}/jvm.log")
    with open(raw_path) as f:
        return json.load(f), run_dir, rows_per_file, digest


# ---- metrics --------------------------------------------------------------

def board_metrics(raw, expected, workload):
    passes = raw["passes"]
    per_pass = [sum(q["ms"] for q in p["queries"]) / 1000.0 for p in passes]
    samples = [q["ms"] for p in passes for q in p["queries"]]
    errors = [(q["name"], q["error"]) for p in passes for q in p["queries"] if q["error"]]
    check_fails = benchlib.check_fingerprints(raw["checks"], expected)
    attempted = len(samples) + len(raw["checks"])
    failed = len(errors) + len(check_fails)
    # the geometric mean of query times, as in TPC-H's power metric: the
    # median of 22 samples jumps between queries and spreads twice as wide
    e2e = {
        "elapsed_s": statistics.median(per_pass),
        "latency_ms": statistics.geometric_mean(samples),
    }
    info = {"passes": len(passes), "pass_s": per_pass, "query_samples": len(samples),
            "query_p50_ms": statistics.median(samples),
            f"query_p{TAIL_Q[workload] * 100:.0f}_ms": benchlib.tail(samples, TAIL_Q[workload]),
            "errors": errors, "check_failures": check_fails}
    return e2e, attempted, failed, info


def read_committed(out_dir):
    rows = []
    for d in sorted(glob.glob(os.path.join(out_dir, "batch=*"))):
        b = int(d.rsplit("=", 1)[1])
        for r in pq.read_table(d).to_pylist():
            rows.append((b, r))
    return rows


def sink_dirs(out_dir):
    """(committed batch ids, stale staging dirs, data files, data bytes)."""
    ids, stale, files, size = [], 0, 0, 0
    for e in os.listdir(out_dir):
        p = os.path.join(out_dir, e)
        if e.startswith("_staging_batch="):
            stale += 1
        elif e.startswith("batch="):
            ids.append(int(e.split("=", 1)[1]))
            for f in os.listdir(p):
                if f.startswith("_staging_batch="):
                    stale += 1
                elif f.endswith(".parquet"):
                    files += 1
                    size += os.path.getsize(os.path.join(p, f))
    return sorted(ids), stale, files, size


def stream_metrics(raw, rows_per_file, run_dir):
    s = raw["stream"]
    batch_of = benchlib.file_batches(os.path.join(run_dir, "ckpt", "sources", "0"))
    pairs, recovery_s, excluded, missing = benchlib.stream_timeline(
        s["files"], rows_per_file, batch_of, benchlib.commit_times(s["calls"]),
        [(c["at"], c["restart_at"]) for c in s["crashes"]])
    progress = s["progress"]
    out_dir = os.path.join(run_dir, "out")
    ids, stale, _, _ = sink_dirs(out_dir)
    twin = pq.read_table(os.path.join(run_dir, "twin")).to_pylist()
    lost, extra, bad, dups = benchlib.reconcile(read_committed(out_dir), twin)
    audit_in, audit_out = s["audit"]["in"], s["audit"]["out"]
    dropped = sum(op.get("numRowsDroppedByWatermark", 0)
                  for p in progress for op in p.get("stateOperators", []))
    skipped = sum(1 for c in s["calls"] if c["skipped"])
    checks = {
        f"{N_CRASHES} crashes injected and recovered": len(recovery_s) == N_CRASHES,
        "no micro-batch failed": not s["failures"],
        "every file committed": not missing,
        "committed batches 0..max, each once": ids == list(range(len(ids))),
        "last committed row per window equals StreamTwins.qStreamTumbling":
            not (lost or extra or bad or dups),
        "Metrics.audit rows and sum(value) agree":
            bool(audit_in) and audit_in.get("rows") == audit_out.get("sum_cnt")
            and audit_in.get("sum_value") == audit_out.get("sum_sum_value"),
        # a crash before the commit marker leaves no batch for the sink to skip
        "ExactlyOnceSink.replays_skipped == 0": skipped == 0,
        "Pipeline.rows_dropped_late == 0": dropped == 0,
        "ExactlyOnceSink.stale_stagings == 0": stale == 0,
    }
    attempted = len(s["calls"]) + len(checks)
    failed = len(s["failures"]) + sum(1 for ok in checks.values() if not ok)
    n_events = sum(n for _, n in pairs)
    e2e = {
        "elapsed_s": statistics.median(recovery_s) if recovery_s else None,
        "latency_ms": benchlib.weighted_percentile(pairs, 0.5) if pairs else None,
    }
    hist = {}
    for v, n in pairs:
        b = int(v // 50) * 50
        hist[b] = hist.get(b, 0) + n
    info = {"latency_events": n_events, "excluded_events": excluded, "files": len(pairs),
            "latency_p95_ms": (benchlib.weighted_percentile(pairs, 0.95)
                               if benchlib.supported(n_events, 0.95) else None),
            "latency_p99_ms": (benchlib.weighted_percentile(pairs, 0.99)
                               if benchlib.supported(n_events, 0.99) else None),
            "recovery_s": recovery_s,
            "rate_files_per_s": 1000.0 / s["interval_ms"],
            "rate_events_per_s": 1000.0 / s["interval_ms"] * ROWS_PER_FILE,
            "latency_hist_50ms": dict(sorted(hist.items())),
            "lost_windows": len(lost), "extra_windows": len(extra),
            "mismatched_windows": len(bad), "duplicate_rows": dups,
            "failures": s["failures"], "checks": checks,
            "generator_late_ms_max": max(f["published"] - f["due"] for f in s["files"])}
    return e2e, attempted, failed, info


def layer_metrics(raw, workload, run_dir):
    """Per-layer metrics of a traced run, and its span self-time table."""
    t = raw["trace"]
    c = dict(t["counters"])
    spans = [dict(zip(("id", "parent", "kind", "group", "start", "end"), s))
             for s in t["spans"]]
    m = {}
    if workload == "stream":
        progress = t["progress"]
        for p in progress:
            start = datetime.datetime.fromisoformat(
                p["timestamp"].replace("Z", "+00:00")).timestamp() * 1000
            spans.append({"id": f"b{p['batchId']}", "parent": "", "kind": "microbatch",
                          "group": str(p["batchId"]), "start": start,
                          "end": start + p["durationMs"].get("triggerExecution", 0)})
        n = 1
        s = raw["stream"]
        ids, stale, files, size = sink_dirs(os.path.join(run_dir, "out"))
        dur = lambda k: sum(p["durationMs"].get(k, 0) for p in progress)
        ops = [op for p in progress for op in p.get("stateOperators", [])]
        trig = [p["durationMs"].get("triggerExecution", 0) for p in progress]
        call_ms = [x["end"] - x["start"] for x in s["calls"]]
        write_ms = c.get("ExactlyOnceSink.write_ms", 0.0)
        m.update({
            "Sources.latest_offset_ms": dur("latestOffset"),
            "Sources.get_batch_ms": dur("getBatch"),
            "Sources.input_rows": sum(p.get("numInputRows", 0) for p in progress),
            "microbatch.batches": len({p["batchId"] for p in progress}),
            "microbatch.trigger_ms_p50": statistics.median(trig) if trig else None,
            "microbatch.trigger_ms_p95": benchlib.tail(trig, 0.95),
            "microbatch.planning_ms": dur("queryPlanning"),
            "microbatch.wal_commit_ms": dur("walCommit"),
            "microbatch.commit_offsets_ms": dur("commitOffsets"),
            "Pipeline.state_rows": max((op["numRowsTotal"] for op in ops), default=0),
            "Pipeline.state_mem_bytes": max((op["memoryUsedBytes"] for op in ops), default=0),
            "Pipeline.state_commit_ms": sum(op.get("commitTimeMs", 0) for op in ops),
            "Pipeline.state_update_ms": sum(op.get("allUpdatesTimeMs", 0) for op in ops),
            "Pipeline.state_removal_ms": sum(op.get("allRemovalsTimeMs", 0) for op in ops),
            "Pipeline.rows_dropped_late": sum(op.get("numRowsDroppedByWatermark", 0) for op in ops),
            "ExactlyOnceSink.call_ms_p50": statistics.median(call_ms) if call_ms else None,
            "ExactlyOnceSink.call_ms_p95": benchlib.tail(call_ms, 0.95),
            "ExactlyOnceSink.write_ms": write_ms,
            "ExactlyOnceSink.protocol_ms": sum(call_ms) - write_ms,
            "ExactlyOnceSink.committed": len(ids),
            "ExactlyOnceSink.replays_skipped": sum(1 for x in s["calls"] if x["skipped"]),
            "ExactlyOnceSink.stale_stagings": stale,
            "ExactlyOnceSink.files": files,
            "ExactlyOnceSink.bytes": size,
            "generator.late_ms_max": max(f["published"] - f["due"] for f in s["files"]),
            "Caches.registered": 0,
        })
    else:
        n = len(raw["passes"])
        m["Caches.registered"] = statistics.mean(p["caches_registered"] for p in raw["passes"])
        m["queries.construct_ms"] = sum(x["end"] - x["start"] for x in spans
                                        if x["kind"] == "construct") / n
        for k in ("Sources.input_rows", "microbatch.batches", "Pipeline.state_rows",
                  "Pipeline.state_mem_bytes", "Pipeline.rows_dropped_late",
                  "ExactlyOnceSink.committed", "ExactlyOnceSink.replays_skipped",
                  "ExactlyOnceSink.stale_stagings", "ExactlyOnceSink.files",
                  "ExactlyOnceSink.bytes"):
            m[k] = 0
    for k in ("queries.construct_jobs", "plan.analysis_ms", "plan.optimize_ms",
              "plan.physical_ms", "plan.exchanges", "sched.jobs", "sched.stages",
              "sched.tasks", "sched.delay_ms", "exec.run_ms", "exec.cpu_ms",
              "exec.gc_ms", "shuffle.write_bytes", "shuffle.read_bytes",
              "shuffle.fetch_wait_ms", "shuffle.spill_bytes"):
        m[k] = c.get(k, 0.0) / n
    if workload == "stream":
        m["queries.construct_ms"] = c.get("queries.construct_ms", 0.0)
    m["sched.serial_stage_frac"] = (c.get("sched.serial_stages", 0.0) /
                                    c["sched.stages"] if c.get("sched.stages") else 0.0)
    self_ms = benchlib.self_times(spans)
    top = sum(x["end"] - x["start"] for x in spans if not x["parent"])
    return m, self_ms, top / n, spans


# ---- main -----------------------------------------------------------------

def git_sha():
    try:
        return subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def untraced_medians(results_dir, workload, digest, seconds):
    """Medians of the untraced runs of the same sources and run length."""
    vals = {}
    for f in glob.glob(os.path.join(results_dir, workload, "*-t0.json")):
        with open(f) as fh:
            r = json.load(fh)
        if r.get("correct") and r["source_digest"] == digest and r["seconds"] == seconds:
            for k, v in r["metrics"].items():
                vals.setdefault(k, []).append(v["value"])
    return {k: statistics.median(v) for k, v in vals.items()}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SCALE))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--results", default=os.path.join(WORK, "results"))
    args = ap.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"no graft source tree at {ROOT}: run from the root of a graft checkout", 2)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    started = time.time()
    load_before = os.getloadavg()
    expected = None if args.workload == "stream" else panel()[f"sf{SCALE[args.workload]}"]
    raw, run_dir, rows_per_file, digest = harness(args.workload, args.seed, args.seconds,
                                                  args.trace, expected)

    if args.workload == "stream":
        e2e, attempted, failed, info = stream_metrics(raw, rows_per_file, run_dir)
    else:
        e2e, attempted, failed, info = board_metrics(raw, expected, args.workload)
    e2e["setup_s"] = raw["setup_s"]
    info["heap_peak_mb"] = max(raw["heap_mb"])
    e2e["ok_frac"] = (attempted - failed) / attempted
    e2e_units = [(m["name"], m["unit"]) for m in spec["end_to_end"]]
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "env": dict(raw["env"], heap_flag=HEAP),
        "git_sha": git_sha(), "source_digest": digest,
        "loadavg_before": load_before, "loadavg_after": os.getloadavg(),
        "wall_s": time.time() - started, "info": info,
        "raw": {k: v for k, v in raw.items() if k != "trace"},
        "metrics": {n: {"value": e2e[n], "unit": u} for n, u in e2e_units
                    if e2e.get(n) is not None},
    }
    values, units = e2e, e2e_units
    if args.trace:
        layers, self_ms, top_ms, spans = layer_metrics(raw, args.workload, run_dir)
        values, units = layers, [(m["name"], m["unit"]) for m in spec["per_layer"]]
        print(f"per-layer metrics ({args.workload}, traced):")
        for k in sorted(layers):
            print(f"  {k:36s} {layers[k]}")
        print("self time per span kind (ms per board pass or per stream run;"
              " sums to the top-level spans):")
        per = 1 if args.workload == "stream" else len(raw["passes"])
        for k, v in sorted(self_ms.items(), key=lambda kv: -kv[1]):
            print(f"  {k:14s} {v / per:12.1f}")
        print(f"  {'total':14s} {sum(self_ms.values()) / per:12.1f}"
              f"   top-level spans {top_ms:.1f}")
        base = untraced_medians(args.results, args.workload, digest, args.seconds)
        over = {k: e2e[k] - base[k] for k in ("elapsed_s", "latency_ms") if k in base}
        print(f"tracing overhead vs untraced median of this workload: "
              f"{over if over else 'n/a (no untraced run recorded)'}")
        record.update(layers=layers, self_ms=self_ms, tracing_overhead=over)
    missing = [n for n, _ in units if values.get(n) is None]
    if missing:
        failed += 1
        log(f"metrics not measured: {missing}")
    correct = failed == 0
    metrics = {n: {"value": values[n], "unit": u} for n, u in units if n not in missing}
    record.update(correct=correct, attempted=attempted, failed=failed,
                  failed_frac=failed / attempted)

    print(f"workload {args.workload} seed {args.seed}: attempted {attempted} failed {failed}"
          f" (failed_frac {failed / attempted:.4f}) -> {'CORRECT' if correct else 'INCORRECT'}")
    for k, v in info.items():
        if k not in ("latency_hist_50ms",):
            print(f"  {k}: {v}")
    for n, u in e2e_units:
        print(f"  {n:18s} {e2e.get(n)} {u}")

    stamp = datetime.datetime.utcnow().strftime("%Y%m%dT%H%M%S")
    res_dir = os.path.join(args.results, args.workload)
    os.makedirs(res_dir, exist_ok=True)
    base = os.path.join(res_dir, f"{stamp}-{os.getpid()}-s{args.seed}-t{args.trace}")
    with open(base + ".json", "w") as f:
        json.dump(record, f)
    if args.trace:
        with open(base + ".spans.json", "w") as f:
            json.dump(spans, f)
    if correct:
        shutil.rmtree(run_dir, ignore_errors=True)
    else:
        log(f"run directory kept for inspection: {run_dir}")
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
