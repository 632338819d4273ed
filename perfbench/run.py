#!/usr/bin/env python3
"""Loader and lane benchmark for elricrsspark.

Run from the root of a checkout:

    python3 perfbench/run.py --workload grpc_head --seed 1 --seconds 15 --trace 0

Builds the program and the benchmark's own Scala sources with scalac into
.bench_build/, runs one workload in one JVM, checks every output, and prints
the metrics; the last line of standard output is one JSON object. See
perfbench/README.md for the workloads and metrics.
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

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import benchlib as bl  # noqa: E402

SPARK_JARS = "/opt/spark/jars"
SF_DIR = "/root/testdata/sf0.1"
BUILD = ".bench_build"
RUN_LIMIT_S = 170
WORKLOADS = ("grpc_head", "lanes_hot")
# JVM flags of tools/run_bench.sh, with a 4 GB heap.
ADD_OPENS = [f"java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]

LANE_GROUPS = ("dedup", "graph", "window", "train_pack")
PHASES = ("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")


def java_env():
    """No hsperfdata files under /tmp, for this JVM and the keytool JVMs the
    TLS fixture starts."""
    opts = os.environ.get("JAVA_TOOL_OPTIONS", "")
    return dict(os.environ, JAVA_TOOL_OPTIONS=(opts + " -XX:-UsePerfData").strip())


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources(root):
    main = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "scala/*.scala")))
    res = sorted(p for p in glob.glob(os.path.join(root, "src/main/resources/**/*"), recursive=True)
                 if os.path.isfile(p))
    return main, bench, res


def build(root):
    """Compile the program and the benchmark together; reuse the classes
    while no source changed."""
    main, bench, res = sources(root)
    if not main:
        die("no program sources under src/main/scala; run from a checkout root")
    h = hashlib.sha256()
    for p in main + bench + res:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    out = os.path.join(root, BUILD, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, ".complete")):
        return out
    for old in glob.glob(os.path.join(root, BUILD, "classes-*")):
        shutil.rmtree(old, ignore_errors=True)
    tmp = out + ".tmp"
    os.makedirs(tmp)
    argfile = os.path.join(root, BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(main + bench) + "\n")
    t0 = time.time()
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", f"{SPARK_JARS}/*", "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", tmp, "@" + argfile]
    # cwd: scalac puts "." on its class path, so run it in the empty output dir
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, timeout=800, cwd=tmp,
                       env=java_env())
    if r.returncode != 0:
        sys.stderr.write(r.stdout.decode(errors="replace")[-4000:])
        die("scalac failed")
    for p in res:
        dst = os.path.join(tmp, os.path.relpath(p, os.path.join(root, "src/main/resources")))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(p, dst)
    open(os.path.join(tmp, ".complete"), "w").close()
    os.rename(tmp, out)
    print(f"built {len(main)} program + {len(bench)} benchmark sources in {time.time() - t0:.1f} s")
    return out


def loadavg():
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def lanes():
    with open(os.path.join(HERE, "lanes.txt")) as f:
        return [l.strip() for l in f if l.strip() and not l.startswith("#")]


def run_jvm(root, classes, args, work):
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", p)] + [
        "-Xmx4g", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "-cp", f"{classes}:{SPARK_JARS}/*", "perfbench.Main",
        args.workload, str(args.seed), str(args.seconds), str(args.trace), work, SF_DIR,
        ",".join(lanes())]
    log = open(os.path.join(work, "jvm.log"), "wb")
    p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=root, env=java_env())
    try:
        code = p.wait(timeout=RUN_LIMIT_S)
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        code = None
    finally:
        log.close()
    return code


def oracle_check(work, raw):
    """Every lane's Spark output against its DuckDB oracle SQL."""
    import duckdb
    import pandas as pd

    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in ("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
              "events", "documents", "embeddings"):
        p = os.path.join(SF_DIR, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    fails = []
    for name, sql in sorted(raw["oracle_sql"].items()):
        files = sorted(glob.glob(os.path.join(work, "lanes", name, "*.parquet")))
        if not files:
            fails.append(f"{name}: no Spark output")
            continue
        got = pd.concat([pd.read_parquet(f) for f in files])
        if sql is None:
            fails.append(f"{name}: no oracle SQL")
            continue
        want = con.execute(sql).fetchdf()
        fails += [f"{name}: {m}" for m in bl.compare_frames(got, want)]
    return fails


def loader_metrics(raw, m):
    b = raw["batches"]
    trig = [x["dur"]["triggerExecution"] for x in b]
    secs = bl.window(b)
    m["pass_s"] = (secs, "s")
    m["batch_ms_p50"] = (bl.percentile(trig, 50), "ms")
    prev = raw["skipped"][-1]["acked_rows"] if raw["skipped"] else 0
    m["blocks_per_s"] = (bl.rate(sum(x["input_rows"] for x in b), secs), "1/s")
    m["rows_per_s"] = (bl.rate(b[-1]["acked_rows"] - prev, secs), "1/s")


def lane_metrics(raw, m):
    passes = raw["passes"]
    m["pass_s"] = (bl.median([p["pass_s"] for p in passes]), "s")
    m["batch_ms_p50"] = (bl.percentile([t * 1000 for p in passes for t in p["lanes"].values()], 50), "ms")


def mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def layer_metrics(raw, e2e, fails, box, spans):
    """Every per-layer metric; 0 where the workload does not run the layer."""
    m = {}
    loader = "batches" in raw
    tb = raw.get("traced_batches") or []
    jobs = raw.get("traced_jobs") or []
    probes = raw.get("probes", {})
    # streaming
    m["streaming.plan_ms"] = (mean([x["dur"].get("queryPlanning", 0) for x in tb]), "ms")
    m["streaming.log_ms"] = (mean([x["dur"].get("walCommit", 0) + x["dur"].get("commitOffsets", 0)
                                   for x in tb]), "ms")
    m["streaming.add_batch_ms"] = (mean([x["dur"].get("addBatch", 0) for x in tb]), "ms")
    m["streaming.unattributed_ms"] = (mean([x["dur"]["triggerExecution"] - sum(
        x["dur"].get(p, 0) for p in PHASES) for x in tb]), "ms")
    for k in ("jobs", "stages", "tasks"):
        m[f"streaming.{k}_per_batch"] = (mean([j[k] for j in jobs]), "count")
    m["streaming.restart_ms"] = (float(raw.get("restart_ms", 0)), "ms")
    l1 = raw.get("local1_batches")
    m["streaming.local1_batch_ms_p50"] = (
        bl.percentile([x["dur"]["triggerExecution"] for x in l1], 50) if l1 else 0.0, "ms")
    m["blocks_per_s"] = e2e.get("blocks_per_s", (0.0, "1/s"))
    m["rows_per_s"] = e2e.get("rows_per_s", (0.0, "1/s"))
    # state
    st = [x["state"] for x in tb if x["state"]]
    m["state.commit_ms"] = (mean([s["commitTimeMs"] for s in st]), "ms")
    m["state.update_ms"] = (mean([s["allUpdatesTimeMs"] for s in st]), "ms")
    m["state.partitions"] = (mean([s["numStateStoreInstances"] for s in st]), "count")
    m["state.memory_bytes"] = (mean([s["memoryUsedBytes"] for s in st]), "bytes")
    m["state.step_ns_per_msg"] = (probes.get("state.step_ns_per_msg", 0.0), "ns")
    # sources
    trig = raw.get("all_triggers", 0)
    srv = raw.get("server")
    m["sources.connects_per_batch"] = (srv["accepts"] / trig if srv else 0.0, "count")
    m["sources.calls_per_batch"] = (srv["calls"] / trig if srv else 0.0, "count")
    m["sources.reconnects"] = (float(srv["accepts"] - 4 * trig) if srv else 0.0, "count")
    seqs = raw.get("seqs")
    m["sources.serves_per_msg"] = (seqs["served_total"] / seqs["count"] if seqs else 0.0, "ratio")
    m["sources.read_ms_per_kmsg"] = (probes.get("sources.read_ms_per_kmsg", 0.0), "ms")
    m["sources.decode_ns_per_msg"] = (probes.get("sources.decode_ns_per_msg", 0.0), "ns")
    m["sources.wire_bytes_per_msg"] = (probes.get("sources.wire_bytes_per_msg", 0.0), "bytes")
    # pipeline / sink
    m["pipeline.route_cast_ms_per_krow"] = (probes.get("pipeline.route_cast_ms_per_krow", 0.0), "ms")
    m["sink.encode_ns_per_row"] = (probes.get("sink.encode_ns_per_row", 0.0), "ns")
    m["sink.lz4_ns_per_kib"] = (probes.get("sink.lz4_ns_per_kib", 0.0), "ns")
    m["sink.compress_ratio"] = (probes.get("sink.compress_ratio", 0.0), "ratio")
    m["sink.insert_ms_per_krow"] = (probes.get("sink.insert_ms_per_krow", 0.0), "ms")
    m["sink.cursor_ms"] = (probes.get("sink.cursor_ms", 0.0), "ms")
    m["sink.load_cursor_ms"] = (float(raw.get("load_cursor_ms", 0.0)), "ms")
    fx = raw.get("fixture")
    m["sink.inserts_per_batch"] = (fx["insert_requests"] / trig if fx else 0.0, "count")
    m["sink.http_errors"] = (float(fx["bad_requests"] + fx["auth_failures"]) if fx else 0.0, "count")
    # lanes
    tp = raw.get("traced_pass")
    for g in LANE_GROUPS + ("other",):
        m[f"lanes.{g}_s"] = (sum(s for n, s in (tp or {}).get("lanes", {}).items()
                                 if (n.startswith(g + "_") if g != "other"
                                     else not n.startswith(tuple(x + "_" for x in LANE_GROUPS)))), "s")
    lc = list((raw.get("traced_lane_counters") or {}).values())
    m["lanes.jobs"] = (sum(c["jobs"] for c in lc), "count")
    m["lanes.tasks"] = (sum(c["tasks"] for c in lc), "count")
    m["lanes.shuffle_mb"] = (sum(c["shuffle_bytes"] for c in lc) / 2 ** 20, "MB")
    m["lanes.spill_mb"] = (sum(c["spill_bytes"] for c in lc) / 2 ** 20, "MB")
    m["lanes.one_task_stages"] = (sum(c["one_task_stages"] for c in lc), "count")
    # whole run
    m["peak_heap_mb"] = (raw["peak_heap_bytes"] / 2 ** 20, "MB")
    m["warmup_s"] = (float(raw.get("warmup_s", 0.0)), "s")
    m["error_rate"] = (fails[1] / fails[0], "ratio")
    m["box.nproc"] = (float(box["nproc"]), "count")
    m["box.loadavg_before"] = (box["loadavg_before"], "load")
    m["box.loadavg_after"] = (box["loadavg_after"], "load")
    m["box.calib_probe_s"] = (box["calib_probe_s"], "s")
    # tracing: self time per unit of work, and traced minus untraced
    tot, _ = bl.self_by_name(spans)
    units = len(tb) if loader else 1
    for name in ("trigger",) + PHASES + ("job", "pass", "lane"):
        m[f"trace.self_ms.{name}"] = (tot.get(name, 0.0) / max(units, 1), "ms")
    if loader and tb:
        m["trace.overhead_batch_ms_p50"] = (
            bl.percentile([x["dur"]["triggerExecution"] for x in tb], 50) - e2e["batch_ms_p50"][0], "ms")
        m["trace.overhead_pass_s"] = (bl.window(tb) - e2e["pass_s"][0], "s")
    elif tp:
        m["trace.overhead_batch_ms_p50"] = (0.0, "ms")
        m["trace.overhead_pass_s"] = (tp["pass_s"] - e2e["pass_s"][0], "s")
    else:
        m["trace.overhead_batch_ms_p50"] = (0.0, "ms")
        m["trace.overhead_pass_s"] = (0.0, "s")
    return m


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    root = os.getcwd()
    t_start = time.time()
    classes = build(root)

    work = os.path.join(root, BUILD, "work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    load_before = loadavg()
    code = run_jvm(root, classes, args, work)
    load_after = loadavg()
    raw_path = os.path.join(work, "raw.json")
    if code != 0 or not os.path.exists(raw_path):
        with open(os.path.join(work, "jvm.log"), errors="replace") as f:
            sys.stderr.write("".join(l for l in f.readlines()[-40:]))
        die(f"the benchmark JVM {'timed out' if code is None else f'exited with {code}'}", 1)
    with open(raw_path) as f:
        raw = json.load(f)
    spans = []
    if args.trace:
        with open(os.path.join(work, "spans.json")) as f:
            spans = json.load(f)

    # output checks, outside any timed region
    if args.workload == "lanes_hot":
        fails = oracle_check(work, raw)
        # the output pass, 2 warm-up passes, the timed and the traced passes
        attempted = len(raw["oracle_sql"]) * (3 + len(raw["passes"]) + (1 if args.trace else 0))
        failed_ops = raw["lane_failures"] + len(fails)
    else:
        fails = bl.check_loader(os.path.join(work, "check"), ["blocks"], raw["cursor"],
                                raw["kills"], raw["seqs"])
        attempted = raw["all_triggers"] + raw["fixture"]["insert_requests"]
        failed_ops = raw["fixture"]["bad_requests"] + raw["fixture"]["auth_failures"] + len(fails)
    for msg in fails:
        print(f"CHECK FAILED {args.workload}: {msg}")

    e2e = {}
    (lane_metrics if args.workload == "lanes_hot" else loader_metrics)(raw, e2e)
    setup = raw["session_build_s"] + bl.median(raw["standup_s"])
    metrics = {"setup_s": (setup, "s"), "pass_s": e2e["pass_s"],
               "batch_ms_p50": e2e["batch_ms_p50"]}
    box = dict(raw["box"], loadavg_before=load_before[0], loadavg_after=load_after[0])
    if args.trace:
        metrics = layer_metrics(raw, e2e, (attempted, failed_ops), box, spans)
        tot, cnt = bl.self_by_name(spans)
        print(f"traced {args.workload}: self time by span (total ms / spans)")
        for name in sorted(tot, key=lambda k: -tot[k]):
            print(f"  {name:32s} {tot[name]:12.1f} ms  {cnt[name]:6d}")
    for k, (v, u) in metrics.items():
        print(f"{args.workload} {k} = {v:.6g} {u}")
    print(f"{args.workload} box: nproc {box['nproc']}, loadavg {load_before} -> {load_after}, "
          f"calibration probe {box['calib_probe_s']:.3f} s, JVM {box['jvm']}, Spark {box['spark']}, "
          f"wall {time.time() - t_start:.1f} s")
    result = {"correct": not fails and failed_ops == 0, "attempted": int(attempted),
              "failed": int(failed_ops),
              "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()}}
    print(json.dumps(result))
    sys.exit(0 if result["correct"] else 1)


if __name__ == "__main__":
    main()
