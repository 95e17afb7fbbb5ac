#!/usr/bin/env python3
"""Materialized end-to-end benchmark of the engine.

Usage (from the repository root):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads:
  propgraph_session  seeded property-graph session: threat-intel ingests,
                     updates and cascade deletes between Mongo-filter
                     searches, neighbor, k-hop and ego-graph reads, with a
                     snapshot save + reload every few writes
  query_sample       a few keys of every query module (QueriesGraphX
                     centrality, QueriesGraph analytics, QueriesLlm,
                     QueriesRelational, QueriesWindows), in a seed-permuted
                     order

One run builds the engine from source when the tree changed, generates the
input tables, then starts one JVM at local[nproc] with a fresh, empty
java.io.tmpdir (so every derived-cache build lands in the set-up time). A
single client thread times each op up to the full materialization of its
result with write.format("noop"). Outputs are checked after the timed
phase: query rows against the DuckDB oracle, property-graph reads against
the reference model in propgraph.py.

With --trace 0 the last stdout line carries the end-to-end metrics; with
--trace 1 it carries the per-layer metrics of a traced phase that follows
an untraced one in the same JVM. The line before it is the per-op detail.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build       # noqa: E402
import gen_data    # noqa: E402
import propgraph   # noqa: E402

SF = 0.01
WORKLOADS = ("propgraph_session", "query_sample")
# The op stream holds enough whole cycles for this many ops per second of
# --seconds, about 50 times the session's rate at this commit. The harness
# fails the run if a phase uses the stream up before its clock stops.
MAX_OPS_PER_S = 20
# The benchmark JVM is killed after its set-up allowance plus, per timed
# phase, three times --seconds but at least PHASE_ALLOWANCE_S: an op that
# starts just before the clock stops finishes its cycle or pass.
JVM_SETUP_ALLOWANCE_S = 90
PHASE_ALLOWANCE_S = 40
# A fixed heap (-Xms = -Xmx) keeps peak RSS comparable across hosts and
# runs: without it the heap grows with GC timing, and peak RSS spread by
# 18% between seeds. The whole heap then ends up touched, so peak RSS is
# about the heap plus native memory. The sf0.01 inputs need well under half
# of the heap.
XMX = "2g"
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
# query_sample: a few keys of each query module, chosen so that every
# layer the inventory exercises runs in the timed pass while one pass stays
# near 10 s on 4 cores. The other keys are left out for the time budget.
QUERY_SAMPLE = [
    # superstep centrality plan of ops.GraphAnalytics
    "QueriesGraphX.graph_pagerank",
    # analytics keys of QueriesGraph; adamic_adar reads the warmed postings
    "QueriesGraph.graph_assortativity", "QueriesGraph.graph_adamic_adar",
    # ops.llm: shingle hashing with the `functions` kernels, and IVF
    # similarity over the warmed index
    "QueriesLlm.dedup_ngram_jaccard", "QueriesLlm.similarity_ivf",
    # AsOf, Sketches (HLL), Incremental and Scd2
    "QueriesRelational.asof_join", "QueriesRelational.sketch_hll_replay",
    "QueriesRelational.incremental_agg", "QueriesRelational.scd2_upsert",
    # ops.Windows and an unpartitioned window
    "QueriesWindows.tumbling_window", "QueriesWindows.watermark_audit",
]
SETUP_LAYERS = ["spark.session_start_s", "warm_pass_s", "model.Tables.warm_s",
                "model.DerivedGraph.warm_s", "ops.GraphAnalytics.warm_s",
                "ops.llm.Similarity.warm_s", "QueriesGraph.warmPostings_s"]


def load_manifest():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def loadavg():
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def source_commit():
    try:
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                           text=True, timeout=10)
        if r.returncode == 0:
            return r.stdout.strip()
    except OSError:
        pass
    return None


def dir_bytes(p):
    return sum(os.path.getsize(f) for f in glob.glob(os.path.join(p, "**"), recursive=True)
               if os.path.isfile(f) and not os.path.islink(f))


def dataset():
    """The generated input tables, made once per generator version."""
    with open(os.path.join(HERE, "gen_data.py"), "rb") as f:
        tag = hashlib.sha256(f.read()).hexdigest()[:12]
    d = os.path.join(HERE, "_work", f"data-sf{SF}-{tag}")
    if not os.path.exists(os.path.join(d, ".done")):
        shutil.rmtree(d, ignore_errors=True)
        gen_data.main(d, SF)
        open(os.path.join(d, ".done"), "w").close()
    return d


def stream_ops(seconds):
    """Length of the propgraph_session op stream for --seconds."""
    cycle = len(propgraph.CYCLE)
    return cycle * max(1, math.ceil(seconds * MAX_OPS_PER_S / cycle))


def prepare(workload, seed, seconds, work):
    """Write the seeded inputs of one run into its work dir."""
    if workload == "query_sample":
        order = list(QUERY_SAMPLE)
        random.Random(seed).shuffle(order)
        with open(os.path.join(work, "order.json"), "w") as f:
            json.dump(order, f)
        return {"order": order}
    base, ops = propgraph.make(seed, stream_ops(seconds))
    with open(os.path.join(work, "stream.json"), "w") as f:
        json.dump({"base": base, "ops": ops, "cycle": len(propgraph.CYCLE)}, f)
    return {"base": base, "ops": ops}


def run_jvm(classes, workload, seconds, trace, data, work, cpus):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    jars = os.path.join(build.spark_jars(), "*")
    cmd = ["java"] + [a for p in ADD_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    cmd += [f"-Xms{XMX}", f"-Xmx{XMX}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}", "-Duser.timezone=UTC",
            "-cp", f"{classes}:{jars}", "perfbench.Harness",
            "--workload", workload, "--seconds", str(seconds), "--trace", str(trace),
            "--data", data, "--work", work, "--cpus", str(cpus)]
    # few malloc arenas: native memory, and so peak RSS, varies less with
    # thread scheduling
    env = dict(os.environ, MALLOC_ARENA_MAX="2")
    with open(os.path.join(work, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work, env=env)
        try:
            phases = 3 if trace else 1
            rc = p.wait(timeout=JVM_SETUP_ALLOWANCE_S +
                        phases * max(3 * seconds, PHASE_ALLOWANCE_S))
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()
    if rc != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"benchmark JVM failed: {rc}")
    with open(os.path.join(work, "result.json")) as f:
        return json.load(f)


# ---------------------------------------------------------------- checks

def check_queries(result, data, work):
    """Per key: the warm pass's rows against the DuckDB oracle, compared as
    tools/compare_oracle.py canonicalizes them. Returns {key: reason} for
    every key that does not match."""
    import duckdb
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    from compare_oracle import canon, TABLES
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    oracle = result["extra"]["oracle_sql"]
    bad = {}
    for key in result["extra"]["keys"]:
        if key not in oracle:
            bad[key] = "no oracle"
            continue
        try:
            sp = con.sql(f"SELECT * FROM '{work}/out/{key}.parquet/*.parquet'")
            got = canon(sp.fetchall(), [d[0] for d in sp.description])
            if hashlib.sha256(json.dumps(got).encode()).hexdigest() != \
                    oracle_digest(con, oracle[key], data, canon):
                bad[key] = "oracle mismatch"
        except Exception as e:  # an unreadable output is a failed check
            bad[key] = f"check error: {str(e).splitlines()[0]}"
    return bad


def oracle_digest(con, sql, data, canon):
    """Digest of the oracle's canonical rows; the oracle depends only on the
    SQL and the generated tables, so it is computed once per pair."""
    tag = hashlib.sha256((sql + "\0" + os.path.basename(data)).encode()).hexdigest()[:24]
    path = os.path.join(HERE, "_work", "oracle", tag)
    if not os.path.exists(path):
        du = con.sql(sql)
        rows = canon(du.fetchall(), [d[0] for d in du.description])
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path + ".tmp", "w") as f:
            f.write(hashlib.sha256(json.dumps(rows).encode()).hexdigest())
        os.replace(path + ".tmp", path)
    with open(path) as f:
        return f.read()


def _canon_read(kind, r):
    if kind == "search":
        return sorted(r)
    if kind == "neighbors":
        return sorted(r)
    if kind == "khop":
        return {"ids": r["ids"], "vertices": sorted(r["vertices"])}
    return {"vertices": sorted(r["vertices"]), "edges": sorted(r["edges"])}


def check_propgraph(result, inputs):
    """Replay the reference model over the ops the JVM ran; every read must
    match it and every delete/reload must leave no dangling edge."""
    ops = result["ops"]
    # a traced run replays the same ops twice, from the same start state
    ran = inputs["ops"][:max(r["i"] for r in ops) + 1]
    want = dict(propgraph.expected(inputs["base"], ran))
    bad = {}
    for r in ops:
        i = r["i"]
        if not r["ok"] or r["phase"] == "untraced_after":
            continue
        if i in want:
            norm = lambda x: json.loads(json.dumps(x))  # noqa: E731 (tuples -> lists)
            if _canon_read(r["op"], r["result"]) != norm(_canon_read(r["op"], want[i])):
                bad[i] = f"{r['op']} differs from the reference model"
        elif r["op"] in ("delete", "snapshot") and r["result"]["dangling"] != 0:
            bad[i] = f"cascade invariant: {r['result']['dangling']} dangling edges"
    end = result["extra"].get("cascade_at_end") or {}
    return bad, end.get("dangling", 0)


# ---------------------------------------------------------------- metrics

def tail(xs):
    """Highest percentile with at least 10 samples beyond it: the sample
    that has exactly 10 larger ones. Below 21 samples that sample would lie
    under the median, so the tail is the maximum instead. Returns
    (value, percentile)."""
    s = sorted(xs)
    k = len(s) - 11 if len(s) >= 21 else len(s) - 1
    return s[k], 100.0 * (k + 1) / len(s)


def key_medians(ops):
    """query_sample latencies: each key's median over the run's passes. A
    key's single run varies by 10-30% between runs; the median of its
    passes steadies the percentiles taken over the keys."""
    by_key = {}
    for o in ops:
        by_key.setdefault(o["op"], []).append(o["s"])
    return [statistics.median(xs) for xs in by_key.values()]


def end_to_end(result, ok_lat, ops, failed, stored, input_bytes):
    setup_s = sum(result["setup"].values())
    lat = [o["s"] for o in ops]
    m = {
        "setup_s": (setup_s, "s"),
        "ops_per_s": (len(ops) / sum(lat), "1/s"),
        "latency_p50_s": (statistics.median(ok_lat), "s"),
        "latency_tail_s": (tail(ok_lat)[0], "s"),
        "ok_ratio": (1.0 - failed / len(ops), "ratio"),
        "peak_rss_mb": (result["vmhwm_kb"] / 1024.0, "MB"),
        "stored_bytes_per_input_byte": (stored / input_bytes, "ratio"),
    }
    return m


def read_write_split(ops):
    """p50 and tail latency of the session's reads and writes."""
    out = {}
    for cls in ("read", "write"):
        xs = [o["s"] for o in ops if o["class"] == cls and o["ok_checked"]]
        if xs:
            out[f"propgraph.{cls}_p50_s"] = statistics.median(xs)
            out[f"propgraph.{cls}_tail_s"] = tail(xs)[0]
    return out


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("selftest_plan",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    # a terminated run still stops its JVM and removes its run directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isdir(os.path.join(ROOT, "src/main/scala/graft")):
        raise SystemExit("engine sources not found: run from a full checkout")
    manifest = load_manifest()
    load0 = loadavg()
    classes = build.build(ROOT)
    data = dataset()
    cpus = os.cpu_count() or 1
    work = os.path.join(HERE, "_work", "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        inputs = prepare(a.workload, a.seed, a.seconds, work)
        result = run_jvm(classes, a.workload, a.seconds, a.trace, data, work, cpus)
        if a.workload == "selftest_plan":
            print(json.dumps(result["ops"][0]["result"]))
            return 0
        ops = result["ops"]
        if a.workload == "query_sample":
            bad_keys = check_queries(result, data, work)
            bad_ops = {o["i"]: bad_keys[o["op"]] for o in ops if o["op"] in bad_keys}
            input_bytes = dir_bytes(data)
            cascade = 0
        else:
            bad_ops, cascade = check_propgraph(result, inputs)
            input_bytes = result["extra"]["user_bytes"]
        caches = glob.glob(os.path.join(work, "tmp", "graft_cache_*"))
        stored = sum(map(dir_bytes, caches)) + dir_bytes(os.path.join(work, "snapshots"))
        for o in ops:
            o["ok_checked"] = o["ok"] and o["i"] not in bad_ops
            if o["ok"] and o["i"] in bad_ops:
                o["error"] = bad_ops[o["i"]]
        failed = sum(1 for o in ops if not o["ok_checked"])
        ok_lat = [o["s"] for o in ops if o["ok_checked"]] or [o["s"] for o in ops]
        if a.workload == "query_sample":
            ok_lat = key_medians([o for o in ops if o["ok_checked"]] or ops)
        detail = {
            "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
            "nproc": cpus, "xmx": XMX, "commit": source_commit(), "sf": SF,
            "source_sha256": os.path.basename(classes).split("-", 1)[1],
            "loadavg_start": load0, "loadavg_end": loadavg(),
            "setup": result["setup"],
            "tail_percentile": tail(ok_lat)[1], "tail_samples": len(ok_lat),
            "failed_ops": [f"{o['i']}:{o['op']}: {o['error']}" for o in ops if not o["ok_checked"]],
            "cascade_dangling_at_end": cascade,
            "ops": [{k: o[k] for k in ("i", "op", "group", "class", "phase", "s",
                                       "construct_s", "ok_checked", "plan_nodes")} for o in ops],
        }
        if a.trace:
            layers = result["layers"]
            detail["layers"] = layers
            detail["unlabelled_jobs"] = result["unlabelled_jobs"]
            def rate(phase):
                xs = [o["s"] for o in ops if o["phase"] == phase]
                return len(xs) / sum(xs)
            # an upper bound: JIT warming left after the first phase counts
            # against tracing
            overhead = rate("untraced_after") / rate("traced") - 1.0
            detail["trace_overhead_on_ops_per_s"] = overhead
            values = dict(layers["totals"])
            values.update({k: v for k, v in result["setup"].items() if k in SETUP_LAYERS})
            values["perfbench.trace_overhead"] = overhead
            if a.workload == "propgraph_session":
                values.update(read_write_split([o for o in ops if o["phase"] == "traced"]))
            values["model.CacheDirs.bytes"] = sum(map(dir_bytes, caches))
            # an entry is a directory; its .fp marker and lock files are not
            values["model.CacheDirs.entries"] = sum(
                1 for c in caches for k in os.listdir(c)
                for e in os.listdir(os.path.join(c, k)) if os.path.isdir(os.path.join(c, k, e)))
            # `<module>.<counter>`: a Spark-boundary counter summed over one
            # query module or one PropertyGraph method
            for g, counters in layers["by_group"].items():
                values.update({f"{g}.{k}": v for k, v in counters.items()
                               if f"{g}.{k}" not in values})
            metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
                       for m in manifest["per_layer"]}
        else:
            e2e = end_to_end(result, ok_lat, ops, failed, stored, input_bytes)
            metrics = {m["name"]: {"value": e2e[m["name"]][0], "unit": m["unit"]}
                       for m in manifest["end_to_end"] if m["name"] in e2e}
        print(json.dumps(detail, sort_keys=True))
        print(json.dumps({"correct": failed == 0 and cascade == 0, "attempted": len(ops),
                          "failed": failed, "metrics": metrics}))
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
