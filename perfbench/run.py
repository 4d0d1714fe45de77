#!/usr/bin/env python3
"""graft benchmark: two closed-loop workloads, one client, one JVM each.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace 0|1

Run from the repository root.  The first run in a checkout builds the
engine and the harness from source (sbt, in ``perfbench/``); later runs
reuse the build while the sources are unchanged.  Inputs are generated
from ``--seed`` and the repository's reference data (``gen.py``); the
engine receives only the input files, and is reached only through its
public entry points.  Each run does a fixed amount of work, the same for
every seed and every engine revision.  ``--seconds`` is accepted for the
runner's interface and not used: a time-bounded loop would let a faster
engine do more work per run, and that would read as another workload.

Workloads (sizes in WORKLOADS below):

* ``surface`` -- every STRIDE-th declared query of each registry in
  declared order, full output via ``Bench.materialize``: a warm-up pass
  on the repository's sf0.001 test tables, then PASSES measured passes,
  each over its own copy of the sf0.01 test tables.  Checked: each
  query's row count equals the DuckDB oracle's on the same tables.
* ``corpus`` -- batch side, then serving side, over one salted
  N-replica corpus: ``Jobs.curateCorpus(gopher = true)`` then
  ``Jobs.prepareTrainingData`` on its output (cold, as the Jobs CLI runs
  once per JVM); ``Index.writeInverted`` (sharded postings); a warm
  closed-loop session of TOPICS topics through ``Index.scoreFromInverted``
  (k = 1000, LM-Dirichlet and BM25 alternating, shaped like the
  repository's WT2010 reference topics); the same topics in one
  sequential-scan pass (``Retrieval.scoreFor``).
  Checked: both funnels non-increasing, examples > 0, shard and example
  counts match the report; each topic's index top-k equals its scan
  top-k.

End-to-end metrics (``--trace 0``) carry the same names on both
workloads; END_TO_END says what each means where.  A failed or wrong op
counts in ``failed`` and as a miss in the latency percentiles.  With
``--trace 1`` the run registers a Spark listener and records spans around
every engine call, and prints the per-layer metrics (per_layer_names)
plus the tracing overhead: traced minus untraced, against untraced runs
of the same workload and sources in this checkout (the one with the same
seed, else the median over the seeds on record, else one made in the
same invocation with the same seed).

Before the result line the run prints one ``{"record": ...}`` line with
the host context (nproc, heap, steal/sys CPU of the measured windows,
source revision), the named workload metrics (surface_total_s, query_p50_s,
chain_s, index_build_s, scan_batch_s, topic_p50_ms, topics_per_s, peak
heap), failed_frac, per-op latencies and, traced, the span self times.
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
sys.path.insert(0, HERE)
import gen  # noqa: E402
import stats  # noqa: E402

ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")

# Sizes: chosen so one run of each workload takes about a minute on a
# 4-core host.
WORKLOADS = {
    "surface": {"stride": 10, "passes": 3, "sf": "sf0.01", "warm_sf": "sf0.001"},
    "corpus": {"replicas": 5, "shards": 8, "topics": 20, "warm_topics": 10,
               "k": 1000},
}

END_TO_END = {
    "setup_s": ("s", "input generation + session start + warm-up"),
    "batch_s": ("s", "surface: surface_total_s (the median pass); "
                     "corpus: chain_s + index_build_s + scan_batch_s"),
    "op_p50_ms": ("ms", "median latency of a query (surface) / topic (corpus)"),
}

CURATE_PHASES = {"gopher_count": "gopher", "exact_dedup": "exact_dedup",
                 "near_dedup": "near_dedup", "quality_write": "quality_write"}
PREP_PHASES = ["gopher", "exact_dedup", "near_dedup", "decontam",
               "chunk_dedup_shards", "report"]
PHASE_STATS = [("s", "s"), ("cpu_s", "s"), ("jobs_n", "count"),
               ("shuffle_write_mb", "MB"), ("spill_mb", "MB")]


def per_layer_names():
    """(name, unit) of every per-layer metric, in print order."""
    out = [("spark.jobs_n", "count"), ("spark.stages_n", "count"),
           ("spark.tasks_n", "count"), ("spark.stage_busy_s", "s"),
           ("spark.driver_gap_s", "s"), ("spark.task_cpu_s", "s"),
           ("spark.task_skew_max", "ratio"), ("spark.shuffle_write_mb", "MB"),
           ("spark.shuffle_read_mb", "MB"), ("spark.spill_mb", "MB"),
           ("spark.codegen_n", "count"), ("spark.gc_s", "s"),
           ("jvm.peak_heap_mb", "MB"), ("jvm.peak_after_gc_mb", "MB"),
           ("host.steal_s", "s"), ("host.sys_s", "s"),
           ("queries.relational_s", "s"), ("queries.ir_s", "s"),
           ("queries.pipeline_s", "s"), ("queries.temporal_s", "s"),
           ("queries.build_s", "s"), ("queries.plan_s", "s"),
           ("queries.exec_s", "s"), ("queries.rows_out", "count")]
    phases = ([f"curate.{p}" for p in CURATE_PHASES.values()] +
              [f"prep.{p}" for p in PREP_PHASES])
    for p in phases:
        out += [(f"{p}.{s}", u) for s, u in PHASE_STATS]
    out += [("pipeline.near_dedup.keep_ratio", "ratio"),
            ("pipeline.examples_per_doc", "ratio"),
            ("jobs.bytes_written_per_input_byte", "ratio"),
            ("ir.build.cpu_s", "s"), ("ir.build.shuffle_write_mb", "MB"),
            ("ir.build.spill_mb", "MB"), ("ir.build.task_skew_max", "ratio"),
            ("ir.postings_mb", "MB"), ("ir.postings_rows", "count"),
            ("ir.max_postings", "count"),
            ("ir.topic.call_ms", "ms"), ("ir.topic.exec_ms", "ms"),
            ("ir.topic.jobs_n", "count"), ("ir.topic.tasks_n", "count"),
            ("ir.topic.read_kb", "KB"), ("ir.topic.postings_per_result", "ratio"),
            ("ir.topic.head_p50_ms", "ms"), ("ir.topic.tail_p50_ms", "ms"),
            ("ir.scan.cpu_s", "s"), ("ir.scan.shuffle_write_mb", "MB")]
    out += [(f"trace.overhead.{m}", u) for m, (u, _) in END_TO_END.items()]
    return out


class BenchError(Exception):
    pass


_children = []


def spawn(cmd, timeout, **kw):
    """Run a child process to completion (returncode). A timeout, or a
    SIGTERM / SIGINT to this script, kills it and waits for it to end:
    no child outlives the run."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    _children.append(p)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        raise BenchError(f"{os.path.basename(cmd[0])} timed out after {timeout} s")
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
        _children.remove(p)


def _on_signal(signum, _frame):
    for p in list(_children):
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
    sys.exit(128 + signum)


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---- build ------------------------------------------------------------

def source_digest():
    """Content hash of everything the build compiles."""
    h = hashlib.sha1()
    files = ["build.sbt", "project/build.properties", "perfbench/build.sbt",
             "perfbench/project/build.properties"]
    for top in ("src/main", "perfbench/src"):
        for d, _, fs in os.walk(os.path.join(ROOT, top)):
            files += [os.path.relpath(os.path.join(d, f), ROOT) for f in fs]
    for f in sorted(files):
        p = os.path.join(ROOT, f)
        if os.path.isfile(p):
            h.update(f.encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    return env


def classpath():
    """The harness classpath, building engine + harness when the sources
    changed since the last build in this checkout."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main"))):
        raise BenchError(f"no engine sources under {ROOT}; run from a checkout")
    os.makedirs(BUILD, exist_ok=True)
    stamp, cp_file = os.path.join(BUILD, "digest"), os.path.join(BUILD, "classpath")
    digest = source_digest()
    if os.path.isfile(stamp) and open(stamp).read() == digest and \
            os.path.isfile(cp_file):
        return open(cp_file).read().strip()
    log("building engine and harness (sbt)")
    t0 = time.time()
    out = os.path.join(BUILD, "build.log")
    with open(out, "w") as logf:
        rc = spawn(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                    "export Runtime/fullClasspath"], 850, cwd=HERE,
                   env=sbt_env(), stdout=logf, stderr=subprocess.STDOUT)
    with open(out) as f:
        lines = [l for l in f.read().splitlines() if l.strip()]
    if rc != 0 or not lines:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        raise BenchError("build failed")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp, "w") as f:
        f.write(digest)
    log(f"built in {time.time() - t0:.1f} s")
    return cp


def revision():
    """git HEAD when the checkout is a repository, else None."""
    head = os.path.join(ROOT, ".git", "HEAD")
    try:
        ref = open(head).read().strip()
        if ref.startswith("ref: "):
            return open(os.path.join(ROOT, ".git", ref[5:])).read().strip()
        return ref
    except OSError:
        return None


def heap_size():
    """The heap the repository's verify command resolves: half of
    MemTotal, clamped to 2..8 GiB."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration, ValueError):
        return "2g"


JVM_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


# ---- inputs -----------------------------------------------------------

def generate(workload, seed, d):
    """Write the workload's inputs under d; returns their sizes."""
    w = WORKLOADS[workload]
    if workload == "surface":
        # the test tables as they are, one copy per pass
        dirs = {f"sf{i}": w["sf"] for i in range(w["passes"])}
        dirs["warm"] = w["warm_sf"]
        for name, sf in dirs.items():
            shutil.copytree(os.path.join(gen.DATA, sf), f"{d}/{name}")
        return dirs
    measured, warm = gen.pick_topics(seed, w["topics"], w["warm_topics"])
    return {"corpus": gen.corpus(f"{d}/corpus", seed, w["replicas"]),
            "topics": gen.topics(f"{d}/topics.tsv", seed, measured,
                                 f"{d}/corpus", stream=0),
            "warm_topics": gen.topics(f"{d}/warm_topics.tsv", seed, warm,
                                      f"{d}/corpus", stream=1)}


# ---- one harness run --------------------------------------------------

def run_harness(cp, workload, seed, trace, wdir):
    """Generate inputs and run the harness JVM once; returns its record."""
    shutil.rmtree(wdir, ignore_errors=True)
    t0 = time.perf_counter()
    sizes = generate(workload, seed, f"{wdir}/in")
    gen_s = time.perf_counter() - t0
    tmp = f"{wdir}/tmp"
    os.makedirs(tmp)
    opts = {"workload": workload, "in": f"{wdir}/in", "work": f"{wdir}/work",
            "out": f"{wdir}/record.json", "trace": str(trace), "seed": str(seed),
            "cpus": str(len(os.sched_getaffinity(0)))}
    opts.update({k: str(v) for k, v in WORKLOADS[workload].items()})
    heap = heap_size()
    cmd = ["java"] + [a for p in JVM_OPENS for a in
                      ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    cmd += [f"-Xmx{heap}", "-XX:ReservedCodeCacheSize=512m",
            "-XX:CICompilerCount=4", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "perfbench.Main"]
    for k, v in opts.items():
        cmd += [f"--{k}", v]
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
    for k in list(env):
        if k.startswith("SPARK_GRAFT_"):
            del env[k]
    with open(f"{wdir}/jvm.log", "w") as logf:
        rc = spawn(cmd, 160, cwd=wdir, env=env, stdout=logf,
                   stderr=subprocess.STDOUT)
    if rc != 0 or not os.path.isfile(opts["out"]):
        with open(f"{wdir}/jvm.log") as f:
            sys.stderr.write("".join(f.readlines()[-30:]))
        raise BenchError(f"harness exited with {rc}")
    with open(opts["out"]) as f:
        rec = json.load(f)
    rec["gen_s"] = gen_s
    rec["sizes"] = sizes
    rec["heap"] = heap
    return rec


# ---- output checks done here ------------------------------------------

def check_surface(rec, in_dir):
    """Row count of each query against the DuckDB oracle on the same SF.
    A query without oracle SQL fails the check: it cannot be verified."""
    import duckdb
    for pass_, oracle in enumerate(rec["oracle"]):
        con = duckdb.connect()
        for t in ("region", "nation", "customer", "supplier", "part", "orders",
                  "lineitem", "events", "documents", "embeddings"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{in_dir}/sf{pass_}/{t}.parquet')")
        check_pass(con, oracle, [o for o in rec["ops"] if o["pass"] == pass_])
        con.close()


def check_pass(con, oracle, ops):
    for op in ops:
        sql = oracle.get(op["name"])
        if not op["ok"]:
            continue
        if sql is None:
            op.update(ok=False, error="no oracle SQL")
            continue
        try:
            n = con.execute(f"SELECT count(*) FROM ({sql}) AS oracle_q").fetchone()[0]
        except Exception as e:  # an oracle that cannot run cannot vouch
            op.update(ok=False, error=f"oracle failed: {e}"[:300])
            continue
        op["oracle_rows"] = n
        if n != op["rows"]:
            op.update(ok=False, error=f"rows {op['rows']} != oracle {n}")


# ---- metrics ----------------------------------------------------------

def end_to_end(workload, rec):
    """(contract metrics, named workload metrics) of one run."""
    ops, win = rec["ops"], rec["window"]
    # latency ops: the queries, or the topics (a chain rep is batch work)
    loop = [o for o in ops if o.get("kind", "query") in ("query", "topic")]
    lat = [o["ms"] for o in loop]
    miss = win["wall_s"] * 1e3  # a failed op: longer than any single op
    p50, tail, level, n = stats.latency_summary(lat, [o["ok"] for o in loop], miss)
    setup_s = rec["gen_s"] + sum(rec["setup"].values())
    if workload == "surface":
        # per query, the median of its passes; the batch is the median pass
        by_q = {}
        for o in loop:
            by_q.setdefault(o["name"], []).append(o)
        lat = [statistics.median(o["ms"] for o in os_) for os_ in by_q.values()]
        ok = [all(o["ok"] for o in os_) for os_ in by_q.values()]
        p50, tail, level, n = stats.latency_summary(lat, ok, miss)
        passes = {}
        for o in loop:
            passes[o["pass"]] = passes.get(o["pass"], 0.0) + o["ms"] / 1e3
        batch = statistics.median(passes.values())
        named = {"surface_total_s": batch, "query_p50_s": p50 / 1e3,
                 "pass_totals_s": sorted(passes.values())}
        tail_name = f"query_p{level:g}_s"
        tail /= 1e3
    else:
        chain = next(o["ms"] for o in ops if o["kind"] == "chain") / 1e3
        batch = chain + rec["index_build_s"] + rec["scan_batch_s"]
        named = {"chain_s": chain, "index_build_s": rec["index_build_s"],
                 "scan_batch_s": rec["scan_batch_s"], "topic_p50_ms": p50,
                 "topics_per_s": n / (sum(lat) / 1e3)}
        tail_name = f"topic_p{level:g}_ms"
    if level != 50:  # the tail rule's rung; at 50 it is the p50 itself
        named[tail_name] = tail
    metrics = {"setup_s": setup_s, "batch_s": batch, "op_p50_ms": p50}
    named.update(failed_frac=sum(not o["ok"] for o in ops) / len(ops),
                 ops_n=n, tail_percentile=level,
                 peak_heap_mb=win["peak_heap_mb"],
                 peak_after_gc_mb=win["peak_after_gc_mb"])
    return metrics, named


def in_window(rec):
    """Jobs (by id) and stages that started inside a measured window."""
    wins = [(w["start_ns"], w["end_ns"]) for w in rec["windows"]]
    jobs = {j["id"]: j for j in rec.get("jobs", [])
            if any(a <= j["start_ns"] <= b for a, b in wins)}
    stages = [s for s in rec.get("stages", []) if s["job"] in jobs]
    return jobs, stages


def stage_sums(stages):
    mb = 1048576.0
    skews = [max(s["task_ms"]) / statistics.median(s["task_ms"])
             for s in stages if len(s["task_ms"]) >= 4 and
             statistics.median(s["task_ms"]) > 0]
    return {"cpu_s": sum(s["cpu_ns"] for s in stages) / 1e9,
            "tasks_n": sum(s["tasks"] for s in stages),
            "shuffle_write_mb": sum(s["shuffle_write_b"] for s in stages) / mb,
            "shuffle_read_mb": sum(s["shuffle_read_b"] for s in stages) / mb,
            "spill_mb": sum(s["spill_b"] for s in stages) / mb,
            "task_skew_max": max(skews, default=1.0)}


def per_layer(workload, rec, e2e, baseline):
    m = {name: 0.0 for name, _ in per_layer_names()}
    win = rec["window"]
    jobs, stages = in_window(rec)
    agg = stage_sums(stages)
    busy = stats.union_length([(max(s["start_ns"], a), min(s["end_ns"], b))
                               for s in stages for a, b in
                               ((w["start_ns"], w["end_ns"]) for w in rec["windows"])]) / 1e9
    m.update({"spark.jobs_n": len(jobs), "spark.stages_n": len(stages),
              "spark.tasks_n": agg["tasks_n"], "spark.stage_busy_s": busy,
              "spark.driver_gap_s": win["wall_s"] - busy,
              "spark.task_cpu_s": agg["cpu_s"],
              "spark.task_skew_max": agg["task_skew_max"],
              "spark.shuffle_write_mb": agg["shuffle_write_mb"],
              "spark.shuffle_read_mb": agg["shuffle_read_mb"],
              "spark.spill_mb": agg["spill_mb"],
              "spark.codegen_n": win["codegen_n"], "spark.gc_s": win["gc_s"],
              "jvm.peak_heap_mb": win["peak_heap_mb"],
              "jvm.peak_after_gc_mb": win["peak_after_gc_mb"],
              "host.steal_s": win["steal_s"], "host.sys_s": win["sys_s"]})
    spans = rec["spans"]
    dur = lambda s: (s["end_ns"] - s["start_ns"]) / 1e9  # noqa: E731
    by_span = {}
    for j in jobs.values():
        by_span.setdefault(j["span"], []).append(j["id"])

    def stages_under(span_ids):
        ids = {j for s in span_ids for j in by_span.get(s, [])}
        return [s for s in stages if s["job"] in ids]

    if workload == "surface":
        for reg in ("relational", "ir", "pipeline", "temporal"):
            m[f"queries.{reg}_s"] = sum(dur(s) for s in spans
                                        if s["name"] == f"queries.{reg}")
        for part in ("build", "plan", "exec"):
            m[f"queries.{part}_s"] = sum(dur(s) for s in spans
                                         if s["name"] == f"queries.{part}")
        m["queries.rows_out"] = sum(o["rows"] for o in rec["ops"] if o["ok"])
    else:
        m.update(phase_metrics(rec, jobs, stages))
        m.update(ir_metrics(rec, spans, stages_under, by_span))
        chain = next(o for o in rec["ops"] if o["kind"] == "chain")
        if chain["ok"]:
            cur, prep = chain["curate_report"], chain["prepare_report"]
            m["pipeline.near_dedup.keep_ratio"] = cur["near_dedup"] / cur["exact_dedup"]
            m["pipeline.examples_per_doc"] = prep["examples"] / cur["input"]
            m["jobs.bytes_written_per_input_byte"] = (chain["bytes_written"] /
                                                      rec["input_bytes"])
    for k, v in e2e.items():
        m[f"trace.overhead.{k}"] = v - baseline[k]
    return m


def ir_metrics(rec, spans, stages_under, by_span):
    """The index build, the topic loop and the scan pass, from their
    spans' jobs and the topics' own counters."""
    build = stage_sums(stages_under([s["id"] for s in spans
                                     if s["name"] == "ir.build"]))
    scan = stage_sums(stages_under([s["id"] for s in spans
                                    if s["name"] == "ir.scan"]))
    topic_spans = [s["id"] for s in spans if s["name"].startswith("ir.topic.")]
    topics = [o for o in rec["ops"] if o["kind"] == "topic"]
    ops = [o for o in topics if o["ok"]]
    if not ops:
        return {}
    heads = [o["ms"] for o in ops if o["class"] == "head"]
    tails = [o["ms"] for o in ops if o["class"] == "tail"]
    post = rec["postings"]
    return {
        "ir.build.cpu_s": build["cpu_s"],
        "ir.build.shuffle_write_mb": build["shuffle_write_mb"],
        "ir.build.spill_mb": build["spill_mb"],
        "ir.build.task_skew_max": build["task_skew_max"],
        "ir.postings_mb": post["mb"], "ir.postings_rows": post["rows"],
        "ir.max_postings": post["max_postings"],
        "ir.topic.call_ms": statistics.median(o["call_ms"] for o in ops),
        "ir.topic.exec_ms": statistics.median(o["exec_ms"] for o in ops),
        "ir.topic.jobs_n": sum(len(by_span.get(s, [])) for s in topic_spans)
        / len(topics),
        "ir.topic.tasks_n": stage_sums(stages_under(topic_spans))["tasks_n"]
        / len(topics),
        "ir.topic.read_kb": statistics.mean(o["read_b"] for o in ops) / 1024,
        "ir.topic.postings_per_result": sum(o["explode_rows"] for o in ops)
        / max(1, sum(o["rows"] for o in ops)),
        "ir.topic.head_p50_ms": statistics.median(heads) if heads else 0.0,
        "ir.topic.tail_p50_ms": statistics.median(tails) if tails else 0.0,
        "ir.scan.cpu_s": scan["cpu_s"],
        "ir.scan.shuffle_write_mb": scan["shuffle_write_mb"]}


def phase_metrics(rec, jobs, stages):
    """Per job phase of the chain (the curate:* / prep:* job
    descriptions). A phase's wall time runs from its first job's start
    to the next phase's first job start, or to the end of the enclosing
    jobs.* span."""
    ends = sorted(s["end_ns"] for s in rec["spans"] if s["name"].startswith("jobs."))
    order = sorted(jobs.values(), key=lambda j: j["start_ns"])
    segs = []  # [desc, start, jobs]
    for j in order:
        if segs and segs[-1][0] == j["desc"]:
            segs[-1][2].append(j["id"])
        else:
            segs.append([j["desc"], j["start_ns"], [j["id"]]])
    out = {}
    for i, (desc, start, ids) in enumerate(segs):
        kind, _, ph = desc.partition(":")
        name = (f"curate.{CURATE_PHASES[ph]}" if kind == "curate" and ph in CURATE_PHASES
                else f"prep.{ph}" if kind == "prep" and ph in PREP_PHASES else None)
        if name is None:
            continue
        nxt = segs[i + 1][1] if i + 1 < len(segs) else float("inf")
        end = min([nxt] + [e for e in ends if e > start])
        agg = stage_sums([s for s in stages if s["job"] in set(ids)])
        add = {"s": (end - start) / 1e9, "cpu_s": agg["cpu_s"],
               "jobs_n": len(ids), "shuffle_write_mb": agg["shuffle_write_mb"],
               "spill_mb": agg["spill_mb"]}
        for k, v in add.items():
            out[f"{name}.{k}"] = out.get(f"{name}.{k}", 0.0) + v
    return out


def ops_ms(ops):
    """{op name: [latency ms, one per pass]}."""
    out = {}
    for o in ops:
        out.setdefault(o["name"], []).append(round(o["ms"], 3))
    return out


def span_table(rec):
    """{span name: {n, total_s, self_s}}: self time is the span minus the
    time its child spans cover."""
    selfs = stats.self_times(rec["spans"])
    out = {}
    for s in rec["spans"]:
        t = out.setdefault(s["name"], {"n": 0, "total_s": 0.0, "self_s": 0.0})
        t["n"] += 1
        t["total_s"] += (s["end_ns"] - s["start_ns"]) / 1e9
        t["self_s"] += selfs[s["id"]] / 1e9
    return out


# ---- entry point ------------------------------------------------------

UNTRACED = os.path.join(BUILD, "runs", "untraced.jsonl")


def untraced_baseline(cp, key, wdir):
    """(end-to-end values, basis) of untraced runs of the same workload
    and sources in this checkout: the latest with the same seed, else the
    median over the other seeds on record, else one run now with this
    seed."""
    rows = []
    if os.path.isfile(UNTRACED):
        with open(UNTRACED) as f:
            # rows written by an older benchmark carry no key
            rows = [r for r in map(json.loads, f) if "key" in r]
    same = [r for r in rows if r["key"] == key]
    if same:
        return same[-1]["metrics"], {"seeds": [key["seed"]]}
    rows = [r for r in rows if r["key"]["workload"] == key["workload"] and
            r["key"]["digest"] == key["digest"]]
    if rows:
        return ({k: statistics.median(r["metrics"][k] for r in rows)
                 for k in END_TO_END}, {"seeds": [r["key"]["seed"] for r in rows]})
    log("no untraced run of these sources on record: running one")
    rec = run_harness(cp, key["workload"], key["seed"], 0, wdir)
    finish(rec, key["workload"], wdir)
    metrics = end_to_end(key["workload"], rec)[0]
    record_untraced(key, metrics)
    return metrics, {"seeds": [key["seed"]], "paired": True}


def record_untraced(key, metrics):
    os.makedirs(os.path.dirname(UNTRACED), exist_ok=True)
    with open(UNTRACED, "a") as f:
        f.write(json.dumps({"key": key, "metrics": metrics}) + "\n")


def finish(rec, workload, wdir):
    """Output checks that run outside the JVM."""
    if workload == "surface":
        check_surface(rec, f"{wdir}/in")


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    signal.signal(signal.SIGTERM, _on_signal)
    signal.signal(signal.SIGINT, _on_signal)
    try:
        cp = classpath()
        digest = source_digest()
        key = {"workload": args.workload, "seed": args.seed, "digest": digest}
        wdir = os.path.join(BUILD, "work", args.workload)
        baseline, basis = untraced_baseline(cp, key, wdir) if args.trace else (None, None)
        rec = run_harness(cp, args.workload, args.seed, args.trace, wdir)
        finish(rec, args.workload, wdir)
    except (BenchError, subprocess.SubprocessError, OSError) as e:
        log(f"error: {e}")
        return 2
    e2e, named = end_to_end(args.workload, rec)
    if args.trace:
        values = per_layer(args.workload, rec, e2e, baseline)
        units = dict(per_layer_names())
    else:
        record_untraced(key, e2e)
        values, units = e2e, {k: u for k, (u, _) in END_TO_END.items()}
    failed = [o for o in rec["ops"] if not o["ok"]]
    win = rec["window"]
    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "host": dict(rec["host"], heap=rec["heap"], revision=revision(),
                     source_digest=digest,
                     **{f"host.{k}": win[k] for k in ("steal_s", "sys_s")}),
        "sizes": rec["sizes"], "setup": dict(rec["setup"], gen_s=rec["gen_s"]),
        "window_s": win["wall_s"], "named": named,
        "ops_ms": ops_ms(rec["ops"]),
        "failures": [{"name": o["name"], "error": o.get("error"),
                      "failed_checks": o.get("failed_checks")} for o in failed][:20],
        "spans": span_table(rec) if args.trace else {},
    }
    if args.trace:
        record["overhead_vs_untraced"] = {k: {"traced": e2e[k], "untraced": baseline[k]}
                                          for k in e2e}
        record["untraced_basis"] = basis
    print(json.dumps({"record": record}))
    print(json.dumps({
        "correct": not failed, "attempted": len(rec["ops"]),
        "failed": len(failed),
        "metrics": {k: {"value": float(values[k]), "unit": units[k]}
                    for k in units}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
