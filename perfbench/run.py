#!/usr/bin/env python3
"""graft's benchmark: one command builds the program, generates seeded
inputs, runs one workload in one JVM, checks the outputs against DuckDB and
prints every metric with its unit. The last line of stdout is one JSON
object: {"correct", "attempted", "failed", "metrics"}.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 18 --trace 0

Run it from the root of a graft checkout. See perfbench/NOTES.md for the
workloads, the metrics and what each layer metric should move.
"""
import argparse
import glob
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("query_mix", "stream_ingest")
SCALE = 0.01
# generation is the one set-up step cheap enough to repeat; setup_s counts
# the median of these repeats
GEN_REPEATS = 3
# the generator refuses seed 42 at its standard scales, so workload seeds
# map to generator seeds above it
GEN_SEED_OFFSET = 1000
JVM_HEAP = "1g"
STREAM_FLOWS = ("dedupImpact", "packing", "ivfCodes")
# more drops per flow than a run can ingest
STREAM_DROPS = 30
DROP_ID_OFFSET = 1_000_000
RUN_LIMIT_S = 170
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


class BenchError(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def require_checkout(root):
    for p in ("src/main/scala/graft/SparkEntry.scala", "tools/gen_testdata.py",
              "tools/check.py"):
        if not os.path.isfile(os.path.join(root, p)):
            raise BenchError(f"{p} not found: run from the root of a graft checkout")


def spark_home():
    home = os.environ.get("SPARK_HOME", "")
    if not os.path.isdir(os.path.join(home, "jars")):
        raise BenchError("no Spark jars under $SPARK_HOME/jars: set SPARK_HOME")
    return home


def build(build_dir):
    r = subprocess.run(["make", "-s", "-C", HERE, f"BUILD={build_dir}",
                        f"SPARK_HOME={spark_home()}"],
                       stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise BenchError("build failed")


def generate(root, seed, scale, out):
    """Seeded inputs; returns the wall time of one generation in seconds."""
    t0 = time.perf_counter()
    subprocess.run([sys.executable, os.path.join(root, "tools/gen_testdata.py"),
                    "--seed", str(seed + GEN_SEED_OFFSET), "--scale", str(scale),
                    "--out", out], check=True, stdout=subprocess.DEVNULL)
    return time.perf_counter() - t0


def stage_drops(data, run_dir, n):
    """The stream workload's load generator: `n` drops per flow, written
    before the JVM starts. Drop k is the seeded table with every id shifted
    by k * DROP_ID_OFFSET; odd-id texts gain a per-drop suffix, so about
    half of each drop repeats earlier text exactly. Returns seconds."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    t0 = time.perf_counter()
    docs = pq.read_table(os.path.join(data, "documents.parquet"),
                         columns=["doc_id", "text", "lang", "source", "n_chars"])
    embs = pq.read_table(os.path.join(data, "embeddings.parquet"),
                         columns=["vec_id", "embedding"])
    for flow in STREAM_FLOWS:
        os.makedirs(os.path.join(run_dir, "staging", flow))
    for k in range(n):
        ids = pc.add(docs["doc_id"], k * DROP_ID_OFFSET)
        odd = pc.equal(pc.bit_wise_and(ids, 1), 1)
        text = pc.if_else(odd, pc.binary_join_element_wise(docs["text"], f" drop{k}", ""),
                          docs["text"])
        d = docs.set_column(0, "doc_id", ids).set_column(1, "text", text)
        e = embs.set_column(0, "vec_id", pc.add(embs["vec_id"], k * DROP_ID_OFFSET))
        name = f"drop-{k:05d}.parquet"
        pq.write_table(d, os.path.join(run_dir, "staging", "dedupImpact", name))
        pq.write_table(d, os.path.join(run_dir, "staging", "packing", name))
        pq.write_table(e, os.path.join(run_dir, "staging", "ivfCodes", name))
    return time.perf_counter() - t0


def run_jvm(build_dir, workload, data, out, seconds, trace, deadline):
    spark_jars = os.path.join(spark_home(), "jars", "*")
    cp = ":".join([os.path.join(build_dir, "bench-classes"),
                   os.path.join(build_dir, "graft-classes"), spark_jars])
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in JDK_OPENS] +
           # a fixed heap: no resizing noise in timings or resident memory
           [f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-Xss8m", f"-Djava.io.tmpdir={tmp}", "-cp", cp,
            "perfbench.Main", workload, data, out, str(seconds), str(trace)])
    env = dict(os.environ)
    # a fresh registry cache per run: the registry build is always part
    # of set-up, and no cache outside the run directory is read or written
    env["GRAFT_REGISTRY_CACHE"] = os.path.join(out, "graft_registry")
    with open(os.path.join(out, "jvm.log"), "w") as jlog:
        p = subprocess.Popen(cmd, stdout=jlog, stderr=subprocess.STDOUT, env=env,
                             start_new_session=True)
        try:
            rc = p.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise BenchError("JVM exceeded the run's time limit")
        except BaseException:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise
    if rc != 0:
        with open(os.path.join(out, "jvm.log")) as f:
            tail = f.read()[-3000:]
        raise BenchError(f"JVM exited with {rc}:\n{tail}")
    with open(os.path.join(out, "records.jsonl")) as f:
        return [json.loads(line) for line in f]


def read_spans(out):
    path = os.path.join(out, "spans.jsonl")
    if not os.path.exists(path):
        return []
    with open(path) as f:
        return [json.loads(line) for line in f]


# ---------------------------------------------------------------- checks

def duckdb_connect(run_dir):
    import duckdb
    con = duckdb.connect()
    # capped, with spill kept inside the run directory
    con.execute("SET memory_limit='1GB'")
    con.execute("SET threads=2")
    con.execute(f"SET temp_directory='{os.path.join(run_dir, 'duckdb_tmp')}'")
    con.execute("SET max_temp_directory_size='2GB'")
    return con


def check_queries(root, run_dir, data, names, oracles):
    """Each query's warm-up result against its oracle in DuckDB, with
    tools/check.py's normalization. Returns {name: "" or failure reason}."""
    sys.path.insert(0, os.path.join(root, "tools"))
    import pandas as pd
    from check import TABLES, normalize
    con = duckdb_connect(run_dir)
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(data, t + '.parquet')}')")
    verdict = {}
    for n in names:
        sql = oracles.get(n, "")
        files = sorted(glob.glob(os.path.join(run_dir, "results", n, "*.parquet")))
        if not sql:
            verdict[n] = "no oracle"
            continue
        if not files:
            verdict[n] = "no result"
            continue
        try:
            exp = con.execute(sql).fetchdf()
        except Exception as e:  # noqa: BLE001 - reported, counted as failed
            verdict[n] = f"oracle error: {str(e)[:200]}"
            continue
        got = pd.concat([pd.read_parquet(f) for f in files])
        if sorted(got.columns) != sorted(exp.columns):
            verdict[n] = f"columns {sorted(got.columns)} vs {sorted(exp.columns)}"
        elif len(got) != len(exp):
            verdict[n] = f"rows {len(got)} vs {len(exp)}"
        elif not normalize(got).equals(normalize(exp)):
            verdict[n] = "cells differ"
        else:
            verdict[n] = ""
    con.close()
    return verdict


def sq_dist(a, b, dims):
    """DuckDB expression: exact integer squared distance of two lists."""
    return (f"CAST(list_sum(list_transform(generate_series(1, {dims}), "
            f"i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i]))) AS BIGINT)")


def except_both(a, b):
    """Rows of `a` not in `b` plus rows of `b` not in `a`, as bags."""
    return (f"SELECT count(*) FROM ((SELECT * FROM {a} EXCEPT ALL SELECT * FROM {b}) "
            f"UNION ALL (SELECT * FROM {b} EXCEPT ALL SELECT * FROM {a}))")


# IVF-PQ codes of the fed vectors, recomputed the way the e* oracles do
# (scale-1024 integer quantization, exact integer distances, ties to the
# lower id): the 8 cells are the seeded vectors with id < 8, the codebook
# the residuals of ids 8..23, each cut into 8 subvectors of 8 dims
IVF_CODES_SQL = f"""
WITH emb AS (
  SELECT 'model' AS src, vec_id AS id, embedding
  FROM read_parquet('{{data}}/embeddings.parquet') WHERE vec_id < 24
  UNION ALL
  SELECT 'fed', vec_id, embedding FROM read_parquet('{{src}}/ivfCodes/*.parquet')),
q AS MATERIALIZED (
  SELECT src, id, list_transform(embedding,
           x -> CAST(round_even(CAST(x AS DOUBLE) * 1024, 0) AS BIGINT)) AS q
  FROM emb),
cents AS MATERIALIZED (
  SELECT CAST(id AS INT) AS cell, q AS cellq FROM q WHERE src = 'model' AND id < 8),
asg AS MATERIALIZED (
  SELECT src, id, cell, list_transform(generate_series(1, 64), i -> q[i] - cellq[i]) AS r
  FROM (SELECT v.src, v.id, v.q, c.cell, c.cellq,
               row_number() OVER (PARTITION BY v.src, v.id
                                  ORDER BY {sq_dist('v.q', 'c.cellq', 64)}, c.cell) AS rk
        FROM q v, cents c)
  WHERE rk = 1),
rsub AS MATERIALIZED (
  SELECT src, id, cell, CAST(s AS INT) AS sub, r[(s*8+1):(s*8+8)] AS subq
  FROM asg, UNNEST(generate_series(0, 7)) AS u(s)),
cb AS MATERIALIZED (
  SELECT sub, CAST(id - 8 AS INT) AS code, subq AS cq
  FROM rsub WHERE src = 'model' AND id >= 8),
want AS (
  SELECT id, cell, sub, code FROM (
    SELECT s.id, s.cell, s.sub, c.code,
           row_number() OVER (PARTITION BY s.id, s.sub
                              ORDER BY {sq_dist('s.subq', 'c.cq', 8)}, c.code) AS rk
    FROM rsub s JOIN cb c ON c.sub = s.sub WHERE s.src = 'fed')
  WHERE rk = 1),
got AS (SELECT id, cell, sub, code FROM read_parquet('{{sinks}}/codes/*.parquet'))
{except_both('want', 'got')}"""

STREAM_CHECKS = {
    # the fingerprint registry holds one row per distinct md5(text), owned
    # by the lowest doc id carrying that text
    "dedupImpact": [(
        "fp registry = distinct md5(text) with its lowest doc_id",
        """SELECT count(*) FROM (
             (SELECT lower(hex(fp)) AS fp, canonical_id FROM read_parquet('{sinks}/fp/*.parquet')
              EXCEPT ALL
              SELECT md5(text), min(doc_id) FROM read_parquet('{src}/dedupImpact/*.parquet') GROUP BY 1)
             UNION ALL
             (SELECT md5(text), min(doc_id) FROM read_parquet('{src}/dedupImpact/*.parquet') GROUP BY 1
              EXCEPT ALL
              SELECT lower(hex(fp)), canonical_id FROM read_parquet('{sinks}/fp/*.parquet')))"""), (
        "impact totals per source match the staged drops",
        """WITH d AS (SELECT *, doc_id = min(doc_id) OVER (PARTITION BY md5(text)) AS keep
                      FROM read_parquet('{src}/dedupImpact/*.parquet')),
                e AS (SELECT source, count(*) AS n_docs, sum(keep::BIGINT) AS n_kept,
                             sum(n_chars) AS chars_total,
                             sum(CASE WHEN keep THEN 0 ELSE n_chars END) AS chars_removed
                      FROM d GROUP BY source),
                g AS (SELECT source, sum(n_docs) AS n_docs, sum(n_kept) AS n_kept,
                             sum(chars_total) AS chars_total, sum(chars_removed) AS chars_removed
                      FROM read_parquet('{sinks}/impact/*.parquet') GROUP BY source)
           """ + except_both("e", "g"))],
    # drop k's ids all exceed drop k-1's, so the stream packs the fed
    # documents exactly as m15, its batch twin, packs their union: m15's
    # oracle, run over the fed drops, gives every item row, and each
    # source's stored total is the length of its item stream
    "packing": [(
        "packed items = m15's oracle over the fed drops",
        """WITH want AS (SELECT doc_id, source, item_idx, modality, n_tok, offset_in_stream,
                                chunk_id FROM ({m15})),
                got AS (SELECT doc_id, source, item_idx, modality, n_tok, offset_in_stream,
                               chunk_id FROM read_parquet('{sinks}/items/*.parquet'))
           """ + except_both("want", "got")), (
        "per-source totals = length of m15's item stream",
        """WITH want AS (SELECT source, sum(n_tok) AS total FROM ({m15}) GROUP BY source),
                got AS (SELECT source, sum(delta) AS total
                        FROM read_parquet('{sinks}/totals/*.parquet') GROUP BY source)
           """ + except_both("want", "got"))],
    "ivfCodes": [("cell and 8 sub-codes per fed vector = DuckDB's encoding", IVF_CODES_SQL)],
}


def check_streams(run_dir, m15_sql):
    """Each flow's exported sinks against a DuckDB recomputation over the
    drops it was fed. Returns {flow: "" or failure reason}."""
    con = duckdb_connect(run_dir)
    paths = {"sinks": os.path.join(run_dir, "sinks"), "src": os.path.join(run_dir, "src"),
             "data": os.path.join(run_dir, "data"), "m15": m15_sql}
    # m15's oracle reads `documents`: here, the drops the packing flow was fed
    con.execute("CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{paths['src']}/packing/*.parquet')")
    verdict = {}
    for flow, checks in STREAM_CHECKS.items():
        bad = []
        for what, sql in checks:
            try:
                n = con.execute(sql.format(**paths)).fetchone()[0]
                if n:
                    bad.append(f"{what}: {n} rows differ")
            except Exception as e:  # noqa: BLE001 - reported, counted as failed
                bad.append(f"{what}: {str(e)[:200]}")
        verdict[flow] = "; ".join(bad)
    con.close()
    return verdict


# --------------------------------------------------------------- metrics

def median(xs):
    return statistics.median(xs) if xs else 0.0


def union_ms(intervals):
    """Total length covered by a set of [start, end] intervals."""
    total, end = 0.0, None
    for s, e in sorted(intervals):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total


def self_times(spans):
    """Self time per span kind: a span's duration minus the part its
    children cover, summed over all spans of that kind (ms). Job spans
    keep their layer (`job:Tables`); other kinds drop their detail
    (`plan:analysis` is `plan`)."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        kids = [(max(c["start_us"], s["start_us"]), min(c["end_us"], s["end_us"]))
                for c in children.get(s["id"], [])]
        covered = union_ms([k for k in kids if k[1] > k[0]])
        kind = s["name"] if s["name"].startswith("job:") else s["name"].split(":")[0]
        out[kind] = out.get(kind, 0.0) + (s["end_us"] - s["start_us"] - covered) / 1000
    return out


END_TO_END = {"setup_s": "s", "pass_s": "s", "op_p50_ms": "ms", "ok_frac": "ratio",
              "peak_rss_mb": "MB"}
# per pass of the workload: one pass over its queries, or one round of
# drops through the three flows; a layer a workload does not use reads 0
PER_LAYER = {
    "queries.build_ms": "ms", "queries.build_jobs": "count", "Tables.read_jobs": "count",
    "similarity.build_jobs": "count", "similarity.build_ms": "ms",
    "plans.analysis_ms": "ms", "plans.optimization_ms": "ms", "plans.planning_ms": "ms",
    "exec.ms": "ms", "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.task_run_ms": "ms", "exec.task_cpu_ms": "ms", "exec.core_busy_frac": "ratio",
    "exec.shuffle_read_bytes": "bytes", "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes", "exec.gc_ms": "ms",
    "cache.leaked_rdds": "count",
    "meta.materialize_ms": "ms", "store.materialize_ms": "ms",
    "streaming.add_batch_ms": "ms", "streaming.query_planning_ms": "ms",
    "streaming.wal_commit_ms": "ms", "streaming.latest_offset_ms": "ms",
    "store.files_written": "count", "store.bytes_written_per_input_byte": "ratio",
    "store.sink_files_final": "count", "store.seal_batches": "count",
    "self.build_ms": "ms", "self.exec_ms": "ms", "self.plan_ms": "ms",
    "self.job_Tables_ms": "ms", "self.job_similarity_ms": "ms", "self.job_other_ms": "ms",
    "self.batch_ms": "ms", "self.stream_ms": "ms",
    "trace.unspanned_frac": "ratio", "trace.overhead_frac": "ratio",
}


def setup_seconds(recs, gen_s):
    """Session start, the median generation, and the in-JVM set-up steps
    (materialization, model building, warm-up), in seconds."""
    steps = {r["step"]: r["ms"] for r in recs if r["kind"] == "setup"}
    session = next(r["ms"] for r in recs if r["kind"] == "session")
    return (session + sum(steps.values())) / 1000 + median(gen_s), steps


def exec_layers(traced, npass, exec_ms, cores):
    """Listener counts and Catalyst phases summed per pass."""
    def per_pass(key):
        return sum(r.get(key, 0) for r in traced) / npass
    m = {f"exec.{k}": per_pass(f"exec_{k}") for k in ("jobs", "stages", "tasks")}
    for k in ("task_run_ms", "task_cpu_ms", "shuffle_read_bytes", "shuffle_write_bytes",
              "spill_bytes", "gc_ms"):
        m[f"exec.{k}"] = per_pass(k)
    m["exec.ms"] = exec_ms
    m["exec.core_busy_frac"] = per_pass("task_run_ms") / max(1e-9, exec_ms * cores)
    for k in ("analysis_ms", "optimization_ms", "planning_ms"):
        m[f"plans.{k}"] = per_pass(k)
    return m, per_pass


def self_layers(spans, npass):
    st = self_times(spans)
    return {f"self.{k.replace(':', '_')}_ms": st.get(k, 0.0) / npass
            for k in ("build", "exec", "plan", "job:Tables", "job:similarity", "job:other",
                      "batch", "stream")}, st


def batch_metrics(recs, spans, verdict, trace):
    qs = [r for r in recs if r["kind"] == "query"]
    failed = sum(1 for r in qs if r["error"] or verdict.get(r["name"]))
    if not trace:
        # each query's best execution in the window: other tenants' load
        # only ever adds time
        walls = {}
        for r in qs:
            walls.setdefault(r["name"], []).append(r["build_ms"] + r["exec_ms"])
        per_query = [min(w) for w in walls.values()]
        return {"pass_s": sum(per_query) / 1000, "op_p50_ms": median(per_query)}, \
            len(qs), failed
    traced = [r for r in qs if r["traced"]]
    npass = max(1, len({r["pass"] for r in traced}))
    cores = next(r["cores"] for r in recs if r["kind"] == "session")
    m, per_pass = exec_layers(traced, npass, sum(r["exec_ms"] for r in traced) / npass, cores)
    m["queries.build_ms"] = per_pass("build_ms")
    m["queries.build_jobs"] = per_pass("build_jobs")
    m["Tables.read_jobs"] = per_pass("tables_read_jobs")
    m["similarity.build_jobs"] = per_pass("similarity_build_jobs")
    m["similarity.build_ms"] = per_pass("similarity_build_ms")
    m["cache.leaked_rdds"] = per_pass("leaked_rdds")
    selfs, st = self_layers(spans, npass)
    m.update(selfs)
    # the part of the traced queries' wall time that no child span of the
    # execution (plan phase or job) covers
    wall = sum(r["build_ms"] + r["exec_ms"] for r in traced)
    m["trace.unspanned_frac"] = st.get("exec", 0.0) / max(1e-9, wall)
    # untraced passes bracket the traced ones, so warm-up drift cancels
    passes = [r for r in recs if r["kind"] == "pass"]
    traced_pass = statistics.mean([p["ms"] for p in passes if p["traced"]])
    m["trace.overhead_frac"] = traced_pass / max(1e-9, statistics.mean(
        [p["ms"] for p in passes if not p["traced"]])) - 1
    return m, len(qs), failed


def stream_metrics(recs, spans, verdict, trace):
    """A pass of the stream workload is one drop through each of the three
    flows, so per-pass values are per three timed batches."""
    bs = [r for r in recs if r["kind"] == "batch" and r["timed"]]
    failed = sum(1 for r in bs if r["error"] or verdict.get(r["flow"]))
    window_ms = next(r["ms"] for r in recs if r["kind"] == "window")
    plain = [r for r in bs if not r["traced"]]
    if not trace:
        rounds = max(1e-9, len(bs) / len(STREAM_FLOWS))
        return {"pass_s": window_ms / 1000 / rounds,
                "op_p50_ms": median([r["trigger_ms"] for r in plain])}, len(bs), failed
    traced = [r for r in bs if r["traced"]]
    npass = max(1e-9, len(traced) / len(STREAM_FLOWS))
    cores = next(r["cores"] for r in recs if r["kind"] == "session")
    trigger = sum(r["trigger_ms"] for r in traced) / npass
    m, per_pass = exec_layers(traced, npass, trigger, cores)
    # Catalyst phases are summed over the traced third of the window
    plans = next(r for r in recs if r["kind"] == "plans")
    for k in ("analysis_ms", "optimization_ms", "planning_ms"):
        m[f"plans.{k}"] = plans[k] / npass
    for k in ("add_batch_ms", "query_planning_ms", "wal_commit_ms", "latest_offset_ms"):
        m[f"streaming.{k}"] = per_pass(k)
    m["store.files_written"] = per_pass("files_written")
    m["store.bytes_written_per_input_byte"] = (
        sum(r["bytes_written"] for r in traced) / max(1, sum(r["input_bytes"] for r in traced)))
    last = {r["flow"]: r["sink_files"] for r in traced}
    m["store.sink_files_final"] = sum(last.values())
    m["store.seal_batches"] = sum(1 for r in traced if r["sealed"])
    selfs, _ = self_layers(spans, npass)
    m.update(selfs)
    # micro-batch time outside the phases Spark reports
    m["trace.unspanned_frac"] = selfs["self.batch_ms"] / max(1e-9, trigger)
    # a whole step (sink listings, listener, span records and the batch
    # itself) of the traced third against the untraced thirds around it,
    # flow by flow, since the flows differ in cost
    ratios = []
    for flow in STREAM_FLOWS:
        t = [r["step_ms"] for r in traced if r["flow"] == flow]
        u = [r["step_ms"] for r in plain if r["flow"] == flow]
        if t and u:
            ratios.append(median(t) / median(u))
    m["trace.overhead_frac"] = statistics.mean(ratios) - 1 if ratios else 0.0
    return m, len(bs), failed


# ------------------------------------------------------------------ main

def run(root, workload, seed, seconds, trace, scale=SCALE, tamper=None):
    """One benchmark run; returns the result object and the check verdict
    of each query or flow ("" when it passed). `tamper(run_dir)` runs
    between the JVM and the checks (the self-test corrupts outputs there)."""
    require_checkout(root)
    build_dir = os.path.join(root, ".bench_build")
    build(build_dir)
    # the first run in a checkout also compiles; the limit starts after that
    deadline = time.monotonic() + RUN_LIMIT_S
    run_dir = os.path.join(build_dir, "runs", f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        data = os.path.join(run_dir, "data")
        gen_s = [generate(root, seed, scale, data if i == 0 else f"{data}-{i}")
                 for i in range(GEN_REPEATS)]
        drops_s = (stage_drops(data, run_dir, STREAM_DROPS)
                   if workload == "stream_ingest" else 0.0)
        recs = run_jvm(build_dir, workload, data, run_dir, seconds, trace, deadline)
        if tamper:
            tamper(run_dir)
        if workload == "stream_ingest":
            m15 = next(r["sql"] for r in recs
                       if r["kind"] == "oracle" and r["name"] == "m15_interleaved_packing")
            verdict = check_streams(run_dir, m15)
            metrics, attempted, failed = stream_metrics(recs, read_spans(run_dir), verdict, trace)
        else:
            names = [r["name"] for r in recs if r["kind"] == "warmup"]
            oracles = {r["name"]: r["sql"] for r in recs if r["kind"] == "oracle"}
            warm_err = {r["name"]: r["error"] for r in recs if r["kind"] == "warmup"}
            verdict = check_queries(root, run_dir, data, names, oracles)
            verdict = {n: warm_err[n] or verdict[n] for n in names}
            metrics, attempted, failed = batch_metrics(recs, read_spans(run_dir), verdict, trace)
        setup_s, steps = setup_seconds(recs, gen_s)
        setup_s += drops_s
        if not trace:
            metrics["setup_s"] = setup_s
            metrics["ok_frac"] = 1 - failed / max(1, attempted)
            metrics["peak_rss_mb"] = next(r["peak_rss_mb"] for r in recs
                                          if r["kind"] == "memory")
        else:
            metrics["meta.materialize_ms"] = steps.get("meta_materialize", 0.0)
            metrics["store.materialize_ms"] = steps.get("store_materialize", 0.0)
        units = PER_LAYER if trace else END_TO_END
        stamps = [r for r in recs if r["kind"] == "stamp"]
        for s in stamps:
            log(f"contention {s['when']}: load_avg={s['load_avg']:.2f} "
                f"spin_mt={s['spin_mt_s']:.3f}s")
        log(f"set-up: generation {median(gen_s):.2f}s (median of {len(gen_s)}), "
            f"stream drops {drops_s:.2f}s, "
            + ", ".join(f"{k} {v / 1000:.2f}s" for k, v in steps.items()))
        for n, v in sorted(verdict.items()):
            log(f"check {n} at sf{scale}: {'ok' if not v else 'FAIL ' + v}")
        return {"correct": failed == 0 and not any(verdict.values()),
                "attempted": attempted, "failed": failed,
                "metrics": {k: {"value": float(metrics.get(k, 0.0)), "unit": u}
                            for k, u in units.items()}}, verdict
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def main():
    # a terminated run still stops its JVM and removes its run directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    try:
        result, _ = run(os.getcwd(), a.workload, a.seed, a.seconds, a.trace)
    except (BenchError, subprocess.CalledProcessError) as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    for k, v in result["metrics"].items():
        print(f"{a.workload} {k} = {v['value']:.6g} {v['unit']}")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
