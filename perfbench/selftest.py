#!/usr/bin/env python3
"""Self-test of the benchmark harness, at sf0.001 and one-second windows:

1. every workload prints every end-to-end metric (untraced) and every
   per-layer metric (traced), each with its unit;
2. a deliberately corrupted query result, or one wrong value in each
   stream flow's sink, makes the run count failures and report
   correct=false, and each corrupted flow fails its own check;
3. in the traced run, the query wall time is covered by the build span, the
   Catalyst phases and the Spark jobs, up to UNSPANNED_TOLERANCE of it;
4. the traced query_mix run sees build-time jobs of the Tables and
   similarity layers (e11 reads tables and fits k-means while it is built).

    python3 perfbench/selftest.py        (from the root of a graft checkout)
"""
import glob
import os
import signal
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run as bench  # noqa: E402

SCALE = 0.001
SECONDS = 1
SEED = 5
# share of traced query wall time that may fall outside every recorded
# span (scheduling between AQE stages, result handling); measured at
# sf0.001 on local[4]
UNSPANNED_TOLERANCE = 0.35


def drop_first_row(run_dir, pattern):
    """Remove one row from the first non-empty parquet file under run_dir
    matching pattern."""
    import pyarrow.parquet as pq
    for f in sorted(glob.glob(os.path.join(run_dir, pattern))):
        if pq.read_metadata(f).num_rows > 0:
            pq.write_table(pq.read_table(f).slice(1), f)
            return
    raise AssertionError(f"no rows to corrupt under {pattern}")


def bump_first_value(run_dir, pattern, column):
    """Add 1 to `column` in the first row of the first non-empty parquet
    file under run_dir matching pattern: one wrong value, same shape."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    for f in sorted(glob.glob(os.path.join(run_dir, pattern))):
        t = pq.read_table(f)
        if t.num_rows > 0:
            i = t.schema.get_field_index(column)
            vals = t.column(i).to_pylist()
            vals[0] += 1
            pq.write_table(t.set_column(i, t.schema.field(i),
                                        pa.array(vals, t.schema.field(i).type)), f)
            return
    raise AssertionError(f"no rows to corrupt under {pattern}")


def corrupt_query_result(run_dir):
    drop_first_row(run_dir, "results/*/*.parquet")


def corrupt_stream_sinks(run_dir):
    bump_first_value(run_dir, "sinks/fp/*.parquet", "canonical_id")
    bump_first_value(run_dir, "sinks/items/*.parquet", "n_tok")
    bump_first_value(run_dir, "sinks/codes/*.parquet", "code")


def main():
    # a terminated self-test still stops its JVM and removes its run directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    root = os.getcwd()
    problems = []

    def expect(cond, what):
        print(("ok    " if cond else "FAIL  ") + what, flush=True)
        if not cond:
            problems.append(what)

    for workload in bench.WORKLOADS:
        for trace, names in ((0, bench.END_TO_END), (1, bench.PER_LAYER)):
            r, _ = bench.run(root, workload, SEED, SECONDS, trace, scale=SCALE)
            got = {k: v["unit"] for k, v in r["metrics"].items()}
            expect(got == names, f"{workload} trace={trace}: every metric with its unit")
            expect(r["correct"] and r["failed"] == 0 and r["attempted"] >= 1,
                   f"{workload} trace={trace}: outputs correct "
                   f"({r['attempted']} attempted, {r['failed']} failed)")
            if trace:
                frac = r["metrics"]["trace.unspanned_frac"]["value"]
                expect(0 <= frac <= UNSPANNED_TOLERANCE,
                       f"{workload}: traced spans cover the wall time "
                       f"(unspanned {frac:.3f} <= {UNSPANNED_TOLERANCE})")
                if workload == "query_mix":
                    for k in ("Tables.read_jobs", "similarity.build_jobs"):
                        v = r["metrics"][k]["value"]
                        expect(v > 0, f"{workload}: {k} > 0 ({v:g})")
        tamper = corrupt_stream_sinks if workload == "stream_ingest" else corrupt_query_result
        r, verdict = bench.run(root, workload, SEED, SECONDS, 0, scale=SCALE, tamper=tamper)
        expect(not r["correct"] and r["failed"] > 0 and r["metrics"]["ok_frac"]["value"] < 1,
               f"{workload}: a corrupted output is caught "
               f"({r['failed']} of {r['attempted']} failed)")
        if workload == "stream_ingest":
            for flow in bench.STREAM_FLOWS:
                expect(bool(verdict[flow]), f"{workload}: a wrong value in {flow}'s sink "
                       f"fails its check ({verdict[flow][:80]})")
    print(f"{len(problems)} problem(s)")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
