#!/usr/bin/env python3
"""Benchmark entry point: one workload, one run.

  python3 perfbench/run.py --workload <name> --seed <n> --seconds <n> --trace <0|1>

Builds the engine and harness from source (perfbench/build.py), generates
the seeded inputs (perfbench/gen.py, cached under perfbench/.work/inputs),
runs the harness JVM at local[4], checks the outputs (DuckDB oracles for
lane queries, the chunker count for the knowledge base; the harness
itself checks every answer) and prints one JSON result line last on
stdout. Metric names, units and the workload list come from
BENCHMARK.json at the checkout root.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen    # noqa: E402

# Input set per workload: (scale factor, corpus, only). The RAG session
# needs the documents table (warm-up) plus the 8x decollided corpus and
# its question script; the loop lane needs every table. The loop lane
# runs at sf0.001: its queries are round-bound (per-round planning and
# scheduling, not data, set their time), and a run there fits the
# benchmark's time budget.
WORKLOADS = {
    "rag_session": (0.1, True, "documents"),
    "loop_lane": (0.001, False, None),
}
RUN_LIMIT_S = 170     # a run (after the build) must end well inside 180 s
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def oracle_failures(inputs, work, info):
    """Compare each checked lane query's output with its DuckDB oracle over
    the same tables, canonicalised as tools/check.py does. Returns the
    names that fail (a query without an oracle fails too)."""
    import duckdb
    import pyarrow.parquet as pq
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    from check import TABLES, rows_of

    con = duckdb.connect()
    con.execute("SET threads = 4")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{inputs}/{t}.parquet'")
    bad = []
    for name in info.get("checked", []):
        sql = info.get("oracle_sql", {}).get(name)
        files = glob.glob(os.path.join(work, "check", name, "*.parquet"))
        try:
            if sql is None or not files:
                raise ValueError("no oracle or no output")
            got, want = rows_of(pq.read_table(files[0])), rows_of(con.sql(sql).arrow())
            if got != want:
                raise ValueError("differs from oracle")
        except Exception as e:  # noqa: BLE001 - any oracle error is a failed check
            print(f"[perfbench] {name}: {e}", file=sys.stderr)
            bad.append(name)
    return bad


def chunk_count(inputs, chunk_sql):
    """Chunks the reference chunker makes from the corpus (DuckDB twin)."""
    import duckdb
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{inputs}/corpus.parquet'")
    return con.sql(f"SELECT count(*) FROM ({chunk_sql})").fetchone()[0]


def run_jvm(cp, args, work, limit):
    cmd = ["java"] + [f"--add-opens={p}=ALL-UNNAMED" for p in JVM_OPENS] + [
        # a fixed heap: its resident size does not hinge on when the
        # collector chose to grow it, so peak_rss_mb is steady
        "-Xms3g", "-Xmx3g", "-Xss8m", "-XX:-UsePerfData",
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
        "-cp", cp, "perfbench.PerfBench"] + args
    log = open(os.path.join(work, "jvm.log"), "w")
    p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, start_new_session=True)
    try:
        code = p.wait(timeout=limit)
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise
    finally:
        log.close()
    if code != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-6000:])
        raise SystemExit(f"perfbench: harness exited with {code}")


def input_set(key, seed):
    """Generate (once; cached by key, seed and generator source) and
    return an input directory."""
    sf, corpus, only = key
    with open(gen.__file__, "rb") as f:
        version = hashlib.sha256(f.read()).hexdigest()[:12]
    d = os.path.join(WORK, "inputs", f"sf{sf}{'-corpus' if corpus else ''}"
                                     f"{'-' + only if only else ''}-seed{seed}-{version}")
    gen.generate(d, seed, sf, corpus=corpus, only=only)
    return d


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    cp = build.build()
    started = time.monotonic()

    inputs = input_set(WORKLOADS[a.workload], a.seed)

    work = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        out = os.path.join(work, "result.json")
        trace_file = os.path.join(WORK, "traces", f"{a.workload}-seed{a.seed}-{int(time.time())}.jsonl")
        run_jvm(cp, ["--workload", a.workload, "--inputs", inputs, "--work", work,
                     "--seconds", str(a.seconds), "--trace", str(a.trace), "--seed", str(a.seed),
                     "--out", out, "--trace-file", trace_file],
                work, RUN_LIMIT_S - (time.monotonic() - started))
        jvm_done = time.monotonic()
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.writelines(l for l in f if l.startswith(("[perfbench]", "[graft]")))
        with open(out) as f:
            res = json.load(f)
        failed = res["failed"]
        info = res["info"]
        if "checked" in info:
            failed += len(oracle_failures(inputs, work, info))
        if "chunk_count" in info:
            want = chunk_count(inputs, info["chunk_sql"])
            if info["chunk_count"] != want:
                print(f"[perfbench] knowledge base has {info['chunk_count']} chunks, chunker makes {want}",
                      file=sys.stderr)
                failed += 1
        print(f"[perfbench] inputs+harness {jvm_done - started:.1f} s, checks "
              f"{time.monotonic() - jvm_done:.1f} s", file=sys.stderr)
        for e in res["errors"]:
            print(f"[perfbench] {e}", file=sys.stderr)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    got = res["metrics"]
    metrics = {}
    for m in spec["per_layer" if a.trace else "end_to_end"]:
        if m["name"] in got:
            v = got[m["name"]]
        elif a.trace:
            v = 0.0   # this workload does not exercise that layer
        else:
            raise SystemExit(f"perfbench: harness did not measure {m['name']}")
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    line = json.dumps({"correct": failed == 0, "attempted": res["attempted"],
                       "failed": failed, "metrics": metrics})
    os.makedirs(WORK, exist_ok=True)
    with open(os.path.join(WORK, "results.jsonl"), "a") as f:
        f.write(json.dumps({"workload": a.workload, "seed": a.seed, "trace": a.trace,
                            "result": json.loads(line)}) + "\n")
    print(line)


if __name__ == "__main__":
    main()
