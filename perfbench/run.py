#!/usr/bin/env python3
"""Product benchmark: the streamed micro-batch chain and a read-only query mix.

Usage (from the repository root):

    python3 perfbench/run.py --workload <microbatch|query_mix> --seed <n>
                             --seconds <s> --trace <0|1>

Each run builds the engine and the benchmark from source when either
changed (`build.py`), generates its inputs (`gen.py`), and drives one
fresh JVM with `local[k]`, k = min(4, nproc), `spark.sql.shuffle.partitions
= k` and a fixed heap. The load is a closed loop with one client: the
next operation starts when the previous one returns, until `--seconds`
have passed, at least one operation.

Workloads (the base tables are fixed; the seed picks what varies):

- microbatch: set-up appends every event before the 90th percentile of
  `ts` as bronze batch 0 and drains it with
  `Pipeline.runDailyIncremental(watermark = None)`, which also warms the
  JVM. One operation is the streaming loop's foreachBatch body for one
  micro-batch: the next 190 events in `ts` order plus 10 seed-chosen
  redeliveries of consumed events, `Incremental.appendBatch`, then
  `runDailyIncremental` with the change logs folded up to head - 3.
  Output check: the maintained silver and five golds equal their DuckDB
  oracle over every consumed event, and the sketch gold equals its
  recompute from silver.
- query_mix: one operation is one pass, in a seed-shuffled order, over
  six read-only, stateless registered queries (ops, gold, text, sim and
  tpch operators), each result written as parquet and checked against
  its DuckDB oracle. There is no warm-up: the first pass is timed in a
  fresh JVM, as a scheduled batch job runs it.

End-to-end metrics (`--trace 0`): `setup_s` (input generation, JVM and
session start, warm-up and seeding: everything before the first timed
operation), `op_p50_s` (median operation time), `peak_heap_mb` (largest
heap occupancy after a GC during the timed operations) and
`storage_ratio` (bytes the run leaves under its warehouse -- tables,
change logs, quarantine; query results for query_mix -- over the parquet
bytes of the input it consumed). `failed_ratio` (operations that threw
or failed the output check over operations attempted) is printed with
them.

Per-layer metrics (`--trace 1`): every operation is re-composed from the
public calls the entry points make, with a span around each call; names
are `<layer>.<counter>` with counters `wall_s` (self time), `cpu_s`
(task CPU), `shuffle_mb` (shuffle bytes written) and `driver_s` (time no
Spark job was running). The traced microbatch run also re-composes one
daily full recompute (`Pipeline.runDaily`) over the seed events, as the
`daily.*` layers, and checks its tables against the oracles.
`<workload>.traced_op_s` is the traced operation's time; the tracing
overhead is it minus `op_p50_s` of an untraced run with the same seed.
A traced run fails when the layers' self times do not sum to within 10%
of the traced operation's time.

Every metric by name, with its unit, the sample count, the resource
settings and `failed_ratio` are printed on the line before the last;
the last line is the result object. A failed output check fails the run
(exit code 1) after printing it.
"""

import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

sys.dont_write_bytecode = True
import build  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("microbatch", "query_mix")
SEED_PICKS = {
    "microbatch": "the 10 redelivered events of each micro-batch; the "
                  "seed events and the traced daily.* recompute over them "
                  "do not depend on it",
    "query_mix": "the query order of each pass",
}
HEAP = "2g"
# A run (after any build) must end within 180 s.
DEADLINE_S = 165
# Fixed base tables (the seed only picks redeliveries and query order).
# Sized so a run -- JVM start, set-up, at least one timed operation
# and the output check -- stays near a minute: an operation's cost is
# dominated by its ~150-190 Spark jobs, not by the rows.
INPUT = dict(seed=20240101, n_events=10_000, n_users=1_000, n_days=5,
             n_docs=400, n_vecs=300, n_lineitems=10_000)


def minhash_clusters(con):
    """The `dedup_minhash_lsh` oracle's answer, computed directly: docs
    whose whitespace-normalized, lower-cased character-trigram sets have
    a Jaccard similarity (rounded half-up to 4 places) of at least 0.6
    are linked, and each doc maps to the smallest doc id of its
    connected component. The registered DuckDB oracle states the same
    thing as an all-pairs join plus a recursive closure, which takes
    minutes at this input size."""
    import re
    import numpy as np
    import pandas as pd
    docs = con.sql("SELECT doc_id, text FROM documents ORDER BY doc_id"
                   ).fetchall()
    ids = [d for d, _ in docs]
    grams = []
    for _, text in docs:
        norm = re.sub(r"[ \t\n\x0b\f\r]+", " ", text).lower()
        grams.append({norm[i:i + 3] for i in range(len(norm) - 2)})
    vocab = {g: j for j, g in enumerate(sorted(set().union(*grams)))}
    m = np.zeros((len(docs), max(1, len(vocab))), np.float64)
    for i, gs in enumerate(grams):
        m[i, [vocab[g] for g in gs]] = 1.0
    inter = m @ m.T
    size = m.sum(axis=1)
    uni = size[:, None] + size[None, :] - inter
    with np.errstate(divide="ignore", invalid="ignore"):
        jac = np.where(uni > 0, np.floor(inter / uni * 10000 + 0.5) / 10000.0,
                       0.0)
    parent = list(range(len(docs)))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    for a, b in zip(*np.nonzero(np.triu(jac >= 0.6, k=1))):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return pd.DataFrame({"doc_id": ids,
                         "canonical_id": [ids[find(i)] for i in
                                          range(len(docs))]})


# Registered queries whose oracle is checked through a direct
# computation of the same answer instead of its SQL text.
REFERENCES = {"dedup_minhash_lsh": minhash_clusters}


def oracle_check(con, check):
    """Compares the Spark rows in check['dir'] with the oracle's rows on
    the oracle's columns. Returns an error string or None."""
    for view, path in check["views"].items():
        if os.path.isdir(path):  # a table Spark wrote
            path = os.path.join(path, "*.parquet")
        con.execute(f"CREATE OR REPLACE VIEW {view} AS "
                    f"SELECT * FROM read_parquet('{path}')")
    ref = REFERENCES.get(check["name"])
    exp = ref(con) if ref else con.sql(check["sql"]).fetchdf()
    got = con.sql(f"SELECT * FROM read_parquet('{check['dir']}/*.parquet')"
                  ).fetchdf()
    missing = set(exp.columns) - set(got.columns)
    if missing:
        return f"columns missing from the Spark output: {sorted(missing)}"
    cols = sorted(exp.columns)
    if len(got) != len(exp):
        return f"{len(got)} rows, oracle {len(exp)}"

    def rows(df):
        return sorted(tuple(cell(v) for v in r)
                      for r in df[cols].itertuples(index=False))
    for i, (a, b) in enumerate(zip(rows(got), rows(exp))):
        if a != b:
            return f"row {i} differs: {a} vs oracle {b}"
    return None


def cell(v):
    """Normalizes a cell so equal values compare equal across engines."""
    if v is None:
        return ("", "")
    if isinstance(v, float):
        if math.isnan(v):
            return ("", "")
        return ("n", repr(float(v)))
    if hasattr(v, "tolist"):
        v = v.tolist()
    if isinstance(v, bool):
        return ("b", str(v))
    if isinstance(v, int):
        return ("n", repr(float(v)))
    try:
        import pandas as pd
        if pd.isna(v):
            return ("", "")
    except (TypeError, ValueError):
        pass
    return ("s", str(v))


def run_checks(checks, tmp):
    import duckdb
    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{tmp}'")
    errors = []
    for c in checks:
        try:
            err = oracle_check(con, c)
        except Exception as e:  # an oracle that cannot run is a failure
            err = f"check error: {e}"
        if err:
            errors.append(f"{c['name']}: {err}")
    return errors


def jvm(classes, args, work, log_path, timeout_s):
    # Spark's scratch (shuffle files, block manager, temp files) stays
    # inside the run's work directory.
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    spark_jars = build.spark_jars()
    cmd = ["java", f"-Xmx{HEAP}", "-XX:+UseG1GC", "-XX:-UsePerfData",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
           f"-Dspark.hadoop.hadoop.tmp.dir={tmp}",
           *build.ADD_OPENS,
           "-cp", f"{spark_jars}/*{os.pathsep}{classes}",
           "perfbench.PerfBench", *args]
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                             env=env)
        try:
            code = p.wait(timeout=max(1.0, timeout_s))
        except BaseException:
            p.kill()
            p.wait()
            raise
    if code != 0:
        raise RuntimeError(f"JVM exited with code {code}")


def run_jvm(classes, work, log_path, a):
    """Generates the inputs under `work` and runs the workload's JVM on
    them. Returns (input sizes, record, set-up seconds)."""
    t0 = time.time()
    data = os.path.join(work, "data")
    os.makedirs(data)
    sizes = gen.generate(data, **INPUT)
    record_path = os.path.join(work, "record.json")
    jvm(classes, [a.workload, str(a.seed), str(a.seconds), str(a.trace),
                  data, work, record_path], work, log_path,
        DEADLINE_S - (time.time() - t0))
    with open(record_path) as f:
        rec = json.load(f)
    return sizes, rec, rec["timed_start_ms"] / 1000.0 - t0


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    classes = build.ensure()

    work_root = os.path.join(HERE, ".work")
    os.makedirs(work_root, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{a.workload}-", dir=work_root)
    log_path = os.path.join(work, "jvm.log")
    try:
        sizes, rec, setup = run_jvm(classes, work, log_path, a)
        errors = list(rec["errors"]) + run_checks(
            rec["checks"], os.path.join(work, "tmp"))
    except Exception:
        if os.path.exists(log_path):
            with open(log_path) as f:
                sys.stderr.write(f.read()[-20000:])
        raise
    finally:
        shutil.rmtree(work, ignore_errors=True)

    ops = rec["op_s"]
    if not ops:
        raise RuntimeError("no timed operation ran: " + "; ".join(errors))
    attempted = len(ops)
    # A failed output check condemns every operation of the run: the
    # checked state is what all of them built.
    failed = attempted if errors else rec["failed_ops"]
    info = rec["info"]
    e2e = {
        "setup_s": (setup, "s"),
        "op_p50_s": (statistics.median(ops), "s"),
        "peak_heap_mb": (rec["peak_heap_mb"], "MB"),
        "storage_ratio": (int(info["warehouse_bytes"]) /
                          int(info["input_bytes"]), "ratio"),
    }
    if a.trace:
        metrics = {m["name"]: {"value": rec["per_layer"].get(m["name"], 0.0),
                               "unit": m["unit"]}
                   for m in spec["per_layer"]}
    else:
        metrics = {m["name"]: {"value": e2e[m["name"]][0],
                               "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    summary = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace,
        "resources": {"master": info["master"],
                      "shuffle_partitions": info["shuffle_partitions"],
                      "heap": HEAP, "max_heap_mb": info["xmx_mb"],
                      "nproc": info["nproc"]},
        "input": sizes,
        "seed_picks": SEED_PICKS[a.workload],
        "samples": attempted, "op_s": ops,
        "failed_ratio": failed / attempted,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()},
        "errors": errors,
    }
    if a.trace:
        summary["per_layer"] = rec["per_layer"]
    print(json.dumps(summary))
    print(json.dumps({"correct": not errors, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    if errors:
        sys.stderr.write("OUTPUT CHECK FAILED:\n  " + "\n  ".join(errors)
                         + "\n")
        sys.exit(1)


if __name__ == "__main__":
    main()
