"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. It builds the program with the benchmark's
own sbt project (once per source tree), generates the workload's inputs from
the seed, runs the workload in one JVM started directly (not through sbt),
checks every op's output against computations of its own, writes a per-run
report under .bench_build/reports/, and prints one JSON line last:
{"correct", "attempted", "failed", "metrics"}. See perfbench/README.md.
"""

import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import gen  # noqa: E402

ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")
HEAP = "2g"
JVM_TIMEOUT_S = 150

WORKLOADS = ("fraud_upload", "fraud_bulk", "fraud_stream", "registry_core")
TRAIN_ROWS = 500
UPLOAD_ROWS = 10_000
UPLOAD_FILES = 24            # distinct normal uploads, two rounds' worth
UPLOAD_WARM_FILES = 18       # one for each untimed warm-up upload
UPLOAD_WARM_ROWS = 2000
BULK_ROWS = 100_000
# the stream is fed in 5*10^4-row batches (Main.scala), 30 days each, so
# keyed state levels off near 1.5*10^5 keys after the warm-up batches
STREAM_ROWS = 600_000
STREAM_DAYS = 360
# (query, the generated table it reads): one query from each of the ops,
# sim and dedup packs; q221 probes an ORC copy kept through ops.DurableIndex
REGISTRY_QUERIES = [
    ("q221_orc_roundtrip", "documents"),
    ("q20_cosine_topk", "embeddings"),
    ("q19_minhash_jaccard", "documents"),
]
# inputs that do not depend on --seed: the two fault uploads
FAULT_SEED = 7
MALFORMED_CELLS = 24

END_TO_END = {"setup_s": "s", "op_p50_ms": "ms", "rows_per_s": "rows/s",
              "cpu_s_per_mrow": "s", "live_heap_mb": "MB"}
# printed by every traced run; a layer a workload does not reach reads 0
PER_LAYER = [
    ("session.start_ms", "ms"), ("train_ms", "ms"),
    ("claims.read_ms", "ms"), ("claims.write_ms", "ms"), ("claims.rows_in", "count"),
    ("claims.null_key_rows", "count"), ("rules.p99_ms", "ms"), ("rules.window_ms", "ms"),
    ("rules.fired.DuplicateAadhaar", "count"), ("rules.fired.MultiAadhaar", "count"),
    ("rules.fired.HighClaimAmount", "count"), ("rules.fired.FrequentClaims", "count"),
    ("features.fit_ms", "ms"), ("features.origin_ms", "ms"), ("features.transform_ms", "ms"),
    ("ae.score_ms", "ms"), ("ae.forward_ns_per_row", "ns"),
    ("pipeline.actions_per_op", "count"), ("spark.jobs_per_op", "count"),
    ("spark.tasks_per_op", "count"), ("spark.shuffle_write_mb_per_op", "MB"),
    ("spark.spill_mb_per_op", "MB"), ("spark.executor_cpu_s_per_op", "s"),
    ("spark.jvm_gc_ms_per_op", "ms"), ("spark.codegen_compiles_per_op", "count"),
    ("jvm.jit_ms_per_op", "ms"), ("jvm.alloc_mb_per_op", "MB"), ("jvm.peak_heap_after_gc_mb", "MB"),
    ("stream.batch_ms", "ms"), ("stream.nodata_batch_ms", "ms"), ("stream.batches_per_op", "count"),
    ("stream.add_batch_ms", "ms"), ("stream.query_planning_ms", "ms"),
    ("stream.wal_commit_ms", "ms"), ("stream.commit_offsets_ms", "ms"),
    ("stream.state_rows", "count"), ("stream.state_mem_mb", "MB"),
    ("stream.state_commit_ms", "ms"),
    ("index.orc_docs_build_ms", "ms"),
] + [(f"registry.{q.split('_')[0]}_{m}", u) for q, _ in REGISTRY_QUERIES
     for m, u in (("ms", "ms"), ("shuffle_mb", "MB"))]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


# ------------------------------------------------------------------- build

def source_stamp():
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(ROOT, "src", "main", "**", "*"), recursive=True) +
                   glob.glob(os.path.join(HERE, "scala", "**", "*.scala"), recursive=True) +
                   [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")])
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles the program's sources with the benchmark's Scala entry point
    unless the compiled classes already match the source tree."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("program sources (src/main/scala/graft) not found; run from a checkout root")
    stamp = source_stamp()
    stamp_file = os.path.join(BUILD, "classes.stamp")
    if os.path.isdir(CLASSES) and os.path.isfile(stamp_file) and open(stamp_file).read() == stamp:
        return
    env = dict(os.environ)
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true")
    env.setdefault("COURSIER_MODE", "offline")
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"], cwd=HERE,
                       env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                       timeout=840)
    if r.returncode != 0 or not os.path.isdir(CLASSES):
        sys.stderr.write(r.stdout[-4000:])
        fail("build failed")
    os.makedirs(BUILD, exist_ok=True)
    with open(stamp_file, "w") as f:
        f.write(stamp)


# ------------------------------------------------------------------ inputs

def make_inputs(workload, seed, d):
    """Writes the workload's input files; returns what the checks need."""
    os.makedirs(d)
    truth = {}
    if workload != "registry_core":
        train = gen.claims(seed, 1, TRAIN_ROWS)
        gen.write_claims(os.path.join(d, "train.csv"), train)
        truth["train"] = train
    if workload == "fraud_upload":
        for sub in ("uploads", "warm", "faults"):
            os.makedirs(os.path.join(d, sub))
        for i in range(UPLOAD_FILES):
            p = os.path.join(d, "uploads", f"u{i:03d}.csv")
            truth[p] = gen.claims(seed, 100 + i, UPLOAD_ROWS)
            gen.write_claims(p, truth[p])
        for i in range(UPLOAD_WARM_FILES):
            gen.write_claims(os.path.join(d, "warm", f"w{i:02d}.csv"),
                             gen.claims(seed, 200 + i, UPLOAD_WARM_ROWS))
        p = os.path.join(d, "faults", "header_only.csv")
        with open(p, "w") as f:
            f.write(gen.HEADER + "\n")
        truth[p] = {"Name": np.array([], dtype=object), "Aadhaar": np.array([], dtype=np.int64),
                    "day": np.array([], dtype=np.int64), "expected": np.array([], dtype=object)}
        bad = gen.claims(FAULT_SEED, 300, UPLOAD_ROWS)
        cells = bad["Aadhaar"].astype(str).astype(object)
        rows = np.flatnonzero(bad["pattern"] == "background")[:MALFORMED_CELLS]
        cells[rows] = [f"{v // 1000}X{v % 1000}" for v in bad["Aadhaar"][rows]]
        bad["malformed"] = np.zeros(len(cells), dtype=bool)
        bad["malformed"][rows] = True
        p = os.path.join(d, "faults", "malformed_aadhaar.csv")
        gen.write_claims(p, bad, aadhaar_cells=cells)
        truth[p] = bad
    elif workload == "fraud_bulk":
        p = os.path.join(d, "bulk.csv")
        truth[p] = gen.claims(seed, 2, BULK_ROWS)
        gen.write_claims(p, truth[p])
    elif workload == "fraud_stream":
        p = os.path.join(d, "stream.csv")
        truth[p] = gen.sort_by_date(gen.claims(seed, 2, STREAM_ROWS, STREAM_DAYS))
        gen.write_claims(p, truth[p])
    else:
        gen.registry_tables(seed, os.path.join(d, "tables"))
        with open(os.path.join(d, "queries.txt"), "w") as f:
            f.write("".join(f"{q} {t}\n" for q, t in REGISTRY_QUERIES))
    return truth


# ------------------------------------------------------------------ checks

def forward_errors(model, x):
    """Reconstruction error of each row of x through the autoencoder whose
    weights are the program's MLP.toFlat layout (row-major w, then b)."""
    dims = [int(v) for v in model["dims"]]
    flat = np.asarray(model["flat"])
    a, k = x, 0
    for layer in range(len(dims) - 1):
        n_in, n_out = dims[layer], dims[layer + 1]
        w = flat[k:k + n_in * n_out].reshape(n_out, n_in)
        k += n_in * n_out
        b = flat[k:k + n_out]
        k += n_out
        a = a @ w.T + b
        if layer < len(dims) - 2:
            a = np.maximum(a, 0.0)
    return ((x - a) ** 2).mean(axis=1)


def features(model, amounts, days, subsidy):
    x = [(amounts - model["amount_mean"]) / model["amount_std"],
         (days.astype(np.float64) - model["days_mean"]) / model["days_std"]]
    x += [(subsidy == c).astype(np.float64) for c in model["categories"]]
    return np.stack(x, axis=1)


def epoch_days(date_strings):
    return np.asarray(date_strings, dtype="datetime64[D]").astype(np.int64)


def read_scored(out_dir):
    import pandas as pd
    parts = sorted(glob.glob(os.path.join(out_dir, "*.csv")))
    frames = [pd.read_csv(p, dtype={"Name": str, "Aadhaar": str, "SubsidyType": str,
                                    "Date": str, "FraudType": str}, keep_default_na=False)
              for p in parts]
    if not frames:
        return None
    return pd.concat(frames, ignore_index=True)


def check_scored(out_dir, cols, model, ordered):
    """Problems with one batch op's output, as (kind, text) pairs. kind is
    'null_key' when a problem lies only on rows whose Aadhaar cell was
    malformed, else 'wrong'."""
    df = read_scored(out_dir)
    n = len(cols["Name"])
    if n == 0:
        return [] if df is None or len(df) == 0 else [("wrong", f"rows out {len(df)} != rows in 0")]
    if df is None or len(df) != n:
        return [("wrong", f"rows out {0 if df is None else len(df)} != rows in {n}")]
    in_aad = np.where(cols.get("malformed", np.zeros(n, bool)), "", cols["Aadhaar"].astype(str))
    in_date = gen.date_strings(cols["day"])
    in_key = [f"{a}|{b}|{c}" for a, b, c in zip(cols["Name"], in_aad, in_date)]
    out_key = [f"{a}|{b}|{c}" for a, b, c in zip(df["Name"], df["Aadhaar"], df["Date"])]
    if ordered:
        if in_key != out_key:
            return [("wrong", "output rows are not in input order")]
        idx = np.arange(n)
    else:
        pos = {k: i for i, k in enumerate(in_key)}
        idx = np.array([pos.get(k, -1) for k in out_key])
        if (idx < 0).any() or len(set(idx.tolist())) != n:
            return [("wrong", "output rows do not match input rows one to one")]
    err = df["ReconstructionError"].to_numpy(dtype=np.float64)
    thr = err.mean() + 2.0 * err.std()
    expected = cols["expected"][idx]
    ftype = df["FraudType"].to_numpy(dtype=str)
    ml = np.where(err > thr, "Suspicious", "Normal")
    want = np.where(expected != "Normal", expected, ml)
    near = np.abs(err - thr) <= 1e-12 * max(1.0, abs(thr))
    bad = (ftype != want) & ~near
    problems = []
    if bad.any():
        malformed = cols.get("malformed", np.zeros(n, bool))[idx]
        kind = "null_key" if malformed[bad].all() else "wrong"
        got = sorted(set(ftype[bad].tolist()))
        problems.append((kind, f"{int(bad.sum())} rows with wrong FraudType (got {got[:4]})"))
    # independent forward pass on a fixed sample of rows
    sample = np.arange(0, n, max(1, n // 64))
    days = epoch_days(df["Date"].to_numpy(dtype=str)[sample]) - epoch_days(in_date).min()
    x = features(model, df["ClaimAmount"].to_numpy(dtype=np.float64)[sample], days,
                 df["SubsidyType"].to_numpy(dtype=str)[sample])
    ref = forward_errors(model, x)
    if not np.allclose(ref, err[sample], rtol=1e-9, atol=1e-12):
        problems.append(("wrong", "ReconstructionError differs from the independent forward pass"))
    return problems


def check_upload(res, truth, out_dir):
    failures, problems = [], []
    for i, op in enumerate(res["ops"]):
        name = os.path.basename(op["input"])
        if op["cause"]:
            if name == "header_only.csv" and "ROW_VALUE_IS_NULL" in op["cause"]:
                failures.append((i, f"{name}: {op['cause']}"))
            else:
                problems.append(f"op {i} ({name}) raised {op['cause']}")
            continue
        found = check_scored(os.path.join(out_dir, "ops", f"op{i:04d}"), truth[op["input"]],
                             res["model"], ordered=True)
        if found and all(k == "null_key" for k, _ in found) and name == "malformed_aadhaar.csv":
            failures.append((i, f"{name}: malformed Aadhaar cells read as NULL share one window: "
                                + "; ".join(t for _, t in found)))
        elif found:
            problems.extend(f"op {i} ({name}): {t}" for _, t in found)
    return failures, problems


def check_bulk(res, truth, out_dir):
    problems = [f"op {i} raised {op['cause']}" for i, op in enumerate(res["ops"]) if op["cause"]]
    ops = res["ops"]
    if len({op["digest"] for op in ops}) != 1:
        problems.append("op outputs differ between ops of the same input")
    if any(op["rows"] != BULK_ROWS for op in ops):
        problems.append("an op wrote a different number of rows than it read")
    last = os.path.join(out_dir, "ops", f"op{len(ops) - 1:04d}")
    problems += [t for _, t in check_scored(last, truth[ops[-1]["input"]], res["model"], ordered=False)]
    return [], problems


def check_stream(res, truth, in_dir):
    problems = [f"op {i} raised {op['cause']}" for i, op in enumerate(res["ops"]) if op["cause"]]
    cols = truth[os.path.join(in_dir, "stream.csv")]
    thr = float(np.percentile(truth["train"]["ClaimAmount"], 99))
    if abs(res["high_threshold"] - thr) > 1e-9 * thr:
        problems.append(f"fitted p99 {res['high_threshold']} != {thr}")
    first, batch = int(res["stream_first_timed_batch"]), int(res["stream_batch_rows"])
    lo, hi = first * batch, (first + len(res["ops"])) * batch
    for i, op in enumerate(res["ops"]):
        want = len(cols["Name"][lo + i * batch: lo + (i + 1) * batch])
        if op["rows"] != want:
            problems.append(f"batch {first + i}: sink received {op['rows']} rows of {want}")
    if res["stream_normal_above_threshold"] != 0:
        problems.append("rows above the ML threshold were left Normal")
    exp = gen.stream_expected(cols, res["high_threshold"])[lo:hi]
    keys = [f"{n}|{a}|{d}" for n, a, d in
            zip(cols["Name"][lo:hi], cols["Aadhaar"][lo:hi], gen.date_strings(cols["day"][lo:hi]))]
    want_tags = {k: e for k, e in zip(keys, exp) if e != "Normal"}
    got_tags, susp = {}, []
    for name, aad, date, amt, sub, err, ftype in res["stream_flagged"]:
        if ftype == "Suspicious":
            susp.append((amt, date, sub, err, f"{name}|{aad}|{date}"))
        else:
            got_tags[f"{name}|{aad}|{date}"] = ftype
    if got_tags != want_tags:
        missing = len(set(want_tags) - set(got_tags))
        extra = len(set(got_tags) - set(want_tags))
        wrong = sum(1 for k in set(want_tags) & set(got_tags) if want_tags[k] != got_tags[k])
        problems.append(f"stream rule tags: {missing} missing, {extra} unplanted, {wrong} wrong")
    if any(k in want_tags for *_, k in susp):
        problems.append("a rule-tagged row was reported Suspicious")
    if any(err <= res["ml_threshold"] for _, _, _, err, _ in susp):
        problems.append("a Suspicious row is not above the ML threshold")
    if susp:
        s = susp[:: max(1, len(susp) // 64)]
        model = res["model"]
        days = epoch_days([d for _, d, _, _, _ in s]) - epoch_days([model["train_origin"]])[0]
        x = features(model, np.array([a for a, *_ in s]), days, np.array([c for _, _, c, _, _ in s]))
        if not np.allclose(forward_errors(model, x), [e for *_, e, _ in s], rtol=1e-9, atol=1e-12):
            problems.append("stream ReconstructionError differs from the independent forward pass")
    return [], problems


def check_registry(res, in_dir, out_dir):
    import duckdb
    problems = [f"op {i} raised {op['cause']}" for i, op in enumerate(res["ops"]) if op["cause"]]
    for q, hashes in res["query_hashes"].items():
        if len(hashes) != 1:
            problems.append(f"{q}: output differs between passes")
    con = duckdb.connect()
    for t in glob.glob(os.path.join(in_dir, "tables", "*.parquet")):
        con.sql(f"CREATE VIEW {os.path.basename(t)[:-8]} AS SELECT * FROM '{t}'")
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    for q, sql in sorted(oracle.items()):
        a = con.sql(f"SELECT * FROM '{os.path.join(out_dir, 'registry', q)}/*.parquet'").df()
        b = con.sql(sql).df()
        if sorted(a.columns) != sorted(b.columns) or len(a) != len(b):
            problems.append(f"{q}: shape {a.shape} != oracle {b.shape}")
            continue
        sc = sorted(a.columns)
        a = a[sc].astype(str).sort_values(sc).reset_index(drop=True)
        b = b[sc].astype(str).sort_values(sc).reset_index(drop=True)
        if not a.equals(b):
            problems.append(f"{q}: values differ from the DuckDB oracle")
    return [], problems


# -------------------------------------------------------------------- host

class HostSampler:
    """Steal share and load average over the run, read from /proc, and the
    steal share over the timed ops alone."""

    def __init__(self):
        self.load = []
        self.cpu = []  # (epoch s, /proc/stat cpu counters), once a second
        self.stop = threading.Event()
        self.t = threading.Thread(target=self._run, daemon=True)
        self.t.start()

    @staticmethod
    def _cpu():
        try:
            with open("/proc/stat") as f:
                return [int(v) for v in f.readline().split()[1:]]
        except OSError:
            return None

    @staticmethod
    def _steal(a, b):
        if not a or not b or len(b) < 8:
            return None
        d = [y - x for x, y in zip(a, b)]
        return 100.0 * d[7] / max(1, sum(d[:8]))

    def _sample(self):
        c = self._cpu()
        if c:
            self.cpu.append((time.time(), c))
        try:
            with open("/proc/loadavg") as f:
                self.load.append(float(f.read().split()[0]))
        except OSError:
            pass

    def _run(self):
        while True:
            self._sample()
            if self.stop.wait(1.0):
                return

    def finish(self, timed_from, timed_to):
        self.stop.set()
        self.t.join()
        self._sample()
        timed = [c for t, c in self.cpu if timed_from <= t <= timed_to + 1.0]
        return {"steal_pct": self._steal(self.cpu[0][1], self.cpu[-1][1]) if self.cpu else None,
                "timed_steal_pct": self._steal(timed[0], timed[-1]) if len(timed) > 1 else None,
                "loadavg_1m": self.load, "loadavg_max": max(self.load) if self.load else None}


# -------------------------------------------------------------------- main

def run_jvm(workload, in_dir, out_dir, seconds, trace):
    opens = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
    tmp = os.path.join(out_dir, "tmp")
    os.makedirs(tmp)
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Duser.timezone=UTC",
           f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
           f"-Dspark.sql.warehouse.dir={os.path.join(out_dir, 'warehouse')}",
           f"-Dspark.local.dir={os.path.join(out_dir, 'spark-local')}"]
    for o in opens:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", CLASSES + os.pathsep + os.path.join(SPARK_JARS, "*"), "perfbench.Main",
            workload, in_dir, out_dir, str(seconds), str(trace)]
    env = dict(os.environ)
    env.pop("SPARK_GRAFT_CPUS", None)
    env["SPARK_GRAFT_INDEX_ROOT"] = os.path.join(out_dir, "index")
    env["SPARK_LOCAL_DIRS"] = os.path.join(out_dir, "spark-local")
    log = open(os.path.join(out_dir, "jvm.log"), "w")
    t_spawn = time.time()
    p = subprocess.Popen(cmd, cwd=out_dir, stdout=log, stderr=subprocess.STDOUT, env=env)
    try:
        rc = p.wait(timeout=JVM_TIMEOUT_S)
    except BaseException:
        p.kill()
        p.wait()
        raise
    finally:
        log.close()
    res_path = os.path.join(out_dir, "result.json")
    if rc != 0 or not os.path.isfile(res_path):
        with open(os.path.join(out_dir, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"{workload} JVM exited with code {rc}")
    with open(res_path) as f:
        res = json.load(f)
    res["setup_s"] = res["setup_end_epoch_ms"] / 1000.0 - t_spawn
    return res


def write_expected(workload, seed, d):
    """Inputs plus `<file>.expected` (one tag per data row) for each claims
    file; the stream's tags use the p99 of its train.csv."""
    truth = make_inputs(workload, seed, d)
    for path, cols in truth.items():
        if path == "train":
            continue
        tags = cols["expected"]
        if path.endswith("stream.csv"):
            tags = gen.stream_expected(cols, float(np.percentile(truth["train"]["ClaimAmount"], 99)))
        with open(path + ".expected", "w") as f:
            f.write("\n".join(tags) + "\n")


def trend(ms):
    """Median of the second half of the timed ops over that of the first."""
    h = len(ms) // 2
    return statistics.median(ms[h:]) / statistics.median(ms[:h]) if h else 1.0


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--expected", metavar="DIR",
                    help="only write the inputs and their expected tags to DIR")
    a = ap.parse_args()
    # a terminated run still stops its JVM (run_jvm kills it on any exception)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if a.expected:
        write_expected(a.workload, a.seed, a.expected)
        return

    t_start = time.time()
    build()
    t_built = time.time()
    run_dir = os.path.join(BUILD, "run", f"{a.workload}-s{a.seed}-t{a.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    in_dir, out_dir = os.path.join(run_dir, "in"), os.path.join(run_dir, "out")
    truth = make_inputs(a.workload, a.seed, in_dir)
    os.makedirs(out_dir)

    t_inputs = time.time()
    host = HostSampler()
    res = run_jvm(a.workload, in_dir, out_dir, a.seconds, a.trace)
    host_report = host.finish(res["setup_end_epoch_ms"] / 1000.0, res["end_epoch_ms"] / 1000.0)
    t_jvm = time.time()

    if a.workload == "fraud_upload":
        failures, problems = check_upload(res, truth, out_dir)
    elif a.workload == "fraud_bulk":
        failures, problems = check_bulk(res, truth, out_dir)
    elif a.workload == "fraud_stream":
        failures, problems = check_stream(res, truth, in_dir)
    else:
        failures, problems = check_registry(res, in_dir, out_dir)

    ops = res["ops"]
    t_checked = time.time()
    failed_idx = {i for i, _ in failures} | {i for i, op in enumerate(ops) if op["cause"]}
    good = [op for i, op in enumerate(ops) if i not in failed_idx]
    rows = sum(op["rows"] for op in ops)
    good_s = sum(op["ms"] for op in good) / 1000.0
    metrics_e2e = {
        "setup_s": res["setup_s"],
        "op_p50_ms": statistics.median(op["ms"] for op in good) if good else 0.0,
        "rows_per_s": sum(op["rows"] for op in good) / good_s if good_s else 0.0,
        "cpu_s_per_mrow": res["op_cpu_s"] / rows * 1e6 if rows else 0.0,
        "live_heap_mb": res["live_heap_mb"],
    }
    if a.trace:
        layers = dict(res.get("layers", {}))
        layers["spark.codegen_compiles_per_op"] = statistics.mean(op["codegen"] for op in ops)
        layers["jvm.jit_ms_per_op"] = statistics.median(op["jit_ms"] for op in ops)
        layers["jvm.alloc_mb_per_op"] = statistics.median(op["alloc_mb"] for op in ops)
        layers["jvm.peak_heap_after_gc_mb"] = res["peak_heap_mb"]
        metrics = {n: {"value": float(layers.get(n, 0.0)), "unit": u} for n, u in PER_LAYER}
    else:
        metrics = {n: {"value": float(metrics_e2e[n]), "unit": u} for n, u in END_TO_END.items()}

    report = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "attempted": len(ops), "failed": len(failed_idx),
        "failures": [{"op": i, "cause": c} for i, c in failures] +
                    [{"op": i, "cause": op["cause"]} for i, op in enumerate(ops) if op["cause"]
                     and i not in {j for j, _ in failures}],
        "problems": problems,
        "op_ms": [op["ms"] for op in ops], "op_start_ms": [op["start_ms"] for op in ops],
        "op_rows": [op["rows"] for op in ops],
        "op_jit_ms": [op["jit_ms"] for op in ops], "op_alloc_mb": [op["alloc_mb"] for op in ops],
        "peak_heap_after_gc_mb": res["peak_heap_mb"],
        "op_codegen_compiles": [op["codegen"] for op in ops],
        "trend": trend([op["ms"] for op in good]),
        "end_to_end": metrics_e2e, "layers": res.get("layers"), "host": host_report,
        "heap_max_mb": res["heap_max_mb"], "cores": res["cores"],
        "wall_s": {"build": t_built - t_start, "inputs": t_inputs - t_built,
                   "jvm": t_jvm - t_inputs, "checks": t_checked - t_jvm},
        "jvm_exit_s": t_jvm - res["end_epoch_ms"] / 1000.0,
        "setup_marks_s": res["setup_marks"], "timed_gcs": res["timed_gcs"],
        "timed_gc_heap_after_mb": res["timed_gc_heap_after_mb"],
    }
    os.makedirs(os.path.join(BUILD, "reports"), exist_ok=True)
    with open(os.path.join(BUILD, "reports", f"{a.workload}-s{a.seed}-t{a.trace}.json"), "w") as f:
        json.dump(report, f, indent=1)
    for p in problems:
        print(f"check failed: {p}", file=sys.stderr)
    if problems:
        shutil.copy(os.path.join(out_dir, "jvm.log"),
                    os.path.join(BUILD, "reports", f"{a.workload}-s{a.seed}-t{a.trace}.log"))
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"correct": not problems, "attempted": len(ops),
                      "failed": len(failed_idx), "metrics": metrics}))


if __name__ == "__main__":
    main()
