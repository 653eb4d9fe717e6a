#!/usr/bin/env python3
"""The repository benchmark: one command per workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. It builds the engine and the harness
from source with sbt (once per source state; the classpath is cached under
`.bench_build/`), generates the workload's inputs from the seed, runs the
harness JVM on local[<cpus>], checks the outputs, and prints one JSON line:
`{"correct", "attempted", "failed", "metrics"}`. With `--trace 0` the
metrics are the end-to-end ones, with `--trace 1` the per-layer ones from a
traced run. A fuller record of each run, canaries included, is written to
`.bench_build/results/`. The exit code is nonzero when a check fails or
the run cannot complete.

Workloads (closed loop, one client, one JVM):
  daily_increment  set-up backfills a history of search days; each timed daily
                   cycle lands one more search day, runs the four stages and
                   refreshes the dashboards (one star query of each kind)
  operator_mix     one pass, in a fixed order, over registered operator queries
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import signal
import subprocess
import sys
import time

import gen

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
DEADLINE_S = 175

# Input sizes. The timed part's work is a fixed function of --seconds (never
# of the wall clock), so both sides of an A/B run identical work.
HISTORY_DAYS = 6           # search days backfilled in set-up
ROWS_PER_DAY = 1000        # one search day = one daily cycle's batch
OPERATOR_SETUP_REPEATS = 3 # operator warm-up queries; setup_s is their median
CYCLE_S = 10.0             # nominal daily-cycle cost, used only to size the
                           # timed part from --seconds

# One query per operator module (Dedup, MergeInto, Similarity, IndexFeed,
# Bpe, TextAnalysis); four of them are per-query targets.
OPERATOR_QUERIES = [
    "d07_neardup_components", "q103_merge_into", "s23_batch_graph_search",
    "s36_feed_ivf_maintain", "t25_bpe_encode", "t29_safe_split",
]
# Checked against a reference implementation here instead of its DuckDB
# oracle, which unrolls ten training rounds and takes ~15 s.
BPE_QUERY = "t25_bpe_encode"
BPE_ROUNDS = 10
# Dashboard star queries: Warehouse.starRevenue and starRevenueSql, catalog
# SQL over a week, a month or all flight dates, and a gold-table read.
STAR_KINDS = ("df", "sql", "week", "month", "all", "gold")
CATALOG_KINDS = ("week", "month", "all")
WORKLOADS = ("daily_increment", "operator_mix")

END_TO_END = {"setup_s": "s", "run_s": "s", "op_p50_s": "s", "peak_heap_mb": "MB"}


def per_layer_units():
    """Every per-layer metric name and its unit, in a fixed order."""
    units = {}
    base = [("jobs", "count"), ("tasks", "count"), ("wall_s", "s"),
            ("exec_run_s", "s"), ("driver_gap_s", "s"),
            ("shuffle_write_bytes", "bytes"), ("gc_s", "s"),
            ("files_written", "count")]
    for stage in ("bronze", "silver", "gold", "warehouse"):
        for stat, unit in base + [("spill_bytes", "bytes")]:
            units[f"{stage}.{stat}"] = unit
    for module in ("PartitionedTable", "Warehouse"):
        units[f"warehouse.{module}.jobs"] = "count"
        units[f"warehouse.{module}.job_s"] = "s"
    for kind in STAR_KINDS:
        for stat, unit in (("jobs", "count"), ("tasks", "count"), ("wall_s", "s"),
                           ("exec_run_s", "s"), ("driver_gap_s", "s"), ("plan_s", "s")):
            units[f"star_reads.{kind}.{stat}"] = unit
        if kind not in ("df", "gold"):
            units[f"star_reads.{kind}.files_read_ratio"] = "ratio"
        if kind in CATALOG_KINDS:
            units[f"star_reads.{kind}.GraftCatalog.jobs"] = "count"
            units[f"star_reads.{kind}.PartitionedTable.jobs"] = "count"
    for q in OPERATOR_QUERIES:
        for stat, unit in (("wall_s", "s"), ("jobs", "count"), ("driver_gap_s", "s"),
                           ("shuffle_write_bytes", "bytes")):
            units[f"{q}.{stat}"] = unit
    units["traced_run_s"] = "s"
    units["lake.stored_bytes_per_input_byte"] = "ratio"
    units["canary.cpu_s"] = "s"
    units["canary.shuffle_s"] = "s"
    units["canary.parquet_io_s"] = "s"
    return units


T0 = time.monotonic()


def log(*a):
    print(f"[perfbench {time.monotonic() - T0:7.1f}s]", *a, file=sys.stderr, flush=True)


# ---------------------------------------------------------------------------
# build

def _fingerprint():
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for src in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, fs in os.walk(src):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(deadline):
    """Compile engine and harness; return the runtime classpath."""
    cp_file = os.path.join(BUILD, "classpath.txt")
    fp = _fingerprint()
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            cached_fp, cp = f.read().split("\n", 1)
        if cached_fp == fp:
            return cp.strip()
    log("building engine and harness with sbt")
    out = run_to_end(["sbt", "--batch", "-Dsbt.log.noformat=true",
                      "export perfbench/Runtime/fullClasspath"], HERE, deadline, capture=True)
    cp = out.strip().splitlines()[-1].strip()
    if "perfbench" not in cp:
        raise RuntimeError("sbt did not report a classpath")
    os.makedirs(BUILD, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(fp + "\n" + cp)
    return cp


# ---------------------------------------------------------------------------
# inputs

def write_days(directory, seed, days):
    """Generate search days into `directory`; one file per day."""
    os.makedirs(directory, exist_ok=True)
    files = []
    for day in days:
        path = os.path.join(directory, f"day{day:03d}.csv")
        counts = gen.flights_day(path, seed, day, day * ROWS_PER_DAY, ROWS_PER_DAY)
        files.append({"file": path, "rows": ROWS_PER_DAY, "defects": counts,
                      "quality_defects": sum(counts[k] for k in gen.QUALITY_DEFECTS)})
    return files


def star_queries(rng):
    """One dashboard refresh: each star query kind once, in seeded order,
    with seeded parameters (a week, a month or all flight dates, and an
    origin airport, for the catalog queries)."""
    first_flight = gen.search_day(1)
    span_days = HISTORY_DAYS + 58
    kinds = list(STAR_KINDS)
    rng.shuffle(kinds)
    qs = []
    for kind in kinds:
        q = {"kind": kind}
        if kind in CATALOG_KINDS:
            q["airport"] = rng.choice(gen.AIRPORTS)
            width = {"week": 6, "month": 30}.get(kind)
            if width:
                lo = first_flight + gen.dt.timedelta(days=rng.randint(0, span_days - width))
                q["lo"], q["hi"] = lo.isoformat(), (lo + gen.dt.timedelta(days=width)).isoformat()
        elif kind == "gold":
            q["month"] = rng.choice((5, 6))
        qs.append(q)
    return qs


def make_inputs(args, work):
    inputs = {"workload": args.workload, "trace": args.trace, "cpus": len(os.sched_getaffinity(0)),
              "as_of": gen.AS_OF.isoformat(), "setup_repeats": OPERATOR_SETUP_REPEATS}
    if args.workload == "daily_increment":
        landing = os.path.join(work, "landing")
        inputs["landing"] = landing
        inputs["history"] = write_days(landing, args.seed, range(HISTORY_DAYS))
        n = max(2, round(args.seconds / CYCLE_S))
        cycles = write_days(os.path.join(work, "staged"), args.seed,
                            range(HISTORY_DAYS, HISTORY_DAYS + n))
        rng = random.Random(f"star/{args.seed}")
        inputs["warmup_queries"] = star_queries(rng)
        for c in cycles:
            c["queries"] = star_queries(rng)
        inputs["cycles"] = cycles
    elif args.workload == "operator_mix":
        d = os.path.join(work, "tables")
        os.makedirs(d)
        gen.operator_tables(d, args.seed)
        inputs["operator_dir"] = d
        # a fixed order: in a cold JVM each query's time depends on what ran
        # before it, so a seeded order would spread the figures across seeds
        inputs["operator_queries"] = sorted(OPERATOR_QUERIES)
    with open(os.path.join(work, "inputs.json"), "w") as f:
        json.dump(inputs, f)
    return inputs


# ---------------------------------------------------------------------------
# the JVM

JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def run_to_end(cmd, cwd, deadline, capture=False):
    """Run `cmd` in its own process group; on the deadline kill the whole
    group. Waits for the process to end; returns its stdout if captured."""
    proc = subprocess.Popen(cmd, cwd=cwd, stdout=subprocess.PIPE if capture else sys.stderr,
                            stderr=sys.stderr, text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=max(1, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        raise RuntimeError(f"{cmd[0]} ran past the deadline")
    finally:
        # nothing the command started may outlive it
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()
    if proc.returncode != 0:
        raise RuntimeError(f"{cmd[0]} exited with {proc.returncode}")
    return out


def run_jvm(cp, work, deadline):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.local.dir={os.path.join(work, 'spark-local')}",
            f"-Dspark.sql.warehouse.dir={os.path.join(work, 'spark-warehouse')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "perfbench.Main", work]
    run_to_end(cmd, work, deadline)
    with open(os.path.join(work, "result.json")) as f:
        return json.load(f)


# ---------------------------------------------------------------------------
# checks made outside the JVM

def check_gold(landing, gold):
    """gold.revenue_n_seat_remain_ym against DuckDB over the landing CSV."""
    import duckdb
    cols = ", ".join(f"'{c}': 'VARCHAR'" for c in gen.COLUMNS)
    rows = duckdb.connect().execute(f"""
        WITH raw AS (
          SELECT CAST(flightDate AS DATE) AS fd, CAST(totalFare AS DOUBLE) AS total,
                 CAST(baseFare AS DOUBLE) AS base, CAST(seatsRemaining AS INTEGER) AS seats,
                 string_split(segmentsAirlineCode, '||') AS airlines
          FROM read_csv('{landing}/*.csv', header = true, columns = {{{cols}}}))
        SELECT year(fd), month(fd), airlines[1], sum(total), avg(seats)
        FROM raw
        WHERE base <= total AND seats >= 0 AND len(list_distinct(airlines)) = 1
          AND fd <= DATE '{gen.AS_OF.isoformat()}'
        GROUP BY ALL""").fetchall()
    expect = {(int(y), int(m), a): (s, avg) for y, m, a, s, avg in rows}
    got = {(int(y), int(m), a): (s, avg) for y, m, a, s, avg in gold}
    if expect.keys() != got.keys():
        return f"gold groups differ: {len(got)} from the pipeline, {len(expect)} from DuckDB"
    for k, (s, avg) in expect.items():
        gs, gavg = got[k]
        if abs(gs - s) > 1e-6 * max(1.0, abs(s)) or abs(gavg - avg) > 0.005 + 1e-9:
            return f"gold group {k}: pipeline {got[k]}, DuckDB ({s}, {avg})"
    return ""


def _eq(a, b):
    if isinstance(a, float) or isinstance(b, float):
        try:
            return abs(float(a) - float(b)) <= 1e-9 * max(1.0, abs(float(a)), abs(float(b)))
        except (TypeError, ValueError):
            return False
    return str(a) == str(b)


def bpe_encode_counts(texts):
    """Reference BPE: train BPE_ROUNDS merges over the corpus's word table
    (highest weighted pair count, ties by the pair's symbols), then count
    each document's words and encoded tokens. Generated texts are single
    spaces between printable-ASCII words, so tokenizing is `split()`."""
    docs = {d: t.strip().lower().split() for d, t in texts.items()}
    freq = {}
    for words in docs.values():
        for w in words:
            freq[w] = freq.get(w, 0) + 1
    syms = {w: list(w) for w in freq}

    def merge(s, a, b):
        out, i = [], 0
        while i < len(s):
            if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(s[i])
                i += 1
        return out
    for _ in range(BPE_ROUNDS):
        pairs = {}
        for w, s in syms.items():
            for p in zip(s, s[1:]):
                pairs[p] = pairs.get(p, 0) + freq[w]
        if not pairs:
            break
        a, b = min(pairs, key=lambda p: (-pairs[p], p))
        syms = {w: merge(s, a, b) for w, s in syms.items()}
    return {d: (len(ws), sum(len(syms[w]) for w in ws)) for d, ws in docs.items() if ws}


def check_operators(tables, out, oracles):
    """Each operator query's parquet output against its DuckDB oracle."""
    import duckdb
    con = duckdb.connect()
    for t in os.listdir(tables):
        con.execute(f"CREATE VIEW {t.split('.')[0]} AS SELECT * FROM '{tables}/{t}'")
    failures = []
    texts = dict(con.execute("SELECT doc_id, text FROM documents").fetchall())
    expect = bpe_encode_counts(texts)
    got = {d: (w, t) for d, w, t in con.execute(
        f"SELECT doc_id, n_words, n_tokens FROM read_parquet('{out}/{BPE_QUERY}/*.parquet')").fetchall()}
    if got != expect:
        failures.append(f"{BPE_QUERY}: differs from the reference encoder")
    for name, sql in sorted(oracles.items()):
        if name == BPE_QUERY:
            continue
        o = con.execute(sql)
        ocols = [d[0].lower() for d in o.description]
        orows = o.fetchall()
        s = con.execute(f"SELECT * FROM read_parquet('{out}/{name}/*.parquet')")
        scols = [d[0].lower() for d in s.description]
        srows = s.fetchall()
        if sorted(ocols) != sorted(scols):
            failures.append(f"{name}: columns {scols} vs oracle {ocols}")
            continue
        oi, si = [ocols.index(c) for c in sorted(ocols)], [scols.index(c) for c in sorted(scols)]

        def key(r):
            return tuple(f"{v:.6e}" if isinstance(v, float) else str(v) for v in r)
        orows = sorted((tuple(r[i] for i in oi) for r in orows), key=key)
        srows = sorted((tuple(r[i] for i in si) for r in srows), key=key)
        if len(orows) != len(srows):
            failures.append(f"{name}: {len(srows)} rows, oracle {len(orows)}")
        elif not all(all(_eq(a, b) for a, b in zip(x, y)) for x, y in zip(orows, srows)):
            failures.append(f"{name}: values differ from the oracle")
    return failures


# ---------------------------------------------------------------------------
# metrics

def layer_metrics(res, input_bytes):
    layers = res.get("layers", {})
    out = dict.fromkeys(per_layer_units(), 0.0)
    spans = ["bronze", "silver", "gold", "warehouse"] + \
        [f"star_reads.{k}" for k in STAR_KINDS] + OPERATOR_QUERIES
    for prefix in spans:
        s = layers.get(prefix)
        if not s:
            continue
        n = max(1, s["count"])
        for stat in ("jobs", "tasks", "wall_s", "exec_run_s", "driver_gap_s",
                     "shuffle_write_bytes", "spill_bytes", "gc_s", "files_written", "plan_s"):
            if f"{prefix}.{stat}" in out:
                out[f"{prefix}.{stat}"] = s[stat] / n
        if f"{prefix}.files_read_ratio" in out and s["files_total"]:
            out[f"{prefix}.files_read_ratio"] = s["files_read"] / s["files_total"]
        for module, m in s["modules"].items():
            for stat in ("jobs", "job_s"):
                if f"{prefix}.{module}.{stat}" in out:
                    out[f"{prefix}.{module}.{stat}"] = m[stat] / n
    out["traced_run_s"] = res["run_s"]
    if "stored_bytes" in res:
        out["lake.stored_bytes_per_input_byte"] = res["stored_bytes"] / input_bytes
    for k, v in res["canaries"].items():
        out[f"canary.{k}"] = v
    return out


def main():
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    deadline = time.monotonic() + DEADLINE_S
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        log("no engine sources next to the benchmark; run from a checkout of the repository")
        return 2
    cp = build(deadline + 900 if not os.path.exists(os.path.join(BUILD, "classpath.txt")) else deadline)
    deadline = max(deadline, time.monotonic() + 120)
    work = os.path.join(BUILD, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        inputs = make_inputs(args, work)
        log("inputs generated")
        res = run_jvm(cp, work, deadline)
        log("harness finished")
        checks = list(res["checks"])
        if "gold" in res:
            detail = check_gold(inputs["landing"], res["gold"])
            checks.append({"name": "gold_vs_duckdb", "ok": not detail, "detail": detail})
        if args.workload == "operator_mix":
            for f in check_operators(inputs["operator_dir"], os.path.join(work, "out"), res["oracle_sql"]):
                checks.append({"name": "operator_vs_oracle", "ok": False, "detail": f})
            missing = set(OPERATOR_QUERIES) - set(res["oracle_sql"])
            if missing:
                checks.append({"name": "operator_oracles", "ok": False,
                               "detail": f"no oracle for {sorted(missing)}"})
        log("checks finished")
        input_bytes = sum(os.path.getsize(os.path.join(inputs["landing"], f))
                          for f in os.listdir(inputs["landing"])) if "landing" in inputs else 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
    bad = [c for c in checks if not c["ok"]]
    for c in bad:
        log(f"check {c['name']} failed: {c['detail']}")
    correct = not bad and res["failed"] == 0 and res["ops"] == res["attempted"]
    if args.trace:
        units = per_layer_units()
        values = layer_metrics(res, input_bytes)
    else:
        units = END_TO_END
        values = {k: res[k] for k in END_TO_END}
    metrics = {k: {"value": values[k], "unit": units[k]} for k in units}
    injected = {}
    for f in inputs.get("history", []) + inputs.get("cycles", []):
        for k, v in f["defects"].items():
            injected[k] = injected.get(k, 0) + v
    record = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "correct": correct, "checks": checks,
              "injected_defects": injected,
              "session_s": res["session_s"], "canaries": res["canaries"],
              "ops": res["ops"], "run_s": res["run_s"], "metrics": metrics, "spans": res["layers"]}
    os.makedirs(os.path.join(BUILD, "results"), exist_ok=True)
    name = f"{args.workload}-{args.seed}-t{args.trace}-{int(time.time())}.json"
    with open(os.path.join(BUILD, "results", name), "w") as f:
        json.dump(record, f)
    print(json.dumps({"correct": correct, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
