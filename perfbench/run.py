#!/usr/bin/env python3
"""Benchmark of the SINAPI warehouse: a monthly load through `graft.pipeline.Main`
and a closed-loop mix of `graft.query.Queries` calls on the loaded warehouse.

    python3 perfbench/run.py --workload etl_monthly --seed 1 --seconds 6 --trace 0

Run it from the root of a checkout. It compiles the program (perfbench/build.py),
generates the workload's inputs from --seed, runs the program on them, checks
every answer against the generator's own values, and prints one JSON line with
`correct`, `attempted`, `failed` and `metrics` (end-to-end metrics with
--trace 0, per-layer metrics from Spark event logs with --trace 1). Everything
it writes goes under .bench_build/ in the checkout.

Workloads (see BENCHMARK.json):
  etl_monthly    empty warehouse, load month 1, then the query mix on it
  serve_queries  warehouse holding month 1, load month 2, then the query mix
                 (80% of dated requests target the latest month)

Add --plant-wrong-answer to corrupt one expected value of each kind; the run
must then report those operations as failed and `correct` as false.
Add --quoted-cells to generate inputs that also hold cells with `"` (quoted
hyperlink cost codes, inch-mark descriptions), which the program's load
mishandles today; the run then reports the failed load and lookups.
"""

import argparse
import hashlib
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
from decimal import Decimal

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # leave nothing but .bench_build/ behind

import build  # noqa: E402
import eventlog  # noqa: E402
import sinapi_gen as gen  # noqa: E402
import warehouse  # noqa: E402

ROOT = build.ROOT
WORK = os.path.join(ROOT, ".bench_build")
SCALE = 0.1           # share of SINAPI's catalog sizes (5k insumos, 8k compositions)
GEN_REPEATS = 2       # inputs are generated this many times (same bytes each time)
SETUPS = 3            # serving set-ups in a run; setup_s is their median
JVM_TIMEOUT_S = 150
MIN_PER_KIND = 4      # the query mix runs until each kind has this many samples
# request kinds in the order one round of the closed loop issues them; the
# stream's last three requests, one of each kind (never reached by the timed
# loop), are the untimed warm-up
ROUND = ("lookup", "history", "rollup", "lookup", "history")
OPS = ["lookup", "history", "rollup"]
PHASES = ("preconvert", "bootstrap", "maintenance", "transform", "load", "repair_and_sync")
REFERENCE = ("etl_run_s", "lookup_p50_ms", "history_p50_ms", "rollup_p50_ms")
WORKLOADS = {
    # name: (months already in the warehouse, month loaded by pipeline.Main)
    "etl_monthly": ([], 0),
    "serve_queries": ([0], 1),
}
ADD_OPENS = [x for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")
    for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def heap():
    """MemTotal/2 clamped to 2..8 GiB, as the repo's test command sizes its JVMs."""
    kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                kb = int(line.split()[1])
    return f"{min(8, max(2, kb // 2097152))}g"


def cpus():
    return len(os.sched_getaffinity(0))


class Jvm:
    """Runs one program JVM to completion: wall time, exit code, peak RSS."""

    def __init__(self, classpath, tmp):
        self.classpath, self.tmp = classpath, tmp
        self.env = {k: v for k, v in os.environ.items()
                    if not k.startswith(("AUTOSINAPI_", "SPARK_GRAFT_", "SPARK_MASTER", "_JAVA_OPTIONS",
                                             "JAVA_TOOL_OPTIONS", "JDK_JAVA_OPTIONS"))}
        self.env.update(SPARK_GRAFT_CPUS=str(cpus()), SPARK_LOCAL_DIRS=tmp)

    def run(self, main, args, out, err, eventlog_dir=None):
        props = ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
                 f"-Dspark.local.dir={self.tmp}", f"-Djava.io.tmpdir={self.tmp}"]
        if eventlog_dir:
            os.makedirs(eventlog_dir, exist_ok=True)
            props += ["-Dspark.eventLog.enabled=true", f"-Dspark.eventLog.dir=file://{eventlog_dir}",
                      "-Dspark.eventLog.compress=false", "-Dspark.eventLog.rolling.enabled=false"]
        cmd = ["java", *ADD_OPENS, f"-Xmx{heap()}", *props, "-cp", self.classpath, main, *args]
        with open(out, "w") as fo, open(err, "w") as fe:
            t0 = time.time()
            p = subprocess.Popen(cmd, cwd=self.tmp, stdout=fo, stderr=fe, env=self.env,
                                 start_new_session=True)
            timer = threading.Timer(JVM_TIMEOUT_S, kill_group, [p.pid])
            timer.start()
            try:
                _, status, usage = os.wait4(p.pid, 0)
            except BaseException:  # interrupted: the JVM must not outlive the run
                kill_group(p.pid)
                os.wait4(p.pid, 0)
                raise
            finally:
                timer.cancel()
            p.returncode = os.waitstatus_to_exitcode(status)
            wall = time.time() - t0
        kill_group(p.pid)  # anything the JVM forked (e.g. chmod) goes with it
        return {"start": t0, "wall_s": wall, "rc": p.returncode,
                "rss_mb": usage.ru_maxrss / 1024.0}


def kill_group(pid):
    try:
        os.killpg(pid, signal.SIGKILL)
    except ProcessLookupError:
        pass


def tree_digest(path):
    h = hashlib.sha256()
    for name in sorted(os.listdir(path)):
        h.update(name.encode())
        with open(os.path.join(path, name), "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def generate(world, month, run_dir):
    """Write month's workbooks GEN_REPEATS times; returns (staging dir, median
    seconds, input bytes, identical): the same seed must give identical bytes."""
    times, digests = [], []
    for k in range(GEN_REPEATS):
        d = os.path.join(run_dir, f"staging{k}")
        t0 = time.perf_counter()
        gen.World(world.seed, SCALE, world.quoted).write_month(month, d)
        times.append(time.perf_counter() - t0)
        digests.append(tree_digest(d))
    staging = os.path.join(run_dir, "staging0")
    for k in range(1, GEN_REPEATS):
        shutil.rmtree(os.path.join(run_dir, f"staging{k}"))
    size = sum(os.path.getsize(os.path.join(staging, n)) for n in os.listdir(staging))
    return staging, statistics.median(times), size, len(set(digests)) == 1


def make_requests(world, seed, latest, n, plant):
    """Seeded request stream with the generator's answers, in rounds of ROUND.
    Dated requests target the latest month 80% of the time; UF and regime are
    drawn uniformly, and so are codes: any composition for a lookup, any logged
    item for a history. Roll-up codes come in blocks of MIN_PER_KIND, each a
    systematic sample of the catalog ordered by tree depth: every composition is
    drawn with the same chance, and each block holds the catalog's mix of tree
    depths (1 to MAX_DEPTH), so the few roll-ups a run affords do not swing
    between shallow and deep trees from seed to seed."""
    rng = random.Random(f"requests-{seed}")
    deact = set(world.deactivated(latest)["COMPOSICAO"])
    items = sorted({(e[1], e[2]) for e in world.events_until(latest)})
    regimes = [r for _, _, r in gen.REGIMES]
    by_depth = sorted(world.comp_codes, key=lambda c: (world.depth(latest, c), rng.random()))
    step = len(by_depth) / MIN_PER_KIND
    rollups, out = [], []

    def month():
        return latest if latest == 0 or rng.random() < 0.8 else rng.randrange(latest)
    for k in range(n):
        op = ROUND[k % len(ROUND)]
        if op == "history":
            tipo, code = rng.choice(items)
            out.append((op, [str(code), tipo], world.history_len(latest, tipo, code)))
            continue
        if op == "rollup":
            if k >= n - len(OPS):
                # the untimed warm-up rolls up a deepest tree: every TreeExplode
                # round runs before the timed mix, and set-up does the same work
                # on every seed
                code = by_depth[-1]
            else:
                if not rollups:
                    u = rng.random() * step
                    rollups = [by_depth[int(u + j * step)] for j in range(MIN_PER_KIND)]
                    rng.shuffle(rollups)
                code = rollups.pop()
            m = month()
            uf, regime = rng.choice(gen.UFS), rng.choice(regimes)
            out.append((op, [str(code), uf, gen.month_key(m), regime],
                        lambda c=code, u=uf, r=regime, mm=m: world.rollup(latest, mm, c, u, r)))
            continue
        while True:
            m, code = month(), rng.choice(world.comp_codes)
            uf, regime = rng.choice(gen.UFS), rng.choice(regimes)
            cost = world.costs(m)[(regime, code, uf)]
            if cost is not None:
                break
        out.append((op, [str(code), uf, gen.month_key(m), regime],
                    (cost, "DESATIVADO" if code in deact else "ATIVO")))
    if plant:  # one wrong expected value of each kind
        for op in OPS:
            i = next(i for i, r in enumerate(out) if r[0] == op)
            _, args, exp = out[i]
            wrong = {"lookup": lambda: (exp[0] + 1, exp[1]), "history": lambda: exp + 1,
                     "rollup": lambda: (exp() or 0) + 1}[op]()
            out[i] = (op, args, wrong)
    return out


def decimal_answer(text):
    """The harness prints decimals as plain strings and SQL NULL as `null`."""
    return None if text in ("", "null") else Decimal(text)


def check_answer(op, expected, answer):
    if callable(expected):
        expected = expected()
    if answer.startswith("ERR "):
        return answer
    if op == "lookup":
        rows = answer.split(",") if answer else []
        if len(rows) != 1:
            return f"{len(rows)} rows, expected 1"
        cost, status = rows[0].split("|")
        ok = decimal_answer(cost) == expected[0] and status == expected[1]
        return None if ok else f"got {rows[0]}, expected {expected[0]}|{expected[1]}"
    if op == "history":
        return None if int(answer) == expected else f"got {answer} rows, expected {expected}"
    got = decimal_answer(answer)
    return None if got == expected else f"got {answer}, expected {expected}"


def one_pass(jvm, staging, wh, month, requests, run_dir, seconds, tag, trace):
    """One program JVM: pipeline.Main loads `month`, then the query mix runs.
    Returns its JVM record with load end, set-up times, run report and results;
    `crash` holds the cause when the JVM ended before the query mix (Main exits
    the JVM when its load fails)."""
    out = os.path.join(run_dir, f"{tag}.tsv")
    ev = os.path.join(run_dir, f"events-{tag}") if trace else None
    y, m = gen.month_of(month)
    rec = jvm.run("perfbench.ServeHarness",
                  [wh, requests, out, str(seconds), str(MIN_PER_KIND), str(len(OPS)),
                   str(SETUPS), staging, str(y), str(m)],
                  os.path.join(run_dir, f"{tag}.out"), os.path.join(run_dir, f"{tag}.err"), ev)
    reports = [ln for ln in open(os.path.join(run_dir, f"{tag}.out")).read().splitlines()
               if ln.startswith("{")]
    rec["report"] = json.loads(reports[-1]) if reports else None
    lines = [ln.split("\t", 3) for ln in
             (open(out).read().splitlines() if os.path.exists(out) else [])]
    loaded = [int(x[1]) / 1e3 for x in lines if x[0] == "loaded"]
    rec["setup_s"] = [int(x[1]) / 1e9 for x in lines if x[0] == "setup"]
    rec["results"] = [(int(i), op, int(ns), a) for i, op, ns, a in
                      (x for x in lines if len(x) == 4)]
    rec["load_s"] = loaded[0] - rec["start"] if loaded else rec["wall_s"]
    rec["eventlog"] = ev
    rec["crash"] = None
    if rec["rc"] != 0 or not loaded or len(rec["setup_s"]) != SETUPS:
        err = "\n".join(ln for ln in open(os.path.join(run_dir, f"{tag}.err"), errors="replace")
                        if " INFO " not in ln)
        rec["crash"] = (f"program JVM exit {rec['rc']} after {len(loaded)} load(s) and "
                        f"{len(rec['setup_s'])} serving set-up(s); run report "
                        f"{rec['report'] and (rec['report']['status'], rec['report']['sheet_errors'])}"
                        f"; stderr tail: {' '.join(err[-1500:].split())}")
    return rec


def percentile(values, q):
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1] if len(values) > 1 \
        else values[0]


def run(args):
    classpath = build.build()
    world = gen.World(args.seed, SCALE, args.quoted_cells)
    history, month = WORKLOADS[args.workload]
    run_dir = os.path.join(WORK, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    try:
        return measure(args, classpath, world, history, month, run_dir, tmp)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def measure(args, classpath, world, history, month, run_dir, tmp):
    jvm = Jvm(classpath, tmp)
    failures = []
    staging, gen_s, input_bytes, identical = generate(world, month, run_dir)
    if not identical:
        failures.append("generator: the same seed gave different workbook bytes")
    requests = make_requests(world, args.seed, month, 500, args.plant_wrong_answer)
    req_path = os.path.join(run_dir, "requests.tsv")
    with open(req_path, "w") as f:
        f.writelines("\t".join([op] + a) + "\n" for op, a, _ in requests)

    # --trace 1 runs one pass with Spark event logs, and compares it with the
    # correct untraced runs of this workload recorded for the current build (the records
    # live in the build directory, which a rebuild empties); without any, it
    # makes an untraced pass first, which is recorded like an untraced run
    records = os.path.join(build.OUT, f"untraced-{args.workload}.jsonl")
    reference = None
    if args.trace and os.path.exists(records):
        recorded = [json.loads(ln) for ln in open(records) if ln.strip()]
        reference = {k: statistics.median(r[k] for r in recorded) for k in REFERENCE}
    tags = ["plain"] if not args.trace else ["traced"] if reference else ["plain", "traced"]
    passes = {}
    for t in tags:
        wh = os.path.join(run_dir, f"warehouse-{t}")
        t0 = time.perf_counter()
        os.makedirs(wh)
        if history:
            warehouse.write_history(world, history, wh)
        hist_s = time.perf_counter() - t0
        before = warehouse.layout(wh)
        # each pass gets its own copy: preconvert writes CSVs next to the workbooks
        stage = shutil.copytree(staging, f"{staging}-{t}")
        passes[t] = p = one_pass(jvm, stage, wh, month, req_path, run_dir, args.seconds, t,
                                 t == "traced")
        p["history_s"], p["before"], p["after"] = hist_s, before, warehouse.layout(wh)
        rep = p["report"]
        if p["crash"]:
            p["load_failures"] = [p["crash"]]
            break  # nothing after the load was measured
        problems = ([] if rep and rep["status"] == "SUCESSO" and not rep["sheet_errors"]
                    else [f"run report: {rep and (rep['status'], rep['sheet_errors'])}"])
        p["load_failures"] = problems or warehouse.check_load(world, month, wh)

    attempted = failed = 0
    rows = dict.fromkeys(OPS, 0)
    for t, p in passes.items():
        attempted += 1
        p["lat"] = {op: [] for op in OPS}
        if p["load_failures"]:
            failed += 1
            failures += [f"{t} load of month {month + 1}: {x}" for x in p["load_failures"]]
        for i, op, ns, answer in p["results"]:
            attempted += 1
            problem = check_answer(op, requests[i][2], answer)
            if problem:
                failed += 1
                failures.append(f"{t} {op} #{i} {' '.join(requests[i][1])}: {problem}")
            p["lat"][op].append(ns / 1e6)
            if t == tags[-1]:
                rows[op] += int(answer) if op == "history" and not problem else 1
        if not p["crash"] and not all(p["lat"].values()):
            failures.append(f"{t}: a request kind never ran: "
                            f"{ {op: len(v) for op, v in p['lat'].items()} }")
        p["summary"] = {"etl_run_s": p["load_s"], **{
            f"{op}_p50_ms": statistics.median(v) for op, v in p["lat"].items() if v}}
    last = passes[list(passes)[-1]]
    for f in failures:
        log(f"FAILED {f}")
    log("samples: " + ", ".join(f"{op} {len(v)}" for op, v in last["lat"].items()))
    for t, p in passes.items():
        log(f"{t}: generate {gen_s:.1f} s, history {p['history_s']:.1f} s, load "
            f"{p['load_s']:.1f} s, serving set-ups "
            + " ".join(f"{x:.1f}" for x in p["setup_s"]) + f" s, JVM {p['wall_s']:.1f} s, "
            f"mix {sum(r[2] for r in p['results']) / 1e9:.1f} s, phases "
            + " ".join(f"{k} {v:.1f}" for k, v in (p["report"] or {}).get("phase_seconds", {}).items()))
    correct = failed == 0 and not failures

    if last["crash"] or set(last["summary"]) != {"etl_run_s", *REFERENCE}:
        # the run ended early: report what was measured, marked incorrect
        metrics = ({"ops_failed_ratio": (failed / attempted, "ratio"),
                    "jvm.peak_rss_mb": (last["rss_mb"], "MB")} if args.trace else
                   {k: (v, "s" if k.endswith("_s") else "ms") for k, v in last["summary"].items()})
    elif args.trace:
        metrics = layer_metrics(passes["traced"], reference or passes["plain"]["summary"],
                                rows, attempted, failed)
        metrics["bench.generate_s"] = (gen_s, "s")
        metrics["bench.history_write_s"] = (passes["traced"]["history_s"], "s")
    else:
        p = passes["plain"]
        metrics = {
            "setup_s": (statistics.median(p["setup_s"]), "s"),
            "etl_run_s": (p["load_s"], "s"),
            "warehouse_bytes_per_input_byte":
                ((p["after"][1] - p["before"][1]) / input_bytes, "ratio"),
            **{f"{op}_p50_ms": (p["summary"][f"{op}_p50_ms"], "ms") for op in OPS},
        }
    plain = passes.get("plain")
    if correct and plain:
        with open(records, "a") as f:
            f.write(json.dumps(plain["summary"]) + "\n")
    return {"correct": correct, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}


def layer_metrics(traced, reference, rows, attempted, failed):
    """Per-layer numbers of the traced pass; overheads against `reference`, the
    untraced figures of the same workload."""
    lat = traced["lat"]
    logs = sorted(os.path.join(traced["eventlog"], n) for n in os.listdir(traced["eventlog"]))
    summary = eventlog.Summary()
    app_starts = sorted(summary.add(path) for path in logs)  # Main's session comes first
    m = {}
    for mod, vals in summary.modules.items():
        for k, v in vals.items():
            unit = "count" if k in ("jobs", "tasks", "tasks_failed") else \
                "s" if k.endswith("_s") else "bytes"
            m[f"{mod}.{k}"] = (v, unit)
    phases = (traced["report"] or {}).get("phase_seconds", {})
    for ph in PHASES:
        m[f"pipeline.{ph}_s"] = (phases.get(ph, 0.0), "s")
    m["pipeline.process_start_s"] = (app_starts[0] / 1e3 - traced["start"], "s")
    files, size, per_part = traced["after"]
    written = sum(v["output_bytes"] for v in summary.modules.values())
    m["store.files_live"] = (files, "count")
    m["store.bytes_live"] = (size, "bytes")
    m["store.write_amplification"] = (written / max(1, size - traced["before"][1]), "ratio")
    m["store.files_per_partition_max"] = (per_part, "count")
    for op in OPS:
        g = summary.groups.get(f"query.{op}", {"jobs": 0, "tasks": 0, "records_read": 0,
                                               "task_wait_ms": 0})
        n = len(lat[op])
        m[f"query.{op}.jobs_per_op"] = (g["jobs"] / n, "count")
        m[f"query.{op}.tasks_per_op"] = (g["tasks"] / n, "count")
        m[f"query.{op}.records_read_per_row"] = (g["records_read"] / max(1, rows[op]), "ratio")
        m[f"query.{op}.task_wait_ms"] = (g["task_wait_ms"] / n, "ms")
        m[f"query.{op}.p90_ms"] = (percentile(lat[op], 90), "ms")
        m[f"query.{op}.samples"] = (n, "count")
    m["jvm.peak_rss_mb"] = (traced["rss_mb"], "MB")
    m["ops_failed_ratio"] = (failed / attempted, "ratio")
    m["trace.etl_overhead_pct"] = (
        100 * (traced["summary"]["etl_run_s"] / reference["etl_run_s"] - 1), "%")
    p50s = [f"{op}_p50_ms" for op in OPS]
    m["trace.serve_overhead_pct"] = (100 * (sum(traced["summary"][k] for k in p50s) /
                                            sum(reference[k] for k in p50s) - 1), "%")
    return m


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--plant-wrong-answer", action="store_true")
    ap.add_argument("--quoted-cells", action="store_true")
    args = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))  # run the cleanups
    try:
        result = run(args)
    except build.BuildError as e:
        sys.exit(f"[perfbench] build failed: {e}")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
