#!/usr/bin/env python3
"""Pipeline benchmark of the graft engine: closed-loop workloads with one
client, driving the engine's public functions in one JVM at local[nproc].
BENCHMARK.json lists the workloads and metrics.

    python3 perfbench/run.py --workload etl_snapshots --seed 1 --seconds 14 --trace 0

Builds the engine if its sources changed (perfbench/build.py), generates the
inputs from the seed, runs the workload, checks every output outside the
timed region, and prints one JSON object as the last line of stdout: the
end-to-end metrics with --trace 0, the per-layer metrics with --trace 1
(plus a span file under perfbench/_out). Exits non-zero if an output is
wrong or the run fails.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import checks  # noqa: E402
import gen  # noqa: E402
import metrics as M  # noqa: E402

WORKLOADS = ["etl_snapshots", "corpus_pipeline"]
ETL_ENTITIES, ETL_POOL = 10000, 3
CORPUS_DOCS = 1000
INGEST_DROPS, INGEST_PER_DROP = 16, 250  # a run lands one drop per pass, well under 16
GEN_REPS = 3  # set-up is repeated; its median is reported
RECONCILE_TOLERANCE = 0.05
ETL_CALLS = ["latest_pick", "read_flatten", "csv_write", "append", "readback"]
SEATS = ["text_ngram_jaccard", "text_filter"]  # as in Harness.scala
PROGRESS = ["add_batch", "query_planning", "wal_commit", "latest_offset"]  # after the batch id and rows
ENGINE = ["jobs", "stages", "tasks", "driver_gap_s", "planning_s", "exec_run_s", "exec_cpu_s",
          "gc_s", "core_busy_frac", "max_task_share", "input_mb", "shuffle_write_mb",
          "shuffle_read_mb", "output_mb", "spill_mb"]
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def generate(workload, seed, indir):
    """Writes the workload's inputs; returns what the checks need."""
    if workload == "corpus_pipeline":
        gen.corpus_dir(seed, CORPUS_DOCS, f"{indir}/corpus")
        return gen.ingest_drops(seed, INGEST_DROPS, INGEST_PER_DROP, f"{indir}/drops")
    os.makedirs(f"{indir}/snapshots")
    expected = []
    for p in range(ETL_POOL):
        body, rows = gen.snapshot(seed, p, ETL_ENTITIES)
        with open(f"{indir}/snapshots/snap-{p}.json", "w") as fh:
            fh.write(body)
        expected.append(M.fingerprint(list(range(15)), rows))
    return expected


def host_cal_s():
    """Seconds of a fixed single-threaded loop, printed with every run: a
    coarse reading of the host's speed, which moves by up to ~40% between
    periods on a shared machine."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(2_000_000):
        acc += i * i % 7
    return time.perf_counter() - t0


def digest(d):
    h = hashlib.md5()
    for dirpath, dirs, files in sorted(os.walk(d)):
        dirs.sort()
        for f in sorted(files):
            h.update(f.encode())
            with open(os.path.join(dirpath, f), "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def bytes_under(root, suffix):
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(root)
               for f in fs if f.endswith(suffix) and not f.startswith("."))


def call_walls(ops):
    """Wall seconds of each public call over the given operations."""
    out = {}
    for o in ops:
        for name, w in o["calls"]:
            out.setdefault(name, []).append(w)
    return out


def end_to_end(raw, ops, items, setup_s):
    walls = [o["wall_s"] for o in ops]
    t, pct, n = M.tail(walls)
    return {
        "setup_s": (setup_s, "s"),
        "op_p50_s": (M.median(walls), "s"),
        "items_per_s": (items * len(ops) / raw["measured_s"], "1/s"),
        "call_geomean_s": (M.geomean([M.median(w) for w in call_walls(ops).values()]), "s"),
    }, {"op_tail_s": t, "tail_percentile": pct, "tail_samples": n}


def engine_layers(raw, ops):
    """Spark scheduler and executor counters per traced operation (medians).
    Jobs, stages, tasks and planning phases belong to the operation during
    which they started."""
    per = {k: [] for k in ENGINE}
    for o in (o for o in ops if o["traced"]):
        lo, hi = o["t0"], o["t1"]
        inside = lambda t: lo <= t <= hi  # noqa: E731
        jobs = [(j[1], j[2]) for j in raw["jobs"] if inside(j[1])]
        stages = [s for s in raw["stages"] if inside(s[1])]
        tasks = [t for t in raw["tasks"] if inside(t[1])]
        wall = (hi - lo) / 1000
        run = sum(t[3] for t in tasks) / 1000
        # the largest task's share of the wall of the operation's longest stage
        longest = max(stages, key=lambda s: s[2] - s[1], default=None)
        share = 0.0
        if longest and longest[2] > longest[1]:
            share = max((t[2] - t[1] for t in tasks if t[0] == longest[0]), default=0) / (longest[2] - longest[1])
        mb = lambda i: sum(t[i] for t in tasks) / 2**20  # noqa: E731
        vals = {
            "jobs": len(jobs), "stages": len(stages), "tasks": len(tasks),
            "driver_gap_s": M.driver_gap(lo, hi, jobs) / 1000,
            "planning_s": sum(p[1] for p in raw["planning"] if inside(p[0])) / 1000,
            "exec_run_s": run, "exec_cpu_s": sum(t[4] for t in tasks) / 1e9,
            "gc_s": sum(t[5] for t in tasks) / 1000,
            "core_busy_frac": run / (wall * raw["host"]["cpus"]),
            "max_task_share": min(1.0, share),
            "input_mb": mb(6), "shuffle_write_mb": mb(7), "shuffle_read_mb": mb(8),
            "output_mb": mb(9), "spill_mb": mb(10)}
        for k in ENGINE:
            per[k].append(vals[k])
    unit = lambda k: ("count" if k in ("jobs", "stages", "tasks") else "MB" if k.endswith("_mb")  # noqa: E731
                      else "s" if k.endswith("_s") else "ratio")
    return {f"engine.{k}": (M.median(v), unit(k)) for k, v in per.items()}


def call_tasks(raw, call, field, scale):
    """One task counter (an index into the task records, divided by
    `scale`) summed over the tasks launched inside each traced span of
    `call`; one value per span."""
    return [sum(t[field] for t in raw["tasks"] if sp[4] <= t[1] <= sp[5]) / scale
            for sp in raw["spans"] if sp[3] == call]


def call_gap_s(raw, call):
    """Driver gap of each traced span of `call`: its wall minus the union
    of the jobs that started inside it."""
    return [M.driver_gap(sp[4], sp[5], [(j[1], j[2]) for j in raw["jobs"] if sp[4] <= j[1] <= sp[5]]) / 1000
            for sp in raw["spans"] if sp[3] == call]


def per_layer(raw, ops, checked):
    lay = engine_layers(raw, ops)
    spans = {s[0]: (s[1], s[4], s[5]) for s in raw["spans"]}
    names = {s[0]: s[3] for s in raw["spans"]}
    op_of = {s[0]: s[2] for s in raw["spans"]}
    with_jobs = M.attach_jobs(spans, [(j[1], j[2]) for j in raw["jobs"]], max(spans, default=0) + 1)
    job_ids = set(with_jobs) - set(spans)
    for i in job_ids:
        names[i], op_of[i] = "job", op_of[with_jobs[i][0]]
    selfs = M.self_times(with_jobs)
    errs = [M.reconcile_error(r, with_jobs, job_ids) for r, (p, _, _) in with_jobs.items() if p == -1]
    traced = [o["wall_s"] for o in ops if o["traced"]]
    untraced = [o["wall_s"] for o in ops if not o["traced"]]
    lay["jvm.peak_rss_mb"] = (raw["peak_rss_mb"], "MB")
    lay["trace.overhead_frac"] = (M.median(traced) / M.median(untraced) - 1 if traced and untraced else 0.0, "ratio")
    lay["trace.reconcile_err_frac"] = (max(errs, default=0.0), "ratio")

    # call walls come from every measured operation, traced or not; a
    # layer the workload does not call reads 0: no time was spent there
    calls = call_walls(ops)
    for c in ETL_CALLS:
        lay[f"etl.call.{c}_s"] = (M.median(calls.get(c, [])), "s")
    lay["etl.append_growth_ratio"] = (M.growth_ratio(calls.get("append", [])), "ratio")
    lay["etl.warehouse_files"] = (float(raw.get("warehouse_files", 0)), "count")
    lay["etl.stored_bytes_ratio"] = (checked.get("stored_bytes_ratio", 0.0), "ratio")

    batches = [b for b in raw["progress"] if b[1] > 0]  # skip empty no-data batches
    for k, name in enumerate(PROGRESS):
        lay[f"ingest.progress.{name}_s"] = (M.median([b[2 + k] / 1000 for b in batches]), "s")
    lay["ingest.call.batch_s"] = (M.median(calls.get("ingest", [])), "s")
    by_kind = {True: [], False: []}
    for o in ops:
        if "compaction" in o:
            by_kind[o["compaction"]].append(dict(o["calls"])["ingest"])
    lay["ingest.compaction_batch_s"] = (M.median(by_kind[True]), "s")
    lay["ingest.plain_batch_s"] = (M.median(by_kind[False]), "s")
    lay["ingest.shuffle_write_mb"] = (M.median(call_tasks(raw, "ingest", 7, 2**20)), "MB")
    lay["ingest.state_files"] = (float(raw.get("state_files", 0)), "count")
    lay["ingest.dup_frac"] = (checked.get("dup_frac", 0.0), "ratio")

    docs_mb = checked.get("docs_mb", 0.0)
    lay["corpus.call.materialize_s"] = (M.median(calls.get("materialize", [])), "s")
    read_mb = M.median(call_tasks(raw, "materialize", 6, 2**20))
    lay["corpus.scan_amplification"] = (read_mb / docs_mb if docs_mb else 0.0, "ratio")
    lay["corpus.materialize.driver_gap_s"] = (M.median(call_gap_s(raw, "materialize")), "s")
    lay["corpus.materialize.exec_cpu_s"] = (M.median(call_tasks(raw, "materialize", 4, 1e9)), "s")
    lay["corpus.materialize.shuffle_write_mb"] = (M.median(call_tasks(raw, "materialize", 7, 2**20)), "MB")
    for q in SEATS:
        lay[f"query.seat.{q}_s"] = (M.median(calls.get(q, [])), "s")
    span_rows = [dict(id=i, parent=p, op=op_of[i], name=names[i], start_ms=s, end_ms=e, self_ms=selfs[i])
                 for i, (p, s, e) in sorted(with_jobs.items())]
    return lay, span_rows, errs


def run_checks(workload, raw, ops, work, indir, info):
    """Returns (ids of wrong operations, messages, values for layer metrics)."""
    if workload == "etl_snapshots":
        bad, msgs = checks.etl(work, info, ops, ETL_ENTITIES, raw["snapshots_landed"])
        stored = bytes_under(f"{work}/csv", ".csv") + bytes_under(f"{work}/warehouse", ".parquet")
        return bad, msgs, {"stored_bytes_ratio": stored / bytes_under(f"{work}/raw", ".json")}
    drops = [f"{indir}/drops/drop-{d:04d}.parquet" for d in range(raw["drops_landed"])]
    bad, msgs, dup_frac = checks.ingest(f"{work}/ingest_state", drops, info, raw["pairs_oracle"], ops)
    for bad2, msgs2 in (checks.corpus(work, indir, raw["corpus_keep_oracle"], ops),
                        checks.seats(work, indir, raw["seat_oracles"], ops)):
        bad, msgs = bad | bad2, msgs + msgs2
    return bad, msgs, {"dup_frac": dup_frac, "docs_mb": bytes_under(f"{indir}/corpus", ".parquet") / 2**20}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    build.ensure_built()
    cal_s = host_cal_s()
    work = os.path.join(build.OUT, f"work-{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        # set-up, part 1: generate the inputs GEN_REPS times; they must
        # come out identical, since the seed alone fixes them
        gen_s, digests, info = [], set(), None
        for r in range(GEN_REPS):
            t0 = time.perf_counter()
            info = generate(a.workload, a.seed, f"{work}/in{r}")
            gen_s.append(time.perf_counter() - t0)
            digests.add(digest(f"{work}/in{r}"))
            if r:
                shutil.rmtree(f"{work}/in{r}")
        if len(digests) != 1:
            raise SystemExit("generated inputs differ between repetitions of one seed")
        indir = f"{work}/in0"
        os.makedirs(f"{work}/tmp")
        cpus = len(os.sched_getaffinity(0))
        raw_path = f"{work}/raw.json"
        # set-up, part 2 (in the harness): session start and warm-up
        cmd = (["java", "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp"] + ADD_OPENS +
               ["-cp", build.classpath(), "perfbench.Harness", "--workload", a.workload, "--in", indir,
                "--work", work, "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--cpus", str(cpus), "--out", raw_path])
        env = dict(os.environ, SPARK_GRAFT_STAGING_DIR=f"{work}/staging", GRAFT_REPO_ROOT=build.ROOT)
        with open(f"{work}/jvm.log", "w") as log:
            t0 = time.perf_counter()
            r = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT, env=env, timeout=a.seconds + 140)
            harness_s = time.perf_counter() - t0
        if r.returncode != 0 or not os.path.exists(raw_path):
            sys.stderr.write(open(f"{work}/jvm.log").read()[-3000:])
            raise SystemExit(f"harness exited with {r.returncode}")
        raw = json.load(open(raw_path))
        ops = [o for o in raw["ops"] if not o.get("error")]
        t0 = time.perf_counter()
        bad, msgs, checked = run_checks(a.workload, raw, ops, work, indir, info)
        check_s = time.perf_counter() - t0
        msgs += raw["errors"]
        attempted = len(raw["ops"])
        failed = len(bad) + attempted - len(ops)
        items = ETL_ENTITIES if a.workload == "etl_snapshots" else CORPUS_DOCS + INGEST_PER_DROP
        e2e, tail_info = end_to_end(raw, ops, items, M.median(gen_s) + raw["session_s"] + raw["warmup_s"])
        run_info = dict(raw["host"], workload=a.workload, seed=a.seed, seconds=a.seconds,
                        failed_frac=failed / max(1, attempted), gen_s=gen_s, session_s=raw["session_s"],
                        warmup_s=raw["warmup_s"], warmup_walls_s=raw["warmup_walls"],
                        harness_s=harness_s, check_s=check_s, host_cal_s=cal_s,
                        op_walls_s=[o["wall_s"] for o in ops],
                        call_p50_s={k: M.median(v) for k, v in call_walls(ops).items()}, **tail_info)
        out = e2e
        if a.trace:
            out, span_rows, errs = per_layer(raw, ops, checked)
            with open(os.path.join(build.OUT, f"spans-{a.workload}-{a.seed}.json"), "w") as fh:
                json.dump({"run": run_info, "reconcile_tolerance": RECONCILE_TOLERANCE, "spans": span_rows}, fh)
            if max(errs, default=0.0) > RECONCILE_TOLERANCE:
                print(f"note: span self times miss operation walls by {max(errs):.3f}", file=sys.stderr)
        for m in msgs:
            print("check:", m, file=sys.stderr)
        print(json.dumps(run_info), file=sys.stderr)
        print(json.dumps({"correct": not msgs, "attempted": attempted, "failed": failed,
                          "metrics": {k: {"value": v, "unit": u} for k, (v, u) in out.items()}}))
        sys.exit(1 if msgs else 0)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
