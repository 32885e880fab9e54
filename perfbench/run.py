#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one process.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the library and the harness from source (perfbench/build.sbt) on
first use, stages seeded inputs, runs the workload in one Spark session
with one closed-loop client (perfbench/src/main/scala/graftbench), checks
the outputs, and prints every metric by name with its unit. The last
stdout line is one JSON object: correct, attempted, failed, metrics.
With --trace 0 the metrics are the end-to-end ones; with --trace 1 the
per-layer ones, from a run that also writes spans to
perfbench/.work/run/out/spans.jsonl.
"""
import argparse
import contextlib
import hashlib
import io
import json
import math
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

import etl_pages

HERE = Path(__file__).resolve().parent
REPO = HERE.parent
WORK = HERE / ".work"
SPEC = json.loads((HERE / "workloads.json").read_text())
BENCH = json.loads((REPO / "BENCHMARK.json").read_text())

# JDK 17 module opens Spark needs outside spark-submit (the library build's list).
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def wipe(d):
    shutil.rmtree(d, ignore_errors=True)
    d.mkdir(parents=True)


def digest(paths, base=REPO):
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(p.relative_to(base).as_posix().encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def files(d):
    return [p for p in d.rglob("*") if p.is_file()]


def run_child(cmd, timeout, **kw):
    """Runs `cmd` in its own process group; on timeout kills the group and
    waits for it. Returns the exit code, or None on timeout."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return proc.wait(timeout=timeout)
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        if sys.exc_info()[0] is subprocess.TimeoutExpired:
            return None
        raise


# ---- build ------------------------------------------------------------------
def build():
    """Compiles the library and harness once per source state. Returns
    (classpath, source digest, whether it built)."""
    stamp = digest(files(REPO / "src" / "main") + files(HERE / "src") +
                   [HERE / "build.sbt", HERE / "project" / "build.properties"])
    bdir = WORK / "build"
    cp_file, stamp_file = bdir / "classpath", bdir / "stamp"
    if cp_file.exists() and stamp_file.exists() and stamp_file.read_text() == stamp:
        return cp_file.read_text(), stamp, False
    bdir.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    with open(bdir / "build.log", "w") as log:
        rc = run_child(["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
                        "compile", "export Runtime/fullClasspath"],
                       850, cwd=HERE, env=env, stdout=log, stderr=subprocess.STDOUT)
    out = (bdir / "build.log").read_text(errors="replace").splitlines()
    cp = [l for l in out if os.pathsep in l and "scala-2.13" in l and not l.startswith("[")]
    if rc != 0 or not cp:
        fail("build failed:\n" + "\n".join(out[-30:]), 1)
    cp_file.write_text(cp[-1].strip())
    stamp_file.write_text(stamp)
    return cp[-1].strip(), stamp, True


# ---- inputs -----------------------------------------------------------------
def stage_tables(src, dst, seed):
    """A seeded row-order permutation of each table, one parquet file per
    table as in the source directory."""
    import numpy as np
    import pyarrow.parquet as pq
    wipe(dst)
    for i, f in enumerate(sorted(src.glob("*.parquet"))):
        t = pq.read_table(f)
        perm = np.random.default_rng([seed, i]).permutation(t.num_rows)
        pq.write_table(t.take(perm), dst / f.name, compression="snappy")


def stage(workload, size, seed, inputs):
    """Stages the run's inputs. Returns (pages or None, table dir, seconds)."""
    t0 = time.monotonic()
    data = inputs / size["data"]
    stage_tables(HERE / "data" / size["data"], data, seed)
    pages = None
    if workload == "etl_hourly":
        wipe(inputs / "pages")
        fixture = (REPO / "src/main/resources/fixtures/report_sample.html").read_text(encoding="utf-8")
        pages = etl_pages.generate(fixture, seed, size["pages"], size["resent_pages"], size["bad_pages"])
        for p in pages:
            (inputs / "pages" / f"{p['name']}.html").write_text(p["html"], encoding="utf-8")
    return pages, data, time.monotonic() - t0


# ---- statistics -------------------------------------------------------------
def percentile(xs, p):
    """Nearest-rank percentile."""
    xs = sorted(xs)
    return xs[min(len(xs) - 1, max(math.ceil(p / 100 * len(xs)) - 1, 0))] if xs else None


def summary(xs):
    """Median, the highest percentile with at least ten samples beyond it,
    and the sample count."""
    out = {"median": statistics.median(xs) if xs else None, "n": len(xs)}
    for p in (99, 95, 90, 75, 50):
        if len(xs) * (100 - p) / 100 >= 10:
            out[f"p{p}"] = percentile(xs, p)
            break
    return out


def geomean(xs):
    return math.exp(sum(math.log(max(x, 1e-9)) for x in xs) / len(xs)) if xs else None


def family(q):
    head = q.split("_")[0]
    for fam, prefixes in SPEC["families"].items():
        if head in prefixes or head.rstrip("0123456789") in prefixes:
            return fam
    return "other"


# ---- correctness ------------------------------------------------------------
def check_queries(data, check_dir, queries, errors):
    """Oracle compare through tools/check.py; queries without an oracle
    must return rows. Returns {query: problem} for every failing query."""
    sys.path.insert(0, str(REPO / "tools"))
    import check
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        check.main(str(data), str(check_dir))
    ok, bad = set(), {}
    for line in buf.getvalue().splitlines():
        word, _, rest = line.partition(" ")
        name = rest.split(":")[0].split(" ")[0]
        if word == "PASS":
            ok.add(name)
        elif word == "FAIL":
            bad[name] = rest
        elif word == "INFO":
            if int(rest.rsplit("rows=", 1)[1]) > 0:
                ok.add(name)
            else:
                bad[name] = "no oracle and 0 rows"
    for q in queries:
        if q not in ok and q not in bad:
            bad[q] = errors.get(q, "no output")
    return bad


def check_etl(pages, check_dir):
    """The ETL store against the last-write-wins reference, the backfill
    against every reading of every good page."""
    import pandas as pd
    want = etl_pages.expected(pages)
    common = ["report_ts", "clave_str", "calidad_del_aire_str", "parametro_str",
              "week_day_str", "month_day_num", "month_name_str", "month_num", "year_num", "hour_num"]
    cols = {"cdmx": common + ["alcaldia_str", "nupdates"],
            "edomex": common + ["municipio_str", "nupdates"],
            "gral_stats": ["report_ts", "temp_celsius_int", "reco_uiv_str", "score_air_str",
                           "score_air_next_day_str", "week_day_str", "month_day_num",
                           "month_name_str", "month_num", "year_num", "hour_num", "nupdates"],
            "readings": common + ["alcaldia_str"]}
    problems = {}
    for t, c in cols.items():
        parts = sorted((check_dir / t).glob("*.parquet"))
        err = (etl_pages.compare(t, pd.concat([pd.read_parquet(f) for f in parts]), want[t], c)
               if parts else "no output")
        if err:
            problems[t] = err
    return problems


def judge(workload, res, pages, data, queries, out):
    """Correctness problems, churned stores and the failed-operation count."""
    ops = [o for o in res["ops"] if o["pass"] >= 0]
    problems = {f"set-up {o['name']}": o["err"] for o in res["ops"]
                if o["pass"] < 0 and o["status"] == "failed"}
    failed = sum(o["status"] == "failed" for o in ops)
    if workload == "etl_hourly":
        # a rejected good page or an accepted bad one is a failure;
        # rejecting a bad page is the expected validation outcome
        bad_pages = {p["name"] for p in pages if p["bad"]}
        for o in res["ops"]:
            if o["kind"] == "batch" and (o["status"] == "rejected") != (o["name"] in bad_pages):
                failed += o["pass"] >= 0
                problems[f"page {o['name']}"] = o["status"]
        wrong = check_etl(pages, out / "check")
        problems.update(wrong)
        if wrong:
            last = max(o["pass"] for o in ops)
            failed += sum(o["kind"] == "batch" and o["pass"] == last for o in ops)
    else:
        wrong = check_queries(data, out / "check", queries, res.get("check_errors", {}))
        problems.update(wrong)
        failed += sum(o["name"] in wrong and o["status"] == "ok" for o in ops)
    # churn: a build-once store (its path names the staged input's
    # fingerprint, "<dir>-<hex>") missed in the timed passes and was
    # rebuilt there. Paths without a fingerprint are per-run scratch.
    fingerprint = f"/{data.name}-"
    churn = {k: v for k, v in res["store_misses"].items()
             if k in res["store_misses_rebuilt"] and fingerprint in k
             and not any(all(part in k for part in tags) for tags in SPEC["by_design_misses"])}
    for path, n in churn.items():
        problems[f"store miss in timed passes: {path}"] = n
    failed += sum(churn.values())
    return problems, churn, min(failed, len(ops)), len(ops)


# ---- metrics ----------------------------------------------------------------
def measure(workload, res, pages, stage_times, churn):
    """(end-to-end metrics, per-layer metrics, timing summaries, workload figures)."""
    etl = workload == "etl_hourly"
    ops = [o for o in res["ops"] if o["pass"] >= 0]
    main_kind = "batch" if etl else "query"
    # every run times the same fixed number of untraced passes (the timed
    # region; total_s is its wall time); a traced run adds one traced pass
    untraced = [p["s"] for p in res["passes"] if not p["traced"]]
    traced = [p["s"] for p in res["passes"] if p["traced"]]
    measured = [o for o in ops if not o["traced"]]
    main_s = [o["s"] for o in measured if o["kind"] == main_kind and o["status"] == "ok"]
    setup_s = res["session_s"] + statistics.median(stage_times) + statistics.median(res["setup_rounds_s"])
    e2e = {"setup_s": setup_s, "total_s": sum(untraced), "geomean_s": geomean(main_s)}
    timings = {"setup_s": {"median": setup_s, "n": len(res["setup_rounds_s"]), "session_s": res["session_s"],
                           "stage_s": stage_times, "rounds_s": res["setup_rounds_s"]},
               "pass_s": summary(untraced), "op_s": summary(main_s)}

    def time_of(os_, pred):
        return sum(o["s"] for o in os_ if pred(o))

    if etl:
        ub = etl_pages.user_bytes(pages)
        backfill = [o["s"] for o in measured if o["kind"] == "backfill" and o["status"] == "ok"]
        readback = [o["s"] for o in measured if o["kind"] == "readback" and o["status"] == "ok"]
        timings["readback"], timings["backfill"] = summary(readback), summary(backfill)
        specific = {
            # per-layer figures, not end-to-end ones: a run holds too few
            # batches for its p50 or p90 to repeat between runs
            "etl.batch_p50_s": statistics.median(main_s) if main_s else None,
            "etl.batch_p90_s": percentile(main_s, 90),
            "etl.readback_p50_s": statistics.median(readback) if readback else None,
            "etl.backfill_pages_per_s": len(pages) / statistics.median(backfill) if backfill else None,
            "operators.store.store_bytes_per_user_byte": res.get("store_bytes", 0) / ub,
            "etl.rows_per_batch": etl_pages.rows_per_batch(pages),
        }
    else:
        specific = {
            "streaming.stream_s": time_of(measured, lambda o: family(o["name"]) == "streaming"),
            "operators.store.store_s": time_of(measured, lambda o: family(o["name"]) == "store"),
        }

    lay = dict.fromkeys((m["name"] for m in BENCH["per_layer"]), 0.0)
    lay.update({k: v for k, v in res["layers"].items() if k in lay})
    t_ops = [o for o in ops if o["traced"]]
    for fam in ("graph", "dedup", "vector", "text", "multimodal", "analytics", "relational"):
        lay[f"operators.{fam}_s"] = time_of(t_ops, lambda o: o["kind"] == "query" and family(o["name"]) == fam)
    lay["operators.store.dml_s"] = time_of(
        t_ops, lambda o: o["kind"] == "query" and o["name"].split("_")[0] in SPEC["dml_prefixes"])
    lay["plans.construct_s"] = sum(o["construct_s"] for o in t_ops)
    if etl:
        # a batch is runBatch: one batchFromHtml parse (timed on its own
        # by the parse probe), then three upsertPartitioned commits
        batches = [o["s"] for o in t_ops if o["kind"] == "batch" and o["status"] == "ok"]
        if batches:
            lay["operators.store.commit_s"] = (statistics.mean(batches) - lay["etl.parse_s"]) / 3
        lay["operators.store.bytes_written_per_user_byte"] = res["layers"].get("operators.store.bytes_written", 0) / ub
    lay["operators.store.timed_misses"] = float(sum(churn.values()))
    lay["trace.overhead_s"] = traced[0] - statistics.median(untraced) if traced else 0.0
    lay.update({k: v for k, v in specific.items() if k in lay and v is not None})
    return e2e, lay, timings, specific


# ---- run --------------------------------------------------------------------
def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SPEC["workloads"]))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="the run's time budget; the timed region is a fixed number of passes "
                         "of fixed work sized to it (workloads.json)")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=sorted(SPEC["sizes"]), default="full",
                    help="input size; tiny is for the smoke test")
    args = ap.parse_args()
    started = time.monotonic()

    needed = [REPO / "src/main/scala", REPO / "tools/check.py",
              REPO / "src/main/resources/fixtures/report_sample.html", HERE / "data"]
    missing = [str(p.relative_to(REPO)) for p in needed if not p.exists()]
    if missing or shutil.which("sbt") is None or shutil.which("java") is None:
        fail(f"cannot build here: missing {missing or 'sbt/java'}")
    classpath, source_sha, built = build()
    limit = 880 if built else 170  # a run ends in 180 s; the one that builds in 900 s

    wl, size = SPEC["workloads"][args.workload], SPEC["sizes"][args.size]
    queries = wl.get("tiny_queries" if args.size == "tiny" else "queries", [])
    order = list(queries)
    random.Random(args.seed).shuffle(order)

    run = WORK / "run"
    wipe(run)
    inputs, out, roots = run / "inputs", run / "out", run / "roots"
    for d in (inputs, out, roots, run / "jvm", run / "tmp", run / "local"):
        d.mkdir(parents=True, exist_ok=True)
    stage_times = []
    for _ in range(SPEC["setup_rounds"]):
        pages, data, s = stage(args.workload, size, args.seed, inputs)
        stage_times.append(s)
    input_sha = digest(files(inputs), inputs)

    plan = {"workload": args.workload, "trace": args.trace,
            "cores": min(SPEC["cores"], len(os.sched_getaffinity(0))),
            "setup_rounds": SPEC["setup_rounds"], "data": data, "pages": inputs / "pages",
            "timed_passes": wl["timed_passes"],
            "out": out, "queries": ",".join(order), "kernel_reps": size["kernel_reps"]}
    (run / "plan.properties").write_text("".join(f"{k}={v}\n" for k, v in plan.items()))
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env["SPARK_LOCAL_DIRS"] = str(run / "local")
    jvm_started = time.monotonic()
    with open(run / "jvm.log", "w") as log:
        rc = run_child(["java", f"-Xmx{SPEC['heap']}", *ADD_OPENS, f"-Dgraftbench.tmp={roots}",
                        f"-Djava.io.tmpdir={run / 'tmp'}", "-cp", classpath, "graftbench.Main",
                        str(run / "plan.properties")],
                       max(limit - (time.monotonic() - started) - 15, 10),
                       cwd=run / "jvm", env=env, stdout=log, stderr=subprocess.STDOUT)
    if rc is None:
        fail("workload did not finish in time", 1)
    if rc != 0 or not (out / "result.json").exists():
        tail = (run / "jvm.log").read_text(errors="replace").splitlines()[-30:]
        fail(f"JVM exited with {rc}:\n" + "\n".join(tail), 1)
    res = json.loads((out / "result.json").read_text())

    check_started = time.monotonic()
    problems, churn, failed, attempted = judge(args.workload, res, pages, data, queries, out)
    phases_s = {"before_jvm": jvm_started - started, "jvm": check_started - jvm_started,
                "check": time.monotonic() - check_started}
    e2e, lay, timings, specific = measure(args.workload, res, pages, stage_times, churn)
    spec = BENCH["per_layer" if args.trace else "end_to_end"]
    values = lay if args.trace else e2e
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in spec}
    correct = not problems and all(m["value"] is not None for m in metrics.values())

    commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=REPO, capture_output=True,
                            text=True).stdout.strip() if (REPO / ".git").exists() else ""
    report = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "size": args.size, "cores": res["cores"], "nproc": os.cpu_count(),
        "heap_max_mb": res["heap_max_mb"], "spark_version": res["spark_version"],
        "commit": commit, "source_sha256": source_sha, "input_sha256": input_sha,
        "query_order": order, "phases_s": phases_s, "timings": timings, "workload_metrics": specific,
        "failed_frac": failed / attempted, "problems": problems,
        "store_hits": res["store_hits"], "store_misses": res["store_misses"],
        "span_ms": {k: v for k, v in res.items() if k.startswith("span_")},
    }
    (out / "report.json").write_text(json.dumps(report, indent=1, default=str))

    print(f"workload {args.workload} seed {args.seed} size {args.size} trace {args.trace}: "
          f"local[{res['cores']}] of nproc {os.cpu_count()}, heap {res['heap_max_mb']:.0f} MB, "
          f"commit {commit[:12] or '-'}, source {source_sha[:12]}, inputs {input_sha[:12]}")
    for k, t in timings.items():
        extra = " ".join(f"{a}={b:.4f}" for a, b in t.items() if isinstance(b, float) and a != "median")
        if t.get("median") is not None:
            print(f"  {k}: median {t['median']:.4f} s, n={t['n']} {extra}")
    for k, v in specific.items():
        if v is not None:
            print(f"  {k} = {v:.4f}")
    print(f"  failed_frac = {failed / attempted:.4f} ({failed}/{attempted})")
    for k, v in list(problems.items())[:20]:
        print(f"  problem: {k}: {v}")
    for k, m in metrics.items():
        if m["value"] is not None:
            print(f"  {k} = {m['value']:.6g} {m['unit']}")
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
