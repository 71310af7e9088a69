#!/usr/bin/env python3
"""Pipeline-first benchmark for the graft engine.

    python3 perfbench/run.py --workload <name|all> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the library and the
driver from source with sbt (offline) and caches the classpath under
`.perfbench/build`; later runs reuse it while the sources are unchanged.
Each run launches one JVM (`perfbench.Main`) that sets up, measures for
`--seconds`, and checks every operation's output; this script adds the
oracle check for the catalog workload (each query's result against the
digest of its DuckDB oracle result in `catalog_digests.json`), prints
every metric by name with its unit, and ends with one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With `--trace 0` the metrics are the end-to-end ones, with `--trace 1`
the per-layer ones (the traced run also writes its spans as JSONL under
`.perfbench/trace`). Any failed check makes the exit code non-zero.
"""
import argparse
import datetime
import decimal
import glob
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
DATA = os.path.join(HERE, "data")
DIGESTS = os.path.join(HERE, "catalog_digests.json")

WORKLOADS = ["daily_cycle", "status_replay", "catalog_tail"]

END_TO_END = {
    "setup_s": "s",
    "op_s_p50": "s",
    "rate_per_s": "1/s",
}

CATALOG = ["q49_ivf_ann", "q195_mmr_diversify", "q228_top_component",
           "q134_pagerank", "q179_coreness", "q245_conformal_threshold",
           "q138_prefix_filter_join", "q145_containment_join",
           "q01_pricing_summary", "q07_hourly_histogram"]

PER_LAYER = dict(
    [("session.build_s", "s"),
     ("ingest.csv_read_amplification", "ratio"),
     ("store.append_s", "s"), ("store.append_jobs", "count"),
     ("store.append_bytes_read", "bytes"),
     ("store.append_outside_jobs_s", "s"), ("store.interim_s", "s"),
     ("store.files_written", "count"), ("store.bytes_per_csv_byte", "ratio"),
     ("metrics.latest_date_s", "s"), ("metrics.latest_date_jobs", "count"),
     ("metrics.latest_date_bytes_read", "bytes"),
     ("metrics.for_day_s", "s"), ("metrics.for_day_jobs", "count"),
     ("metrics.for_day_bytes_read", "bytes"),
     ("metrics.merge_json_s", "s"), ("metrics.all_days_s", "s")]
    + [(f"metrics.range_{k}_{m}", u)
       for k in ["series", "histogram_avg", "busiest_stations", "top_routes"]
       for m, u in [("s", "s"), ("jobs", "count"), ("bytes_read", "bytes")]]
    + [("streaming.process_batch_s", "s"), ("streaming.outside_jobs_s", "s"),
       ("streaming.jobs_per_snapshot", "count"),
       ("streaming.task_ms_per_snapshot", "ms"),
       ("streaming.backlog_s_per_snapshot", "s"),
       ("status.events_per_snapshot", "count")]
    + [(f"catalog.{q}.{m}", u) for q in CATALOG
       for m, u in [("steady_s", "s"), ("build_s", "s"), ("jobs", "count"),
                    ("shuffle_bytes", "bytes")]]
    + [("jvm.gc_s", "s"), ("jvm.peak_rss_mb", "MB"),
       ("trace.overhead_frac", "ratio")])

JVM_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs",
             "java.base/sun.security.action", "java.base/sun.util.calendar"]

RUN_TIMEOUT_S = 160


def fail(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of everything the build reads from the checkout."""
    files = []
    for pattern in ["build.sbt", "project/*.sbt", "project/*.properties",
                    "src/main/**/*", "perfbench/build.sbt",
                    "perfbench/project/*.properties",
                    "perfbench/src/**/*"]:
        files += [f for f in glob.glob(os.path.join(ROOT, pattern),
                                       recursive=True) if os.path.isfile(f)]
    h = hashlib.sha256()
    for f in sorted(set(files)):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile the library and the driver; return the runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"no graft sources under {ROOT}: run from a checkout of the repo")
    bdir = os.path.join(STATE, "build")
    stamp_file = os.path.join(bdir, "stamp")
    cp_file = os.path.join(bdir, "classpath")
    stamp = source_stamp()
    if os.path.isfile(stamp_file) and os.path.isfile(cp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                with open(cp_file) as fh:
                    return fh.read().strip()
    os.makedirs(bdir, exist_ok=True)
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    tmp = os.path.join(STATE, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                       "-Dsbt.repository.config=" +
                       os.path.expanduser("~/.sbt/repositories") +
                       " -Dsbt.offline=true -Dsbt.server.autostart=false"
                       " -Xmx3g -XX:-UsePerfData"
                       " -Djava.io.tmpdir=" + tmp)
    log = os.path.join(bdir, "sbt.log")
    t0 = time.time()
    # jars, not class directories: the JVM's class-data archive needs them
    with open(log, "w") as out:
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "export Runtime/fullClasspathAsJars"],
            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=840)
    with open(log) as fh:
        lines = fh.read().splitlines()
    cps = [l for l in lines if "perfbench" in l and os.pathsep in l
           and not l.startswith("[")]
    if proc.returncode != 0 or not cps:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"build failed (sbt exit {proc.returncode}); log: {log}")
    cp = cps[-1].strip()
    # One short untraced run records the classes a run loads into a
    # class-data archive; later runs map it instead of loading and
    # verifying ~20k classes, which shortens every JVM's cold start.
    # Nothing measured depends on it: without it runs are only slower
    # to start.
    jsa = os.path.join(bdir, "classes.jsa")
    if os.path.exists(jsa):
        os.remove(jsa)
    try:
        _, work = run_jvm(cp, "status_replay", 0, 1, 0, tag="archive",
                          jvm_extra=["-XX:ArchiveClassesAtExit=" + jsa])
        shutil.rmtree(work, ignore_errors=True)
    except SystemExit:
        print("[perfbench] no class-data archive; runs start slower",
              file=sys.stderr)
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    print(f"[perfbench] built in {time.time() - t0:.1f} s", file=sys.stderr)
    return cp


def archive_flags():
    jsa = os.path.join(STATE, "build", "classes.jsa")
    return ["-XX:SharedArchiveFile=" + jsa] if os.path.isfile(jsa) else []


def run_jvm(cp, workload, seed, seconds, trace, tag=None, jvm_extra=()):
    tag = tag or f"{workload}-{seed}-t{trace}"
    work = os.path.join(STATE, "work", tag)
    shutil.rmtree(work, ignore_errors=True)
    for d in ["tmp", "spark-local", "warehouse"]:
        os.makedirs(os.path.join(work, d))
    out = os.path.join(work, "result.json")
    # a fixed heap: no resizing between or during measurements
    cmd = (["java", "-Xms3g", "-Xmx3g", "-XX:-UsePerfData"] + list(jvm_extra) +
           [a for p in JVM_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
            "-Dspark.local.dir=" + os.path.join(work, "spark-local"),
            "-Dspark.sql.warehouse.dir=" + os.path.join(work, "warehouse"),
            "-Dspark.ui.enabled=false",
            "-cp", cp, "perfbench.Main",
            "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", str(trace),
            "--work", work, "--out", out, "--data", DATA])
    log = os.path.join(STATE, "logs", f"{tag}.log")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    with open(log, "w") as fh:
        proc = subprocess.Popen(cmd, cwd=work, stdout=fh,
                                stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL,
                                start_new_session=True)
        try:
            proc.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail(f"{workload} did not finish in {RUN_TIMEOUT_S} s; log: {log}", 3)
    if proc.returncode != 0 or not os.path.isfile(out):
        with open(log) as fh:
            sys.stderr.write("".join(fh.readlines()[-30:]))
        fail(f"{workload} JVM exited {proc.returncode}; log: {log}", 3)
    with open(out) as fh:
        return json.load(fh), work


def cell(v):
    """One value as a canonical string, whichever engine produced it:
    integers exactly, floats bit for bit (shortest repr), timestamps as
    UTC ISO text, NULL and NaN alike (as the repo's oracle gate treats
    them)."""
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, decimal.Decimal):
        return str(int(v)) if v == v.to_integral_value() else repr(float(v))
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{cell(x)}" for k, x in sorted(v.items())) + "}"
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def digest(table):
    """Order-free digest of an Arrow table: columns by name, rows sorted
    by their canonical text."""
    cols = sorted(table.column_names)
    rows = sorted("\x1f".join(cell(r[c]) for c in cols)
                  for r in table.select(cols).to_pylist())
    h = hashlib.sha256("\x1e".join(cols).encode())
    for r in rows:
        h.update(b"\n" + r.encode())
    return {"rows": len(rows), "sha256": h.hexdigest()}


def spark_digest(results, q):
    """Digest of the result the benchmark's warm-up wrote for query q."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    files = sorted(glob.glob(os.path.join(results, q, "*.parquet")))
    if not files:
        return None
    return digest(pa.concat_tables([pq.read_table(f) for f in files]))


def sql_hash(sql):
    return hashlib.sha256(sql.encode()).hexdigest()[:16]


def oracle_check(res):
    """Compare each catalog query's Spark result with the digest of its
    DuckDB oracle result over the same tables. Returns failed queries."""
    with open(DIGESTS) as fh:
        want = json.load(fh)["queries"]
    results = res["notes"]["results_dir"]
    with open(os.path.join(results, "oracle_sql.json")) as fh:
        oracle = json.load(fh)
    bad = []
    for q in CATALOG:
        why = None
        try:
            got = spark_digest(results, q)
            if q not in want:
                why = "no oracle digest"
            elif got is None:
                why = "no Spark result"
            elif got != {k: want[q][k] for k in ("rows", "sha256")}:
                why = (f"{got['rows']} rows, digest {got['sha256'][:12]}; "
                       f"oracle {want[q]['rows']} rows, "
                       f"digest {want[q]['sha256'][:12]}")
        except Exception as e:  # an unreadable result is a failed check
            why = str(e).splitlines()[0][:200]
        if why:
            bad.append(q)
            res["problems"].append(f"oracle {q}: {why}")
        elif q in oracle and sql_hash(oracle[q]) != want[q]["sql"]:
            res["notes"][f"{q}_oracle"] = ("oracle SQL changed since the "
                                           "digest was taken: rerun "
                                           "perfbench/make_digests.py")
    return bad


def run_one(cp, workload, seed, seconds, trace):
    res, work = run_jvm(cp, workload, seed, seconds, trace,
                        jvm_extra=archive_flags())
    attempted, failed = res["attempted"], res["failed"]
    if workload == "catalog_tail" and "runs_per_query" in res["notes"]:
        runs = res["notes"]["runs_per_query"]
        for q in oracle_check(res):
            failed += max(1, runs.get(q, 0))
    ctx = res["context"]
    print(f"[perfbench] {workload} seed={seed} trace={trace} "
          f"nproc={ctx['cores']} load1={ctx['start']['load1']}->"
          f"{ctx['end']['load1']} jvms={ctx['start']['jvms']}->"
          f"{ctx['end']['jvms']} calibration_s={ctx['end']['calibration_s']}")
    for k, v in res["notes"].items():
        if not k.endswith("_dir"):
            print(f"[perfbench]   note {k} = {v}")
    for p in res["problems"]:
        print(f"[perfbench]   CHECK FAILED {p}")
    e2e, layers = res["end_to_end"], res["per_layer"]
    unmeasured = [m for m in END_TO_END
                  if not (e2e.get(m, {}).get("value") or 0) > 0]
    if unmeasured:
        fail(f"{workload} measured no {unmeasured}", 3)
    if trace:
        for m, v in e2e.items():
            print(f"[perfbench]   end_to_end {m} = {v['value']} {v['unit']}")
        for m, v in layers.items():
            if m not in PER_LAYER:
                print(f"[perfbench]   {m} = {v['value']} {v['unit']}")
        metrics = {m: {"value": layers.get(m, {}).get("value") or 0.0,
                       "unit": u} for m, u in PER_LAYER.items()}
    else:
        metrics = {m: {"value": e2e[m]["value"], "unit": u}
                   for m, u in END_TO_END.items()}
    for m, v in metrics.items():
        print(f"[perfbench]   {m} = {v['value']} {v['unit']}")
    shutil.rmtree(work, ignore_errors=True)
    return attempted, failed, metrics


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    cp = build()
    names = WORKLOADS if a.workload == "all" else [a.workload]
    attempted = failed = 0
    metrics = {}
    for w in names:
        at, fa, m = run_one(cp, w, a.seed, a.seconds, a.trace)
        attempted, failed = attempted + at, failed + fa
        metrics.update(m if len(names) == 1 else
                       {f"{w}.{k}": v for k, v in m.items()})
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    sys.exit(0 if failed == 0 else 1)


if __name__ == "__main__":
    main()
