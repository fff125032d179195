#!/usr/bin/env python3
"""graft benchmark: run one workload end to end and print its metrics.

    python3 perfbench/run.py --workload sql_analyst --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The first run builds the program and
the benchmark runner from source (sbt, offline) into perfbench/target;
later runs reuse the build while the sources are unchanged. Each run is
a fresh JVM with Spark local[nproc] and an empty per-run directory for
the lake root, spark.local.dir, checkpoints and temp files, deleted
afterwards. The last line of stdout is one JSON object:
{"correct", "attempted", "failed", "metrics"}; with --trace 0 the
metrics are the end-to-end ones, with --trace 1 the per-layer ones.
A failed op or a wrong output makes the exit code 1.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
SF_DIR = os.path.join(HERE, "data", "sf0.01")
WORKLOADS = ("sql_analyst", "corpus_ops", "lake_ingest")
JVM_TIMEOUT_S = 170

sys.path.insert(0, HERE)
import drops  # noqa: E402

END_TO_END = [("setup_s", "s"), ("cold_s", "s"), ("warm_s", "s"), ("op_p50_s", "s"),
              ("op_p90_s", "s"), ("peak_rss_mb", "MB"), ("rows_per_s", "rows/s")]
PER_LAYER = [
    ("construct_s", "s"), ("construct_jobs", "count"),
    ("plan_s", "s"), ("analysis_s", "s"), ("optimization_s", "s"), ("planning_s", "s"),
    ("exec_s", "s"), ("jobs", "count"), ("tasks", "count"), ("job_wall_s", "s"),
    ("driver_gap_s", "s"), ("task_run_s", "s"), ("task_cpu_s", "s"), ("core_busy", "ratio"),
    ("gc_s", "s"), ("shuffle_read_mb", "MB"), ("shuffle_write_mb", "MB"), ("spill_mb", "MB"),
    ("first_touch_s", "s"), ("cached_mb", "MB"), ("cached_rdds", "count"),
    ("parse_s", "s"), ("conform_validate_s", "s"), ("write_s", "s"),
    ("bytes_written_mb", "MB"), ("files_written", "count"), ("skip_s", "s"),
    ("upsert_s", "s"), ("compact_s", "s"), ("files_before", "count"), ("files_after", "count"),
    ("lake_bytes_per_input_byte", "ratio"),
    ("stream_batches", "count"), ("stream_add_batch_s", "s"), ("stream_commit_s", "s"),
    ("state_rows", "count"),
    ("traced_warm_s", "s"), ("trace_overhead_s", "s")]

JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_digest():
    """Hash of every file the build reads from this checkout."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "build.sbt"),
             os.path.join(HERE, "src"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:16]


def build():
    """Compile graft plus the benchmark runner; return the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("perfbench: no graft sources next to perfbench/; run from a checkout")
    stamp = source_digest()
    cp_file = os.path.join(BUILD, "classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            saved_stamp, cp = f.read().split("\n", 1)
        if saved_stamp == stamp:
            return cp.strip(), stamp
    log("building graft and the benchmark runner (sbt, offline)")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
                   " -Dsbt.offline=true -Xmx2g")
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, stdin=subprocess.DEVNULL,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("perfbench: build failed")
    cp = [l for l in r.stdout.splitlines() if l.strip() and not l.startswith("[")][-1]
    os.makedirs(BUILD, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(stamp + "\n" + cp)
    return cp, stamp


def cores():
    return len(os.sched_getaffinity(0))


def loadavg():
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def cpu_jiffies():
    """(steal, total) jiffies over all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields[:8])


def environment(seed, stamp, input_bytes):
    mem_kb = next(int(l.split()[1]) for l in open("/proc/meminfo") if l.startswith("MemTotal:"))
    rev = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True)
    return {"cores": cores(), "mem_gb": round(mem_kb / 1048576, 1),
            "git_rev": rev.stdout.strip() if rev.returncode == 0 else "unknown",
            "source_digest": stamp, "sf_dir": os.path.relpath(SF_DIR, ROOT), "seed": seed,
            "input_bytes": input_bytes}


def jvm(cp, work, args, timeout):
    """Run graftbench.Main in a fresh JVM; its log goes to work/jvm.log."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # A fixed heap and young generation: with G1 sizing them adaptively,
    # the JVM's peak RSS varied by a third between identical runs.
    cmd = ["java", "-Xms3g", "-Xmx3g", "-Xmn512m", "-Djava.io.tmpdir=" + tmp,
           "-Dspark.ui.enabled=false",
           "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties")]
    for p in JDK_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graftbench.Main", "--sf", SF_DIR, "--work", work,
            "--cores", str(cores())] + args
    with open(os.path.join(work, "jvm.log"), "a") as logf:
        proc = subprocess.Popen(cmd, cwd=work, stdin=subprocess.DEVNULL, stdout=logf, stderr=logf)
        try:
            return proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            return None
        finally:
            # also on a timeout or a signal: the JVM never outlives this process
            if proc.poll() is None:
                proc.kill()
                proc.wait()


def tail(path, n=40):
    try:
        with open(path, errors="replace") as f:
            return "".join(f.readlines()[-n:])
    except OSError:
        return ""


def main():
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", help="write observed digests to this file instead of checking")
    ap.add_argument("--dump", help="also write each query op's last result as parquet here")
    ap.add_argument("--inject-faults", action="store_true",
                    help="add a throwing op and a wrong expected digest (the benchmark's own test)")
    a = ap.parse_args()
    started = time.monotonic()
    cp, stamp = build()

    run_dir = os.path.join(BUILD, "runs", f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        load_before, jiffies_before = loadavg(), cpu_jiffies()
        input_bytes = {"sf": sum(os.path.getsize(os.path.join(SF_DIR, f)) for f in os.listdir(SF_DIR))}
        common = ["--workload", a.workload, "--seed", str(a.seed), "--trace", str(a.trace),
                  "--expected", os.path.join(HERE, "expected", "digests.json")]
        if a.workload == "lake_ingest":
            spec_path, spec = drops.generate(a.seed, os.path.join(run_dir, "drops"))
            common += ["--drops", spec_path]
            input_bytes["drops_zipped"] = sum(
                os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(os.path.join(run_dir, "drops"))
                for f in fs if f.endswith(".zip"))
            input_bytes["drops_xml"] = spec["xml_bytes"]

        work = os.path.join(run_dir, "main")
        os.makedirs(work)
        out = os.path.join(work, "result.json")
        extra = ["--seconds", str(a.seconds), "--out", out]
        reports = os.path.join(BUILD, "reports")
        os.makedirs(reports, exist_ok=True)
        stem = os.path.join(reports, f"{a.workload}-seed{a.seed}-trace{a.trace}")
        if a.trace:
            extra += ["--spans", stem + ".spans.jsonl"]
        if a.record:
            extra += ["--record"]
        if a.dump:
            extra += ["--dump", os.path.abspath(a.dump)]
        if a.inject_faults:
            extra += ["--inject-faults"]
        budget = max(30, JVM_TIMEOUT_S - (time.monotonic() - started))
        rc = jvm(cp, work, common + extra, budget)
        if rc != 0 or not os.path.exists(out):
            sys.stderr.write(tail(os.path.join(work, "jvm.log")))
            raise SystemExit(f"perfbench: benchmark JVM failed (exit {rc})")
        with open(out) as f:
            res = json.load(f)
        load_after, jiffies_after = loadavg(), cpu_jiffies()
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    if a.record:
        with open(a.record, "w") as f:
            json.dump({"sf": os.path.relpath(SF_DIR, ROOT), "ops": res["recorded"]}, f,
                      indent=1, sort_keys=True)
            f.write("\n")
    e2e = res["end_to_end"]
    res["environment"] = environment(a.seed, stamp, input_bytes)
    res["environment"].update(res.pop("versions"))
    res["environment"].update({
        "loadavg_before": load_before, "loadavg_after": load_after,
        # share of CPU time the hypervisor gave to other guests during the run
        "cpu_steal_share": round((jiffies_after[0] - jiffies_before[0]) /
                                 max(1, jiffies_after[1] - jiffies_before[1]), 4)})
    with open(stem + ".json", "w") as f:
        json.dump(res, f, indent=1, sort_keys=True)

    print(f"workload {a.workload}  seed {a.seed}  trace {a.trace}  passes {res['passes']}  "
          f"env {json.dumps(res['environment'], sort_keys=True)}")
    for f in res["failures"]:
        print(f"FAILED pass {f['pass']} {f['op']}: {'; '.join(f['problems'])}")
    print(f"op_fail_ratio {e2e['op_fail_ratio']:.4f} ratio ({res['failed']}/{res['attempted']} ops)  "
          f"op_p90 over {e2e['op_p90_samples']} warm samples, {e2e['op_p90_samples_above']} above it")
    names = PER_LAYER if a.trace else END_TO_END
    source = res["layers"] if a.trace else e2e
    metrics = {}
    for name, unit in names:
        value = source.get(name) or 0.0  # absent or NaN (null) only when ops failed
        metrics[name] = {"value": value, "unit": unit}
        print(f"{name:28s} {value:14.6f} {unit}")
    if a.trace:
        cov = res["op_layer_coverage"]
        worst = min(cov.items(), key=lambda kv: kv[1]) if cov else ("-", 0)
        print(f"(construct+plan+exec)/wall per op: median {statistics.median(cov.values()):.3f}, "
              f"lowest {worst[1]:.3f} ({worst[0]}); tracing overhead "
              f"{res['layers']['trace_overhead_s']:+.3f} s per warm pass; spans in {stem}.spans.jsonl")
    correct = res["failed"] == 0
    print(json.dumps({"correct": correct, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
