#!/usr/bin/env python3
"""graft's benchmark: one closed-loop workload, checked, in one command.

    python3 perfbench/run.py --workload <olap_sf0.1|ingest_rw>
        --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The command builds the JVM side if needed
(`perfbench/build.py`), generates the seeded inputs, runs one `local[4]`
Spark session with a single client that sends its next op only when the
previous one has finished, checks every op's result, prints every metric by
name and unit, and ends with one JSON line. With `--trace 0` that line holds
the end-to-end metrics; with `--trace 1` it holds the per-layer metrics of a
second, traced phase. Build outputs, cached inputs and run records live under
`.bench_build/perfbench/`. See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import build  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ["olap_sf0.1", "ingest_rw"]
CORES = 4
HEAP = "4g"
RUN_LIMIT_S = 175

# gated by BENCHMARK.json: reported by every workload, never 0
END_TO_END = [
    ("setup_s", "s"), ("ops_per_s", "op/s"), ("read_p50_s", "s"),
    ("read_tail_s", "s"), ("cpu_s_per_op", "s"), ("rss_peak_mb", "MB"),
]
# printed and recorded only: 0 on a healthy run, or only defined on ingest_rw
REPORTED = [
    ("failed_frac", "ratio"), ("write_p50_s", "s"), ("write_tail_s", "s"),
    ("write_amp", "ratio"), ("space_amp", "ratio"),
]
PER_LAYER = [
    ("session.start_s", "s"), ("session.warmup_s", "s"), ("jvm.jit_s", "s"),
    ("jvm.gc_s", "s"), ("jvm.heap_peak_mb", "MB"),
    ("dsl.compile_s", "s"), ("dsl.ops", "count"),
    ("operators.build_s", "s"), ("operators.build_jobs", "count"),
    ("catalyst.analysis_s", "s"), ("catalyst.optimization_s", "s"),
    ("catalyst.planning_s", "s"),
    ("exec.jobs", "count"), ("exec.stages", "count"), ("exec.tasks", "count"),
    ("exec.task_run_s", "s"), ("exec.task_cpu_s", "s"), ("exec.task_gc_s", "s"),
    ("exec.task_wait_s", "s"), ("exec.cpu_util", "ratio"), ("exec.input_bytes", "B"),
    ("exec.shuffle_write_bytes", "B"), ("exec.shuffle_read_bytes", "B"),
    ("exec.spill_bytes", "B"),
    ("plan.exchanges", "count"), ("plan.reused_exchanges", "count"),
    ("plan.broadcast_exchanges", "count"), ("plan.shuffle_partitions", "count"),
    ("sources.write_s", "s"), ("sources.insert_s", "s"), ("sources.merge_s", "s"),
    ("sources.delete_rows_s", "s"), ("sources.delete_partition_s", "s"),
    ("sources.compact_s", "s"), ("sources.vacuum_s", "s"), ("sources.commit_s", "s"),
    ("sources.sql_parse_s", "s"), ("sources.files_added", "count"),
    ("sources.bytes_added", "B"), ("sources.files_live", "count"),
    ("sources.versions_retained", "count"), ("sources.files_scanned_per_read", "count"),
    ("streaming.batches", "count"), ("streaming.batch_s", "s"),
    ("streaming.input_rows", "count"), ("streaming.state_rows", "count"),
    ("streaming.state_bytes", "B"),
    ("trace.ops_per_s_overhead", "ratio"), ("trace.read_p50_overhead", "ratio"),
]
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]
# environment that would change what the JVM or Spark does
NEUTRALISED_PREFIXES = ("SPARK_GRAFT_",)
NEUTRALISED = ("SPARK_LOCAL_DIRS", "SPARK_CONF_DIR", "SPARK_DRIVER_MEM",
               "JAVA_TOOL_OPTIONS", "_JAVA_OPTIONS", "JDK_JAVA_OPTIONS")


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def pinned_env():
    """-> (child environment, the variables removed from it)."""
    env, removed = dict(os.environ), {}
    for k in list(env):
        if k.startswith(NEUTRALISED_PREFIXES) or k in NEUTRALISED:
            removed[k] = env.pop(k)
    env["TZ"] = "UTC"
    return env, removed


def java_cmd(classes: Path, tmp: Path, main: str, args):
    opts = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS]
    opts += [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+ExplicitGCInvokesConcurrent", "-XX:-UsePerfData",
             "-Duser.timezone=UTC",
             "-Dspark.ui.enabled=false", f"-Djava.io.tmpdir={tmp}"]
    cp = f"{classes}{os.pathsep}{build.spark_jars()}/*"
    return ["java", *opts, "-cp", cp, main, *args]


def run_child(cmd, env, timeout, log_path: Path):
    """Runs cmd in its own process group; kills the group on timeout and
    waits for it. -> exit code (None on timeout)."""
    with open(log_path, "w") as out:
        p = subprocess.Popen(cmd, env=env, stdout=out, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            return p.wait(timeout=max(1, timeout))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()


def fixture_ident(d: Path) -> str:
    files = sorted(f for f in d.rglob("*") if f.is_file())
    return json.dumps([[str(f.relative_to(d)), f.stat().st_size, f.stat().st_mtime_ns]
                       for f in files])


def digests_of(d: Path, cache_file: Path):
    """Content digests of a fixture's tables, cached by file identity."""
    import checks
    ident = fixture_ident(d)
    cache = json.loads(cache_file.read_text()) if cache_file.exists() else {}
    if cache.get(str(d), {}).get("ident") != ident:
        cache[str(d)] = {"ident": ident, "digests": checks.fixture_digests(d)}
        cache_file.write_text(json.dumps(cache))
    return cache[str(d)]["digests"]


def layer_metrics(rec):
    """Per-layer sums over the traced phase's ops, and the tracing overhead
    against the untraced passes run before and after it."""
    tr = rec["traced"]
    ops = tr["ops"]
    tot = {}
    for o in ops:
        for k, v in o["counters"].items():
            tot[k] = tot.get(k, 0.0) + v
    lat = sum(o["lat_s"] for o in ops)
    facts = rec.get("workload_facts") or {}
    reads = [o for o in ops if o["kind"] == "read" and o["counters"].get("plan.scans")]
    m = {name: float(tot.get(name, 0.0)) for name, _ in PER_LAYER}
    m.update({
        "session.start_s": rec["session_start_s"], "session.warmup_s": rec["warmup_s"],
        "jvm.jit_s": rec["jit_s"], "jvm.gc_s": rec["gc_s"],
        "jvm.heap_peak_mb": rec["heap_peak_mb"],
        "exec.cpu_util": tot.get("exec.task_cpu_s", 0.0) / (lat * CORES) if lat else 0.0,
        "sources.files_live": float(facts.get("files_live", 0)),
        "sources.versions_retained": float(facts.get("versions_retained", 0)),
        "sources.files_scanned_per_read":
            (sum(o["counters"].get("plan.files_scanned", 0.0) for o in reads) / len(reads)
             if rec["workload"] == "ingest_rw" and reads else 0.0),
    })
    traced = phase_metrics(tr)
    before, after = phase_metrics(rec["timed"]), phase_metrics(rec["untraced_after"])
    untraced = {k: (before[k] + after[k]) / 2 for k in ("ops_per_s", "read_p50_s")}
    m["trace.ops_per_s_overhead"] = untraced["ops_per_s"] / traced["ops_per_s"] - 1
    m["trace.read_p50_overhead"] = traced["read_p50_s"] / untraced["read_p50_s"] - 1
    return m, traced


def phase_metrics(ph):
    ok = [o for o in ph["ops"] if not o["error"]]
    reads = [o["lat_s"] for o in ok if o["kind"] == "read"]
    writes = [o["lat_s"] for o in ok if o["kind"] == "write"]
    m, notes = {}, {}
    m["ops_per_s"] = len(ok) / ph["wall_s"]
    m["cpu_s_per_op"] = ph["cpu_s"] / max(1, len(ok))
    for kind, xs in (("read", reads), ("write", writes)):
        if xs:
            m[f"{kind}_p50_s"] = statistics.median(xs)
            v, pct, beyond = stats.tail(xs)
            m[f"{kind}_tail_s"] = v
            notes[f"{kind}_tail_s"] = {"percentile": pct, "beyond": beyond, "samples": len(xs)}
    m["notes"] = notes
    return m


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    t_start = time.time()
    # building happens once per checkout and extends that first run's limit
    deadline = t_start + RUN_LIMIT_S
    bdir = Path(".bench_build") / "perfbench"
    try:
        bdir.mkdir(parents=True, exist_ok=True)
        bdir = bdir.resolve()
        classes, _ = build.build(bdir)
        build_s = time.time() - t_start
        deadline += build_s
        sf = build.repo_setting(r'"SPARK_GRAFT_SF_DIR", "([^"]+)"', "default fixture directory")
        if not sf.is_dir():
            raise build.SetupError(f"fixture directory {sf} not found")
        expected = json.loads((HERE / "expected.json").read_text())
        env, removed = pinned_env()
        digest_cache = bdir / "fixture_digests.json"
        digests = {str(sf): digests_of(sf, digest_cache)}
        if digests[str(sf)] != expected["fixtures"]["sf0.1"]:
            raise build.SetupError(
                f"fixture sf0.1 ({sf}) differs from its pinned digests in "
                f"perfbench/expected.json: {digests[str(sf)]}")
    except build.SetupError as e:
        log(f"set-up failed: {e}")
        return 2

    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{int(t_start)}-{os.getpid()}"
    rdir = bdir / "runs" / run_id
    shutil.rmtree(rdir, ignore_errors=True)
    (rdir / "tmp").mkdir(parents=True)
    jvm_args = ["--workload", args.workload, "--seed", str(args.seed),
                "--seconds", str(args.seconds), "--trace", str(args.trace),
                "--sf", str(sf), "--out", str(rdir)]
    t_jvm = time.time()
    code = run_child(java_cmd(classes, rdir / "tmp", "org.apache.spark.perfbench.Main", jvm_args),
                     env, deadline - time.time() - 10, rdir / "jvm.log")
    jvm_wall = time.time() - t_jvm
    if code != 0 or not (rdir / "record.json").exists():
        log(f"JVM {'timed out' if code is None else f'exited with {code}'}; "
            f"last lines of {rdir / 'jvm.log'}:")
        sys.stderr.write("".join((rdir / "jvm.log").read_text(errors="replace")
                                 .splitlines(True)[-30:]))
        return 3
    rec = json.loads((rdir / "record.json").read_text())

    import checks
    checker = checks.Checker(bdir / "oracle", expected, digests)
    results = [checker.check(c) for c in rec["checks"]]
    batches = rdir / "batches"
    generated = checks.dataset_digests(batches) if batches.is_dir() else {}
    bad_checks = [r for r in results if r["status"] != "OK"]
    phases = [rec["warmup"]] + [rec[p]["ops"] for p in ("timed", "traced", "untraced_after")
                                if rec[p]]
    attempted = sum(len(p) for p in phases)
    errors = [o for p in phases for o in p if o["error"]]
    failed = len(errors) + len(bad_checks)

    e2e = phase_metrics(rec["timed"])
    e2e["setup_s"] = (rec["setup_end_ms"] - rec["jvm_start_ms"]) / 1e3 - rec["generate_s"]
    e2e["rss_peak_mb"] = rec["rss_peak_mb"]
    e2e["failed_frac"] = failed / attempted
    facts = rec.get("workload_facts") or {}
    if args.workload == "ingest_rw":
        timed_passes = {str(o["pass"]) for o in rec["timed"]["ops"]}
        user = sum(b for p, b in facts["user_bytes"].items() if p in timed_passes)
        written = sum(o["counters"].get("sources.bytes_added", 0.0)
                      for o in rec["timed"]["ops"] if o["kind"] == "write")
        e2e["write_amp"] = written / user
        e2e["space_amp"] = facts["warehouse_bytes"] / facts["live_plain_bytes"]

    per_layer, traced_e2e = layer_metrics(rec) if rec["traced"] else (None, None)

    units = dict(END_TO_END + REPORTED)
    print(f"workload {args.workload} seed {args.seed}: {len(rec['timed']['ops'])} timed ops in "
          f"{rec['passes']} pass(es), {rec['timed']['wall_s']:.2f}s; "
          f"attempted {attempted}, failed {failed}")
    for name, unit in END_TO_END + REPORTED:
        if name in e2e:
            note = e2e["notes"].get(name)
            extra = (f"  (p{note['percentile']:.1f} of {note['samples']}, "
                     f"{note['beyond']} beyond)" if note else "")
            print(f"  {name:<14} {e2e[name]:.6g} {units[name]}{extra}")
    for o in errors:
        print(f"  FAILED {o['op']} (pass {o['pass']}): {o['error']}")
    for r in bad_checks:
        print(f"  CHECK FAILED {r['op']} ({r['kind']}): {r['status']}")
    if per_layer:
        print(f"traced phase: ops_per_s {traced_e2e['ops_per_s']:.6g}, "
              f"read_p50_s {traced_e2e['read_p50_s']:.6g}")
        for name, unit in PER_LAYER:
            print(f"  {name:<32} {per_layer[name]:.6g} {unit}")

    summary = {
        "run": run_id, "args": vars(args), "command_wall_s": time.time() - t_start,
        "build_s": build_s, "jvm_wall_s": jvm_wall,
        "fixtures": {"sf0.1": str(sf)}, "fixture_digests": digests,
        "generated_digests": generated,
        "neutralised_env": removed, "heap": HEAP, "cores": CORES,
        "host": {"nproc": os.cpu_count(), "loadavg_end": os.getloadavg()},
        "env": rec["env"], "generate_s": rec["generate_s"], "load_s": rec["load_s"],
        "attempted": attempted, "failed": failed, "errors": errors, "checks": results,
        "metrics": {k: v for k, v in e2e.items() if k != "notes"}, "notes": e2e["notes"],
        "per_layer": per_layer, "traced_phase": traced_e2e and
        {k: v for k, v in traced_e2e.items() if k != "notes"},
        "workload_facts": facts,
        "ops": [{"phase": ph, "op": o["op"], "kind": o["kind"], "pass": o["pass"],
                 "lat_s": o["lat_s"], "cpu_s": o["cpu_s"], "check_s": o["check_s"],
                 "error": o["error"]}
                for ph in ("warmup", "timed", "traced", "untraced_after") if rec[ph]
                for o in (rec[ph] if ph == "warmup" else rec[ph]["ops"])],
    }
    records = bdir / "records"
    records.mkdir(exist_ok=True)
    (records / f"{run_id}.json").write_text(json.dumps(summary, indent=1))
    if rec["traced"]:
        shutil.copy(rdir / "trace.jsonl", records / f"{run_id}.trace.jsonl")
        print(f"trace: {records / f'{run_id}.trace.jsonl'}")
    shutil.rmtree(rdir, ignore_errors=True)

    chosen = PER_LAYER if args.trace else END_TO_END
    values = per_layer if args.trace else e2e
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {n: {"value": values[n], "unit": u} for n, u in chosen},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
