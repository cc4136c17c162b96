"""graft's benchmark: one run of one workload, printed as one JSON line.

    python3 perfbench/run.py --workload small --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --smoke            # toy scale, all checks on

Run it from the root of a source tree. It builds graft and the benchmark
(``perfbench/build.py``), runs it in one JVM at ``local[2]``, checks
the lifecycle query results of a traced run against DuckDB, and prints the
metrics named in
``BENCHMARK.json`` as the last line of standard output: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
Everything the run writes goes under ``.bench_run/`` (deleted at the end)
and ``.bench_out/`` (one record per run: all metrics, host steal and iowait,
and with ``--trace 1`` the spans). See ``perfbench/README.md``.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
import oracle  # noqa: E402

ROOT = build.ROOT
JVM_TIMEOUT_S = 170


def proc_stat():
    """Cumulative (total, steal, iowait) jiffies of all CPUs, or None."""
    try:
        with open("/proc/stat") as f:
            fields = [int(x) for x in f.readline().split()[1:]]
        return sum(fields), fields[7], fields[4]
    except (OSError, IndexError, ValueError):
        return None


def weather(a, b):
    """Steal and iowait percentages integrated over the window a..b."""
    if a is None or b is None:
        return {"steal_pct": None, "iowait_pct": None}
    dt = max(1, b[0] - a[0])
    return {"steal_pct": round(100.0 * (b[1] - a[1]) / dt, 3),
            "iowait_pct": round(100.0 * (b[2] - a[2]) / dt, 3)}


def leak_watch():
    """Shared temp entries whose growth across a run counts as a leak: the
    JVM's temp and local dirs point into the run's work dir, so growth here
    means a path the engine hardcodes."""
    seen = {str(p) for p in Path("/tmp").glob("graft-*")}
    local = os.environ.get("SPARK_LOCAL_DIRS")
    for d in (local.split(",") if local else []):
        if os.path.isdir(d):
            seen |= {os.path.join(d, x) for x in os.listdir(d)}
    return seen


def leftover_temp(work: Path):
    """``graft-*`` entries left in the run's ``java.io.tmpdir`` after the JVM
    exited: temp tables (or their ``createTempDirectory`` parents) the engine
    did not delete."""
    return sorted(p.name for p in (work / "tmp").glob("graft-*"))


def judge(res, oracle_checks, leftover, leaked):
    """The run's verdict: every check the JVM made, the DuckDB oracle checks,
    and the two temp-space checks, each counted once in ``attempted``."""
    failures = list(res["failures"])
    failures += [f"oracle {q}: {why}" for q, why in oracle_checks if why]
    if leftover:
        failures.append(f"temp dirs left in the run's tmpdir: {leftover[:5]}")
    if leaked:
        failures.append(f"shared temp space grew across the run: {leaked[:5]}")
    attempted = res["attempted"] + len(oracle_checks) + 2
    return {"correct": not failures, "attempted": attempted, "failed": len(failures),
            "failures": failures}


def declared_metrics():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return spec["end_to_end"], spec["per_layer"]


def run_jvm(jar: Path, archive: Path, workload, seed, seconds, trace, work: Path):
    result = work / "result.json"
    (work / "tmp").mkdir(parents=True)
    cmd = build.java_cmd(jar, archive, work,
                         [workload, seed, seconds, 1 if trace else 0, work, result])
    with open(work / "jvm.log", "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT,
                                env=build.java_env(work))
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = "timeout"
    if code != 0 or not result.exists():
        tail = (work / "jvm.log").read_text(errors="replace")[-6000:]
        raise RuntimeError(f"benchmark JVM exited with {code}:\n{tail}")
    return json.loads(result.read_text())


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", default="small")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="toy-scale run of every phase with all checks (workload 'smoke')")
    a = ap.parse_args(argv)
    workload = "smoke" if a.smoke else a.workload

    try:
        e2e_spec, layer_spec = declared_metrics()
        jar, archive = build.build()
    except (OSError, KeyError, ValueError, build.BuildError) as e:
        print(f"[perfbench] cannot run: {e}", file=sys.stderr)
        return 2

    before = leak_watch()
    work = ROOT / ".bench_run" / f"{workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    stat0 = proc_stat()
    t0 = time.time()
    try:
        res = run_jvm(jar, archive, workload, a.seed, a.seconds, a.trace == 1, work)
        leftover = leftover_temp(work)
        checks = oracle.check(work / "lifecycle") if a.trace else []
        spans = (work / "spans.jsonl").read_text() if a.trace else ""
    except Exception as e:  # the run is lost: report why, print no result
        print(f"[perfbench] run failed: {e}", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
        if work.parent.is_dir() and not any(work.parent.iterdir()):
            work.parent.rmdir()
    host = weather(stat0, proc_stat())
    verdict = judge(res, checks, leftover, sorted(leak_watch() - before))
    failures = verdict.pop("failures")

    spec = layer_spec if a.trace else e2e_spec
    have = res["per_layer"] if a.trace else res["end_to_end"]
    missing = [m["name"] for m in spec if m["name"] not in have]
    if missing:
        print(f"[perfbench] the JVM did not report {missing}", file=sys.stderr)
        return 1
    metrics = {m["name"]: {"value": have[m["name"]]["value"], "unit": m["unit"]} for m in spec}

    out = ROOT / ".bench_out"
    out.mkdir(exist_ok=True)
    stem = f"{workload}-seed{a.seed}-trace{a.trace}-{int(t0)}"
    record = {"workload": workload, "seed": a.seed, "trace": a.trace, "wall_s": round(time.time() - t0, 3),
              "host": dict(host, nproc=os.cpu_count(), jvm_heap=build.JVM_HEAP), "failures": failures,
              "end_to_end": res["end_to_end"], "per_layer": res["per_layer"], "info": res["info"]}
    (out / f"{stem}.json").write_text(json.dumps(record, indent=1) + "\n")
    if spans:
        (out / f"{stem}.spans.jsonl").write_text(spans)

    for f in failures:
        print(f"[perfbench] FAILED: {f}", file=sys.stderr)
    print(f"# host steal_pct={host['steal_pct']} iowait_pct={host['iowait_pct']} "
          f"record={out.relative_to(ROOT) / (stem + '.json')}")
    print(json.dumps(dict(verdict, metrics=metrics)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
