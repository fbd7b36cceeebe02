#!/usr/bin/env python3
"""Run one benchmark workload of graft and print its metrics.

    python3 perfbench/run.py --workload etl_io --seed 1 --seconds 10 --trace 0

Run from the root of a source checkout. The first run builds the runner
(sbt, into .bench_build/); every run then generates its input tables from
the seed, starts a fresh JVM on them, checks the workload's outputs
against the DuckDB oracle and measures it for --seconds seconds. The last
line of stdout is one JSON object: every end-to-end metric (--trace 0) or
every per-layer metric (--trace 1). The exit code is non-zero when a query
failed or returned a wrong answer. Full records land in
.bench_build/results/ for perfbench/compare.py.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
sys.path.insert(0, str(HERE))
import gen  # noqa: E402
import layers  # noqa: E402
import oracle  # noqa: E402

JVM_TIMEOUT_S = 170
# the heap starts small and grows with what the workload keeps live, so that
# peak resident memory follows the workload (Runner shrinks the heap and
# resets the peak before the workload starts); the serial collector sizes
# the heap from live data alone, not from pause-time goals, which keeps the
# peak the same from run to run
HEAP_MIN, HEAP_MAX = "256m", "2g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources():
    """Every file the runner's build depends on."""
    files = [HERE / "build.sbt", HERE / "project" / "build.properties"]
    for d in (HERE / "src", ROOT / "src" / "main"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    return files


def build():
    """Compile the runner with the library sources; returns its classpath.
    Skipped when the sources are unchanged since the last build."""
    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        raise SystemExit("perfbench: no graft sources under src/main/scala; "
                         "run from the root of a graft checkout")
    h = hashlib.sha256()
    for f in sources():
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    stamp, cp_file = BUILD / "build.stamp", BUILD / "classpath.txt"
    if cp_file.exists() and stamp.exists() and stamp.read_text() == h.hexdigest():
        return cp_file.read_text().strip()
    BUILD.mkdir(exist_ok=True)
    log("building the runner (sbt compile) ...")
    r = subprocess.run(["sbt", "-batch", "compile", "export Runtime/fullClasspath"],
                       cwd=HERE, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("perfbench: build failed")
    cp_file.write_text(lines[-1])
    stamp.write_text(h.hexdigest())
    return lines[-1]


def du(path):
    """Bytes allocated under path, directories included (like du)."""
    total = 0
    for dirpath, dirnames, filenames in os.walk(path):
        for n in [dirpath] + [os.path.join(dirpath, f) for f in filenames]:
            try:
                total += os.lstat(n).st_blocks * 512
            except OSError:
                pass
    return total


def entries(dirs):
    return {d / n for d in dirs for n in os.listdir(d)}


def prefix(name):
    """Leak name prefix: the name up to its first digit run or id."""
    out = ""
    for part in name.split("_"):
        if not part or part[0].isdigit() or part.startswith("local-"):
            break
        out += part + "_"
    return out or name


def run_jvm(cp, data_dir, out_dir, tmp_dirs, args, wl, passes):
    tmpdir, localdir = tmp_dirs
    cmd = (["java", f"-Xms{HEAP_MIN}", f"-Xmx{HEAP_MAX}", "-XX:+UseSerialGC", "-XX:-UsePerfData"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Djava.io.tmpdir={tmpdir}", f"-Dspark.local.dir={localdir}",
              f"-Dspark.sql.warehouse.dir={BUILD / 'warehouse'}",
              "-cp", cp, "perfbench.Runner", str(data_dir), str(out_dir), str(args.seed),
              str(wl["warmup_passes"]), str(passes), str(args.trace), ",".join(wl["queries"])])
    with open(out_dir / "jvm.log", "w") as logf:
        try:
            r = subprocess.run(cmd, cwd=BUILD, stdout=logf, stderr=subprocess.STDOUT,
                               timeout=JVM_TIMEOUT_S)
            code = r.returncode
        except subprocess.TimeoutExpired:
            code = "timeout"
    if code != 0:
        sys.stderr.write((out_dir / "jvm.log").read_text()[-4000:])
        raise SystemExit(f"perfbench: runner JVM exited with {code}")
    return json.loads((out_dir / "run.json").read_text())


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    spec = json.loads((HERE / "workloads.json").read_text())
    if args.workload not in spec["workloads"]:
        raise SystemExit(f"perfbench: unknown workload {args.workload!r}; "
                         f"have {sorted(spec['workloads'])}")
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    wl = spec["workloads"][args.workload]
    queries = wl["queries"]
    # the pass count follows from --seconds and the workload's nominal pass
    # time, never from a measured speed: every run does the same work, so
    # its counts (bytes left, memory) compare exactly across runs and commits
    passes = max(4, round(args.seconds / wl["nominal_pass_s"]))

    cp = build()
    # inputs are cached per seed and generator version
    gen_id = hashlib.sha256((HERE / "gen.py").read_bytes()).hexdigest()[:12]
    data_dir = Path(gen.write(str(BUILD / "data" / f"{gen_id}-seed{args.seed}"), args.seed))
    tmp_dirs = [BUILD / "tmp", BUILD / "local"]
    for d in tmp_dirs:
        d.mkdir(parents=True, exist_ok=True)
    out_dir = BUILD / "runs" / f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}"
    shutil.rmtree(out_dir, ignore_errors=True)
    out_dir.mkdir(parents=True)

    # temp-file accounting: what this run leaves under java.io.tmpdir and
    # spark.local.dir, measured after the JVM exits; then only the entries
    # this run created are removed, so the next run starts from the same state
    before = entries(tmp_dirs)
    try:
        run = run_jvm(cp, data_dir, out_dir, tmp_dirs, args, wl, passes)
    finally:
        created = sorted(entries(tmp_dirs) - before)
        tmp_left_b = sum(du(p) for p in created)
        leaked = sorted({prefix(p.name) for p in created})
        for p in created:
            shutil.rmtree(p, ignore_errors=True) if p.is_dir() else p.unlink(missing_ok=True)

    checked, wrong = oracle.compare(data_dir, out_dir, queries)
    for name, why in wrong:
        log(f"WRONG {name}: {why}")
    failed_frac = run["failed"] / run["attempted"]
    wrong_frac = len(wrong) / checked if checked else 0.0

    # a failed query's abort must never read as fast: the median is over
    # clean passes, and with none, the slowest pass is reported
    good = [s for s, ok in run["passes"] if ok]
    pass_s = statistics.median(good) if good else max(s for s, _ in run["passes"])
    ref = spec["canary_ref_s"]
    load = run["load_1m_start"]
    if not run["canary_ok"]:
        contended = "unknown"
    else:
        # back-to-back runs keep the 1-min load near half the cores by
        # themselves, so only a load above the core count marks contention
        contended = run["canary_s"] > 1.25 * ref or load > run["cpus"]
    e2e = {
        "pass_s": pass_s,
        "setup_s": run["setup_s"],
        "peak_rss_mb": run["peak_rss_mb"],
        "tmp_left_mb": tmp_left_b / 2**20,
    }
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "time": time.strftime("%Y-%m-%dT%H:%M:%S"),
        "e2e": e2e, "failed_frac": failed_frac, "wrong_frac": wrong_frac,
        "oracle_checked": checked, "wrong": wrong, "failed_queries": run["failed_queries"],
        "passes": run["passes"], "traced_passes": run["traced_passes"],
        "warmup_pass_s": run["warmup_pass_s"],
        "rss_reset_mb": run["rss_reset_mb"], "tmp_left_b": tmp_left_b, "tmp_leaked_prefixes": leaked,
        "load_1m_start": load, "canary_s": run["canary_s"], "canary_ref_s": ref,
        "contended": contended,
    }
    units = {m["name"]: m["unit"] for m in bench["end_to_end"] + bench["per_layer"]}
    if args.trace:
        per_layer = layers.per_layer(out_dir / "trace.jsonl", run)
        record["layers"] = per_layer
        metrics = {m["name"]: per_layer[m["name"]] for m in bench["per_layer"]}
    else:
        metrics = {m["name"]: e2e[m["name"]] for m in bench["end_to_end"]}

    res_dir = BUILD / "results" / args.workload
    res_dir.mkdir(parents=True, exist_ok=True)
    (res_dir / f"{record['time']}-s{args.seed}-t{args.trace}-{os.getpid()}.json").write_text(
        json.dumps(record))
    keep = BUILD / "last" / args.workload
    shutil.rmtree(keep, ignore_errors=True)
    keep.mkdir(parents=True)
    for f in ("run.json", "trace.jsonl", "jvm.log"):
        if (out_dir / f).exists():
            shutil.copy(out_dir / f, keep / f)
    shutil.rmtree(out_dir, ignore_errors=True)

    for k, v in list(e2e.items()) + [("failed_frac", failed_frac), ("wrong_frac", wrong_frac)]:
        print(f"{k} {v:.6g} {units.get(k, 'ratio')}")
    print(f"contended {json.dumps(contended)} (load_1m {load}, canary {run['canary_s']:.3f} s "
          f"vs ref {ref} s)")
    correct = run["failed"] == 0 and not wrong
    print(json.dumps({
        "correct": correct, "attempted": run["attempted"],
        "failed": run["failed"] + len(wrong),
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
