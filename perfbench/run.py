#!/usr/bin/env python3
"""The scragspark benchmark.

Run one measurement, from the root of a checkout:

    python3 perfbench/run.py --workload crawl_extract --seed 7 --seconds 10 --trace 0

It builds the program from source when the sources changed (sbt, in
perfbench/), launches the harness JVM with host-derived settings, and
prints each metric with its unit, then one JSON object as the last line
of stdout. --trace 0 reports the end-to-end metrics of BENCHMARK.json,
--trace 1 the per-layer ones from a traced run. The exit code is 0 only
when every operation passed its correctness gate.

Check steadiness (two sets of runs per workload, quartiles per set):

    python3 perfbench/run.py --steady --runs 5 [--workload W] [--seconds S]

See perfbench/README.md for the metrics and the workloads.
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
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))
import metrics  # noqa: E402

PROCESS_LIMIT_S = 170  # the whole run, build excepted
BUILD_LIMIT_S = 850
WORKLOADS = ("crawl_extract", "rag_serve")

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def load_spec():
    spec = ROOT / "BENCHMARK.json"
    if not spec.is_file():
        fail(f"no BENCHMARK.json in {ROOT}")
    return json.loads(spec.read_text())


# ---------------------------------------------------------------- launch

def launch_settings():
    """Heap from MemTotal (half of it in GiB, clamped to 2..8), young
    generation a fixed half of the heap, threads capped at the CPUs this
    process may use (at most 4)."""
    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    heap_g = min(8, max(2, mem_kb // 2097152))
    cpus = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    return {"heap_mb": heap_g * 1024, "young_mb": heap_g * 512, "threads": max(1, min(4, cpus))}


# ----------------------------------------------------------------- build

def source_fingerprint():
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             HERE / "build.sbt", HERE / "project" / "build.properties"]
    for base in (ROOT / "src" / "main", HERE / "src"):
        files += sorted(p for p in base.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = Path.home() / ".sbt" / "repositories"
        if repos.is_file():
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    return env


def run_group(cmd, cwd, env):
    """Run cmd in its own process group, killing the whole group if it
    outlives the build limit; returns (exit code, stdout and stderr)."""
    proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=subprocess.PIPE,
                            stderr=subprocess.STDOUT, text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=BUILD_LIMIT_S)
        return proc.returncode, out
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()


def build(settings):
    """Classpath of the harness and the program (as jars), rebuilt when
    any source or build file changed, plus a class-data-sharing archive
    of the classes a short untimed training run loads."""
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        fail(f"{ROOT} holds no scragspark sources (build.sbt, src/main/scala)")
    stamp = HERE / "target" / "bench-classpath.json"
    archive = HERE / "target" / "bench-classes.jsa"
    fp = source_fingerprint()
    if stamp.is_file():
        saved = json.loads(stamp.read_text())
        if saved["fingerprint"] == fp and all(Path(p).exists() for p in saved["classpath"]):
            return saved["classpath"]
    print("perfbench: building (sbt)", file=sys.stderr)
    try:
        code, stdout = run_group(["sbt", "-batch", "-Dsbt.log.noformat=true",
                                  "export Runtime/fullClasspathAsJars"], HERE, sbt_env())
    except (OSError, subprocess.TimeoutExpired) as e:
        fail(f"build failed: {e}")
    lines = [l for l in stdout.splitlines() if ".jar" in l and " " not in l.strip()]
    if code != 0 or not lines:
        sys.stderr.write(stdout[-8000:])
        fail("build failed")
    classpath = lines[-1].strip().split(os.pathsep)
    archive.unlink(missing_ok=True)
    work = ROOT / ".bench_run" / f"train-{os.getpid()}"
    try:
        (work / "tmp").mkdir(parents=True)
        cmd = jvm_command(settings, classpath, work, [f"-XX:ArchiveClassesAtExit={archive}"],
                          ["--train", "1", "--workload", ",".join(WORKLOADS), "--seed", "1",
                           "--scale", "0.1"])
        run_group(cmd, ROOT, os.environ)
    except (OSError, subprocess.TimeoutExpired) as e:
        print(f"perfbench: no class archive ({e})", file=sys.stderr)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    stamp.parent.mkdir(parents=True, exist_ok=True)
    stamp.write_text(json.dumps({"fingerprint": fp, "classpath": classpath}))
    return classpath


# ------------------------------------------------------------------- run

def java_bin():
    home = os.environ.get("JAVA_HOME")
    return str(Path(home) / "bin" / "java") if home else "java"


def jvm_command(settings, classpath, work, jvm_extra, args):
    cmd = [java_bin()]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + [
        f"-Xms{settings['heap_mb']}m", f"-Xmx{settings['heap_mb']}m",
        f"-Xmn{settings['young_mb']}m", "-XX:+UseParallelGC", "-XX:+AlwaysPreTouch",
        f"-Djava.io.tmpdir={work / 'tmp'}", "-Dspark.ui.enabled=false",
        f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}", *jvm_extra,
        "-cp", os.pathsep.join(classpath), "scragbench.Main",
        "--threads", str(settings["threads"]), "--work", str(work), *args]


def run_jvm(args, settings, classpath, work, deadline):
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    archive = HERE / "target" / "bench-classes.jsa"
    cmd = jvm_command(settings, classpath, work,
                      [f"-XX:SharedArchiveFile={archive}"] if archive.is_file() else [],
                      ["--workload", args.workload, "--seed", str(args.seed),
                       "--seconds", str(args.seconds), "--trace", str(args.trace)])
    log = work / "jvm.log"
    with open(log, "w") as lf:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=lf, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            code = None
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    left = sum(1 for p in tmp.iterdir() if p.is_dir())
    result_file = work / "result.json"
    if code is None or not result_file.is_file():
        sys.stderr.write(log.read_text(errors="replace")[-6000:])
        fail("harness timed out" if code is None else f"harness exited {code} without a result", 1)
    result = json.loads(result_file.read_text())
    result["tmp_dirs_left"] = left
    result["spans"] = ([json.loads(l) for l in (work / "spans.jsonl").read_text().splitlines()]
                       if (work / "spans.jsonl").is_file() else [])
    if code != 0:
        sys.stderr.write(log.read_text(errors="replace")[-6000:])
    return result


def end_to_end(result, spec):
    s = result["samples"]
    full, effs = metrics.pass_rates(result["rates"], result["threads"])
    values = {
        "setup_s": metrics.median(s["setup_s"]),
        "docs_per_s": metrics.median(full),
        "scaling_eff": metrics.median(effs),
        "query_p50_ms": metrics.median(s.get("query_ms", [])),
    }
    return {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in spec["end_to_end"]}


def per_layer(result, spec):
    spans = result["spans"]
    t = result["tasks"]
    values = metrics.phase_metrics(spans, t["tasks"], t["jobs"], t["stages"], result["plans"],
                                   result["threads"])
    values.update(result["layers"])
    values["table.read_ms"] = metrics.span_mean_ms(spans, "table.read")
    if result["workload"] == "rag_serve":
        values["rag.search_exec_ms"] = metrics.span_mean_ms(spans, "rag_serve.query", self_time=True)
    values["trace.coverage"] = metrics.coverage(spans, result["workload"])
    values["trace.spans"] = float(len(spans))
    return {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
            for m in spec["per_layer"]}


def measure(args, spec):
    settings = launch_settings()
    classpath = build(settings)
    deadline = time.monotonic() + PROCESS_LIMIT_S
    work = ROOT / ".bench_run" / f"{args.workload}-seed{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    try:
        result = run_jvm(args, settings, classpath, work, deadline)
        if result["spans"]:
            keep = ROOT / ".bench_out"
            keep.mkdir(exist_ok=True)
            shutil.copy(work / "spans.jsonl", keep / f"trace-{args.workload}-seed{args.seed}.jsonl")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    attempted, failed, frac = metrics.failed_frac(result["ops"])
    correct = result["completed"] and failed == 0 and attempted > 0
    for f in result["failures"]:
        print(f"gate: {f}", file=sys.stderr)
    try:
        e2e = end_to_end(result, spec)
        report = per_layer(result, spec) if args.trace else e2e
    except (KeyError, ValueError, statistics.StatisticsError) as e:
        print(f"perfbench: cannot compute metrics: {e!r}", file=sys.stderr)
        e2e, report, correct = {}, {}, False
    s = result["samples"]
    info = result["info"]
    lines = [f"workload {args.workload} seed {args.seed} trace {args.trace}",
             f"launch heap_mb {settings['heap_mb']} young_mb {settings['young_mb']} "
             f"threads {settings['threads']} (host cpus {os.cpu_count()})"]
    lines += [f"{k} {v['value']:.6g} {v['unit']}" for k, v in report.items()]
    lines.append(f"failed_frac {frac:.6g} ratio ({failed} of {attempted} operations: "
                 + ", ".join(f"{k} {o['failed']}/{o['attempted']}" for k, o in result["ops"].items()) + ")")
    if not args.trace:
        if args.workload == "rag_serve" and s.get("index_chunks_per_s"):
            lines.append(f"index_chunks_per_s {metrics.median(s['index_chunks_per_s']):.6g} chunks/s")
        q = s.get("query_ms", [])
        top = metrics.highest_percentile(q) if q else None
        lines.append(f"query samples {len(q)}; highest percentile with ten beyond: "
                     + (f"p{top[0]:g} {top[1]:.6g} ms" if top else "none"))
    else:
        # the traced run's own end-to-end values, for the tracing overhead
        lines += [f"traced {k} {v['value']:.6g} {v['unit']}" for k, v in e2e.items()]
        cov = report.get("trace.coverage", {}).get("value", 0.0)
        lines.append(f"phase self times cover {cov:.4f} of the workload's wall clock "
                     f"({'within' if abs(1 - cov) <= 0.1 else 'NOT within'} 10%)")
        lines.append(f"trace spans written to .bench_out/trace-{args.workload}-seed{args.seed}.jsonl")
    lines.append("input " + ", ".join(f"{k} {info[k]}" for k in ("pages", "staged_bytes", "index_rows")
                                      if k in info))
    lines.append("pass docs/s (round, threads): " + ", ".join(
        f"({r['round']}, {r['threads']}) {r['docs_per_s']:.1f}" for r in result["rates"]))
    lines.append(f"setup_s samples {['%.3f' % x for x in s.get('setup_s', [])]}; "
                 f"first timed call {info.get('first_timed_call_s', 0):.2f} s after JVM start; "
                 f"passes {info.get('passes')}; timed_s {info.get('timed_s', 0):.2f}; "
                 f"tmp_dirs_left {result['tmp_dirs_left']}")
    for l in lines:
        print(l)
    print(json.dumps({"correct": bool(correct), "attempted": int(attempted), "failed": int(failed),
                      "metrics": report}))
    return 0 if correct else 1


# ------------------------------------------------------------- steadiness

def steady(args, spec):
    """Two sets of runs per workload on different seeds; per set each
    end-to-end metric's median and quartiles, and whether the sets agree
    within the bounds: every spread within its bound, and the medians of
    the two sets apart by no more than the bound (either way)."""
    workloads = [args.workload] if args.workload else [w["name"] for w in spec["workloads"]]
    seconds = args.seconds or spec["run_seconds"]
    all_ok = True
    for w in workloads:
        sets = []
        for k in range(2):
            vals = {}
            for i in range(args.runs):
                seed = args.seed + 1000 * k + i
                cmd = [sys.executable, str(HERE / "run.py"), "--workload", w, "--seed", str(seed),
                       "--seconds", str(seconds), "--trace", "0"]
                out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
                last = out.stdout.strip().splitlines()[-1] if out.stdout.strip() else "{}"
                res = json.loads(last) if last.startswith("{") else {}
                if out.returncode != 0 or not res.get("correct"):
                    sys.stderr.write(out.stderr[-3000:])
                    print(f"{w} seed {seed}: run failed (exit {out.returncode})")
                    all_ok = False
                    continue
                for m, v in res["metrics"].items():
                    vals.setdefault(m, []).append(v["value"])
                print(f"{w} seed {seed}: " + ", ".join(f"{m} {v['value']:.4g}"
                                                      for m, v in res["metrics"].items()), flush=True)
            sets.append(vals)
        for m in spec["end_to_end"]:
            name, bound = m["name"], m["bound"]
            a, b = sets[0].get(name, []), sets[1].get(name, [])
            if len(a) < 2 or len(b) < 2:
                print(f"{w} {name}: too few runs")
                all_ok = False
                continue
            qa, qb = metrics.quartiles(a), metrics.quartiles(b)
            sa, sb = metrics.spread(a), metrics.spread(b)
            apart = abs(qb[1] - qa[1]) / qa[1]
            ok = apart <= bound and sa <= bound and sb <= bound
            all_ok &= ok
            print(f"{w} {name} [{m['unit']}] set1 q1/med/q3 {qa[0]:.4g}/{qa[1]:.4g}/{qa[2]:.4g} "
                  f"spread {sa:.3f} | set2 {qb[0]:.4g}/{qb[1]:.4g}/{qb[2]:.4g} spread {sb:.3f} | "
                  f"medians apart {apart:.3f} | bound {bound} | {'agree' if ok else 'DISAGREE'}")
        if args.traced:
            # tracing overhead: one traced run against the untraced median
            cmd = [sys.executable, str(HERE / "run.py"), "--workload", w, "--seed", str(args.seed),
                   "--seconds", str(seconds), "--trace", "1"]
            out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
            for line in out.stdout.splitlines():
                parts = line.split()
                if parts[:1] == ["traced"] and sets[0].get(parts[1]):
                    base = metrics.median(sets[0][parts[1]])
                    print(f"{w} tracing overhead {parts[1]}: traced {float(parts[2]):.4g} vs "
                          f"untraced median {base:.4g} ({float(parts[2]) / base - 1:+.1%})")
                elif line.startswith("phase self times"):
                    print(f"{w} {line}")
    print(json.dumps({"steady": all_ok}))
    return 0 if all_ok else 1


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--steady", action="store_true", help="two sets of runs per workload")
    ap.add_argument("--runs", type=int, default=5, help="runs per set with --steady")
    ap.add_argument("--traced", action="store_true",
                    help="with --steady, add one traced run and report the tracing overhead")
    args = ap.parse_args()
    spec = load_spec()
    if args.workload is not None and args.workload not in WORKLOADS:
        fail(f"unknown workload {args.workload}; one of {', '.join(WORKLOADS)}")
    if args.steady:
        return steady(args, spec)
    if args.workload is None:
        fail("--workload is required")
    if args.seconds is None:
        args.seconds = spec["run_seconds"]
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    return measure(args, spec)


if __name__ == "__main__":
    sys.exit(main())
