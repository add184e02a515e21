#!/usr/bin/env python3
"""The repository benchmark: four workloads driven through the engine's
public entry points on one local Spark session.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the engine and the
harness into `.bench_build/`. The last line of standard output is one JSON
object with `correct`, `attempted`, `failed` and `metrics`: with
`--trace 0` the end-to-end metrics of BENCHMARK.json, with `--trace 1` its
per-layer metrics. Lines before it report every metric by name and unit,
the output checks, provenance and host stamps, and, for a traced run, the
tracing overhead, the span self times and the layer-isolation table.
See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ["fleet_etl", "corpus_curation", "event_stream", "lake_writes"]
# Input scale (the fixture's sf ladder) of the generated tables, per workload.
SCALE = {"corpus_curation": 0.01, "lake_writes": 0.02}
NEEDS = {"lake_writes": ["lineitem"]}
DEADLINE_S = 170
# The harness JVM runs under the engine's own `javaOptions` in build.sbt:
# the JDK 17 add-opens Spark needs, no UI, UTC sessions and the driver heap
# from SPARK_DRIVER_MEM (8g by default). No other JVM flag is set.
JVM_OPTS = [a for p in ["java.base/java.lang", "java.base/java.lang.invoke",
                        "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
                        "java.base/java.nio", "java.base/java.util",
                        "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
                        "java.base/sun.nio.ch", "java.base/sun.nio.cs",
                        "java.base/sun.security.action", "java.base/sun.util.calendar"]
            for a in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
    f"-Xmx{os.environ.get('SPARK_DRIVER_MEM', '8g')}"]

# Layers each workload is predicted never to touch: counter -> the only
# workload allowed to move it.
ISOLATION = {
    "connector.rpc_calls": "fleet_etl",
    "sink.posts": "fleet_etl",
    "catalyst.kernel_exprs": "corpus_curation",
    "stream.batches": "event_stream",
    "tx.commits": "lake_writes",
}


def emit(obj):
    print(json.dumps(obj), flush=True)


def load_avg():
    return [round(x, 2) for x in os.getloadavg()]


def git_sha():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except Exception:
        return None


def run_jvm(cp, args, run_dir, budget_s):
    """Runs the harness; returns its result dict."""
    out = os.path.join(run_dir, "result.json")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + JVM_OPTS + [f"-Djava.io.tmpdir={tmp}", "-cp", cp, "perfbench.Main"]
           + args + ["--run-dir", run_dir, "--out", out])
    log = open(os.path.join(run_dir, "jvm.log"), "w")
    p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, start_new_session=True)

    def stop():
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        p.wait()
    # a benchmark stopped from outside takes its JVM with it
    signal.signal(signal.SIGTERM, lambda *_: (stop(), sys.exit(143)))
    try:
        p.wait(timeout=budget_s)
    except subprocess.TimeoutExpired:
        stop()
    log.close()
    if p.returncode != 0 or not os.path.exists(out):
        with open(os.path.join(run_dir, "jvm.log")) as f:
            sys.stderr.write(f.read()[-6000:])
        raise RuntimeError(f"harness exited with {p.returncode}")
    with open(out) as f:
        return json.load(f)


def op_figures(phase):
    """p50 and tail of the workload's unit operation, in ms."""
    xs = phase["samples"].get("op_ms", [])
    _, v, _, n = stats.tail(xs, groups=phase["samples"].get("op_ms.batch"))
    return {"p50": stats.median(xs), "tail": v, "n": n}


def workload_report(w, phase, jvm):
    """The workload's own end-to-end figures, by the names the README uses."""
    s = phase["samples"]
    op = op_figures(phase)
    rep = {}

    def lat(name, xs, groups=None):
        p, v, beyond, n = stats.tail(xs, groups=groups)
        rep[f"{name}_p50_ms"] = {"value": stats.median(xs), "unit": "ms"}
        rep[f"{name}_tail_ms"] = {"value": v, "unit": "ms", "percentile": p,
                                  "samples_beyond": beyond, "samples": n}

    if w == "fleet_etl":
        lat("run", s.get("op_ms", []))
    elif w == "corpus_curation":
        rep["pass_s"] = {"value": op["p50"] / 1000, "unit": "s", "samples": op["n"]}
        rep["gate_p50_ms"] = {"value": stats.median(s.get("gate_ms", [])), "unit": "ms",
                              "samples": len(s.get("gate_ms", []))}
    elif w == "event_stream":
        lat("event_latency", s.get("op_ms", []), s.get("op_ms.batch"))
        rates = phase["scalars"]["rates"]
        limit = phase["scalars"]["latency_limit_ms"]
        best, table = 0.0, []
        for r in rates:
            key = str(int(r))
            xs = s.get(f"lat.{key}", [])
            p, v, beyond, n = stats.tail(xs, groups=s.get(f"lat.{key}.batch"))
            grows = stats.backlog_grows(s.get(f"backlog_t.{key}", []),
                                        s.get(f"backlog.{key}", []), r)
            late = s.get(f"late_ms.{key}", [])
            ok = bool(xs) and not grows and v <= limit
            if ok:
                best = max(best, r)
            table.append({"rate": r, "p50_ms": stats.median(xs), "tail_ms": v,
                          "tail_pct": p, "samples": n,
                          "generator_late_p50_ms": stats.median(late),
                          "generator_late_max_ms": max(late) if late else 0.0,
                          "backlog_end": (s.get(f"backlog.{key}") or [0])[-1],
                          "backlog_grows": grows, "sustained": ok})
        rep["sustainable_events_per_s"] = {"value": best, "unit": "events/s",
                                           "latency_limit_ms": limit}
        rep["rates"] = table
    elif w == "lake_writes":
        lat("append", s.get("append", []))
        rep["compact_p50_ms"] = {"value": stats.median(s.get("compact", [])), "unit": "ms"}
        reads = s.get("read", []) + s.get("time_travel", [])
        rep["snapshot_read_p50_ms"] = {"value": stats.median(reads), "unit": "ms"}
        rep["write_amplification"] = {"value": stats.median(s.get("write_amplification", [])),
                                      "unit": "bytes/byte"}
        rep["space_amplification"] = {"value": max(s.get("space_amplification", [0.0])),
                                      "unit": "bytes/byte"}
    if w != "event_stream":
        rep["op_samples_ms"] = [round(x, 1) for x in s.get("op_ms", [])]
    rep["peak_rss_mb"] = {"value": jvm["peak_rss_mb"], "unit": "MB"}
    return rep


def end_to_end(phase, setup_s):
    op = op_figures(phase)
    return {"setup_s": setup_s, "op_p50_ms": op["p50"], "op_tail_ms": op["tail"]}


def span_table(path):
    """Per span name: count, total and self ms (self = duration minus the
    part of it that its direct children cover)."""
    if not os.path.exists(path):
        return {}
    spans = [json.loads(line) for line in open(path) if line.strip()]
    kids = {}
    for sp in spans:
        kids.setdefault(sp["parent"], []).append(sp)
    out = {}
    for sp in spans:
        iv = sorted((max(k["start_ns"], sp["start_ns"]), min(k["end_ns"], sp["end_ns"]))
                    for k in kids.get(sp["id"], []))
        covered, cur_a, cur_b = 0, None, None
        for a, b in iv:
            if b <= a:
                continue
            if cur_b is None or a > cur_b:
                covered += (cur_b - cur_a) if cur_b is not None else 0
                cur_a, cur_b = a, b
            else:
                cur_b = max(cur_b, b)
        covered += (cur_b - cur_a) if cur_b is not None else 0
        row = out.setdefault(sp["name"], {"count": 0, "total_ms": 0.0, "self_ms": 0.0})
        row["count"] += 1
        row["total_ms"] += (sp["end_ns"] - sp["start_ns"]) / 1e6
        row["self_ms"] += (sp["end_ns"] - sp["start_ns"] - covered) / 1e6
    return {k: {kk: round(vv, 3) for kk, vv in v.items()} for k, v in sorted(out.items())}


def main():
    started, t_start = time.time(), time.monotonic()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    load_before = load_avg()

    cp = build.build()
    t_built = time.monotonic()
    run_dir = os.path.abspath(os.path.join(
        build.BUILD_DIR, "runs", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}"))
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        data_dir = os.path.join(run_dir, "data")
        t0 = time.monotonic()
        if a.workload in SCALE:
            gen.write_tables(data_dir, a.seed, SCALE[a.workload], NEEDS.get(a.workload))
        else:
            os.makedirs(data_dir)
        gen_s = time.monotonic() - t0
        budget = DEADLINE_S - (time.monotonic() - t_start) - 10
        jvm = run_jvm(cp, ["--workload", a.workload, "--seed", str(a.seed),
                                     "--seconds", str(a.seconds), "--trace", str(a.trace),
                                     "--data", data_dir], run_dir, budget)
        # set-up: process start to the first timed operation, less the build
        setup_s = jvm["timed_start_ms"] / 1000.0 - started - (t_built - t_start)

        attempted, failed = jvm["attempted"], jvm["failed"]
        failures = list(jvm["failures"])
        if a.workload == "corpus_curation":
            import checks
            calls = {}
            for ph in jvm["phases"].values():
                calls.update(ph["scalars"].get("gate_calls", {}))
            for gate, why in checks.check_gates(data_dir, os.path.join(run_dir, "check")).items():
                if why is not None:
                    failed += calls.get(gate, 1)
                    failures.append(f"{gate}: {why}")
        correct = attempted > 0 and failed == 0

        untraced = jvm["phases"]["untraced"]
        e2e = end_to_end(untraced, setup_s)
        report = workload_report(a.workload, untraced, jvm)
        report["setup_s"] = {"value": setup_s, "unit": "s"}
        report["failed_op_ratio"] = {"value": failed / max(1, attempted), "unit": "ratio"}
        emit({"workload": a.workload, "report": report})
        if failures:
            emit({"failures": failures[:20]})
        emit({"provenance": {
            "seed": a.seed, "workload": a.workload, "inputs": os.path.relpath(data_dir),
            "input_scale": SCALE.get(a.workload), "git_sha": git_sha(),
            "source_digest": open(os.path.join(build.BUILD_DIR, "classes.stamp")).read(),
            "nproc": os.cpu_count(), "load_avg_before": load_before,
            "load_avg_after": load_avg(), "build_s": round(t_built - t_start, 2),
            "setup_ms": jvm["setup"], "input_gen_py_s": round(gen_s, 3),
            **jvm["provenance"]}})

        broken = []
        units = {m["name"]: m["unit"] for m in bench["end_to_end"] + bench["per_layer"]}
        if a.trace == 0:
            metrics = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]}
                       for m in bench["end_to_end"]}
        else:
            traced = jvm["phases"]["traced"]
            emit({"tracing_overhead": {
                k: {"untraced": e2e[k], "traced": v, "traced_minus_untraced": v - e2e[k]}
                for k, v in end_to_end(traced, setup_s).items() if k != "setup_s"}})
            emit({"span_self_times": span_table(os.path.join(run_dir, "spans.jsonl"))})
            layers = dict(jvm["layers"])
            for k, v in jvm["setup"].items():
                layers[f"setup.{k}"] = v
            layers["setup.input_gen_ms"] += gen_s * 1000.0
            metrics = {m["name"]: {"value": float(layers.get(m["name"], 0.0)),
                                   "unit": units[m["name"]]} for m in bench["per_layer"]}
            # the isolation check: a layer moved by a workload predicted to
            # bypass it fails the traced run
            counters = jvm["counters"]
            row = {k: counters.get(k, 0) for k in ISOLATION}
            iso_dir = os.path.join(build.BUILD_DIR, "isolation")
            os.makedirs(iso_dir, exist_ok=True)
            with open(os.path.join(iso_dir, f"{a.workload}.json"), "w") as f:
                json.dump(row, f)
            table = {}
            for w in WORKLOADS:
                p = os.path.join(iso_dir, f"{w}.json")
                if os.path.exists(p):
                    table[w] = json.load(open(p))
            emit({"isolation": {"predicted_only_in": ISOLATION, "counters": table}})
            broken = [k for k, only in ISOLATION.items() if row[k] > 0 and only != a.workload]
            if broken:
                emit({"isolation_violations": broken})
                correct = False
        emit({"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics})
        return 1 if broken else 0
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception as e:
        sys.stderr.write(f"benchmark failed: {e}\n")
        sys.exit(2)
