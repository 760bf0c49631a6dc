#!/usr/bin/env python3
"""The repository benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload interactive --seed 1 --seconds 5 --trace 0

Run from the root of a checkout.  The run generates its inputs from the
seed (cached under ``.perfbench_work/``), starts the engine's session with
the unmodified ``get_spark()`` on ``local[<nproc>]``, warms up with one
round of the workload, then drives it from one client thread in a closed loop
(the next operation starts when the previous one returns) for at least
``--seconds``, in complete rounds of the workload's operations.  Every
result is checked against DuckDB over the same files.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` enables the
Spark event log from the submit arguments, measures an untraced phase, then
traced / untraced / traced phases (spans around every layer's public entry
points, see ``spans.py``) and reports the per-layer metrics.  Human-readable lines come
first; the last stdout line is the JSON result.  The exit code is non-zero
when a check fails or the engine cannot be imported.
"""
from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import numpy as np  # noqa: E402

import check  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402
import workloads as W  # noqa: E402

# input shapes; see README.md for why they are this size
SHAPES = {"interactive": {"sf": 0.02}, "etl_batch": {"copies": 4},
          "corpus_curation": {"base_docs": 5000, "copies": 2}}


# ------------------------------------------------------------ processes
def _process_start() -> float:
    """Epoch time this process started (from /proc, 10 ms resolution)."""
    with open("/proc/self/stat") as f:
        ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - (uptime - ticks / os.sysconf("SC_CLK_TCK"))


def _children() -> list[int]:
    me, out = str(os.getpid()), []
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            try:
                with open(f"/proc/{pid}/stat") as f:
                    if f.read().rsplit(")", 1)[1].split()[1] == me:
                        out.append(int(pid))
            except OSError:
                pass
    return out


def _hwm_mb(pid) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def _stop(spark) -> None:
    """Stop the session, then end the gateway JVM and wait for it."""
    pids = _children()
    spark.stop()
    for pid in pids:
        try:
            os.kill(pid, signal.SIGTERM)
        except ProcessLookupError:
            continue
    deadline = time.time() + 30
    for pid in pids:
        try:
            while os.waitpid(pid, os.WNOHANG) == (0, 0):
                if time.time() > deadline:
                    os.kill(pid, signal.SIGKILL)
                    os.waitpid(pid, 0)
                    break
                time.sleep(0.05)
        except ChildProcessError:
            pass


def _env(work: str, trace_dir: str | None) -> None:
    """Process environment for the engine: all cores, and every scratch
    file (shuffle, temp, event log) inside the work directory."""
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = (f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} "
                                       "-XX:-UsePerfData")
    if trace_dir is not None:
        os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
            "--conf spark.eventLog.enabled=true",
            f"--conf spark.eventLog.dir=file://{trace_dir}",
            "--conf spark.eventLog.compress=false",
            "--conf spark.eventLog.rolling.enabled=false",
            "pyspark-shell"])


# ------------------------------------------------------------ workloads
class Workload:
    """Operations of one workload bound to its inputs and parameters."""

    def __init__(self, name: str, pes, manifest: dict, params: dict, work: str):
        self.name, self.pes, self.main = name, pes, manifest
        self.queries = {"interactive": W.INTERACTIVE, "etl_batch": W.ETL,
                        "corpus_curation": W.CORPUS}[name]
        self.params = dict(params, out=os.path.join(work, "out"))

    def run(self, q):
        res = q.run(self.pes, self.main["dir"], self.params)
        return res.compute() if self.name == "interactive" else None

    def fact_rows(self, q) -> int:
        return sum(self.main["rows"][t] for t in q.facts)


def measure(wl: Workload, rng, seconds: float, run_op=None) -> list[dict]:
    """Closed loop, one client: complete rounds (every operation once, in a
    seeded order) until at least ``seconds`` have passed."""
    samples = []
    t_end = time.perf_counter() + seconds
    while True:
        for i in rng.permutation(len(wl.queries)):
            q = wl.queries[i]
            t0 = time.perf_counter()
            try:
                res = run_op(q.name, lambda: wl.run(q)) if run_op else wl.run(q)
                err = None
            except Exception as e:  # an operation that fails is counted, not fatal
                res, err = None, f"{type(e).__name__}: {str(e)[:300]}"
            samples.append({"q": q, "lat": time.perf_counter() - t0, "res": res, "err": err})
        if time.perf_counter() >= t_end:
            return samples


# ------------------------------------------------------------ checks
def run_checks(wl: Workload, samples: list[dict]) -> dict[str, list[str]]:
    """Problems per operation name (errors and wrong results)."""
    import duckdb
    problems: dict[str, list[str]] = {}
    for s in samples:
        if s["err"]:
            problems.setdefault(s["q"].name, []).append(s["err"])
    con = duckdb.connect()
    d, p = wl.main["dir"], wl.params
    try:
        if wl.name == "interactive":
            for q in wl.queries:
                want = con.execute(q.oracle(d, p)).df()
                for s in samples:
                    if s["q"] is q and s["res"] is not None:
                        bad = check.compare(check.as_frame(s["res"]), want, q.cls == "ordered")
                        if bad:
                            problems.setdefault(q.name, []).append("; ".join(bad))
                            break
        elif wl.name == "etl_batch":
            for q in wl.queries:
                bad = check.compare(con.execute(W.readback_sql(q, p)).df(),
                                    con.execute(q.oracle(d, p)).df(), False)
                if bad:
                    problems.setdefault(q.name, []).append("; ".join(bad))
        else:
            problems.update(_corpus_checks(wl, con))
    finally:
        con.close()
    return problems


def _corpus_checks(wl: Workload, con) -> dict[str, list[str]]:
    d, out = wl.main["dir"], os.path.join(wl.params["out"], "curated")
    bad = []
    want = con.execute(W.gopher_survivors_sql(d)).fetchone()[0]
    got = W.engine_survivors(wl.pes, d)
    if got != want:
        bad.append(f"gopher survivors {got} vs {want}")
    kept = set(con.execute(f"SELECT doc_id FROM read_parquet('{out}/*.parquet')")
               .df()["doc_id"].tolist())
    planted = wl.main["planted"]
    for kind in ("exact", "near"):
        left = [i for i in planted[kind] if i in kept]
        if left:
            bad.append(f"{len(left)} planted {kind} duplicates kept, e.g. {left[:3]}")
        gone = [i for i in planted[kind + "_src"] if i not in kept]
        if gone:
            bad.append(f"{len(gone)} originals of planted {kind} duplicates removed")
    expect = want - len(planted["exact"]) - len(planted["near"])
    if len(kept) != expect:
        bad.append(f"kept {len(kept)} docs, expected {expect}")
    pii = con.execute(f"""SELECT count(*) FROM read_parquet('{out}/*.parquet')
        WHERE regexp_matches(text, '@example\\.org|555-[0-9]{{3}}-[0-9]{{4}}')""").fetchone()[0]
    if pii:
        bad.append(f"{pii} docs still hold PII")
    return {"curate": bad} if bad else {}


# ------------------------------------------------------------ reporting
def _failed(samples, problems) -> int:
    return sum(1 for s in samples if s["q"].name in problems)


def end_to_end(wl, samples, setup_s, rss) -> tuple[dict, list[str]]:
    """The tracked metrics (``BENCHMARK.json``) and the report lines, which
    add the ones too noisy or too workload-specific to track."""
    lats = [s["lat"] for s in samples]
    rows = sum(wl.fact_rows(s["q"]) for s in samples)
    metrics = {"setup_s": (setup_s, "s"), "latency_geomean_s": (stats.geomean(lats), "s"),
               "rows_per_s": (rows / sum(lats), "rows/s"), "driver_rss_mb": (rss[0], "MB")}
    lines = [f"metric {k} {v:.6g} {u} n={1 if k == 'setup_s' else len(lats)}"
             for k, (v, u) in metrics.items()]
    lines.append(f"metric latency_p50_s {stats.median(lats):.6g} s n={len(lats)}")
    lines.append(f"metric peak_rss_mb {rss[0] + rss[1]:.6g} MB n=1 (driver + JVM)")
    tail = stats.tail(lats)
    lines.append(f"metric latency_p{tail[0]}_s {tail[1]:.6g} s n={len(lats)}" if tail else
                 f"metric latency_p90_s n/a n={len(lats)} (fewer than "
                 f"{stats.MIN_BEYOND} samples beyond p90)")
    for cls in ("ordered", "unordered"):
        xs = [s["lat"] for s in samples if s["q"].cls == cls]
        if xs:
            lines.append(f"metric {cls}_p50_s {stats.median(xs):.6g} s n={len(xs)}")
    if wl.name == "corpus_curation":
        lines.append(f"metric docs_per_s {rows / sum(lats):.6g} docs/s n={len(lats)}")
    for q in wl.queries:
        xs = [s["lat"] for s in samples if s["q"] is q]
        lines.append(f"op {q.name} latency_p50_s {stats.median(xs):.6g} s n={len(xs)}")
    return {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}, lines


def run_all(args) -> int:
    """Every workload in turn, each in its own process; the result line
    nests each workload's metrics under its name."""
    results = {}
    for name in sorted(SHAPES):
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name, "--seed",
               str(args.seed), "--seconds", str(args.seconds), "--trace", str(args.trace)]
        out = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        lines = out.stdout.strip().splitlines()
        print("\n".join(f"{name}: {line}" for line in lines[:-1]), flush=True)
        try:
            results[name] = json.loads(lines[-1])
        except (IndexError, ValueError):
            results[name] = None
    ok = all(r is not None and r["correct"] for r in results.values())
    done = [r for r in results.values() if r is not None]
    print(json.dumps({"correct": ok, "attempted": sum(r["attempted"] for r in done),
                      "failed": sum(r["failed"] for r in done),
                      "metrics": {n: r and r["metrics"] for n, r in results.items()}}))
    return 0 if ok else 1


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SHAPES) + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.workload == "all":
        return run_all(args)
    proc_start = _process_start()
    if not os.path.isdir(os.path.join(ROOT, "pandas_expr_spark")):
        sys.exit("perfbench: the engine package pandas_expr_spark is not in this checkout")

    work = os.path.join(ROOT, ".perfbench_work")
    trace_dir = os.path.join(work, "eventlog") if args.trace else None
    if trace_dir:
        shutil.rmtree(trace_dir, ignore_errors=True)
        os.makedirs(trace_dir)
    _env(work, trace_dir)
    manifest, gen_s = gen.generate(work, args.workload, args.seed, SHAPES[args.workload])
    import pandas_expr_spark as pes
    spark = pes.get_spark()
    start_s = time.time() - proc_start - gen_s   # input generation is not set-up
    spark.sparkContext.setLogLevel("ERROR")

    rng = np.random.default_rng([args.seed, 9])
    wl = Workload(args.workload, pes, manifest, W.draw(args.workload, rng), work)
    # warm-up: one round on the real inputs.  Warming on tiny inputs left
    # the first timed round ~35% slower than later ones (hot loops are
    # JIT-compiled at full data size), which made runs unsteady.
    t0 = time.perf_counter()
    measure(wl, rng, 0)
    warm_s = time.perf_counter() - t0
    setup_s = start_s + warm_s
    print(f"setup start_s={start_s:.3f} warm_s={warm_s:.3f} gen_s={gen_s:.3f}", flush=True)

    samples = measure(wl, rng, args.seconds)
    traced, untraced, tracer = [], [], None
    if args.trace:
        # traced, untraced, traced: the overhead compares the middle phase
        # with its neighbours, after the first phase has settled warm-up
        import spans
        tracer = spans.Tracer(spark.sparkContext)
        for phase in range(3):
            if phase % 2:
                untraced = measure(wl, rng, args.seconds)
                continue
            tracer.install()
            try:
                traced += measure(wl, rng, args.seconds, run_op=tracer.run_op)
            finally:
                tracer.uninstall()
    samples += untraced
    probe = {}
    if args.trace and wl.name == "corpus_curation":
        W.curate(pes, wl.main["dir"], wl.params, probe)
    problems = run_checks(wl, samples + traced)
    rss = (_hwm_mb("self"), sum(_hwm_mb(p) for p in _children()))
    cores = len(os.sched_getaffinity(0))
    _stop(spark)

    everything = samples + traced
    failed = _failed(everything, problems)
    for name, msgs in sorted(problems.items()):
        for m in msgs:
            print(f"FAIL {args.workload}.{name}: {m}")
    e2e, lines = end_to_end(wl, samples, setup_s, rss)
    lines.append(f"metric failed_ratio {failed / len(everything):.6g} ratio n={len(everything)}")
    lines.append(f"metric gen_s {gen_s:.6g} s n=1")
    if args.trace:
        import eventlog
        logs = [os.path.join(trace_dir, f) for f in os.listdir(trace_dir)]
        jobs = eventlog.read(max(logs, key=os.path.getmtime))
        metrics = eventlog.layer_metrics(tracer.spans, jobs, cores)
        untraced_mean = sum(s["lat"] for s in untraced) / len(untraced)
        traced_mean = sum(s["lat"] for s in traced) / len(traced)
        metrics.update({
            "session.start_s": start_s, "session.warm_s": warm_s,
            "sources.scan_reuse_ratio": tracer.source_reuse / max(tracer.source_calls, 1),
            "functions.candidate_pairs": float(probe.get("candidate_pairs", 0)),
            "functions.verify_yield": (probe["verified_pairs"] / probe["candidate_pairs"]
                                       if probe.get("candidate_pairs") else 0.0),
            "trace.overhead_ratio": traced_mean / untraced_mean - 1.0,
            "trace.op_wall_s": traced_mean})
        units = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))["per_layer"]
        result = {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]} for m in units}
        for k, v in sorted(metrics.items()):
            lines.append(f"layer {k} {v:.6g}")
        for name, (jobs_per_op, build_s) in sorted(
                eventlog.build_by_op(tracer.spans, jobs).items()):
            lines.append(f"layer-op {name} collection.build_jobs={jobs_per_op:.3g} "
                         f"collection.build_s={build_s:.3g}")
    else:
        result = e2e
    print("\n".join(lines))
    print(json.dumps({"correct": not problems, "attempted": len(everything),
                      "failed": failed, "metrics": result}), flush=True)
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
