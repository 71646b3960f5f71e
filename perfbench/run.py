"""Benchmark runner: one workload, one seed, one closed loop.

    python3 perfbench/run.py --workload sql_shuffle --seed 1 --seconds 20 --trace 0

Run it from the repository root.  One Python process: it pins the
environment, builds (or reuses) the corpus and its DuckDB oracle
results, sets the engine up once from a cold start (imports,
``get_session``, ``register_views`` and a warm-up query: ``setup_s``),
then runs passes over the workload's contracts in a seeded order, one
query at a time on ``local[<cores>]``: STEADY_FROM warm-up passes, then
steady passes until ``--seconds`` have gone by and at least MIN_STEADY
are done.  Every result is checked against
the oracle outside the timed region; a mismatch or an exception counts as
failed and is never retried.

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the per-layer
ones (see perfbench/README.md).  The last line of stdout is one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``.  The full
record of the run, with every span when traced, is written to
``.perfbench/last-<workload>-<seed>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

T_START = time.perf_counter()
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from workloads import WORKLOADS  # noqa: E402

# Pass 0 is cold, and passes keep getting faster for a while after it
# (JIT); the ones from STEADY_FROM on are steady and make the headline
# metrics.  The --seconds window opens when the warm-up passes are done.
STEADY_FROM = 2
MIN_STEADY = 3
# A traced run alternates traced and untraced steady passes, so that it
# measures its own tracing overhead; it needs two of each.
MIN_STEADY_TRACED = 4
# No run starts a pass after this many seconds, whatever --seconds says,
# so that every run ends well inside three minutes.
LAST_PASS_START_S = 120.0
WALL_UNITS = {
    "run.first_pass_s": "s", "run.pass_s": "s", "run.pass_cpu_s": "s",
    "run.query_p50_s": "s", "run.query_tail_s": "s", "run.query_tail_pct": "%",
    "run.query_tail_samples": "count", "run.failed_frac": "ratio",
    "run.peak_rss_mb": "MiB",
}


def pin_env(root: str, run_dir: str) -> dict[str, str]:
    """Fix every environment input of the engine; return what was set."""
    env = {
        # Python workers import shuttle_spark from the checkout; without
        # this every UDF and state-runner query dies in the worker.
        "PYTHONPATH": os.pathsep.join(
            p for p in (root, os.environ.get("PYTHONPATH", "")) if p
        ),
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        # Spark's shuffle files, the package's staging and checkpoint
        # dirs and Python's tempdir all stay inside the checkout.
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        "SPARK_GRAFT_SCRATCH": os.path.join(run_dir, "scratch"),
        "TMPDIR": os.path.join(run_dir, "tmp"),
        # Every JVM, spark-submit's launcher included: temp files in the
        # checkout, and no hsperfdata file under /tmp.
        "JAVA_TOOL_OPTIONS": "-XX:+PerfDisableSharedMem"
            f" -Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
        # The engine's 48g default heap is sized for a 128 GiB host.
        "SPARK_GRAFT_DRIVER_MEM": "2g",
    }
    for d in ("SPARK_LOCAL_DIRS", "SPARK_GRAFT_SCRATCH", "TMPDIR"):
        os.makedirs(env[d], exist_ok=True)
    # Dials that would change the conf under test.
    for k in ("SPARK_GRAFT_SHUFFLE_PARTITIONS", "SPARK_GRAFT_AQE",
              "SPARK_GRAFT_SF_DIR", "SPARK_GRAFT_RELAYOUT"):
        os.environ.pop(k, None)
    os.environ.update(env)
    return env


def session_overrides(run_dir: str) -> dict[str, str]:
    return {"spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse")}


def execute_query(contract, spark, data_dir: str, expected: dict) -> dict:
    """Build and run one contract, then check it against its oracle.

    Returns the ``build``, ``action`` and ``check`` intervals as
    (start, end) wall-clock pairs, the CPU seconds of the process tree
    over build and action, the row count and ``error`` (None when the
    result matched).  The check runs after the timed region."""
    from probes import cpu_seconds, cpu_snapshot

    rec: dict = {"name": contract.name, "error": None, "rows": 0}
    cpu0 = cpu_snapshot()
    t0 = time.time()
    try:
        df = contract.build(spark, data_dir)
        t1 = time.time()
        rows = df.collect()
        t2 = time.time()
    except Exception as e:  # a failed query is recorded, never retried
        t_end = time.time()
        rec.update(build=(t0, t_end), action=(t_end, t_end),
                   check=(t_end, t_end), cpu_s=cpu_seconds(cpu0, cpu_snapshot()),
                   error=f"{type(e).__name__}: {(str(e).splitlines() or [''])[0][:200]}",
                   traceback=traceback.format_exc())
        return rec
    rec["cpu_s"] = cpu_seconds(cpu0, cpu_snapshot())
    rec.update(build=(t0, t1), action=(t1, t2), rows=len(rows))
    rec["error"] = check_result(df.columns, rows, expected)
    rec["check"] = (t2, time.time())
    return rec


def check_result(columns, rows, expected: dict) -> str | None:
    from shuttle_spark.testing import canon_rows

    if list(columns) != expected["columns"]:
        return f"columns {list(columns)} != oracle {expected['columns']}"
    got = [list(r) for r in canon_rows(rows)]
    if got != expected["rows"]:
        return f"{len(got)} rows differ from the oracle's {len(expected['rows'])}"
    return None


def latency(q: dict) -> float:
    return q["action"][1] - q["build"][0]


def tail_latency(values: list[float]) -> tuple[float, float, int]:
    """The highest percentile with at least ten samples beyond it:
    (value, percentile, samples beyond).  Below 11 samples: the maximum."""
    v = sorted(values)
    n = len(v)
    if n < 11:
        return v[-1], 100.0, 0
    return v[n - 11], 100.0 * (n - 10) / n, 10


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def steady_passes(passes: list[dict], traced: bool | None = None) -> list[dict]:
    """The passes the headline metrics use, only the traced or untraced
    ones when ``traced`` says so; the last such pass alone when the run
    was cut before any steady pass (a pathologically slow engine)."""
    kept = [p for p in passes if traced is None or p["traced"] == traced]
    return [p for p in kept if p["index"] >= STEADY_FROM] or kept[-1:]


def set_up(data_dir: str, run_dir: str, import_s: float):
    """The engine's cold set-up: session, views and bench.py's batch
    warm-up, after ``import_s`` of imports.  Returns (session, timings)."""
    from shuttle_spark import get_session, register_views
    from shuttle_spark.contracts import REGISTRY

    t0 = time.perf_counter()
    spark = get_session("perfbench", data_dir=data_dir, **session_overrides(run_dir))
    t1 = time.perf_counter()
    register_views(spark, data_dir)
    t2 = time.perf_counter()
    REGISTRY["agg_tpch_q1"].build(spark, data_dir).collect()
    t3 = time.perf_counter()
    return spark, {
        "setup.import_s": import_s,
        "session.start_s": t1 - t0,
        "catalog.register_s": t2 - t1,
        "setup.warmup_s": t3 - t2,
        "setup_s": import_s + t3 - t0,
    }


def stop_everything(spark) -> None:
    """Stop the session, the JVM and its Python workers; wait for each."""
    from probes import descendants
    from py4j.protocol import Py4JError

    gw = spark.sparkContext._gateway
    proc = gw.proc
    children = descendants(os.getpid())
    try:
        spark.stop()
    finally:
        try:
            gw.shutdown()
        except Py4JError:
            pass
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=20)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        deadline = time.time() + 20
        for pid in children:
            while _alive(pid) and time.time() < deadline:
                time.sleep(0.05)
        for pid in children:
            if _alive(pid):
                try:
                    os.kill(pid, signal.SIGKILL)
                except OSError:
                    pass


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(") ", 1)[1][0] != "Z"
    except OSError:
        return False


def run_passes(spark, wl, data_dir, oracle, seed, seconds, probe, traced,
               env) -> dict:
    """The closed loop: warm-up passes, then steady passes until the
    window of ``seconds`` closes.

    ``probe`` reads Spark's counters once per pass, or once per query in
    a traced pass, where each query also gets its spans.  In a traced run
    the steady passes alternate between traced and untraced."""
    from probes import (QUERY_METRICS, Spans, attach_spans, dir_bytes,
                        host_cpu_ticks, host_floor_s, host_probe_s,
                        process_tree_memory, temp_views)
    from shuttle_spark.contracts import REGISTRY

    spans = Spans()
    rng = random.Random(seed)
    base_views = set(temp_views(spark))
    memory = [process_tree_memory()]
    passes: list[dict] = []
    min_steady = MIN_STEADY_TRACED if traced else MIN_STEADY
    t_run0 = time.time()
    t_window = None
    run_span = spans.add("run", t_run0, t_run0, None)
    qid = 0
    while True:
        index = len(passes)
        trace_pass = traced and (index < STEADY_FROM or (index - STEADY_FROM) % 2 == 0)
        order = list(wl.contracts)
        rng.shuffle(order)
        pass_mark = None if trace_pass else probe.mark()
        ticks0 = host_cpu_ticks()
        p_start = time.time()
        pspan = spans.add("pass", p_start, p_start, run_span) if trace_pass else None
        pq = []
        for name in order:
            q_start = time.time()
            mark = probe.mark() if trace_pass else None
            rec = execute_query(REGISTRY[name], spark, data_dir, oracle[name])
            rec["qid"], rec["pass"] = qid, index
            if trace_pass:
                qspan = spans.add("query", q_start, rec["check"][1], pspan, qid,
                                  contract=name)
                spans.add("trace", q_start, rec["build"][0], qspan, qid)
                t_c = time.time()
                out = probe.collect(mark)
                spans.items[qspan]["end"] = time.time()
                spans.add("trace", t_c, spans.items[qspan]["end"], qspan, qid)
                rec["spark"] = out["metrics"]
                attach_spans(spans, out, rec, qspan)
                spans.add("check", *rec["check"], qspan, qid)
            memory.append(process_tree_memory())
            pq.append(rec)
            qid += 1
        p_end = time.time()
        ticks1 = host_cpu_ticks()
        if trace_pass:
            spans.items[pspan]["end"] = p_end
            counters = {k: sum(q["spark"][k] for q in pq) for k in QUERY_METRICS}
        else:
            counters = probe.collect(pass_mark)["metrics"]
        # Leak and weather probes, outside the pass.
        t_probe = time.perf_counter()
        pinfo = {
            "index": index,
            "traced": trace_pass,
            "span": pspan,
            "queries": pq,
            "latency_s": sum(latency(q) for q in pq),
            "wall_s": p_end - p_start,
            "cpu_s": sum(q["cpu_s"] for q in pq),
            "spark": counters,
            "host.steal_frac": (ticks1[0] - ticks0[0]) / max(1, ticks1[1] - ticks0[1]),
            "leaked_sink_tables": len(set(temp_views(spark)) - base_views),
            "leaked_ckpt_bytes": dir_bytes(env["SPARK_GRAFT_SCRATCH"], "ckpt"),
            "host.floor_s": host_floor_s(spark),
            "host.probe_s": host_probe_s(),
        }
        if traced:
            pinfo["cache"] = probe.storage()
        pinfo["probe_wall_s"] = time.perf_counter() - t_probe
        passes.append(pinfo)
        if len(passes) == STEADY_FROM:
            t_window = time.time()
        if (t_window is not None and len(passes) - STEADY_FROM >= min_steady
                and time.time() - t_window >= seconds):
            break
        if time.perf_counter() - T_START > LAST_PASS_START_S:
            break
    spans.items[run_span]["end"] = time.time()
    return {"passes": passes, "spans": spans, "memory": memory}


def layer_metrics(spark, wl, data_dir, run, setup, prepare_s, cores) -> dict:
    """Per-layer metrics of a traced run: per-pass sums, medians over the
    steady traced passes, plus set-up, probe and candidate-pair figures."""
    from probes import CANDIDATE_METRICS, candidate_pairs, pass_metrics

    passes, spans = run["passes"], run["spans"]
    traced = steady_passes(passes, traced=True)
    plain = steady_passes(passes, traced=False)
    self_t = spans.self_times()
    per_pass = [pass_metrics(p["queries"], spans, self_t, cores) for p in traced]
    layers = {k: median([pm[k] for pm in per_pass]) for k in per_pass[0]}
    # Both from the pass timer, not from the spans: what tracing adds to
    # a pass (traced against the interleaved untraced passes), and the
    # part of a traced pass that no layer's self time covers.
    layers["trace.overhead_s"] = (
        median([p["wall_s"] for p in traced]) - median([p["wall_s"] for p in plain])
    )
    layers["trace.unaccounted_s"] = median([
        p["wall_s"] - pm.pop("trace.accounted_s") for p, pm in zip(traced, per_pass)
    ])
    del layers["trace.accounted_s"]
    for k in ("setup.import_s", "session.start_s", "catalog.register_s",
              "setup.warmup_s"):
        layers[k] = setup[k]
    layers.update({
        "prepare.corpus_s": prepare_s,
        "host.floor_s": median([p["host.floor_s"] for p in passes]),
        "host.probe_s": median([p["host.probe_s"] for p in passes]),
        "host.steal_frac": median([p["host.steal_frac"] for p in passes]),
        "streaming.leaked_sink_tables": passes[-1]["leaked_sink_tables"],
        "streaming.leaked_ckpt_bytes": passes[-1]["leaked_ckpt_bytes"] / len(passes),
        "cache.persisted_relations": median([p["cache"][0] for p in traced]),
        "cache.persisted_bytes": median([p["cache"][1] for p in traced]),
    })
    layers.update(
        candidate_pairs(spark, data_dir)
        if "near_dup_clusters" in wl.contracts
        else dict.fromkeys(CANDIDATE_METRICS, 0.0)
    )
    return layers


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "shuttle_spark", "__init__.py")):
        print("perfbench: run from the repository root (shuttle_spark/ not found)",
              file=sys.stderr)
        return 2
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        wanted = json.load(f)["per_layer" if args.trace else "end_to_end"]

    wl = WORKLOADS[args.workload]
    state = os.path.join(root, ".perfbench")
    run_dir = os.path.join(state, f"run-{os.getpid()}")
    env = pin_env(root, run_dir)
    sys.path.insert(0, root)

    import corpus
    import shuttle_spark.contracts  # noqa: F401  (import cost is set-up's)
    from shuttle_spark.session import corpus_bytes, resolve_conf

    phases = {"imported": time.perf_counter() - T_START}
    t_prep = time.perf_counter()
    data_dir, oracle = corpus.prepare(
        os.path.join(state, "corpus"), args.seed, wl.replicas, list(wl.contracts),
    )
    prepare_s = time.perf_counter() - t_prep
    phases["prepared"] = time.perf_counter() - T_START

    # Process start to session ready, less the corpus step: one cold
    # set-up, which pays the imports, the JVM launch and the first jobs.
    spark, setup = set_up(data_dir, run_dir, phases["imported"])
    try:
        phases["set_up"] = time.perf_counter() - T_START

        from probes import SparkProbe

        probe = SparkProbe(spark, listen=bool(args.trace))
        run = run_passes(spark, wl, data_dir, oracle, args.seed, args.seconds,
                         probe, bool(args.trace), env)
        layers = (
            layer_metrics(spark, wl, data_dir, run, setup, prepare_s,
                          int(env["SPARK_GRAFT_CPUS"]))
            if args.trace else {}
        )
        phases["measured"] = time.perf_counter() - T_START
    finally:
        stop_everything(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    phases["stopped"] = time.perf_counter() - T_START

    passes = run["passes"]
    queries = [q for p in passes for q in p["queries"]]
    # In a traced run the untraced steady passes are the ones a plain run
    # would have measured.
    steady = steady_passes(passes, traced=False if args.trace else None)
    steady_lat = [latency(q) for p in steady for q in p["queries"]]
    tail, tail_pct, tail_n = tail_latency(steady_lat)
    failed = sum(1 for q in queries if q["error"])

    def per_pass(key: str) -> float:
        return median([p["spark"][key] for p in steady])

    e2e = {
        "setup_s": setup["setup_s"],
        "pass_s": median([p["latency_s"] for p in steady]),
        "pass_cpu_s": median([p["cpu_s"] for p in steady]),
        "query_p50_s": median(steady_lat),
        "pass_jobs": per_pass("spark.jobs"),
        "pass_tasks": per_pass("spark.tasks"),
        "pass_shuffle_mb": per_pass("shuffle.write_bytes") / (1 << 20),
        "pass_scan_mb": per_pass("scan.input_bytes") / (1 << 20),
    }
    # Reported with every run, on the line before the result; a traced
    # run lists them among its metrics.
    wall = {
        "run.first_pass_s": passes[0]["latency_s"],
        "run.pass_s": e2e["pass_s"],
        "run.pass_cpu_s": e2e["pass_cpu_s"],
        "run.query_p50_s": e2e["query_p50_s"],
        "run.query_tail_s": tail,
        "run.query_tail_pct": tail_pct,
        "run.query_tail_samples": tail_n,
        "run.failed_frac": failed / len(queries),
        "run.peak_rss_mb": max(sum(m.values()) for m in run["memory"]) / (1 << 20),
    }
    if args.trace:
        layers.update(wall)

    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "env": env, "conf": resolve_conf(data_dir, session_overrides(run_dir)),
        "corpus": {
            "dir": os.path.relpath(data_dir, root),
            "bytes": corpus_bytes(data_dir),
            "rows": corpus.table_rows(data_dir),
        },
        "phases": phases, "setup": setup, "e2e": e2e, "wall": wall,
        "layers": layers,
        "query_tail": {"value": tail, "percentile": tail_pct,
                       "samples_beyond": tail_n, "samples": len(steady_lat)},
        "memory": run["memory"],
        "passes": [{k: v for k, v in p.items() if k != "queries"} for p in passes],
        "queries": queries,
    }
    if args.trace:
        record["spans"] = run["spans"].items
    with open(os.path.join(state, f"last-{args.workload}-{args.seed}.json"), "w") as f:
        json.dump(record, f, default=str)

    values = {**e2e, **layers}
    missing = [m["name"] for m in wanted if m["name"] not in values]
    if missing:
        print(f"perfbench: not measured: {missing}", file=sys.stderr)
        return 3
    for q in queries:
        if q["error"]:
            print(f"FAILED {q['name']} (pass {q['pass']}): {q['error']}",
                  file=sys.stderr)
    print(json.dumps({
        **{k: record[k] for k in ("env", "conf", "corpus", "query_tail")},
        "reported": {k: {"value": v, "unit": WALL_UNITS[k]} for k, v in wall.items()},
    }))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(queries),
        "failed": failed,
        "metrics": {
            m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
            for m in wanted
        },
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
