"""Layer measurement from outside the package.

Nothing here touches ``shuttle_spark``'s code paths.  Layers are read from
three places:

* the benchmark's own timers around the package's public calls;
* Spark's status stores: the AppStatusStore (jobs, stages, task metrics)
  and the SQL status store (per-operator metrics, among them the
  Python/Arrow UDF metrics of ``PythonSQLMetrics``);
* a Python ``StreamingQueryListener`` for micro-batch progress.

Queries run one at a time, so every Spark job whose id falls between a
query's first and last id belongs to that query, whether it ran inside
``build()``, inside the action, or inside a streaming micro-batch (which
sets its own job group).  The same holds for SQL execution ids.

Spans are ``run`` > ``pass`` > ``query`` > ``build``/``action``/``check``/
``trace`` > ``batch`` (micro-batch) > ``job``; all spans of one query
execution carry its id.  They are kept in memory and written out at the
end of the run.
"""

from __future__ import annotations

import os
import re
import time
from collections import defaultdict

from py4j.protocol import Py4JJavaError

# Python UDF metrics in the SQL status store (PythonSQLMetrics), by the
# description Spark gives them.
_PY_METRICS = {
    "data sent to Python workers": "udf.bytes_to_py",
    "data returned from Python workers": "udf.bytes_from_py",
    "time to run Python workers": "udf.py_total_s",
    "time to initialize Python workers": "udf.py_init_s",
    "time to start Python workers": "udf.py_boot_s",
}
# Every metric ``SparkProbe.collect`` reports for a query; a layer the
# query did not touch reads 0.
QUERY_METRICS = (
    "spark.jobs", "spark.stages", "spark.tasks", "spark.failed_tasks",
    "spark.sql_executions", "spark.exec_run_s", "spark.exec_cpu_s",
    "spark.gc_s", "shuffle.write_bytes", "shuffle.read_bytes",
    "shuffle.records", "shuffle.write_s", "shuffle.fetch_wait_s",
    "shuffle.spill_bytes", "scan.input_bytes", "scan.input_rows",
    "sink.output_bytes", *_PY_METRICS.values(), "streaming.batches",
    "streaming.input_rows", "streaming.trigger_s", "streaming.add_batch_s",
    "streaming.planning_s", "streaming.log_commit_s",
    "streaming.state_commit_s", "streaming.state_rows",
    "streaming.state_mem_bytes",
)
_SIZE_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TIME_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_TOTAL_RE = re.compile(r"^([0-9.,]+)\s*(\S+)")


def _parse_total(text: str, kind: str) -> float:
    """The total of a formatted SQL metric, e.g. ``'total (min, med, max
    ...)\\n795.2 KiB (...)'`` -> 814284.8 (bytes) or ``'11.6 s'`` -> 11.6."""
    line = text.split("\n")[-1].strip()
    m = _TOTAL_RE.match(line)
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    units = _SIZE_UNITS if kind == "size" else _TIME_UNITS
    return value * units.get(m.group(2), 0.0)


def interval_union(spans: list[tuple[float, float]]) -> float:
    """Total length covered by a set of [start, end] intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(spans):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _clip(s: float, e: float, lo: float, hi: float) -> tuple[float, float] | None:
    s, e = max(s, lo), min(e, hi)
    return (s, e) if e > s else None


class Spans:
    """In-memory span log; ``add`` returns the new span's id."""

    def __init__(self) -> None:
        self.items: list[dict] = []

    def add(self, name: str, start: float, end: float, parent: int | None,
            qid: int | None = None, **attrs) -> int:
        self.items.append({
            "id": len(self.items), "parent": parent, "name": name,
            "qid": qid, "start": start, "end": end, **attrs,
        })
        return len(self.items) - 1

    def self_times(self) -> dict[int, float]:
        """Span duration minus the union of its children's intervals."""
        kids: dict[int, list[tuple[float, float]]] = defaultdict(list)
        for s in self.items:
            p = s["parent"]
            if p is not None:
                par = self.items[p]
                c = _clip(s["start"], s["end"], par["start"], par["end"])
                if c:
                    kids[p].append(c)
        return {
            s["id"]: (s["end"] - s["start"]) - interval_union(kids[s["id"]])
            for s in self.items
        }


def _date_s(opt) -> float | None:
    """scala Option[java.util.Date] -> epoch seconds."""
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


class SparkProbe:
    """Reads the jobs, stages, SQL executions and (with ``listen``)
    micro-batches that Spark ran between ``mark`` and ``collect``."""

    def __init__(self, spark, listen: bool) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        sc = spark.sparkContext
        self._gw = sc._gateway
        self._jsc = sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._seen_stages: set[int] = set()
        self.progress: list = []
        if not listen:
            return
        probe = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                probe.progress.append(event.progress)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        spark.streams.addListener(_Listener())

    def _drain(self) -> None:
        self._jsc.listenerBus().waitUntilEmpty()

    def _last_execution_id(self) -> int:
        n = self._sql.executionsCount()
        if n == 0:
            return -1
        last = self._sql.executionsList(int(n - 1), 1)
        return last.apply(0).executionId() if last.size() else -1

    def mark(self) -> tuple[int, int, int]:
        """Window start: (next job id, last SQL execution id, progress len)."""
        self._drain()
        return (
            self._jsc.dagScheduler().numTotalJobs(),
            self._last_execution_id(),
            len(self.progress),
        )

    def collect(self, mark: tuple[int, int, int]) -> dict:
        """Everything Spark did since ``mark``: job intervals, stage and
        UDF metric sums, micro-batch records."""
        self._drain()
        job_lo, exec_lo, prog_lo = mark
        job_hi = self._jsc.dagScheduler().numTotalJobs()
        m = dict.fromkeys(QUERY_METRICS, 0.0)
        jobs = []
        stage_ids: list[int] = []
        for j in range(job_lo, job_hi):
            try:
                jd = self._store.job(j)
            except Py4JJavaError:
                continue  # evicted from the store
            sub, done = _date_s(jd.submissionTime()), _date_s(jd.completionTime())
            if sub is not None:
                jobs.append((sub, done if done is not None else sub, j))
            ids = jd.stageIds()
            stage_ids += [ids.apply(k) for k in range(ids.size())]
        m["spark.jobs"] = len(jobs)
        empty_list = self._gw.jvm.java.util.ArrayList
        for sid in sorted(set(stage_ids) - self._seen_stages):
            self._seen_stages.add(sid)
            try:
                attempts = self._store.stageData(
                    sid, False, empty_list(), False,
                    self._gw.new_array(self._gw.jvm.double, 0),
                )
            except Py4JJavaError:
                continue  # evicted from the store
            for a in range(attempts.size()):
                sd = attempts.apply(a)
                if str(sd.status()) == "SKIPPED":
                    continue
                m["spark.stages"] += 1
                m["spark.tasks"] += sd.numTasks()
                m["spark.failed_tasks"] += sd.numFailedTasks()
                m["spark.exec_run_s"] += sd.executorRunTime() / 1e3
                m["spark.exec_cpu_s"] += sd.executorCpuTime() / 1e9
                m["spark.gc_s"] += sd.jvmGcTime() / 1e3
                m["shuffle.write_bytes"] += sd.shuffleWriteBytes()
                m["shuffle.read_bytes"] += sd.shuffleReadBytes()
                m["shuffle.records"] += sd.shuffleWriteRecords()
                m["shuffle.write_s"] += sd.shuffleWriteTime() / 1e9
                m["shuffle.fetch_wait_s"] += sd.shuffleFetchWaitTime() / 1e3
                m["shuffle.spill_bytes"] += (
                    sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                )
                m["scan.input_bytes"] += sd.inputBytes()
                m["scan.input_rows"] += sd.inputRecords()
                m["sink.output_bytes"] += sd.outputBytes()
        for k, v in self._udf_metrics(exec_lo).items():
            m[k] += v
        batches = []
        for p in self.progress[prog_lo:]:
            d = p.durationMs
            end = _iso_s(p.timestamp) + d.get("triggerExecution", 0) / 1e3
            batches.append((_iso_s(p.timestamp), end))
            m["streaming.batches"] += 1
            m["streaming.input_rows"] += p.numInputRows
            m["streaming.trigger_s"] += d.get("triggerExecution", 0) / 1e3
            m["streaming.add_batch_s"] += d.get("addBatch", 0) / 1e3
            m["streaming.planning_s"] += d.get("queryPlanning", 0) / 1e3
            m["streaming.log_commit_s"] += (
                d.get("walCommit", 0) + d.get("commitOffsets", 0)
            ) / 1e3
            for op in p.stateOperators:
                m["streaming.state_commit_s"] += op.commitTimeMs / 1e3
                m["streaming.state_rows"] += op.numRowsTotal
                m["streaming.state_mem_bytes"] += op.memoryUsedBytes
        return {"metrics": m, "jobs": jobs, "batches": batches}

    def _udf_metrics(self, exec_lo: int) -> dict[str, float]:
        out: dict[str, float] = defaultdict(float)
        n = self._sql.executionsCount()
        if n == 0:
            return out
        execs = self._sql.executionsList(0, int(n))
        seen_acc: set[int] = set()
        for i in range(execs.size() - 1, -1, -1):
            ex = execs.apply(i)
            eid = ex.executionId()
            if eid <= exec_lo:
                break
            out["spark.sql_executions"] += 1
            plan_metrics = ex.metrics()
            wanted = {}
            for k in range(plan_metrics.size()):
                pm = plan_metrics.apply(k)
                if pm.name() in _PY_METRICS and pm.accumulatorId() not in seen_acc:
                    seen_acc.add(pm.accumulatorId())
                    wanted[pm.accumulatorId()] = (_PY_METRICS[pm.name()], pm.metricType())
            if not wanted:
                continue
            values = self._sql.executionMetrics(eid)
            for acc, (name, kind) in wanted.items():
                if values.contains(acc):
                    out[name] += _parse_total(values.get(acc).get(), kind)
        return out

    def storage(self) -> tuple[int, int]:
        """(persisted relations, persisted bytes in memory and on disk)."""
        infos = self._jsc.getRDDStorageInfo()
        return len(infos), sum(i.memSize() + i.diskSize() for i in infos)


def _iso_s(ts: str) -> float:
    """StreamingQueryProgress timestamp ('2026-10-17T03:16:37.223Z')."""
    import datetime as dt

    return dt.datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ").replace(
        tzinfo=dt.timezone.utc
    ).timestamp()


def descendants(pid: int) -> list[int]:
    """Every live descendant of ``pid``, from the ppid fields in /proc."""
    children: dict[int, list[int]] = defaultdict(list)
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        children[ppid].append(int(entry))
    out, todo = [], list(children.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo += children.get(p, [])
    return out


def process_tree_memory(root_pid: int | None = None) -> dict[str, int]:
    """Proportional resident bytes (PSS) of ``root_pid`` and all its
    descendants, by process name: the driver's Python, the JVM it launched
    and the JVM's Python workers.  PSS splits pages shared between the
    forked Python workers instead of counting them once per worker."""
    root_pid = root_pid or os.getpid()
    out: dict[str, int] = defaultdict(int)
    for pid in [root_pid] + descendants(root_pid):
        try:
            with open(f"/proc/{pid}/comm") as f:
                name = "driver" if pid == root_pid else f.read().strip()
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        out[name] += int(line.split()[1]) * 1024
                        break
        except OSError:
            pass
    return dict(out)


# JIT compiler threads (names as /proc truncates them).  Their CPU time is
# JVM warm-up, which keeps falling pass after pass, not the engine's work.
_JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _stat(path: str) -> tuple[str, list[str]]:
    """(name, fields after the name) of a /proc stat file."""
    with open(path) as f:
        text = f.read()
    return text[text.index("(") + 1:text.rindex(")")], text[text.rindex(")") + 1:].split()


def cpu_snapshot(root_pid: int | None = None) -> dict[tuple, int]:
    """CPU ticks (user + system) so far of every thread of ``root_pid`` and
    its descendants, JIT compiler threads left out, plus each process's
    reaped children.  Compare two with ``cpu_seconds``: per-thread keys
    keep a compiler thread that exits from landing in the difference."""
    root_pid = root_pid or os.getpid()
    out: dict[tuple, int] = {}
    for pid in [root_pid] + descendants(root_pid):
        try:
            _, fields = _stat(f"/proc/{pid}/stat")
            out[(pid, "reaped")] = int(fields[13]) + int(fields[14])
            for tid in os.listdir(f"/proc/{pid}/task"):
                name, fields = _stat(f"/proc/{pid}/task/{tid}/stat")
                if not name.startswith(_JIT_THREADS):
                    out[(pid, tid)] = int(fields[11]) + int(fields[12])
        except OSError:
            continue  # the process or thread ended
    return out


def cpu_seconds(before: dict[tuple, int], after: dict[tuple, int]) -> float:
    """CPU seconds between two ``cpu_snapshot``s, by threads alive at the
    second (a thread that ended in between loses only its last slice)."""
    ticks = sum(t - before.get(k, 0) for k, t in after.items())
    return ticks / os.sysconf("SC_CLK_TCK")


def host_cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the host so far, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def dir_bytes(path: str, name_part: str) -> int:
    """Bytes under ``path`` in directories whose name contains ``name_part``."""
    total = 0
    for root, _dirs, files in os.walk(path):
        if name_part not in root[len(path):]:
            continue
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def host_probe_s(n: int = 1_000_000) -> float:
    """A fixed CPU loop: host speed, independent of Spark."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(n):
        acc += i * i
    return time.perf_counter() - t0


def host_floor_s(spark, samples: int = 3) -> float:
    """Median wall of a trivial one-row job: the per-query floor."""
    out = []
    for _ in range(samples):
        t0 = time.perf_counter()
        spark.range(1).collect()
        out.append(time.perf_counter() - t0)
    return sorted(out)[len(out) // 2]


def temp_views(spark) -> list[str]:
    """Temp view names, memory-sink tables among them.  (A JVM catalog
    call: pyspark's ``catalog.listTables()`` takes about a second.)"""
    ids = spark._jsparkSession.sessionState().catalog().listTables(
        "default", "*", True
    )
    return [ids.apply(i).table() for i in range(ids.size())
            if ids.apply(i).database().isEmpty()]


CANDIDATE_METRICS = (
    "neardup.candidate_pairs", "neardup.pair_yield",
    "similarity.candidate_pairs", "similarity.pair_yield",
)


def candidate_pairs(spark, data_dir: str) -> dict[str, float]:
    """Candidate pairs of the near-dup (MinHash LSH) and similarity
    (hyperplane LSH) blocking stages on the corpus, and the share of them
    that survive verification, at the contracts' thresholds."""
    from shuttle_spark.catalog import load_table
    from shuttle_spark.operators import neardup as N
    from shuttle_spark.operators import similarity as S

    docs = load_table(spark, data_dir, "documents")
    emb = load_table(spark, data_dir, "embeddings")
    mh = N.minhash_candidates(docs).count()
    mh_ok = N.minhash_near_dup_pairs(docs, 0.6).count()
    lsh = S.lsh_candidate_pairs(emb, 64, n_planes=64, bands=16).count()
    lsh_ok = S.cosine_near_dup_pairs(emb, 64, 0.39, n_planes=64, bands=16).count()
    return dict(zip(CANDIDATE_METRICS, (
        mh, mh_ok / mh if mh else 0.0, lsh, lsh_ok / lsh if lsh else 0.0,
    )))


def attach_spans(spans: Spans, probe_out: dict, q: dict, qspan: int) -> None:
    """Hang a query's micro-batches and jobs under its build/action spans."""
    phases = []
    for phase in ("build", "action"):
        s, e = q[phase]
        phases.append((s, e, spans.add(phase, s, e, qspan, q["qid"])))

    def parent_of(t: float, candidates, default: int) -> int:
        for s, e, sid in candidates:
            if s <= t <= e:
                return sid
        return default

    batches = []
    for s, e in probe_out["batches"]:
        sid = spans.add("batch", s, e, parent_of(s, phases, qspan), q["qid"])
        batches.append((s, e, sid))
    for s, e, jid in probe_out["jobs"]:
        parent = parent_of(s, batches, parent_of(s, phases, qspan))
        spans.add("job", s, e, parent, q["qid"], job_id=jid)


def pass_metrics(queries: list[dict], spans: Spans, self_t: dict, cores: int) -> dict:
    """Per-layer sums of one pass, from its query records and spans."""
    m: dict[str, float] = defaultdict(float)
    for q in queries:
        for k, v in q["spark"].items():
            m[k] += v
        b, a = q["build"], q["action"]
        m["contracts.build_s"] += b[1] - b[0]
        m["contracts.action_s"] += a[1] - a[0]
        m["contracts.check_s"] += q["check"][1] - q["check"][0]
    wall = m["contracts.build_s"] + m["contracts.action_s"]
    # Self time by span name.  Jobs can overlap (concurrent broadcasts),
    # so the job layer counts the union of its jobs under each parent.
    by_name: dict[str, float] = defaultdict(float)
    jobs_by_parent: dict[int, list[tuple[float, float]]] = defaultdict(list)
    qids = {q["qid"] for q in queries}
    for s in spans.items:
        if s["qid"] not in qids:
            continue
        if s["name"] == "job":
            jobs_by_parent[s["parent"]].append((s["start"], s["end"]))
        else:
            by_name[s["name"]] += self_t[s["id"]]
    for parent, intervals in jobs_by_parent.items():
        p = spans.items[parent]
        clipped = (_clip(a, b, p["start"], p["end"]) for a, b in intervals)
        by_name["job"] += interval_union([c for c in clipped if c])
    # Query wall not covered by any Spark job: driver-side Python in the
    # builders and the action, plus micro-batch planning and commits.
    m["contracts.driver_py_s"] = by_name["build"] + by_name["action"] + by_name["batch"]
    m["self.build_py_s"] = by_name["build"]
    m["self.action_py_s"] = by_name["action"]
    m["self.batch_s"] = by_name["batch"]
    m["self.job_s"] = by_name["job"]
    m["self.check_s"] = by_name["check"]
    m["self.harness_s"] = by_name["query"]
    m["self.trace_s"] = by_name["trace"]
    m["trace.accounted_s"] = sum(
        by_name[k] for k in ("build", "action", "batch", "job", "check", "trace")
    )
    tasks, inp = m["spark.tasks"], m["scan.input_bytes"]
    m["spark.task_fail_frac"] = m["spark.failed_tasks"] / tasks if tasks else 0.0
    m["spark.slot_idle_frac"] = (
        max(0.0, 1.0 - m["spark.exec_run_s"] / (cores * wall)) if wall else 0.0
    )
    m["shuffle.amplification"] = m["shuffle.write_bytes"] / inp if inp else 0.0
    return dict(m)
