"""Benchmark command for the engine: one closed-loop client on
``local[<cpus>]``, seeded inputs, checked outputs.

    python3 perfbench/run.py --workload batch_analytics --seed 1 --seconds 10 --trace 0

Workloads (``perfbench/README.md`` says why each is in the benchmark):

* ``batch_analytics`` — passes over registry queries (``workload.QUERIES``),
  each built then materialized; the first pass is cold and collects rows
  for the oracle check, later passes write to the ``noop`` sink.
* ``serving_mixed`` — a seeded stream of index searches, ``api.Engine``
  tool calls and upsert+sync writes over a corpus that changes as it runs.

Every run prints each end-to-end metric by name with its unit, then, as
the last line, one JSON object ``{"correct", "attempted", "failed",
"metrics"}``. ``--trace 1`` runs the same workload with spans, job groups,
the Spark event log and Catalyst phase times on, and reports the
per-layer metrics instead. The run's full record, spans included, goes to
``.perfbench/out/`` under the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from datetime import date, timedelta

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

from spans import Tracer, catalyst_phases_ms, read_event_log  # noqa: E402

SF = 0.01
SERVING_DOCS = 5_000
K = 10
# A run measures at least this many batch passes and serving cycles after
# the cold one, whatever --seconds says, so each query and each read kind
# has three samples for its median (serving reads count the cold cycle's).
STEADY_PASSES = 3
STEADY_CYCLES = 2

# Three relational queries from the CRM/analytics side (serial Expand,
# full dimension join chain, session windows) and two from the corpus side
# (eager connected-components jobs during build, Arrow/numpy batched kNN
# in Python workers).
BATCH_QUERIES = [
    "profile_orders",
    "revenue_by_nation",
    "events_sessions",
    "dedup_clusters",
    "knn_batch_matmul",
]


def perf() -> float:
    return time.perf_counter()


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, data files) under ``path``; Spark's checksum and marker
    files count as bytes but not as data files."""
    total = files = 0
    for base, _, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(base, n))
            files += not (n.startswith(".") or n.startswith("_"))
    return total, files


def cpu_times() -> list[int]:
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


CLK_TCK = os.sysconf("SC_CLK_TCK")


# /proc stat files of the JVM's JIT compiler threads, whose CPU time
# tree_cpu() leaves out (Run.start_session fills it in)
JIT_THREADS: list[str] = []


def tree_cpu() -> dict[int, int]:
    """User + system CPU ticks so far of this process and each live
    descendant: the Spark JVM (its exited threads included) and the Python
    workers. Reaped children's times are left out: PySpark's worker daemon
    ignores SIGCHLD, so its exited workers' times are lost to it anyway.
    So is the JIT compiler's time, under the key -1: it is warm-up work
    that the JVM spreads over many passes, in bursts that follow no op."""
    ppid, ticks = {}, {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                st = fh.read()
        except OSError:
            continue
        f = st[st.rindex(")") + 2:].split()
        ppid[int(d)] = int(f[1])
        ticks[int(d)] = int(f[11]) + int(f[12])  # utime stime
    kids: dict[int, list[int]] = {}
    for pid, parent in ppid.items():
        kids.setdefault(parent, []).append(pid)
    tree, todo = {}, [os.getpid()]
    while todo:
        pid = todo.pop()
        tree[pid] = ticks.get(pid, 0)
        todo.extend(kids.get(pid, ()))
    tree[-1] = 0
    for path in JIT_THREADS:
        with open(path) as fh:
            f = fh.read().rsplit(")", 1)[1].split()
        tree[-1] -= int(f[11]) + int(f[12])
    return tree


def cpu_since(before: dict[int, int]) -> float:
    """CPU seconds the process tree spent since ``before = tree_cpu()``.
    A process that exited in between counts nothing, so its last seconds
    are missed, never its whole life's time subtracted."""
    return sum(t - before.get(pid, 0) for pid, t in tree_cpu().items()) / CLK_TCK


def tail_percentile(values: list[float]) -> tuple[float, float]:
    """The highest percentile with at least ten samples beyond it, and its
    value; with fewer than eleven samples, the median."""
    xs = sorted(values)
    n = len(xs)
    if n < 11:
        return 50.0, statistics.median(xs)
    i = n - 11
    return 100.0 * (i + 1) / n, xs[i]


class Run:
    """One benchmark invocation: work directory, session, ops, checks."""

    def __init__(self, args):
        self.args = args
        self.seed = args.seed
        self.traced = args.trace == 1
        # half the cores run Spark tasks; the other half are left to the
        # JVM's JIT and GC threads, the Python workers and this client, so
        # that the run does not queue for its own cores
        self.cpus = max(1, len(os.sched_getaffinity(0)) // 2)
        self.work = os.path.join(
            ROOT, ".perfbench", "work", f"{args.workload}-s{args.seed}-p{os.getpid()}"
        )
        self.out = os.path.join(ROOT, ".perfbench", "out")
        self.tracer = Tracer(self.traced)
        self.rng = random.Random(args.seed)
        self.spark = None
        self.attempted = 0
        self.failures: list[str] = []
        self.ops: list[dict] = []
        self.context: dict = {}
        self.layers: dict[str, float] = {}
        # job groups of the traced ops, folded from the event log at the end
        self.traced_groups: dict | None = None

    # ------------------------------------------------------------ session
    def env(self) -> None:
        for d in ("tmp", "local", "events"):
            os.makedirs(os.path.join(self.work, d), exist_ok=True)
        tmp = os.path.join(self.work, "tmp")
        os.environ.update(
            TMPDIR=tmp,
            # every JVM of the run (Spark's launcher and the session's) keeps its temp
            # files in the work directory, writes no perf-data file, and runs
            # one C1 and one C2 JIT compiler thread for its whole life (so
            # tree_cpu can leave their time out) and as many GC threads as
            # Spark has task threads
            JAVA_TOOL_OPTIONS=(
                f"-XX:-UsePerfData -XX:CICompilerCount=2 -XX:-UseDynamicNumberOfCompilerThreads"
                f" -XX:ParallelGCThreads={self.cpus} -XX:ConcGCThreads=1 -Djava.io.tmpdir={tmp}"
            ),
            SPARK_LOCAL_DIRS=os.path.join(self.work, "local"),
            SPARK_GRAFT_CPUS=str(self.cpus),
            SPARK_GRAFT_DRIVER_MEM="2g",
            PYTHONPATH=ROOT + os.pathsep + os.environ.get("PYTHONPATH", ""),
        )

    def start_session(self):
        from mcp_hubspot_spark.session import get_spark

        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
        }
        if self.traced:
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": "file://" + os.path.join(self.work, "events"),
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        self.spark = get_spark(
            app_name="perfbench", master=f"local[{self.cpus}]", extra_conf=conf
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.spark.range(1000).selectExpr("sum(id)").collect()  # warm-up job
        from pyspark import SparkContext

        task = f"/proc/{SparkContext._gateway.proc.pid}/task"
        for tid in os.listdir(task):
            try:
                with open(f"{task}/{tid}/comm") as fh:
                    name = fh.read()
            except OSError:  # a thread that ended since the listing
                continue
            if name.startswith(("C1 CompilerThre", "C2 CompilerThre")):
                JIT_THREADS.append(f"{task}/{tid}/stat")
        return self.spark

    def shutdown(self) -> None:
        """Stop the session, then the JVM it launched, and wait for it."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()

    def trace_next(self, traced: bool) -> None:
        """Turn spans and job groups on or off for the next pass or cycle
        (only ever on in a traced run)."""
        self.tracer.enabled = self.traced and traced
        self.group("untraced")

    def group(self, gid: str) -> None:
        """Tag the next Spark jobs with ``gid`` so the event log can be
        folded per op; jobs outside a traced pass share one group."""
        if self.traced:
            gid = gid if self.tracer.enabled else "untraced"
            self.spark.sparkContext.setJobGroup(gid, gid)

    def calibrate(self) -> float:
        """bench.py's fixed CPU-bound calibration job at a fifth of its
        rows; context only."""
        t = perf()
        self.spark.range(10_000_000).selectExpr(
            "sum(xxhash64(id) % 100000)", "avg(id * 2.5)"
        ).collect()
        return perf() - t

    def peak_rss_mb(self) -> float:
        from pyspark import SparkContext

        mb = vm_hwm_mb("self")
        proc = getattr(SparkContext._gateway, "proc", None)
        if proc is not None:
            mb += vm_hwm_mb(proc.pid)
        return mb

    # ---------------------------------------------------------------- ops
    def attempt(self, what: str, fn):
        """Run one op or check; an exception counts as a failure and its
        traceback goes to the run's record."""
        self.attempted += 1
        try:
            return fn()
        except Exception as exc:  # noqa: BLE001 — counted, reported
            self.failures.append(f"{what}: {type(exc).__name__}: {str(exc)[:300]}")
            self.context.setdefault("tracebacks", []).append(traceback.format_exc())
            return None

    def check(self, what: str, ok: bool, detail: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failures.append(f"{what}: {detail}")


# ============================================================ batch


def batch_pass(r: Run, data: str, names: list[str], label: str, traced: bool,
               collected: dict | None = None) -> dict:
    """One pass over ``names`` in a seeded order. Each query is built,
    then materialized: to the noop sink, or — when ``collected`` is given —
    collected into this process so the rows can be checked after the clock
    stops."""
    from mcp_hubspot_spark.workload import QUERIES

    lat: dict[str, float] = {}
    cpu: dict[str, float] = {}
    r.trace_next(traced)
    t_pass = perf()
    for name in r.rng.sample(names, len(names)):
        op = f"{label}.{name}"
        rec = {"op": op, "name": name, "pass": label, "traced": traced}

        def run_one():
            with r.tracer.span(name, op=op, kind="query"):
                c0, t0 = tree_cpu(), perf()
                r.group(f"{op}.build")
                with r.tracer.span("workload.build", op=op):
                    df = QUERIES[name](r.spark, data)
                t1 = perf()
                r.group(f"{op}.exec")
                if r.tracer.enabled:
                    # the query's own QueryExecution runs, so its tracker
                    # holds the Catalyst phases of exactly this execution
                    with r.tracer.span("exec.materialize", op=op) as s:
                        s["rows"] = df._jdf.queryExecution().toRdd().count()
                    rec["rows"] = s["rows"]
                    rec["catalyst_ms"] = catalyst_phases_ms(df)
                elif collected is not None:
                    collected[name] = (df.columns, [tuple(x) for x in df.collect()])
                else:
                    df.write.format("noop").mode("overwrite").save()
                t2 = perf()
            rec.update(build_s=t1 - t0, exec_s=t2 - t1, latency_s=t2 - t0,
                       cpu_s=cpu_since(c0))
            return True

        if r.attempt(op, run_one):
            lat[name] = rec["latency_s"]
            cpu[name] = rec["cpu_s"]
        r.ops.append(rec)
    return {"label": label, "traced": traced, "wall_s": perf() - t_pass, "latency_s": lat,
            "cpu_s": cpu}


def run_batch(r: Run, names: list[str]) -> dict:
    import datagen
    from mcp_hubspot_spark.schemas import TESTDATA_TABLES
    from mcp_hubspot_spark.sources.catalog import load_table

    data = os.path.join(r.work, "data")
    t = perf()
    r.context["rows"] = datagen.write_testdata(data, r.seed, SF)
    r.context["inputs_s"] = perf() - t
    r.context["sf"] = SF
    r.context["queries"] = names

    # set-up: a cold session start (new JVM) that registers every table
    t = perf()
    r.start_session()
    for name in TESTDATA_TABLES:
        load_table(r.spark, data, name)
    setup_s = perf() - t
    r.context["calib_start_s"] = r.calibrate()

    collected: dict = {}
    first = batch_pass(r, data, names, "p0", traced=False, collected=collected)
    # untimed: the JIT is still compiling hot code for several passes after
    # the cold one
    batch_pass(r, data, names, "warm", traced=False)
    steady: list[dict] = []
    # the window opens after the warm-up pass; three steady passes at least,
    # so every query has a median that one host hiccup cannot move; a traced
    # run traces its second steady pass and compares it with the third
    t_window = perf()
    while len(steady) < STEADY_PASSES or perf() - t_window < r.args.seconds:
        traced = r.traced and len(steady) == 1
        steady.append(batch_pass(r, data, names, f"p{len(steady) + 1}", traced))
    window_s = perf() - t_window
    rss = r.peak_rss_mb()
    r.trace_next(False)
    r.context["calib_end_s"] = r.calibrate()

    # untimed: the cold pass's rows against the DuckDB oracles
    import oracle
    from mcp_hubspot_spark.workload import ORACLES

    con = oracle.open_oracle(data, TESTDATA_TABLES)
    rows_out = {}
    for name, (cols, rows) in collected.items():
        rows_out[name] = len(rows)
        why = r.attempt(f"oracle.{name}", lambda: oracle.mismatch(con, ORACLES[name], cols, rows))
        if why is not None:
            r.failures.append(f"oracle.{name}: {why}")
    con.close()

    plain = [p for p in steady if not p["traced"]]
    per_query = {
        n: statistics.median(p["latency_s"][n] for p in plain if n in p["latency_s"])
        for n in names
        if any(n in p["latency_s"] for p in plain)
    }
    per_query_cpu = {
        n: statistics.median(p["cpu_s"][n] for p in plain if n in p["cpu_s"])
        for n in per_query
    }
    e2e = {
        "setup_s": setup_s,
        "first_pass_s": first["wall_s"],
        # a typical steady pass: each query at its median over the passes
        "pass_s": sum(per_query.values()),
        "pass_cpu_s": sum(per_query_cpu.values()),
        "read_p50_s": statistics.median(
            v for p in plain for v in p["latency_s"].values()
        ),
        "peak_rss_mb": rss,
    }
    r.context.update(window_s=window_s, passes=len(steady), per_query_s=per_query,
                     pass_walls_s=[p["wall_s"] for p in plain],
                     rows_out=rows_out, setups_s=[setup_s])
    if r.traced:
        r.layers.update(batch_layers(r, steady, setup_s))
    return e2e


def batch_layers(r: Run, steady, session_start) -> dict:
    """Per traced pass: build, Catalyst, execution, scan and Python-worker
    totals, plus tracing overhead against the untraced passes."""
    traced = [p for p in steady if p["traced"]]
    plain = [p for p in steady[2:] if not p["traced"]]
    n = len(traced)
    recs = [o for o in r.ops if o.get("traced") and "latency_s" in o]
    out = {"session.start_s": session_start}
    out["workload.build_s"] = sum(o["build_s"] for o in recs) / n
    for ph in ("analysis", "optimization", "planning"):
        out[f"catalyst.{ph}_ms"] = sum(o["catalyst_ms"].get(ph, 0.0) for o in recs) / n
    r.traced_groups = {
        "build": [f"{o['op']}.build" for o in recs],
        "all": [f"{o['op']}.{ph}" for o in recs for ph in ("build", "exec")],
        "passes": n,
        "wall_ms": 1000.0 * sum(o["latency_s"] for o in recs),
        "rows_out": sum(o["rows"] for o in recs),
    }
    t_tr = statistics.median(p["wall_s"] for p in traced)
    t_pl = statistics.median(p["wall_s"] for p in plain)
    out["trace.overhead_s"] = t_tr - t_pl
    out["trace.overhead_frac"] = (t_tr - t_pl) / t_pl
    return out


# ============================================================ serving

TICKET_COLS = [
    "id", "subject", "content", "hs_pipeline", "hs_pipeline_stage", "hs_ticket_status",
    "status", "hs_ticket_priority", "createdate", "closedate", "hs_lastmodifieddate",
]
SEARCH_DATA_COLS = ["rank", "vec_id", "distance", "similarity", "type", "data_json"]
DOC_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"

# The op stream: the first cycle runs the five reads cold, on the freshly
# built indexes; every later cycle runs the five reads again, and every
# odd one (every one, in a traced run) starts with a write (upsert, then
# both syncs). The seed orders the reads of each cycle. A write costs as
# much as the five reads together, so writing every other cycle gives
# each read kind three samples while a serving run stays near 70 s;
# writing first puts the first post-sync plan shapes (e.g. the
# tombstone-aware text search) at the start of its cycle.
CYCLE_READS = ["ivf_search", "text_search", "hybrid_search", "tool", "search_data"]
SEARCHES = {"ivf_search", "text_search", "hybrid_search"}


class Serving:
    """State of the serving workload: table, both indexes, engine, store."""

    def __init__(self, r: Run, texts: list[str]):
        self.r = r
        self.texts = {i: t for i, t in enumerate(texts)}  # current text per doc
        self.upserted: list[int] = []
        self.writes: list[dict] = []
        self.next_id = 1_000_000
        self.as_of = date(2024, 1, 1) + timedelta(days=r.seed % 366)
        import datagen

        prng = random.Random(r.seed * 7919 + 1)
        self.probes = [" ".join(prng.choice(datagen.VOCAB) for _ in range(3)) for _ in range(64)]
        self.probe_weights = [1.0 / (i + 1) ** 1.1 for i in range(len(self.probes))]
        self.seen_probes: set[int] = set()
        self.repeats = 0
        self.drawn = 0

    def build(self, data: str, crm: str) -> None:
        from mcp_hubspot_spark.api import Engine
        from mcp_hubspot_spark.schemas import CRM_SCHEMAS
        from mcp_hubspot_spark.serving import IndexMaintainer, TextIndexMaintainer
        from mcp_hubspot_spark.sources.snapshot_table import SnapshotTable
        from mcp_hubspot_spark.text_index import TextIndex
        from mcp_hubspot_spark.vector_store import IvfIndex, VectorStore

        r, spark, w = self.r, self.r.spark, self.r.work
        stamp = self.as_of

        class DatedStore(VectorStore):
            """Stamps every append with the run's as_of date (the engine's
            tools append without one), so retention never depends on the
            wall-clock date."""

            def add(self, df, as_of=None):
                return super().add(df, as_of=as_of or stamp)

        docs = spark.read.parquet(os.path.join(data, "documents.parquet"))
        with r.tracer.span("snapshot_table.create"):
            self.table = SnapshotTable(spark, os.path.join(w, "docs"))
            self.table.create(docs, keys=["doc_id"], n_buckets=8)
        with r.tracer.span("serving.ivf_initialize"):
            self.ivf = IvfIndex(spark, os.path.join(w, "ivf"))
            self.ivf_m = IndexMaintainer(spark, self.table, self.ivf, dim=64)
            self.ivf_m.initialize(n_cells=16)
        with r.tracer.span("serving.text_initialize"):
            self.tix = TextIndex(spark, os.path.join(w, "tix"))
            self.tix_m = TextIndexMaintainer(spark, self.table, self.tix)
            self.tix_m.initialize()
        tables = {
            name: spark.read.schema(CRM_SCHEMAS[name]).parquet(os.path.join(crm, f"{name}.parquet"))
            for name in CRM_SCHEMAS
            if os.path.exists(os.path.join(crm, f"{name}.parquet"))
        }
        self.store = DatedStore(spark, os.path.join(w, "store"))
        self.engine = Engine(tables, store=self.store)

    # -------------------------------------------------------------- ops
    def probe_text(self) -> str:
        i = self.r.rng.choices(range(len(self.probes)), self.probe_weights)[0]
        self.drawn += 1
        self.repeats += i in self.seen_probes
        self.seen_probes.add(i)
        return self.probes[i]

    def embed(self, texts: list[str], op: str) -> list[list[float]]:
        from pyspark.sql import functions as F

        from mcp_hubspot_spark.functions.embedding import embed_column

        with self.r.tracer.span("embedding.probe", op=op):
            rows = (
                self.r.spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "i long, t string")
                .select("i", embed_column(F.col("t"), dim=64).alias("e"))
                .collect()
            )
        by_i = {row.i: [float(x) for x in row.e] for row in rows}
        return [by_i[i] for i in range(len(texts))]

    def op(self, kind: str, op: str):
        """Run one op; returns its checked result rows (untimed checks run
        after the caller stops the clock)."""
        from mcp_hubspot_spark.serving import hybrid_rrf_serve

        r, tr = self.r, self.r.tracer
        if kind == "ivf_search":
            qv = self.embed([self.probe_text()], op)[0]
            with tr.span("vector_store.search", op=op):
                return self.ivf.search(qv, k=K, nprobe=2).collect()
        if kind == "text_search":
            with tr.span("text_index.search", op=op):
                return self.tix.search(self.probe_text().split(), k=K).collect()
        if kind == "hybrid_search":
            text = self.probe_text()
            qv = self.embed([text], op)[0]
            with tr.span("serving.hybrid_rrf", op=op):
                return hybrid_rrf_serve(self.tix, self.ivf, text.split(), qv, k=K).collect()
        if kind == "search_data":
            qv = self.embed([self.probe_text()], op)[0]
            with tr.span("api.search_data", op=op):
                return self.engine.search_data(qv, k=K, as_of=self.as_of).collect()
        if kind == "tool":
            with tr.span("api.get_tickets", op=op):
                df = self.engine.get_tickets(limit=K)
            with tr.span("api.collect", op=op):
                return df.collect()
        raise ValueError(kind)

    def write_batch(self):
        """20 rows: 14 inserts and 6 edits, each text carrying a token no
        other document has. Edits prefer documents this run upserted."""
        import datagen
        import numpy as np

        rng = self.r.rng
        nrng = np.random.default_rng([self.r.seed, self.next_id])
        inserts = list(range(self.next_id, self.next_id + 14))
        self.next_id += 14
        edits = rng.sample(self.upserted, min(3, len(self.upserted)))
        while len(edits) < 6:
            doc = rng.randrange(SERVING_DOCS)
            if doc not in edits:
                edits.append(doc)
        rows = []
        for j, doc in enumerate(inserts + edits):
            text = datagen.doc_text(nrng, rng.randint(20, 60)) + f" u{self.r.seed}x{self.next_id}x{j}"
            rows.append((doc, text, "en", "perfbench", len(text)))
        return rows, inserts, edits

    def write(self, rows, op: str) -> dict:
        tr = self.r.tracer
        self.r.group(f"{op}.merge")
        with tr.span("snapshot_table.merge", op=op):
            self.table.merge_upsert(self.r.spark.createDataFrame(rows, DOC_SCHEMA))
        self.r.group(f"{op}.ivf_sync")
        with tr.span("serving.ivf_sync", op=op):
            ivf = self.ivf_m.sync()
        self.r.group(f"{op}.text_sync")
        with tr.span("serving.text_sync", op=op):
            txt = self.tix_m.sync()
        return {"ivf": ivf, "text": txt}

    # ----------------------------------------------------------- checks
    def check_result(self, kind: str, op: str, rows) -> None:
        r = self.r
        if kind in SEARCHES:
            r.check(op, len(rows) == K, f"{len(rows)} rows, expected {K}")
        elif kind == "search_data":
            r.check(op, len(rows) == K and list(rows[0].asDict()) == SEARCH_DATA_COLS,
                    f"{len(rows)} rows / schema {list(rows[0].asDict()) if rows else []}")
        elif kind == "tool":
            cols = list(rows[0].asDict()) if rows else []
            r.check(op, len(rows) == K and cols == TICKET_COLS, f"{len(rows)} rows / schema {cols}")

    def applied(self, rows, inserts, edits) -> None:
        """Book-keep a committed write: the doc whose text it superseded
        is remembered for the end-of-run check."""
        ed = rows[14][0]
        self.writes.append(
            {"new": rows[0][0], "edited": ed, "old_text": self.texts.get(ed),
             "old_token": ed in self.upserted}
        )
        for doc, text, *_ in rows:
            self.texts[doc] = text
        self.upserted.extend(inserts + [d for d in edits if d not in self.upserted])

    def check_writes(self) -> None:
        """Untimed, after the op stream: each write's first inserted doc
        ranks first for its current text in both indexes, and each write's
        first edited doc is not found by the text it superseded."""
        r, ws = self.r, self.writes
        qv = self.embed([self.texts[w["new"]] for w in ws] + [w["old_text"] for w in ws], "check")
        n = len(ws)
        hits = self.ivf.search_batch(list(enumerate(qv)), k=K, nprobe=2).collect()
        terms = {f"new{i}": [self.texts[w["new"]].split()[-1]] for i, w in enumerate(ws)}
        terms.update({f"old{i}": [w["old_text"].split()[-1]] for i, w in enumerate(ws) if w["old_token"]})
        thits = self.tix.search_batch(terms, k=K).collect()
        for i, w in enumerate(ws):
            top = [h for h in hits if h.query_id == i and h.rank == 1]
            r.check(f"write{i}.ivf_ranks_first", bool(top) and top[0].vec_id == w["new"]
                    and top[0].distance < 1e-9, f"top hit {top[0] if top else None}")
            stale = [h for h in hits if h.query_id == n + i and h.vec_id == w["edited"]
                     and h.distance < 1e-9]
            r.check(f"write{i}.ivf_superseded", not stale, f"doc {w['edited']} matches its old text")
            ttop = [h for h in thits if h.query_id == f"new{i}" and h.rank == 1]
            r.check(f"write{i}.text_ranks_first", bool(ttop) and ttop[0].doc_id == w["new"],
                    f"top hit {ttop[0] if ttop else None}")
            if w["old_token"]:
                told = [h for h in thits if h.query_id == f"old{i}" and h.doc_id == w["edited"]]
                r.check(f"write{i}.text_superseded", not told,
                        f"doc {w['edited']} matches its old token")


def run_serving(r: Run) -> dict:
    import datagen

    data = os.path.join(r.work, "data")
    crm = os.path.join(r.work, "crm")
    t = perf()
    texts = datagen.write_documents(data, r.seed, SERVING_DOCS)
    r.context["crm_rows"] = datagen.write_crm(crm, r.seed)
    r.context["inputs_s"] = perf() - t
    s = Serving(r, texts)

    t = perf()
    r.start_session()
    session_s = perf() - t
    s.build(data, crm)
    setup_s = perf() - t
    r.context.update(setups_s=[setup_s], session_start_s=session_s,
                     docs=SERVING_DOCS, as_of=s.as_of.isoformat())
    r.context["calib_start_s"] = r.calibrate()

    cycles: list[dict] = []
    t_window = perf()
    # the window opens after the cold cycle; a traced run traces its second
    # steady cycle and compares it with the third, as the batch passes do
    while len(cycles) < 1 + STEADY_CYCLES + r.traced or perf() - t_window < r.args.seconds:
        c = len(cycles)
        traced = r.traced and c == 2
        r.trace_next(traced)
        order = r.rng.sample(CYCLE_READS, len(CYCLE_READS))
        if c == 0 and order.index("search_data") < order.index("tool"):
            # the store starts empty: a tool response must land before the
            # first search_data can return k rows
            i, j = order.index("search_data"), order.index("tool")
            order[i], order[j] = order[j], order[i]
        if c > 0 and (r.traced or c % 2 == 1):
            order.insert(0, "write")
        t_cycle = perf()
        lat: dict[str, float] = {}
        pending = []
        for kind in order:
            op = f"c{c}.{kind}"
            rec = {"op": op, "kind": kind, "cycle": c, "traced": traced}
            if kind == "write":
                rows, inserts, edits = s.write_batch()
                c0, t0 = tree_cpu(), perf()
                with r.tracer.span(kind, op=op):
                    res = r.attempt(op, lambda: s.write(rows, op))
                rec["latency_s"] = perf() - t0
                rec["cpu_s"] = cpu_since(c0)
                rec["sync"] = res
                if res is not None:
                    s.applied(rows, inserts, edits)
            else:
                c0, t0 = tree_cpu(), perf()
                r.group(op)
                with r.tracer.span(kind, op=op):
                    res = r.attempt(op, lambda: s.op(kind, op))
                rec["latency_s"] = perf() - t0
                rec["cpu_s"] = cpu_since(c0)
                if res is not None:
                    pending.append((kind, op, res))
            lat[op] = rec["latency_s"]
            r.ops.append(rec)
        wall = perf() - t_cycle
        # untimed checks of this cycle's results
        r.trace_next(False)
        for kind, op, res in pending:
            s.check_result(kind, op, res)
        if c == 1:  # after the first write, whatever the run's length
            r.context["store_bytes"] = store_bytes(r, s)
        cycles.append({"cycle": c, "traced": traced, "wall_s": wall, "latency_s": lat})
        if c == 0:
            t_window = perf()
    window_s = perf() - t_window
    rss = r.peak_rss_mb()
    r.trace_next(False)
    r.attempt("writes.check", s.check_writes)
    r.context["calib_end_s"] = r.calibrate()

    steady = [c for c in cycles[1:] if not c["traced"]]
    # latencies over every untraced op, the first cycle included: a cycle
    # holds one op of each kind, so a median over the steady cycle alone
    # would just be whichever kind sits in the middle (the batch passes
    # have no such gap; there the cold pass is mostly codegen and is left
    # out)
    plain_ops = [o for o in r.ops if not o["traced"] and "latency_s" in o]

    def p50(kinds):
        xs = [o["latency_s"] for o in plain_ops if o["kind"] in kinds]
        return statistics.median(xs) if xs else None

    searches = [o["latency_s"] for o in plain_ops if o["kind"] in SEARCHES]
    pct, tail = tail_percentile(searches)
    sb = r.context["store_bytes"]
    r.context.update(
        window_s=window_s,
        cycles=len(cycles),
        search_p50_s=p50(SEARCHES),
        search_tail_s=tail,
        search_tail_pct=pct,
        search_samples=len(searches),
        tool_p50_s=p50({"tool", "search_data"}),
        write_p50_s=p50({"write"}),
        store_bytes_ratio=sb["total"] / sb["text_bytes"],
        probe_repeat_share=s.repeats / max(1, s.drawn),
        probes_drawn=s.drawn,
    )
    kinds = ["write", *CYCLE_READS]
    kind_p50 = {k: p50({k}) for k in kinds}
    kind_cpu = {
        k: statistics.median(o["cpu_s"] for o in plain_ops if o["kind"] == k and "cpu_s" in o)
        for k in kinds
    }
    r.context.update(kind_p50_s=kind_p50, kind_cpu_s=kind_cpu,
                     cycle_walls_s=[c["wall_s"] for c in steady])
    e2e = {
        "setup_s": setup_s,
        "first_pass_s": cycles[0]["wall_s"],
        # a typical steady cycle: one write and one read of each kind
        "pass_s": sum(kind_p50.values()),
        "pass_cpu_s": sum(kind_cpu.values()),
        "read_p50_s": p50(set(CYCLE_READS)),
        "peak_rss_mb": rss,
    }
    if r.traced:
        r.layers.update(serving_layers(r, cycles, session_s))
    return e2e


def store_bytes(r: Run, s: Serving) -> dict:
    out = {}
    for name in ("docs", "ivf", "tix", "store"):
        out[name], out[f"{name}_files"] = dir_bytes(os.path.join(r.work, name))
    out["total"] = sum(out[n] for n in ("docs", "ivf", "tix", "store"))
    out["text_bytes"] = sum(len(t.encode()) for t in s.texts.values())
    return out


def serving_layers(r: Run, cycles, session_s) -> dict:
    """Call-level layers: mean seconds per call over the traced cycles;
    bytes and files written: per traced cycle."""
    traced_ids = {c["cycle"] for c in cycles if c["traced"]}
    ops = {o["op"] for o in r.ops if o["cycle"] in traced_ids}
    spans = [sp for sp in r.tracer.spans if sp.get("op") in ops]

    def mean_s(name):
        xs = [sp["end_s"] - sp["start_s"] for sp in spans if sp["name"] == name]
        return statistics.fmean(xs) if xs else 0.0

    out = {
        "session.start_s": session_s,
        "embedding.probe_s": mean_s("embedding.probe"),
        "vector_store.search_s": mean_s("vector_store.search"),
        "text_index.search_s": mean_s("text_index.search"),
        "serving.hybrid_rrf_s": mean_s("serving.hybrid_rrf"),
        "serving.ivf_sync_s": mean_s("serving.ivf_sync"),
        "serving.text_sync_s": mean_s("serving.text_sync"),
        "snapshot_table.merge_s": mean_s("snapshot_table.merge"),
        "api.tool_s": statistics.fmean(
            [mean_s("api.get_tickets") + mean_s("api.collect"), mean_s("api.search_data")]
        ),
    }
    traced = [c for c in cycles if c["traced"]]
    plain = [c for c in cycles[3:] if not c["traced"]]
    t_tr = statistics.median(c["wall_s"] for c in traced)
    t_pl = statistics.median(c["wall_s"] for c in plain)
    out["trace.overhead_s"] = t_tr - t_pl
    out["trace.overhead_frac"] = (t_tr - t_pl) / t_pl
    n = len(traced)
    write_ops = [o["op"] for o in r.ops if o["cycle"] in traced_ids and o["kind"] == "write"]
    r.traced_groups = {
        "build": [],
        "all": [o["op"] for o in r.ops if o["cycle"] in traced_ids and o["kind"] != "write"]
        + [f"{w}.{p}" for w in write_ops for p in ("merge", "ivf_sync", "text_sync")],
        "sync": [f"{w}.{p}" for w in write_ops for p in ("ivf_sync", "text_sync")],
        "tool": [o["op"] for o in r.ops if o["cycle"] in traced_ids and o["kind"] in ("tool", "search_data")],
        "passes": n,
        "wall_ms": 1000.0 * sum(
            o["latency_s"] for o in r.ops if o["cycle"] in traced_ids
        ),
        "rows_out": None,
    }
    return out


# ============================================================ layers

PER_LAYER = [
    "session.start_s", "workload.build_s", "workload.build_jobs",
    "catalyst.analysis_ms", "catalyst.optimization_ms", "catalyst.planning_ms",
    "exec.jobs", "exec.stages", "exec.tasks", "exec.run_ms", "exec.cpu_ms", "exec.gc_ms",
    "exec.core_util", "exec.shuffle_read_bytes", "exec.shuffle_write_bytes",
    "exec.fetch_wait_ms", "exec.spill_bytes",
    "sources.input_bytes", "sources.input_rows", "sources.rows_read_per_row_out",
    "pyworker.run_ms", "pyworker.start_ms", "pyworker.bytes_sent", "pyworker.bytes_returned",
    "embedding.probe_s", "vector_store.search_s", "vector_store.bytes_written",
    "vector_store.files", "text_index.search_s", "text_index.bytes_written", "text_index.files",
    "serving.hybrid_rrf_s", "serving.ivf_sync_s", "serving.text_sync_s", "serving.sync_jobs",
    "snapshot_table.merge_s", "snapshot_table.bytes_written",
    "api.tool_s", "api.tool_jobs", "api.store_append_bytes",
    "trace.overhead_s", "trace.overhead_frac",
]


def event_log_layers(r: Run) -> dict:
    """Spark counters of the traced ops, per traced pass or cycle, from
    the event log (read after the session stopped and flushed it)."""
    g = r.traced_groups
    logs = [os.path.join(r.work, "events", f) for f in os.listdir(os.path.join(r.work, "events"))]
    if g is None or not logs:
        return {}
    per_group: dict[str, dict] = {}
    for path in logs:
        per_group.update(read_event_log(path))

    def total(groups, key):
        return sum(per_group.get(x, {}).get(key, 0.0) for x in groups)

    n = g["passes"]
    keys = [k for k in PER_LAYER if k.startswith(("exec.", "sources.input", "pyworker."))]
    out = {k: total(g["all"], k) / n for k in keys if k != "exec.core_util"}
    out["workload.build_jobs"] = total(g["build"], "exec.jobs") / n
    out["exec.core_util"] = total(g["all"], "exec.run_ms") / (g["wall_ms"] * r.cpus)
    if g["rows_out"]:
        out["sources.rows_read_per_row_out"] = total(g["all"], "sources.input_rows") / g["rows_out"]
    if "sync" in g:
        out["serving.sync_jobs"] = total(g["sync"], "exec.jobs") / n
        out["api.tool_jobs"] = total(g["tool"], "exec.jobs") / n
    return out


def serving_bytes_layers(r: Run) -> dict:
    """Bytes and files each serving layer holds on disk at run end, per
    cycle run (the store's growth is the tool appends)."""
    sb = r.context.get("store_bytes")
    if not sb:
        return {}
    n = 2  # store_bytes is taken after the second cycle
    return {
        "vector_store.bytes_written": (sb["ivf"] + sb["store"]) / n,
        "vector_store.files": (sb["ivf_files"] + sb["store_files"]) / n,
        "text_index.bytes_written": sb["tix"] / n,
        "text_index.files": sb["tix_files"] / n,
        "snapshot_table.bytes_written": sb["docs"] / n,
        "api.store_append_bytes": sb["store"] / n,
    }


# ============================================================ main

WORKLOADS = {
    "batch_analytics": lambda r: run_batch(r, BATCH_QUERIES),
    "serving_mixed": run_serving,
}

# the bounded metrics (BENCHMARK.json end_to_end); every workload has them.
# A pass's CPU seconds are bounded, its wall seconds only reported: on a
# shared 4-core host, co-tenants move the wall time of whole runs by up to
# 60%, the CPU time by about a third of that (perfbench/README.md).
UNITS = {"setup_s": "s", "pass_cpu_s": "s", "peak_rss_mb": "MB"}


def unit_of(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_ms"):
        return "ms"
    if "bytes" in name:
        return "bytes"
    if name.endswith("_frac") or name.endswith("core_util") or name.endswith("per_row_out"):
        return "ratio"
    return "count"


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=[*sorted(WORKLOADS), "all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "mcp_hubspot_spark", "workload.py")):
        print(f"engine package mcp_hubspot_spark not found under {ROOT}", file=sys.stderr)
        return 2
    if args.workload == "all":
        # every workload for this seed, untraced then traced, one process each
        code = 0
        for w in sorted(WORKLOADS):
            for t in (0, 1):
                cmd = [sys.executable, os.path.abspath(__file__), "--workload", w,
                       "--seed", str(args.seed), "--seconds", str(args.seconds),
                       "--trace", str(t)]
                code = subprocess.run(cmd).returncode or code
        return code

    r = Run(args)
    r.env()
    t_run = perf()
    cpu0 = cpu_times()
    try:
        e2e = WORKLOADS[args.workload](r)
    finally:
        r.shutdown()
    if r.traced:
        r.layers.update(event_log_layers(r))
        if args.workload == "serving_mixed":
            r.layers.update(serving_bytes_layers(r))
    shutil.rmtree(r.work, ignore_errors=True)
    # host noise: the share of CPU time the hypervisor stole during the run
    d = [b - a for a, b in zip(cpu0, cpu_times())]
    r.context["host_steal_frac"] = d[7] / max(1, sum(d))

    failed = len(r.failures)
    attempted = max(r.attempted, 1)
    ctx = r.context
    report = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "cpus": r.cpus, "run_wall_s": perf() - t_run,
        "error_frac": failed / attempted, "failures": r.failures,
        "end_to_end": e2e, "context": ctx,
    }
    if r.traced:
        report["per_layer"] = r.layers
        report["spans"] = r.tracer.spans
    report["ops"] = r.ops
    os.makedirs(r.out, exist_ok=True)
    out_path = os.path.join(r.out, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(out_path, "w") as fh:
        json.dump(report, fh, indent=1, default=str)

    # the bounded metrics, then the workload-specific ones, by name and unit
    batch = args.workload != "serving_mixed"
    lines = {k: (e2e[k], unit) for k, unit in UNITS.items()}
    lines.update({
        "pass_s": (e2e["pass_s"], "s"),
        "batch_pass_s": (e2e["pass_s"] if batch else None, "s"),
        "first_pass_s": (e2e["first_pass_s"], "s"),
        "read_p50_s": (e2e["read_p50_s"], "s"),
        "search_p50_s": (ctx.get("search_p50_s"), "s"),
        "search_tail_s": (ctx.get("search_tail_s"), "s"),
        "tool_p50_s": (ctx.get("tool_p50_s"), "s"),
        "write_p50_s": (ctx.get("write_p50_s"), "s"),
        "store_bytes_ratio": (ctx.get("store_bytes_ratio"), "ratio"),
        "error_frac": (failed / attempted, "ratio"),
    })
    for name, (v, unit) in lines.items():
        shown = "n/a" if v is None else f"{v:.6g}"
        print(f"{args.workload} {name} = {shown} {unit}")
    if not batch:
        print(f"{args.workload} search_tail percentile = p{ctx['search_tail_pct']:.0f} "
              f"of {ctx['search_samples']} samples; probe repeat share = "
              f"{ctx['probe_repeat_share']:.3f}")
    print(f"{args.workload} calib_start_s = {ctx['calib_start_s']:.4f} s, "
          f"calib_end_s = {ctx['calib_end_s']:.4f} s, host_steal_frac = "
          f"{ctx['host_steal_frac']:.4f} (context only)")
    for f in r.failures:
        print(f"FAILED {f}")
    if r.traced:
        for k in PER_LAYER:
            print(f"{args.workload} {k} = {r.layers.get(k, 0.0):.6g} {unit_of(k)}")
        metrics = {k: {"value": r.layers.get(k, 0.0), "unit": unit_of(k)} for k in PER_LAYER}
    else:
        metrics = {k: {"value": e2e[k], "unit": UNITS[k]} for k in UNITS}
    print(f"details: {os.path.relpath(out_path, ROOT)}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
