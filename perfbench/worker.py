"""The benchmark's worker process: drives FlockService from outside through
its public functions and logs what happened, one JSON object per line, to
``<run dir>/events.jsonl`` (flushed per line, so a run killed at its
deadline still leaves every finished call on disk).

Started by ``perfbench/run.py``; not meant to be run by hand.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import threading
import time
from pathlib import Path


class Log:
    def __init__(self, path: Path):
        self.fh = open(path, "a", buffering=1)
        self.lock = threading.Lock()

    def __call__(self, kind: str, **fields) -> None:
        line = json.dumps({"kind": kind, **fields})
        with self.lock:
            self.fh.write(line + "\n")


# ---------------------------------------------------------------------------
# calls → FlockService
# ---------------------------------------------------------------------------


def _program(ops):
    from flockdb_spark.plans.compiler import QueryTerm, SelectOperation, SelectOperationType as T

    out = []
    for op in ops:
        if op[0] == "t":
            out.append(SelectOperation(T.SIMPLE_QUERY, QueryTerm(op[2], op[1], op[3])))
        else:
            out.append(SelectOperation({"i": T.INTERSECTION, "u": T.UNION, "d": T.DIFFERENCE}[op[0]]))
    return out


def _cursor(c):
    from flockdb_spark.operators.paging import CURSOR_START, Cursor

    return CURSOR_START if c is None else Cursor(c[0], c[1])


def _next(page):
    c = page.next_cursor
    return [c.value, c.id] if hasattr(c, "value") else None


def run_call(svc, call):
    """One public FlockService call; returns a JSON-able answer."""
    from flockdb_spark.operators.algebra import Term
    from flockdb_spark.plans.compiler import ExecuteOperation, ExecuteOperationType, QueryTerm
    from flockdb_spark.service import EdgeQuery, SelectQuery

    op = call["op"]
    if op == "contains":
        return svc.contains(call["s"], call["g"], call["d"])
    if op == "get":
        row = svc.get(call["s"], call["g"], call["d"])
        return None if row is None else list(row)
    if op == "get_metadata":
        row = svc.get_metadata(call["s"], call["g"])
        return None if row is None else list(row)
    if op == "count2":
        return svc.count2([_program(p) for p in call["programs"]])
    if op == "select_edges":
        states = tuple(call["states"])
        if call["fwd"]:
            page = svc.select_edges(call["v"], call["g"], states=states, count=call["count"],
                                    cursor=_cursor(call["cursor"]))
        else:
            term = Term(call["g"], call["v"], False, states)
            page = svc.select_edges_batch(
                [EdgeQuery(term, None, call["count"], _cursor(call["cursor"]))]
            )[0]
        return {"rows": [list(r) for r in page.rows], "next": _next(page)}
    if op == "select2":
        pages = svc.select2([
            SelectQuery(_program(q["program"]), q["count"], _cursor(q["cursor"]))
            for q in call["queries"]
        ])
        return [{"ids": [i for _, i in p.rows], "next": _next(p)} for p in pages]
    if op == "execute":
        svc.execute([
            ExecuteOperation(
                ExecuteOperationType(t),
                QueryTerm(s, g, True, None if d is None else (d,)),
                execute_at=ts,
            )
            for t, g, s, d, ts in call["ops"]
        ])
        return None
    raise ValueError(f"unknown call {op}")


# ---------------------------------------------------------------------------
# the run
# ---------------------------------------------------------------------------


#: job tag prefix naming the benchmark call that started a Spark job
TAG = "perfbench-call-"


class Clients:
    """Closed-loop clients sharing one call list: each thread sends its next
    call only after the previous one returned, until the window closes."""

    def __init__(self, svc, log, sc, trace: bool, progress=None):
        self.svc, self.log, self.sc, self.trace = svc, log, sc, trace
        self.progress = progress  # read_write_mix: writer batches done/started
        self.lock = threading.Lock()

    def one(self, call, timed: bool = True):
        tag = f"{TAG}{call['id']}"
        if self.trace:
            self.sc.addJobTag(tag)
        lo = self.progress["done"] if self.progress else None
        if timed:
            self.log("start", id=call["id"])
        t0 = time.time()
        try:
            ans, err = run_call(self.svc, call), None
        except Exception as e:  # noqa: BLE001 — a failed call is a result
            ans, err = None, f"{type(e).__name__}: {e}"[:300]
        t1 = time.time()
        if self.trace:
            self.sc.removeJobTag(tag)
        if timed:
            rec = {"id": call["id"], "t0": t0, "t1": t1, "answer": ans, "error": err}
            if self.progress:
                rec["k_lo"], rec["k_hi"] = lo, self.progress["started"]
            self.log("end", **rec)
        return t1 - t0

    def run(self, calls, n_threads: int, until, timed: bool = True):
        it = iter(calls)

        def client():
            while not until():
                with self.lock:
                    call = next(it, None)
                if call is None:
                    return
                self.one(call, timed)

        threads = [threading.Thread(target=client, daemon=True) for _ in range(n_threads)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()


def spark_probe(spark) -> float:
    """bench.py's parallel JVM probe: sum over a 200M range."""
    t0 = time.perf_counter()
    spark.range(200_000_000).selectExpr("sum(id)").collect()
    return time.perf_counter() - t0


def calibrate(spark) -> dict:
    import bench

    return {"spark_range200m_s": spark_probe(spark), "duck_range50m_s": bench._duck_calibrate(),
            "disk_64m_fsync_s": bench._disk_calibrate()}


def status_store_json(spark) -> tuple[list, list]:
    """Every job and stage in Spark's status store, serialized JVM-side in
    one call each (PySpark 4.1's stageList takes all five arguments)."""
    jvm, sc = spark._jvm, spark.sparkContext
    store = sc._jsc.sc().statusStore()
    mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
    mapper.registerModule(getattr(getattr(jvm.com.fasterxml.jackson.module.scala,
                                          "DefaultScalaModule$"), "MODULE$"))
    jobs = json.loads(mapper.writeValueAsString(store.jobsList(None)))
    no_quantiles = sc._gateway.new_array(jvm.double, 0)
    stages = json.loads(mapper.writeValueAsString(
        store.stageList(None, False, False, no_quantiles, None)))
    keep = ("stageId", "attemptId", "status", "numTasks", "executorRunTime", "executorCpuTime",
            "jvmGcTime", "inputBytes", "inputRecords", "shuffleReadBytes", "shuffleWriteBytes",
            "memoryBytesSpilled", "diskBytesSpilled")
    jkeep = ("jobId", "jobGroup", "jobTags", "submissionTime", "completionTime", "stageIds",
             "status")
    return ([{k: j.get(k) for k in jkeep} for j in jobs],
            [{k: s.get(k) for k in keep} for s in stages])


def size_estimate_log10(df) -> float | None:
    """log10 of Catalyst's sizeInBytes estimate for ``df``, read from the
    plan's own scientific-notation rendering (no BigInteger-to-decimal
    conversion of the full number)."""
    import math
    import re

    text = df._jdf.queryExecution().optimizedPlan().stats().simpleString()
    m = re.search(r"sizeInBytes=([0-9.]+)(?:E\+?(-?\d+))?\s*([KMGTPE]i)?B", text)
    if not m:
        return None
    units = {None: 0, "Ki": 10, "Mi": 20, "Gi": 30, "Ti": 40, "Pi": 50, "Ei": 60}
    return math.log10(float(m.group(1))) + int(m.group(2) or 0) + units[m.group(3)] * math.log10(2)


def end_state(svc, hot, batches: int, log) -> None:
    """The hot vertices' edges and metadata, for the LWW model check."""
    from pyspark.sql import functions as F

    edges = svc.store.edges.where((F.col("graph_id") == 1) & F.col("source_id").isin(hot))
    md = svc.store.metadata.where((F.col("graph_id") == 1) & F.col("source_id").isin(hot))
    log("end_state", batches=batches, edges=[list(r) for r in edges.collect()],
        metadata=[list(r) for r in md.collect()])


FUNCTION_QUERIES = ("q23_select2_batch", "q17_oplog_replay", "x14_pagerank", "x27_triangles")


def functions_pass(spark, data_dir: str, log, root: Path) -> None:
    """One pass over registry operators that read only the graph tables, to
    the noop sink, then a strict compare of each against its DuckDB twin
    (tools/check.py's comparison)."""
    import duckdb

    import __spark_entry__ as entry

    sys.path.insert(0, str(root / "tools"))
    import check

    qs, oracles = entry.queries(), entry.oracle_sql()
    con = duckdb.connect()
    for t in ("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    for name in FUNCTION_QUERIES:
        t0 = time.perf_counter()
        df = qs[name](spark, data_dir)
        df.write.format("noop").mode("overwrite").save()
        wall = time.perf_counter() - t0
        problems = check.compare(name, df.toPandas(), con.execute(oracles[name]).df())
        for c in getattr(df, "_flockdb_caches", []):
            c.unpersist(True)
        log("function", name=name, wall_s=wall, problems=problems)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--run-dir", required=True)
    ap.add_argument("--t0", type=float, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()
    run = Path(args.run_dir)
    root = Path.cwd()
    sys.path.insert(0, str(root))
    log = Log(run / "events.jsonl")
    data_dir = str(run / "data")
    trace = bool(args.trace)

    from flockdb_spark.queries import store_for
    from flockdb_spark.service import FlockService
    from flockdb_spark.session import get_spark

    import bench

    t = time.time()
    spark = get_spark(app_name="perfbench", shuffle_partitions=bench.shuffle_partitions_for(data_dir))
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.time() - t
    t_layout = time.time()
    store = store_for(spark, data_dir)
    layout_s = time.time() - t_layout
    svc = FlockService(store)
    sc = spark.sparkContext
    calls = run / "calls.json"
    while not calls.exists():  # written by run.py while Spark started
        time.sleep(0.05)
    spec = json.loads(calls.read_text())

    progress = {"done": 0, "started": 0} if spec["workload"] == "read_write_mix" else None
    clients = Clients(svc, log, sc, trace, progress)
    t_warm = time.time()
    warm_end = t_warm + spec["warmup_s"]
    clients.run(spec["warmup"], spec["clients"], until=lambda: time.time() >= warm_end, timed=False)
    t_ready = time.time()
    log("setup", setup_s=t_ready - args.t0, session_s=session_s, layout_s=layout_s,
        warmup_s=t_ready - t_warm)
    # calibration brackets the measured window, outside set-up
    spark_probe(spark)  # codegen for the probe itself, as bench.py does
    log("calibration_start", calibration_start=calibrate(spark))
    t_first = time.time()

    def write(batches):
        for call in batches:
            progress["started"] += 1
            dt = clients.one(call)
            progress["done"] += 1
            if trace:
                log("store_size", batch=call["batch"], exec_s=dt,
                    log10_bytes=size_estimate_log10(svc.store.edges))

    window_end = t_first + args.seconds
    if progress is None:
        clients.run(spec["calls"], spec["clients"], until=lambda: time.time() >= window_end)
    else:
        writer_done = threading.Event()

        def writer():
            write(spec["writer"])
            writer_done.set()

        wt = threading.Thread(target=writer, daemon=True)
        wt.start()
        clients.run(spec["calls"], spec["clients"] - 1,
                    until=lambda: writer_done.is_set() and time.time() >= window_end)
        wt.join()
    log("window", t_first=t_first, t_end=time.time())
    log("calibration_end", calibration_end=calibrate(spark))

    if progress is not None:
        end_state(svc, spec["hot"], progress["done"], log)

    if trace:
        from flockdb_spark.plans.compiler import compile_select

        if spec.get("compound"):
            # compound pages ride along in the traced point_reads run, for
            # their per-layer numbers (intersection class, shuffle, compile)
            clients.run(spec["compound"], spec["clients"], until=lambda: False)
        compile_ms = []
        for call in spec.get("compound", []):
            for q in call.get("queries", []):
                ops = _program(q["program"])
                t0 = time.perf_counter()
                compile_select(ops)
                compile_ms.append((time.perf_counter() - t0) * 1000)
        # tracing's own cost per call: the tag round trips around each call
        t0 = time.perf_counter()
        for _ in range(50):
            sc.addJobTag("perfbench-overhead")
            sc.removeJobTag("perfbench-overhead")
        tag_ms = (time.perf_counter() - t0) * 1000 / 50
        jobs, stages = status_store_json(spark)
        log("status_store", jobs=jobs, stages=stages, compile_ms=compile_ms, tag_ms=tag_ms)
        if spec.get("compound"):
            functions_pass(spark, data_dir, log, root)
        if spec.get("tail"):
            # writer only: each execute's wall time against its index, until
            # the store has taken TRACE_WRITE_BATCHES batches
            write(spec["tail"])
            end_state(svc, spec["hot"], progress["done"], log)

    spark.stop()
    log("done", t=time.time())
    log.fh.close()
    # skip interpreter teardown (seconds of py4j shutdown); run.py ends the
    # process group, the gateway JVM with it
    os._exit(0)


if __name__ == "__main__":
    main()
