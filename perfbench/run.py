"""FlockService benchmark: one command, one workload per run.

    python3 perfbench/run.py --workload point_reads --seed 1 --seconds 10 --trace 0

Run from the repository root.  The run generates its tables from the seed,
builds a fresh store layout in a run-private directory under
``.perfbench/``, drives ``FlockService`` from a worker process
(``perfbench/worker.py``, 4 client threads, ``local[4]``), checks every
answer against a model read back from the layout by DuckDB, and prints one
JSON object as its last stdout line:

    {"correct": true, "attempted": N, "failed": F, "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
ones (Spark's status store, keyed by the engine's ``flockdb-<class>-<n>``
job groups and a per-call job tag).  The line before it carries details
that are not metrics: percentiles used, sample counts, failure breakdown,
write-path numbers and the calibration probes from ``bench.py``.

Workloads: point_reads, read_write_mix (see BENCHMARK.json).  Traced
point_reads runs also send compound select2/count2 pages and run a few
registry operators after the window, for those layers' numbers; traced
read_write_mix runs go on writing, with no readers, up to execute 16.
"""

from __future__ import annotations

import argparse
import copy
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time
from collections import defaultdict
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import stats  # noqa: E402
from worker import FUNCTION_QUERIES, TAG  # noqa: E402

CLIENTS = 4
CPUS = "4"
#: the worker is killed this long after the run started; unfinished and
#: unstarted calls then count as failed
DEADLINE_S = 150.0
#: reference select timeout (BASELINE.md): goodput counts calls within it
GOOD_S = 1.0
#: execute batches in the read_write_mix window (about 5 s each beside
#: three readers): what a ~65 s run affords; the 3rd has a mass action
WRITE_BATCHES = 3
#: traced read_write_mix runs send batches up to this one after the window,
#: writer only, so the growth of execute time with the store's lineage
#: shows in merge.execute_ms_at_k
TRACE_WRITE_BATCHES = 16
CALL_LIST = 4000
#: compound pages sent in the traced point_reads run, after the window
COMPOUND_CALLS = 16
#: warm-up seconds of the workload's own read mix: point_reads throughput
#: climbs for ~25 s after the first calls while the JVM compiles the
#: planner's hot paths, and a window that starts early on that slope
#: measures how fast the JIT ran.  read_write_mix readers move to the
#: written store at its first execute, so a warm-up on the layout serves
#: them less.  Both are cut to what the run budget affords
WARM_S = {"point_reads": 24.0, "read_write_mix": 18.0}
#: driver heap, fixed at start (-Xms = -Xmx): a heap that grows on demand
#: leaves peak RSS to G1's sizing choices, which differ run to run
HEAP = "1g"
CLASSES = ("select_single", "select_metadata", "select", "select_intersection_small", "execute")
METHODS = ("contains", "get", "get_metadata", "count2", "select_edges", "select_edges_batch",
           "select2", "execute")
EXECUTE_KS = (1, 4, 8, 12, 16)


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


# ---------------------------------------------------------------------------
# inputs
# ---------------------------------------------------------------------------


def make_spec(workload: str, seed: int, trace: int, model) -> dict:
    import workload as wl

    rng = random.Random(f"{workload}/{seed}")
    spec: dict = {"workload": workload, "clients": CLIENTS, "warmup_s": WARM_S[workload]}
    if workload == "point_reads":
        calls = wl.point_calls(model, rng, CALL_LIST)
        compound = wl.compound_calls(model, rng, COMPOUND_CALLS)
        for i, c in enumerate(compound):
            c["id"] = 500_000 + i
        spec["compound"] = compound
    else:
        hot, batches = wl.write_batches(model, rng, TRACE_WRITE_BATCHES)
        # readers stay on the keys the window's batches write
        calls = wl.reader_calls(rng, hot, batches[:WRITE_BATCHES], CALL_LIST)
        spec["hot"] = hot
        writes = [{"op": "execute", "batch": k + 1, "ops": ops, "id": 1_000_000 + k}
                  for k, ops in enumerate(batches)]
        spec["writer"] = writes[:WRITE_BATCHES]
        spec["tail"] = writes[WRITE_BATCHES:] if trace else []
    # every call kind, then the mix itself from the unused end of the list
    warm = wl.warmup_calls(calls) + copy.deepcopy(calls[-CALL_LIST // 2:])
    for i, c in enumerate(calls):
        c["id"] = i
    for i, c in enumerate(warm):
        c["id"] = -1 - i
    spec["calls"], spec["warmup"] = calls, warm
    return spec


# ---------------------------------------------------------------------------
# the worker process
# ---------------------------------------------------------------------------


def _tree_rss_kb(root_pid: int) -> int:
    """Resident set of ``root_pid`` and the JVMs and Python processes
    under it.  Other children are the JVM's short-lived commands (Hadoop's
    local file system forks ``chmod``): until it execs, such a child shares
    the JVM's pages and reads as a second JVM-sized process."""
    parents: dict[int, int] = {}
    names: dict[int, str] = {}
    rss: dict[int, int] = {}
    for p in Path("/proc").iterdir():
        if not p.name.isdigit():
            continue
        try:
            name, rest = (p / "stat").read_text().split(" (", 1)[1].rsplit(")", 1)
            fields = rest.split()
            parents[int(p.name)] = int(fields[1])
            names[int(p.name)] = name
            rss[int(p.name)] = int(fields[21]) * (os.sysconf("SC_PAGE_SIZE") // 1024)
        except (OSError, IndexError, ValueError):
            continue
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        if pid == root_pid or names.get(pid) == "java" or names.get(pid, "").startswith("python"):
            total += rss.get(pid, 0)
        todo.extend(c for c, pp in parents.items() if pp == pid)
    return total


def start_worker(root: Path, run: Path, seconds: int, trace: int) -> subprocess.Popen:
    """Start the worker in its own process group; set-up time counts from
    here.  It starts Spark while this process writes the call list."""
    tmp = run / "tmp"
    tmp.mkdir()
    # everything the JVM writes stays in the run dir (no /tmp perf data)
    submit = (f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{HEAP}' "
              f"--conf spark.sql.warehouse.dir={run / 'warehouse'} ")
    if trace:
        # keep every job and stage of the run in the status store
        submit += "--conf spark.ui.retainedJobs=100000 --conf spark.ui.retainedStages=100000 "
    env = dict(
        os.environ,
        PYTHONPATH=os.pathsep.join([str(root), os.environ.get("PYTHONPATH", "")]).rstrip(os.pathsep),
        FLOCKDB_STORE_CACHE=str(run / "store_cache"),
        SPARK_GRAFT_CPUS=CPUS,
        SPARK_GRAFT_SF_DIR=str(run / "data"),
        # a fixed heap: the engine's default is 75% of the memory free at
        # start, which moves with whatever else the machine runs
        SPARK_DRIVER_MEMORY=HEAP,
        SPARK_LOCAL_DIRS=str(run / "spark-local"),
        TMPDIR=str(tmp),
        PYSPARK_SUBMIT_ARGS=submit + "pyspark-shell",
    )
    env.pop("OMP_NUM_THREADS", None)
    with open(run / "worker.log", "w") as out:
        return subprocess.Popen(
            [sys.executable, str(HERE / "worker.py"), "--run-dir", str(run), "--t0", str(time.time()),
             "--seconds", str(seconds), "--trace", str(trace)],
            cwd=root, env=env, stdout=out, stderr=subprocess.STDOUT, start_new_session=True,
        )


def _group_alive(pgid: int) -> bool:
    for p in Path("/proc").iterdir():
        if p.name.isdigit():
            try:
                if int((p / "stat").read_text().rsplit(")", 1)[1].split()[2]) == pgid:
                    return True
            except (OSError, IndexError, ValueError):
                continue
    return False


def watch_worker(proc: subprocess.Popen, t_start: float) -> tuple[bool, float]:
    """Sample the worker's memory until it exits or the deadline passes,
    then make sure its whole process group (the JVM too) has ended.
    Returns (killed at the deadline, peak RSS in MB)."""
    peak_kb, killed = 0, False
    try:
        while proc.poll() is None:
            peak_kb = max(peak_kb, _tree_rss_kb(proc.pid))
            if time.time() - t_start > DEADLINE_S:
                killed = True
                break
            time.sleep(0.2)
    finally:
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()
        while _group_alive(proc.pid):
            time.sleep(0.05)
    return killed, peak_kb / 1024


def read_events(run: Path) -> dict:
    ev: dict = defaultdict(list)
    path = run / "events.jsonl"
    if path.exists():
        for line in path.read_text().splitlines():
            try:
                rec = json.loads(line)
            except json.JSONDecodeError:
                continue  # a line cut by the deadline kill
            ev[rec.pop("kind")].append(rec)
    return ev


# ---------------------------------------------------------------------------
# checks and metrics
# ---------------------------------------------------------------------------


def calls_by_id(spec) -> dict[int, dict]:
    return {c["id"]: c for c in spec["calls"] + spec.get("writer", []) + spec.get("tail", [])
            + spec.get("compound", [])}


def layout_dir(run: Path) -> Path:
    dirs = [p for p in (run / "store_cache").iterdir() if (p / "edges" / "_SUCCESS").exists()]
    if len(dirs) != 1:
        raise RuntimeError(f"expected one store layout, found {len(dirs)}")
    return dirs[0]


def check_calls(spec, ev, raw, lay, problems) -> dict[int, bool]:
    """Call id -> answer correct, for every call that finished."""
    import workload as wl

    by_id = calls_by_id(spec)
    ok: dict[int, bool] = {}
    if spec["workload"] != "read_write_mix":
        for e in ev["end"]:
            if e["error"] is None:
                ok[e["id"]] = e["answer"] == lay.answer(by_id[e["id"]])
        return ok
    hot = [(1, v) for v in spec["hot"]]
    snaps = [lay.restricted(hot)]
    for w in spec["writer"] + spec["tail"]:
        snaps.append(snaps[-1].apply_batch(w["ops"]))
    # the worker reads the hot vertices back after the window and after the
    # traced tail; an execute is correct once a matching read covers it
    states_ok = True
    checked = 0
    for st in ev["end_state"]:
        got = wl.Model(st["edges"], st["metadata"])
        want = snaps[st["batches"]]
        if got.edge_set() != want.edge_set() or got.md != want.md:
            states_ok = False
            problems.append(f"read_write_mix state after execute {st['batches']} "
                            "differs from the LWW model")
        checked = max(checked, st["batches"])
    for e in ev["end"]:
        if e["error"] is not None:
            continue
        call = by_id[e["id"]]
        if call["op"] == "execute":
            ok[e["id"]] = states_ok and call["batch"] <= checked
        else:
            ok[e["id"]] = any(e["answer"] == snaps[k].answer(call)
                              for k in range(e["k_lo"], e["k_hi"] + 1))
    return ok


def per_layer(spec, ev, ended, ok) -> dict[str, tuple[float, str]]:
    """Per-layer numbers from the status store, the spans and the log."""
    out: dict[str, tuple[float, str]] = {}
    setup = ev["setup"][0]
    out["session.start_s"] = (setup["session_s"], "s")
    out["sources.layout_build_s"] = (setup["layout_s"], "s")
    out["warmup_s"] = (setup["warmup_s"], "s")
    ss = ev["status_store"][0] if ev["status_store"] else {"jobs": [], "stages": [], "compile_ms": [],
                                                          "tag_ms": 0.0}
    by_id = calls_by_id(spec)
    stage_by_id: dict[int, list] = defaultdict(list)  # one entry per attempt
    for s in ss["stages"]:
        stage_by_id[s["stageId"]].append(s)

    jobs_of: dict[int, list] = defaultdict(list)
    for j in ss["jobs"]:
        for tag in j["jobTags"] or []:
            if tag.startswith(TAG):
                jobs_of[int(tag[len(TAG):])].append(j)  # warm-up calls have ids < 0

    # spans: one per call, children are its Spark jobs
    spans: list[stats.Span] = []
    cls_acc: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    meth_acc: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    # the traced tail's executes run after the status store was read
    tail = {c["id"] for c in spec.get("tail", [])}
    for cid, e in ended.items():
        if cid not in ok or cid in tail:
            continue
        call = by_id[cid]
        meth = method_of(call)
        root = len(spans)
        spans.append(stats.Span(meth, e["t0"], e["t1"], cid))
        classes = set()
        for j in jobs_of.get(cid, []):
            if j["submissionTime"] is None or j["completionTime"] is None:
                continue
            spans.append(stats.Span("spark_job", j["submissionTime"] / 1000, j["completionTime"] / 1000,
                                    cid, parent=root))
            grp = j["jobGroup"] or ""
            cls = grp[len("flockdb-"):].rsplit("-", 1)[0] if grp.startswith("flockdb-") else "none"
            classes.add(cls)
            a = cls_acc[cls]
            a["jobs"] += 1
            for sid in j["stageIds"]:
                for s in stage_by_id.get(sid, []):
                    if s["status"] != "COMPLETE":
                        continue
                    a["stages"] += 1
                    a["tasks"] += s["numTasks"]
                    a["run_ms"] += s["executorRunTime"]
                    a["cpu_ms"] += s["executorCpuTime"] / 1e6
                    a["gc_ms"] += s["jvmGcTime"]
                    a["shuffle"] += s["shuffleReadBytes"] + s["shuffleWriteBytes"]
                    a["spill"] += s["memoryBytesSpilled"] + s["diskBytesSpilled"]
                    a["in_rows"] += s["inputRecords"]
                    a["in_bytes"] += s["inputBytes"]
        for cls in classes:
            cls_acc[cls]["calls"] += 1
            cls_acc[cls]["rows_out"] += rows_returned(call, e["answer"])
        wall = e["t1"] - e["t0"]
        driver = stats.self_time(spans, root)
        m = meth_acc[meth]
        m["calls"] += 1
        m["wall"] += wall
        m["driver"] += driver
        m["spark"] += wall - driver  # job time clipped to the call: parts sum to the wall
    for cls in CLASSES:
        a = cls_acc.get(cls, {})
        n = a.get("calls", 0) or 1
        out[f"classes.{cls}.jobs_per_call"] = (a.get("jobs", 0) / n, "count")
        out[f"classes.{cls}.stages_per_call"] = (a.get("stages", 0) / n, "count")
        out[f"classes.{cls}.tasks_per_call"] = (a.get("tasks", 0) / n, "count")
        out[f"exec.{cls}.run_ms_per_call"] = (a.get("run_ms", 0) / n, "ms")
        out[f"exec.{cls}.cpu_ms_per_call"] = (a.get("cpu_ms", 0) / n, "ms")
        out[f"exec.{cls}.gc_ms_per_call"] = (a.get("gc_ms", 0) / n, "ms")
        out[f"exec.{cls}.shuffle_bytes_per_call"] = (a.get("shuffle", 0) / n, "bytes")
        out[f"exec.{cls}.spill_bytes_per_call"] = (a.get("spill", 0) / n, "bytes")
        if cls != "execute":
            out[f"storage.{cls}.rows_read_per_row_returned"] = (
                a.get("in_rows", 0) / (a.get("rows_out", 0) or 1), "ratio")
            out[f"storage.{cls}.bytes_read_per_call"] = (a.get("in_bytes", 0) / n, "bytes")
    for meth in METHODS:
        m = meth_acc.get(meth, {})
        n = m.get("calls", 0) or 1
        out[f"service.{meth}.wall_ms_per_call"] = (1000 * m.get("wall", 0) / n, "ms")
        out[f"service.{meth}.driver_ms_per_call"] = (1000 * m.get("driver", 0) / n, "ms")
        out[f"service.{meth}.spark_ms_per_call"] = (1000 * m.get("spark", 0) / n, "ms")
    cms = ss["compile_ms"]
    out["plans.compiler.compile_ms"] = (statistics.median(cms) if cms else 0.0, "ms")
    out["trace.tag_ms_per_call"] = (2 * ss["tag_ms"], "ms")

    writes = {e["id"]: e for e in ended.values() if by_id[e["id"]]["op"] == "execute"}
    ex_ms = {by_id[i]["batch"]: 1000 * (e["t1"] - e["t0"]) for i, e in writes.items()}
    for k in EXECUTE_KS:
        out[f"merge.execute_ms_at_{k}"] = (ex_ms.get(k, 0.0), "ms")
    size = {r["batch"]: r["log10_bytes"] for r in ev["store_size"]}
    for k in EXECUTE_KS:
        out[f"merge.size_estimate_log10_bytes_at_{k}"] = (size.get(k) or 0.0, "log10B")
    m = meth_acc.get("execute", {})
    out["merge.driver_ms_per_execute"] = (1000 * m.get("driver", 0) / (m.get("calls", 0) or 1), "ms")

    fn = {r["name"]: r["wall_s"] for r in ev["function"]}
    for name in FUNCTION_QUERIES:
        out[f"functions.{name}_s"] = (fn.get(name, 0.0), "s")
    return out


def method_of(call) -> str:
    """The FlockService method a call lands on."""
    if call["op"] == "select_edges" and not call["fwd"]:
        return "select_edges_batch"
    return call["op"]


def rows_returned(call, answer) -> int:
    if call["op"] == "select_edges" and answer:
        return max(1, len(answer["rows"]))
    if call["op"] == "select2" and answer:
        return max(1, sum(len(p["ids"]) for p in answer))
    if call["op"] == "count2" and answer:
        return len(answer)
    return 1


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t0 = time.time()

    root = Path.cwd()
    if not (root / "flockdb_spark" / "service.py").is_file() or not (root / "bench.py").is_file():
        fail(f"run from the repository root: no flockdb_spark/ or bench.py under {root}")
    import workload as wl

    if args.workload not in wl.WORKLOADS:
        fail(f"unknown workload {args.workload!r}; choose from {', '.join(wl.WORKLOADS)}")
    sys.path.insert(0, str(root))

    import datagen

    run = root / ".perfbench" / f"run-{os.getpid()}-{time.time_ns()}"
    run.mkdir(parents=True)
    proc = None
    try:
        counts = datagen.generate(run / "data", args.seed)
        proc = start_worker(root, run, args.seconds, args.trace)
        raw = wl.raw_model(str(run / "data"))
        spec = make_spec(args.workload, args.seed, args.trace, raw)
        (run / "calls.tmp").write_text(json.dumps(spec))
        (run / "calls.tmp").rename(run / "calls.json")
        killed, peak_rss_mb = watch_worker(proc, t0)
        t_exit = time.time()
        ev = read_events(run)
        if not ev["setup"] or not ev["start"]:
            tail = (run / "worker.log").read_text()[-3000:]
            print(tail, file=sys.stderr)
            print("perfbench: the worker made no timed call", file=sys.stderr)
            sys.exit(1)
        result, details = evaluate(args, spec, ev, raw, run, killed, peak_rss_mb, counts)
        if ev["window"] and ev["done"]:
            details["after_window_s"] = {"worker": ev["done"][0]["t"] - ev["window"][0]["t_end"],
                                         "exit": t_exit - ev["done"][0]["t"],
                                         "checks": time.time() - t_exit}
    finally:
        if proc is not None and proc.returncode is None:  # failed before watching it
            watch_worker(proc, 0.0)
        shutil.rmtree(run, ignore_errors=True)
        try:
            (root / ".perfbench").rmdir()
        except OSError:
            pass
    print(json.dumps({"details": details}))
    print(json.dumps(result))


def evaluate(args, spec, ev, raw, run, killed, peak_rss_mb, counts):
    import workload as wl

    problems: list[str] = []
    lay_dir = layout_dir(run)
    lay = wl.layout_model(str(lay_dir))
    if lay.edge_set() != raw.edge_set() or lay.md != raw.md:
        problems.append("store layout differs from the fixture derivation")
    ok = check_calls(spec, ev, raw, lay, problems)
    ended = {e["id"]: e for e in ev["end"]}
    started = {s["id"] for s in ev["start"]}
    by_id = calls_by_id(spec)
    unstarted = len([w for w in spec.get("writer", []) + spec.get("tail", [])
                     if w["id"] not in started])
    unfinished = len(started - set(ended))
    errored = sum(1 for e in ended.values() if e["error"] is not None)
    wrong = sum(1 for v in ok.values() if not v)
    attempted = len(started) + unstarted
    failed = wrong + errored + unfinished + unstarted
    failed_frac = stats.failure_share(attempted, wrong, errored, unfinished, unstarted)
    checks_ran = bool(ev["window"]) and (
        spec["workload"] != "read_write_mix"
        or len(ev["end_state"]) == 1 + bool(spec["tail"]))
    correct = wrong == 0 and errored == 0 and not problems and checks_ran

    win = ev["window"][0] if ev["window"] else {"t_first": min(s["t0"] for s in ended.values()),
                                                "t_end": time.time()}
    span = max(win["t_end"] - win["t_first"], 1e-9)
    # the measured window: the mix and the writer, not the traced extras
    in_window = {c["id"] for c in spec["calls"] + spec.get("writer", [])}
    good = [e for i, e in ended.items() if ok.get(i) and i in in_window]
    reads = [1000 * (e["t1"] - e["t0"]) for e in good if by_id[e["id"]]["op"] != "execute"]
    writes = [1000 * (e["t1"] - e["t0"]) for e in good if by_id[e["id"]]["op"] == "execute"]
    q50, p50, n_reads = stats.tail_percentile(reads, 50) if reads else (50, 0.0, 0)
    q95, p95, _ = stats.tail_percentile(reads, 95) if reads else (95, 0.0, 0)
    layout_bytes = sum(f.stat().st_size for f in lay_dir.rglob("*.parquet"))
    n_edges = len(raw.edge_set())
    details = {
        "workload": spec["workload"], "seed": args.seed, "trace": args.trace,
        "read_p50_percentile": q50, "read_p95_percentile": q95, "read_samples": n_reads,
        "failed_frac": failed_frac,
        "failures": {"wrong": wrong, "errored": errored, "unfinished": unfinished,
                     "unstarted": unstarted, "killed_at_deadline": killed},
        "problems": problems,
        "edges": n_edges, "layout_bytes": layout_bytes, "tables": counts,
        "window_s": span,
        "calibration": [e for k in ("calibration_start", "calibration_end") for e in ev[k]],
        "errors": sorted({e["error"] for e in ended.values() if e["error"]})[:5],
    }
    if writes:
        n_ops = sum(len(by_id[e["id"]]["ops"]) for e in good if by_id[e["id"]]["op"] == "execute")
        details["write_p50_ms"] = statistics.median(writes)
        details["write_ops_per_s"] = n_ops / (sum(writes) / 1000)
    if ev["function"]:
        details["functions"] = {r["name"]: r["problems"] for r in ev["function"]}
        if any(r["problems"] for r in ev["function"]):
            correct = False
    metrics = {
        "setup_s": {"value": ev["setup"][0]["setup_s"], "unit": "s"},
        "store_bytes_per_edge": {"value": layout_bytes / n_edges, "unit": "bytes"},
        "read_p50_ms": {"value": p50, "unit": "ms"},
        "read_p95_ms": {"value": p95, "unit": "ms"},
        "calls_per_s": {"value": len(good) / span, "unit": "1/s"},
        "goodput_per_s": {"value": sum(1 for e in good if e["t1"] - e["t0"] <= GOOD_S) / span,
                          "unit": "1/s"},
        "peak_rss_mb": {"value": peak_rss_mb, "unit": "MB"},
    }
    if args.trace:
        # the same numbers under tracing: their distance from an untraced
        # run's is the tracing overhead
        details["end_to_end_traced"] = {k: v["value"] for k, v in metrics.items()}
        layers = per_layer(spec, ev, ended, ok)
        layers["service.failed_frac"] = (details["failed_frac"], "ratio")
        layers["merge.write_p50_ms"] = (details.get("write_p50_ms", 0.0), "ms")
        layers["merge.write_ops_per_s"] = (details.get("write_ops_per_s", 0.0), "1/s")
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in layers.items()}
    result = {"correct": correct, "attempted": attempted, "failed": failed,
              "metrics": metrics}
    return result, details


if __name__ == "__main__":
    main()
