"""Benchmark for KG construction and the operator families.

One run:

    python3 perfbench/run.py --workload kg --seed 3 --seconds 10 --trace 0

builds its inputs from the seed (untimed), starts a Spark session sized
from the host, reads the inputs and warms up (``setup_s``), runs the
workload's body in a closed loop until ``--seconds`` have passed, checks
every output against an independent reference (untimed), and prints as
its last line one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics`` — the end-to-end metrics with ``--trace 0``, the
per-layer metrics of a separate traced pass with ``--trace 1``. A wrong
output makes the exit code 1. Lines before it give every metric by
name and unit, and one ``PERFBENCH {...}`` line with the full record.

    python3 perfbench/run.py --all --seed 1 --seconds 10
    python3 perfbench/run.py --selfcheck

``--all`` runs every workload, traced and untraced, and prints one
table; ``--selfcheck`` runs each workload at a tiny size and checks the
benchmark itself (README.md). Everything the benchmark writes stays
under ``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "tabular_data_semantics_py_spark"
STATE = os.path.join(ROOT, ".perfbench")

E2E_UNITS = {"setup_s": "s", "wall_s": "s", "main_s": "s", "control_s": "s",
             "peak_rss_mb": "MB"}


# ---------------------------------------------------------------------
# host


def host_sizing() -> dict:
    """Cores from the affinity mask; the Spark driver heap is a fifth of the
    memory limit (cgroup limit or MemTotal, whichever is lower), 1-4 GB."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem = next(int(line.split()[1]) * 1024 for line in f
                   if line.startswith("MemTotal:"))
    for path in ("/sys/fs/cgroup/memory.max",
                 "/sys/fs/cgroup/memory/memory.limit_in_bytes"):
        try:
            with open(path) as f:
                mem = min(mem, int(f.read().strip()))
        except (OSError, ValueError):
            continue
    heap_gb = max(1, min(4, mem // 5 // 2**30))
    return {"nproc": cpus, "mem_limit_mb": mem // 2**20,
            "driver_mem": f"{heap_gb}g"}


class RssSampler(threading.Thread):
    """Samples the memory of this process's tree (this process, the JVM,
    the Python workers) every ``interval`` seconds: the tree's total and the
    largest single Python worker's resident size. Forked workers share
    pages with their daemon, so Python workers count with their
    proportional set size in the total; the JVM and this process, which
    share nothing, count with their resident size (cheap to read)."""

    def __init__(self, interval: float = 0.25):
        super().__init__(daemon=True)
        self.interval = interval
        self.samples: list[tuple[float, float, float]] = []  # t, total, worker max
        self._halt = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._pids: list[int] = []

    def _tree(self) -> list[int]:
        kids: dict[int, list[int]] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                kids.setdefault(self._ppid(int(d)), []).append(int(d))
            except (OSError, IndexError, ValueError):
                continue
        out, todo = [], [os.getpid()]
        while todo:
            p = todo.pop()
            out.append(p)
            todo.extend(kids.get(p, []))
        return out

    def _sample(self) -> None:
        if not self.samples or len(self.samples) % 10 == 0:
            self._pids = self._tree()
        total = worker = 0.0
        me = os.getpid()
        for pid in self._pids:
            try:
                with open(f"/proc/{pid}/cmdline", "rb") as f:
                    cmd = f.read()
                if b"pyspark.daemon" in cmd or b"pyspark.worker" in cmd:
                    with open(f"/proc/{pid}/smaps_rollup") as f:
                        kb = {line.split(":")[0]: int(line.split()[1]) for line in f
                              if line.startswith(("Rss:", "Pss:"))}
                    total += kb["Pss"] / 1e3
                    worker = max(worker, kb["Rss"] / 1e3)
                elif pid == me or (b"java" in cmd.split(b"\0")[0]
                                   and self._ppid(pid) == me):
                    # this process and the JVM it launched; helpers the JVM
                    # forks share its memory until they exec
                    with open(f"/proc/{pid}/statm") as f:
                        total += int(f.read().split()[1]) * self._page / 1e6
            except (OSError, IndexError, KeyError, ValueError):
                continue
        self.samples.append((time.time(), total, worker))

    @staticmethod
    def cpu_times() -> dict:
        """Host-wide CPU seconds by kind since boot (/proc/stat)."""
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:9]]
        hz = os.sysconf("SC_CLK_TCK")
        return {"busy": (v[0] + v[1] + v[2] + v[5] + v[6]) / hz,
                "idle": v[3] / hz, "iowait": v[4] / hz, "steal": v[7] / hz}

    @staticmethod
    def _ppid(pid: int) -> int:
        with open(f"/proc/{pid}/stat") as f:
            return int(f.read().rsplit(")", 1)[1].split()[1])

    def run(self) -> None:
        while not self._halt.is_set():
            self._sample()
            self._halt.wait(self.interval)

    def stop(self) -> None:
        self._halt.set()
        if self.is_alive():
            self.join()

    def peak(self, lo: float, hi: float, worker: bool = False) -> float:
        vals = [s[2 if worker else 1] for s in self.samples if lo <= s[0] <= hi]
        return max(vals, default=0.0)


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


# ---------------------------------------------------------------------
# one run


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _metric(value, unit, n=1):
    return {"value": value, "unit": unit, "n": n}


def run_one(args) -> int:
    host = host_sizing()
    work = os.path.join(STATE, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    cache = os.path.join(STATE, "cache")
    tmp = os.path.join(STATE, "tmp")
    for d in (work, cache, tmp):
        os.makedirs(d, exist_ok=True)
    # session sizing and every scratch path, through the overrides
    # session.get_spark and the program already read
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(host["nproc"]),
        "SPARK_DRIVER_MEM": host["driver_mem"],
        "SPARK_GRAFT_LOCAL_DIR": os.path.join(work, "spark"),
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp}",
    })
    os.environ.pop("SPARK_MASTER", None)
    if args.trace:
        os.environ["SPARK_GRAFT_EVENTLOG_DIR"] = os.path.join(work, "eventlog")
    else:
        os.environ.pop("SPARK_GRAFT_EVENTLOG_DIR", None)
    import tabular_data_semantics_py_spark as pkg

    if not os.path.abspath(pkg.__file__).startswith(ROOT + os.sep):
        print(f"perfbench: {PACKAGE} resolved outside {ROOT}", file=sys.stderr)
        return 2
    from spans import Tracer
    from workloads import WORKLOADS, OpLog, engine_warmup

    from tabular_data_semantics_py_spark.session import get_spark

    wl = WORKLOADS[args.workload](args.seed, args.tiny, work, cache)
    spark = None
    sampler = RssSampler()
    try:
        t = time.perf_counter()
        inputs = wl.prepare()
        prepare_s = time.perf_counter() - t
        sampler.start()
        tracer = Tracer(f"{args.workload}-{args.seed}-{os.getpid()}")
        wl.tracer = tracer if args.trace else None
        t0 = time.perf_counter()
        with tracer.span("session.get_spark") as sess_span:
            spark = get_spark(app_name=f"perfbench-{args.workload}")
        spark.sparkContext.setLogLevel("ERROR")
        tracer.enabled = False
        t1 = time.perf_counter()
        wl.load(spark)
        t2 = time.perf_counter()
        engine_warmup(spark, os.path.join(work, "warm"))
        setup_s = time.perf_counter() - t0
        setup_parts = {"session_s": t1 - t0, "inputs_s": t2 - t1,
                       "warmup_s": t0 + setup_s - t2}
        ops = OpLog()
        record = {"workload": args.workload, "seed": args.seed, "host": host,
                  "inputs": inputs, "prepare_s": prepare_s, "setup_s": setup_s,
                  "setup_parts": setup_parts,
                  "closed_loop": "one driver thread; next operation after the "
                                 "previous returns"}
        if args.trace:
            result = traced_pass(spark, wl, ops, tracer, sampler, sess_span,
                                 record)
        else:
            result = timed_pass(spark, wl, ops, sampler, args.seconds, record)
        if args.corrupt:
            record["corrupted"] = wl.corrupt(0)
        quality = {}
        t = time.perf_counter()
        for k in result["iterations"]:
            quality.update(wl.check(k, ops))
        record["check_s"] = time.perf_counter() - t
        stop_spark(spark)
        spark = None
        sampler.stop()
        if args.trace:
            finish_trace(wl, tracer, sampler, record, result)
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    record["quality"] = quality
    record["attempted"], record["failed"] = ops.attempted, ops.failed
    record["failures"] = ops.notes
    if not args.trace:
        named = record["named"] = named_metrics(wl, record, result, quality, ops,
                                                sampler)
        for name, m in named.items():
            print(f"metric {args.workload} {name} = {m['value']:.6g} {m['unit']}"
                  f" (n={m['n']})")
        metrics = {k: {"value": named[k]["value"], "unit": u}
                   for k, u in E2E_UNITS.items()}
    else:
        metrics = record["per_layer"]
    for note in ops.notes:
        print(f"FAILED {note}")
    print("PERFBENCH " + json.dumps(record, default=str))
    correct = ops.failed == 0
    print(json.dumps({"correct": correct, "attempted": ops.attempted,
                      "failed": ops.failed, "metrics": metrics}))
    return 0 if correct else 1


def timed_pass(spark, wl, ops, sampler, seconds, record) -> dict:
    """The closed loop: iterations of the workload body until
    ``seconds`` have passed (at least one)."""
    its = {}
    lo = time.time()
    cpu0 = sampler.cpu_times()
    t_end = time.perf_counter() + seconds
    k = 0
    while True:
        rec = wl.iteration(spark, k, ops)
        rec["wall_s"] = rec["main_s"] + rec["control_s"]
        its[k] = rec
        k += 1
        if time.perf_counter() >= t_end:
            break
    record["iterations"] = its
    cpu1 = sampler.cpu_times()
    # host CPU seconds over the timed window: steal is time the
    # hypervisor gave this machine's CPUs to others
    record["host_cpu_s"] = {k: cpu1[k] - cpu0[k] for k in cpu0}
    return {"iterations": its, "window": (lo, time.time())}


def named_metrics(wl, record, result, quality, ops, sampler) -> dict:
    """Every end-to-end metric by name, with unit and sample count:
    ``setup_s``, the medians of every phase time the iterations
    recorded (``main_s``/``control_s`` are the names BENCHMARK.json
    lists; the others name the same time per family), and the rest."""
    its = list(result["iterations"].values())
    n = len(its)
    out = {"setup_s": _metric(record["setup_s"], "s")}
    for key in its[0]:
        if key.endswith("_s"):
            out[key] = _metric(_median([i[key] for i in its]), "s", n)
    if wl.name == "kg":
        out["triples_per_s"] = _metric(
            _median([i["triples"] / i["fused_s"] for i in its]), "1/s", n)
        out["kg_min_pr"] = _metric(quality.get("kg_min_pr", 0.0), "ratio", n)
    lo, hi = result["window"]
    out["peak_rss_mb"] = _metric(sampler.peak(lo, hi), "MB", n)
    out["error_rate"] = _metric(ops.failed / max(ops.attempted, 1), "ratio",
                                ops.attempted)
    return out


# ---------------------------------------------------------------------
# traced pass


def traced_pass(spark, wl, ops, tracer, sampler, sess_span, record) -> dict:
    """Iteration 0 with every layer call in a span — the iteration the
    untraced runs time, in the same state — plus, for ``kg``, the stages
    called one at a time. Then the tracing overhead: the main phase once
    untraced and once traced."""
    tracer.patch()
    try:
        tracer.enabled = True
        with tracer.span("run") as root:
            wl.iteration(spark, 0, ops)
            wl.traced_extra(spark, ops)
        tracer.enabled = False
        t = time.perf_counter()
        wl.iteration(spark, 1, ops, probe=True)
        untraced = time.perf_counter() - t
        tracer.enabled = True
        with tracer.span("overhead"):
            t = time.perf_counter()
            wl.iteration(spark, 2, ops, probe=True)
            traced = time.perf_counter() - t
    finally:
        tracer.enabled = False
        tracer.unpatch()
    record["untraced_main_s"], record["traced_main_s"] = untraced, traced
    return {"iterations": {0: None, 1: None, 2: None}, "root": root,
            "session": sess_span, "traced_s": traced, "untraced_s": untraced}


def finish_trace(wl, tracer, sampler, record, result) -> None:
    from spans import (
        REPORTED_SPANS, read_eventlog, rollup, stage_stats, window_stats)

    from tabular_data_semantics_py_spark.plans.pipeline import STAGES

    evt = os.environ["SPARK_GRAFT_EVENTLOG_DIR"]
    jobs, tasks = read_eventlog(evt)
    root = result["root"]

    def subtree(roots: list[dict]) -> list[dict]:
        ids = {s["id"] for s in roots}
        out = list(roots)
        changed = True
        while changed:
            changed = False
            for s in tracer.spans:
                if s["parent"] in ids and s["id"] not in ids:
                    ids.add(s["id"])
                    out.append(s)
                    changed = True
        return out

    spans = subtree([root])  # the traced iteration (and staged pass) only

    def segment(root_name):
        sub = subtree([s for s in spans if s["name"] == root_name])
        roots = [s for s in sub if s["name"] == root_name]
        wall = sum(s["end"] - s["start"] for s in roots)
        task = sum(window_stats(jobs, tasks, s["start"], s["end"])["task_s"]
                   for s in roots)
        return rollup(sub, jobs, tasks), wall, task, roots

    run_win = window_stats(jobs, tasks, root["start"], root["end"])
    in_run = [t for t in tasks
              if root["start"] <= jobs[t["job"]]["start"] <= root["end"]]
    layers, seg_of = {}, {}
    if wl.name == "kg":
        fused, fw, ft, froots = segment("phase.fused")
        staged, sw, st, _ = segment("phase.staged")
        ckpt, cw, ct, croots = segment("phase.checkpoint")
        for name, rec in fused.items():
            layers[name], seg_of[name] = rec, (fw, ft)
        for name in ("closure.build_closure", "csv_cells.parse_cells",
                     "candidates.generate_candidates",
                     "types_cascade.build_entity_types", "annotate.cea",
                     "annotate.cta", "annotate.cpa", "emit.emit_triples"):
            if name in staged:
                layers[name], seg_of[name] = staged[name], (sw, st)
        runs = [s for s in subtree(froots) if s["name"] == "pipeline.run_pipeline"]
        pwin = (window_stats(jobs, tasks, runs[0]["start"], runs[0]["end"])
                if runs else None)
        record["pipeline"] = {
            "fused_wall_s": fw, "staged_wall_s": sw, "checkpoint_wall_s": cw,
            "driver_gap_s": pwin["driver_gap_s"] if pwin else 0.0,
            "tds_fused": stage_stats(jobs, tasks, froots[0]["start"], froots[0]["end"]),
            "tds_checkpoint": stage_stats(jobs, tasks, croots[0]["start"],
                                          croots[0]["end"]),
            "checkpoint_layers": ckpt,
            "staged_self_s_sum": sum(r["s"] for n, r in staged.items()
                                     if not n.startswith(("_", "phase."))),
        }
        c = getattr(wl, "staged_counts", {})
        record["pipeline"]["cand_per_mention"] = (
            c["candidates"] / c["mentions"] if c.get("mentions") else 0.0)
    else:
        whole, w, t, _ = segment("run")
        for name, rec in whole.items():
            layers[name], seg_of[name] = rec, (w, t)
        record["phases"] = {ph: segment(f"phase.{ph}")[0] for ph in wl.PHASES}
    sess = result["session"]
    layers["session.get_spark"] = {"s": sess["end"] - sess["start"], "calls": 1}
    record["layers"] = layers
    record["spans"] = spans
    # jobs of the traced body that ran on a thread with no open span
    record["unattributed_jobs"] = sum(
        1 for j in jobs.values()
        if j["group"] is None and root["start"] <= j["start"] <= root["end"])

    m = {}

    def put(name, value, unit):
        m[name] = {"value": value, "unit": unit}

    put("session.get_spark.s", layers["session.get_spark"]["s"], "s")
    put("run.wall_s", root["end"] - root["start"], "s")
    put("trace.untraced_main_s", result["untraced_s"], "s")
    put("trace.traced_main_s", result["traced_s"], "s")
    put("trace.overhead_s", result["traced_s"] - result["untraced_s"], "s")
    put("run.jobs", run_win["jobs"], "count")
    put("run.task_s", run_win["task_s"], "s")
    put("run.driver_gap_s", run_win["driver_gap_s"], "s")
    put("run.shuffle_mb", sum(t["shuffle_write"] for t in in_run) / 1e6, "MB")
    put("run.spill_mb", sum(t["spill"] for t in in_run) / 1e6, "MB")
    put("run.failed_tasks", sum(1 for t in in_run if t["failed"]), "count")
    put("run.unattributed_jobs", record["unattributed_jobs"], "count")
    for name in REPORTED_SPANS:
        if name == "session.get_spark":
            continue
        rec = layers.get(name, {})
        wall, task = seg_of.get(name, (0.0, 0.0))
        put(f"{name}.self_pct", 100 * rec.get("s", 0.0) / wall if wall else 0.0, "%")
        put(f"{name}.task_pct",
            100 * rec.get("task_s", 0.0) / task if task else 0.0, "%")
        put(f"{name}.jobs", rec.get("jobs", 0), "count")
        put(f"{name}.shuffle_mb", rec.get("shuffle_mb", 0.0), "MB")
        put(f"{name}.task_skew", rec.get("task_skew", 0.0), "ratio")
    p = record.get("pipeline", {})
    fw = p.get("fused_wall_s", 0.0)
    put("pipeline.driver_gap_pct", 100 * p["driver_gap_s"] / fw if fw else 0.0, "%")
    put("candidates.cand_per_mention", p.get("cand_per_mention", 0.0), "ratio")
    put("components.rounds", layers.get("components.connected_components", {})
        .get("rounds", 0), "count")
    sim = [s for s in spans if s["name"].startswith("similarity.")]
    put("similarity.worker_peak_rss_mb",
        max((sampler.peak(s["start"], s["end"], worker=True) for s in sim),
            default=0.0), "MB")
    for stage in STAGES:
        put(f"tds.{stage}.jobs", p.get("tds_fused", {}).get(stage, {}).get("jobs", 0),
            "count")
    record["per_layer"] = m


# ---------------------------------------------------------------------
# several runs


def _sub(args_list: list[str]) -> tuple[int, dict | None, dict | None]:
    """Run this script with ``args_list``; → (exit code, result line,
    PERFBENCH record)."""
    p = subprocess.run([sys.executable, os.path.abspath(__file__), *args_list],
                       cwd=ROOT, capture_output=True, text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    rec = next((json.loads(x[len("PERFBENCH "):]) for x in lines
                if x.startswith("PERFBENCH ")), None)
    try:
        res = json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        res = None
    if p.returncode not in (0, 1):
        sys.stderr.write(p.stderr[-4000:])
    return p.returncode, res, rec


def run_all(args) -> int:
    from workloads import WORKLOADS

    rc = 0
    for name in WORKLOADS:
        for trace in (0, 1):
            code, res, rec = _sub(["--workload", name, "--seed", str(args.seed),
                                   "--seconds", str(args.seconds),
                                   "--trace", str(trace)])
            rc = rc or code
            if rec is None:
                print(f"{name} trace={trace}: no result (exit {code})")
                continue
            if trace == 0:
                for metric, m in rec["named"].items():
                    print(f"{name:10s} {metric:16s} {m['value']:14.6g} "
                          f"{m['unit']:6s} n={m['n']}")
            else:
                for metric, m in res["metrics"].items():
                    if m["value"]:
                        print(f"{name:10s} {metric:48s} {m['value']:14.6g} "
                              f"{m['unit']}")
    return rc


SELFCHECK_SHARE = 0.5


def selfcheck(args) -> int:
    """Tiny-size checks of the benchmark itself."""
    from workloads import WORKLOADS

    problems = []
    base = ["--seed", "1", "--seconds", "1", "--tiny"]
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
    for name in WORKLOADS:
        code, res, rec = _sub(["--workload", name, "--trace", "0", *base])
        if code != 0 or not res or not res["correct"]:
            problems.append(f"{name}: clean tiny run failed (exit {code})")
        elif {k: v["unit"] for k, v in res["metrics"].items()} != e2e:
            problems.append(f"{name}: end-to-end metrics differ from BENCHMARK.json")
        elif any("unit" not in m for m in rec["named"].values()):
            problems.append(f"{name}: a named metric has no unit")
        code, res, rec = _sub(["--workload", name, "--trace", "0", "--corrupt",
                               *base])
        caught = rec is not None and all(
            any(n.startswith(label + ":") for n in rec["failures"])
            for label in rec["corrupted"])
        if code != 1 or not res or res["correct"] or not caught:
            problems.append(f"{name}: a corrupted output was not caught")
        print(f"selfcheck {name}: clean and corrupted runs done", flush=True)
    code, res, rec = _sub(["--workload", "kg", "--trace", "1", *base])
    if code != 0 or not res:
        problems.append(f"kg: traced tiny run failed (exit {code})")
    else:
        if {k: v["unit"] for k, v in res["metrics"].items()} != layer:
            problems.append("kg: per-layer metrics differ from BENCHMARK.json")
        p = rec["pipeline"]
        share = abs(p["staged_self_s_sum"] - p["fused_wall_s"]) / p["fused_wall_s"]
        print(f"selfcheck kg: staged stage self times sum to "
              f"{p['staged_self_s_sum']:.2f} s against a fused run_pipeline of "
              f"{p['fused_wall_s']:.2f} s (off by {share:.0%}, allowed "
              f"{SELFCHECK_SHARE:.0%})")
        if share > SELFCHECK_SHARE:
            problems.append("kg: staged stage times do not add up to the fused wall")
    # the chunked KG gold against the whole-corpus gold, on three chunks
    from workloads import KG, build_gold, make_corpus

    corpus = make_corpus(n_tables=3 * KG.GOLD_CHUNK, entities_per_class=30, seed=1)
    whole, parts = build_gold(corpus), KG.gold_parts(corpus)
    for kind in ("cells", "cea", "cta", "cpa", "triples"):
        if sorted(x for p_ in parts for x in getattr(p_, kind)) != \
                sorted(getattr(whole, kind)):
            problems.append(f"kg: the gold built by chunks differs in {kind}")
    print("selfcheck kg: gold built by chunks compared with the whole-corpus gold")
    for p_ in problems:
        print("SELFCHECK FAILED " + p_)
    print("selfcheck " + ("passed" if not problems else "failed"))
    return 1 if problems else 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--all", action="store_true")
    ap.add_argument("--selfcheck", action="store_true")
    ap.add_argument("--tiny", action="store_true", help=argparse.SUPPRESS)
    ap.add_argument("--corrupt", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: the program ({PACKAGE}/) is not in {ROOT}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    sys.path.insert(0, ROOT)
    if args.selfcheck:
        return selfcheck(args)
    if args.all:
        return run_all(args)
    if args.workload is None:
        ap.error("--workload, --all or --selfcheck is required")
    return run_one(args)


if __name__ == "__main__":
    sys.exit(main())
