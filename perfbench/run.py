"""Engine benchmark: closed-loop workloads, end-to-end metrics and a traced
per-layer split.

Run from the repository root:

    python3 perfbench/run.py --workload relational --seed 1 --seconds 5 --trace 0
    python3 perfbench/run.py --workload all          # every workload in turn

Load shape: one driver process and one client; operations run one after
another (closed loop) in a ``local[<cpus>]`` session whose driver heap is
sized from MemTotal or the cgroup limit. The run sets up once (registry
import, JVM launch and session start, one untimed warm-up pass), runs at
least one more untimed pass and more until ``WARM_S`` of passes have run,
then timed passes for ``--seconds``, then checks every output in an untimed
pass: DuckDB oracle value hashes, pinned hashes for rows-only queries (a
mismatch prints the full computed hash, to re-pin in ``pins.json``), and
each stream maintainer's final state against its batch builder.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` runs its session
with a Spark event log and alternates untraced passes with traced ones
(spans around every call into the engine, job groups per phase) for twice
``--seconds`` and at least four passes, prints the per-layer metrics and
writes the spans to
``.bench_build/perfbench/trace-<workload>-<seed>.json``. Its tracing
overhead compares passes within that session, so it leaves out the cost of
the event log, which every pass of the session pays.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``; the run exits 1 when
any output is wrong and 2 when the engine is missing.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import tempfile
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
PINS = os.path.join(HERE, "pins.json")
CODEC_IMAGES = 48
WARM_S = 20.0


def _metric_units() -> dict[str, dict[str, str]]:
    """Metric names and units, as BENCHMARK.json declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {k: {m["name"]: m["unit"] for m in spec[k]} for k in ("end_to_end", "per_layer")}


def box() -> tuple[int, str]:
    """Cores this process may use, and a driver heap of 40% of the smaller
    of MemTotal and the cgroup memory limit (1 to 24 GiB): local mode runs
    driver and executors in one JVM, and the rest is left to the Python
    workers and the page cache."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        mem = next(int(line.split()[1]) * 1024 for line in fh if line.startswith("MemTotal"))
    for path in ("/sys/fs/cgroup/memory.max", "/sys/fs/cgroup/memory/memory.limit_in_bytes"):
        try:
            with open(path) as fh:
                mem = min(mem, int(fh.read().strip()))
        except (OSError, ValueError):
            pass
    return cpus, f"{max(1, min(24, int(mem * 0.4 / 2**30)))}g"


def cpu_steal_ticks() -> tuple[int, int]:
    """Ticks the hypervisor took from this machine's CPUs, and all ticks,
    from /proc/stat: a run whose timed passes lost CPU to other guests
    shows it here."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def tree_rss_bytes() -> int:
    """Resident bytes of every descendant of this process: the JVM and the
    Python daemon and workers it forks."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    total, todo = 0, list(children.get(os.getpid(), []))
    page = os.sysconf("SC_PAGE_SIZE")
    while todo:
        pid = todo.pop()
        todo += children.get(pid, [])
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            pass
    return total


class RssSampler:
    """Samples ``tree_rss_bytes`` every 100 ms on a thread; keeps the peak."""

    def __init__(self) -> None:
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            self.peak = max(self.peak, tree_rss_bytes())
            if self._stop.wait(0.1):
                return

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


class Tracer:
    """Spans kept in memory (name, start, end, parent, trace id) and written
    out when the run ends."""

    def __init__(self) -> None:
        self.spans: list[dict] = []

    def span(self, name: str, trace_id: str, parent: int | None, start: float, end: float, **attrs) -> int:
        sid = len(self.spans)
        self.spans.append({
            "id": sid, "name": name, "trace_id": trace_id, "parent": parent,
            "start": start, "end": end, **attrs,
        })
        return sid


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def _quantile(xs: list[float], q: int) -> float:
    if len(xs) < 2:
        return xs[0] if xs else 0.0
    return statistics.quantiles(xs, n=100, method="inclusive")[q - 1]


class Bench:
    def __init__(self, workload: str, seed: int, seconds: float, trace: bool) -> None:
        self.name, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.cpus, self.heap = box()
        self.master = f"local[{self.cpus}]"
        self.work = os.path.join(BUILD, f"{workload}-{os.getpid()}")
        self.spark = None
        self.rng = random.Random(seed)
        self.tracer = Tracer()
        self.failures: list[str] = []
        self.attempted = 0

    # -- session -----------------------------------------------------------

    def prepare_dirs(self) -> None:
        """Keep every file the run writes (Python and JVM temp files, Spark
        local dirs, JVM perf data) under the run's own work directory."""
        shutil.rmtree(self.work, ignore_errors=True)
        for d in ("tmp", "local", "events"):
            os.makedirs(os.path.join(self.work, d))
        tmp = os.path.join(self.work, "tmp")
        os.environ["TMPDIR"] = tempfile.tempdir = tmp
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "local")
        os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"

    def start_session(self, event_log: str | None = None) -> float:
        """Start the engine's session sized to the box; returns its seconds."""
        from big_data_medical_analysis_spark.session import get_spark

        conf = {
            "spark.driver.memory": self.heap,
            "spark.sql.warehouse.dir": f"{self.work}/warehouse",
            "spark.sql.shuffle.partitions": str(2 * self.cpus),
            "spark.ui.showConsoleProgress": "false",
        }
        if event_log:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": event_log,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        t0 = time.perf_counter()
        self.spark = get_spark("perfbench", master=self.master, extra_conf=conf)
        self.spark.range(1).count()
        return time.perf_counter() - t0

    # -- passes ------------------------------------------------------------

    def run_pass(self, pass_id: str | None = None) -> tuple[float, list[dict]]:
        """One pass over the workload's operations in seed order. With a
        ``pass_id`` the pass is traced: job groups per phase, spans, job
        counts and pinned-checkpoint storage after each operation."""
        ops = self.wl.pass_order(self.rng)
        self.wl.reset()
        sc = self.spark.sparkContext
        records: list[dict] = []
        t_pass = time.perf_counter()
        pass_span = None
        if pass_id is not None:
            trace_id = f"{self.name}-{self.seed}-{pass_id}"
            pass_span = self.tracer.span("pass", trace_id, None, time.time(), 0.0)
        for i, op in enumerate(ops):
            rec = {"op": op.name, "kind": op.kind, "ok": True}
            phase2 = "fold" if op.kind == "fold" else "exec"
            t0 = time.perf_counter()
            w0 = time.time()
            try:
                if pass_id is not None:
                    sc.setJobGroup(f"{pass_id}|{i}|build", op.name)
                df = op.build(self.spark)
                t1 = time.perf_counter()
                if op.kind == "query":
                    # Optimize and plan now; ``execute`` runs this plan.
                    df._jdf.queryExecution().executedPlan()
                t2 = time.perf_counter()
                if pass_id is not None:
                    sc.setJobGroup(f"{pass_id}|{i}|{phase2}", op.name)
                op.execute(df)
                t3 = time.perf_counter()
                del df
            except Exception:
                traceback.print_exc(file=sys.stderr)
                rec["ok"] = False
                self.failures.append(f"{op.name}: raised")
                t1 = t2 = t3 = time.perf_counter()
            rec.update(dur=t3 - t0, build=t1 - t0, plan=t2 - t1, exec=t3 - t2)
            self.attempted += 1
            if pass_id is not None:
                sc.setJobGroup(None, None)
                self.trace_op(pass_id, pass_span, i, op, rec, w0)
            records.append(rec)
        wall = time.perf_counter() - t_pass
        if pass_span is not None:
            self.tracer.spans[pass_span]["end"] = self.tracer.spans[pass_span]["start"] + wall
        return wall, records

    def trace_op(self, pass_id: str, pass_span: int, i: int, op, rec: dict, w0: float) -> None:
        import workloads

        tracker = self.spark.sparkContext._jsc.sc().statusTracker()
        phase2 = "fold" if op.kind == "fold" else "exec"
        for phase in ("build", phase2):
            jobs = stages = tasks = 0
            for jid in tracker.getJobIdsForGroup(f"{pass_id}|{i}|{phase}"):
                jobs += 1
                info = tracker.getJobInfo(jid)
                if info.isEmpty():
                    continue
                for sid in info.get().stageIds():
                    st = tracker.getStageInfo(sid)
                    if not st.isEmpty():
                        stages += 1
                        tasks += st.get().numTasks()
            rec[f"{phase}_jobs"], rec[f"{phase}_stages"], rec[f"{phase}_tasks"] = jobs, stages, tasks
        infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        rec["pinned_rdds"] = len(infos)
        rec["pinned_mb"] = sum(r.memSize() + r.diskSize() for r in infos) / 2**20
        if op.kind == "fold":
            rec["written_bytes"] = workloads.tree_bytes(op.output)
            rec["input_bytes"] = op.input_bytes
        trace_id = self.tracer.spans[pass_span]["trace_id"]
        op_span = self.tracer.span(
            "operation", trace_id, pass_span, w0, w0 + rec["dur"], op=op.name, ok=rec["ok"],
        )
        t = w0
        phases = [("build", rec["build"])]
        phases += [("plan", rec["plan"]), ("exec", rec["exec"])] if op.kind == "query" else [("fold", rec["exec"])]
        for name, d in phases:
            self.tracer.span(name, trace_id, op_span, t, t + d)
            t += d

    def timed_window(self) -> tuple[dict[bool, list[float]], list[dict], int]:
        """Timed passes for ``--seconds``. A traced run takes twice as long
        and at least four passes, untraced and traced in the order U T T U,
        so that the tracing overhead is measured within one session and
        without a bias from pass position; pass walls are keyed by traced."""
        walls: dict[bool, list[float]] = {False: [], True: []}
        records: list[dict] = []
        min_passes, seconds = (4, 2 * self.seconds) if self.trace else (1, self.seconds)
        steal0 = cpu_steal_ticks()
        with RssSampler() as rss:
            start = time.perf_counter()
            k = 0
            while k < min_passes or time.perf_counter() - start < seconds:
                pid = f"p{k}" if self.trace and k % 4 in (1, 2) else None
                wall, recs = self.run_pass(pid)
                walls[pid is not None].append(wall)
                records += [dict(r, pass_id=pid) for r in recs]
                k += 1
        steal1 = cpu_steal_ticks()
        self.steal_pct = 100 * (steal1[0] - steal0[0]) / max(steal1[1] - steal0[1], 1)
        return walls, records, rss.peak

    def heap_live_mb(self) -> float:
        """JVM heap still in use after full collections: what the session
        retains once the passes are done (pinned checkpoints, broadcast and
        cached blocks, plan caches). Read from the old generation's usage
        right after a collection, which after a full collection holds every
        live object and nothing allocated since. Several collections, and the
        smallest reading: a collection lets Spark's ContextCleaner drop the
        blocks of unreferenced RDDs, on its own thread, and a later one
        reclaims them."""
        gc.collect()  # drop Python handles so the JVM's cleaner can free their RDDs
        jvm = self.spark.sparkContext._jvm
        pools = [
            p for p in jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans()
            if p.getType().toString() == "Heap memory" and ("Old" in p.getName() or "Tenured" in p.getName())
        ]
        live = []
        for _ in range(4):
            jvm.System.gc()
            time.sleep(0.25)
            live.append(sum(p.getCollectionUsage().getUsed() for p in pools))
        return min(live) / 2**20

    # -- correctness -------------------------------------------------------

    def check(self) -> None:
        """Untimed: every query against its DuckDB oracle or pinned hash,
        every maintainer state against its batch builder."""
        import duckdb
        from big_data_medical_analysis_spark import registry
        from tools.selfcheck import TABLES, value_hash

        with open(PINS) as fh:
            pins = json.load(fh).get(self.name, {})
        con = duckdb.connect()
        for t in TABLES:
            path = os.path.join(self.wl.data_dir, f"{t}.parquet")
            if os.path.isdir(path):  # written by Spark: a directory of parts
                path = os.path.join(path, "*.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
        queries = registry.all_queries()
        for op in self.wl.ops:
            if op.kind != "query":
                continue
            self.attempted += 1
            try:
                df = op.build(self.spark)
                cols = df.columns
                got = value_hash([tuple(r) for r in df.collect()], cols)
                oracle = queries[op.name].oracle
                if oracle is None:
                    want = pins.get(op.name)
                    ok = got == want
                    detail = f"hash {got} != pinned {want}"
                else:
                    res = con.sql(oracle)
                    dcols = [d[0] for d in res.description]
                    want = value_hash(res.fetchall(), dcols)
                    ok = sorted(cols) == sorted(dcols) and got == want
                    detail = f"hash {got[:12]} != oracle {want[:12]}"
            except Exception:
                traceback.print_exc(file=sys.stderr)
                ok, detail = False, "raised"
            if not ok:
                self.failures.append(f"{op.name}: {detail}")
        for name, state_fn, builder_fn in self.wl.checks:
            self.attempted += 1
            try:
                a, b = state_fn(self.spark), builder_fn(self.spark)
                ok = value_hash([tuple(r) for r in a.collect()], a.columns) == value_hash(
                    [tuple(r) for r in b.collect()], b.columns
                )
            except Exception:
                traceback.print_exc(file=sys.stderr)
                ok = False
            if not ok:
                self.failures.append(f"{name}: state != batch builder")

    # -- per-layer ---------------------------------------------------------

    def codec_us(self) -> dict[str, float]:
        """Per-image driver-side kernel times on the synthesized images."""
        from big_data_medical_analysis_spark.operators import jpeg_codec
        from big_data_medical_analysis_spark.operators import multimodal as mm

        imgs = [mm._synth_image_array(i) for i in range(CODEC_IMAGES)]
        pngs = [mm.encode_png(im, i % 5) for i, im in enumerate(imgs)]
        jpegs = [jpeg_codec.encode_jpeg(im, 75) for im in imgs]
        norms = [mm.equalize_hist(im) for im in imgs]
        kernels = {
            "codec.png_decode_us": (mm.decode_png, pngs),
            "codec.jpeg_decode_us": (jpeg_codec.decode_jpeg, jpegs),
            "codec.equalize_us": (mm.equalize_hist, imgs),
            "codec.augment_us": (lambda im: mm.augment_variants(im, im.tobytes()), norms),
            "codec.dhash_us": (mm.dhash64, imgs),
        }
        out = {}
        for name, (fn, inputs) in kernels.items():
            times = []
            for x in inputs:
                t0 = time.perf_counter()
                fn(x)
                times.append(time.perf_counter() - t0)
            out[name] = _median(times) * 1e6
        return out

    def per_layer(self, records: list[dict], log_dir: str) -> dict[str, float]:
        import eventlog
        import workloads

        log = eventlog.read(log_dir)
        by_pass: dict[str, list[dict]] = {}
        for r in records:
            by_pass.setdefault(r["pass_id"], []).append(r)
        per_pass: list[dict[str, float]] = []
        for pid, recs in by_pass.items():
            m: dict[str, float] = {k: 0.0 for k in eventlog.TASK_METRICS}
            queries = [r for r in recs if r["kind"] == "query"]
            folds = [r for r in recs if r["kind"] == "fold"]
            m["build.s"] = sum(r["build"] for r in recs)
            m["build.jobs"] = sum(r.get("build_jobs", 0) for r in recs)
            m["plan.s"] = sum(r["plan"] for r in queries)
            m["exec.s"] = sum(r["exec"] for r in queries)
            m["exec.jobs"] = sum(r.get("exec_jobs", 0) for r in queries)
            m["exec.stages"] = sum(r.get("exec_stages", 0) for r in queries)
            m["exec.tasks"] = sum(r.get("exec_tasks", 0) for r in queries)
            m["fold.s"] = sum(r["exec"] for r in folds)
            m["fold.jobs"] = sum(r.get("fold_jobs", 0) for r in folds)
            gap = 0.0
            for i, r in enumerate(recs):
                if r["kind"] == "query":
                    gap += r["exec"] - eventlog.covered_s(log["jobs"].get(f"{pid}|{i}|exec", []))
            m["exec.job_gap_s"] = max(gap, 0.0)
            for group, vals in log["groups"].items():
                if group.split("|", 1)[0] == pid:
                    for k, v in vals.items():
                        m[k] += v
            inputs = sum(r.get("input_bytes", 0) for r in folds)
            m["state.write_amp"] = sum(r.get("written_bytes", 0) for r in folds) / inputs if inputs else 0.0
            per_pass.append(m)
        out = {k: _median([m[k] for m in per_pass]) for k in per_pass[0]}
        out["ckpt.pinned_mb"] = max(r.get("pinned_mb", 0.0) for r in records)
        out["ckpt.pinned_rdds"] = float(max(r.get("pinned_rdds", 0) for r in records))
        out["state.mb"] = workloads.tree_bytes(os.path.join(self.work, "state")) / 2**20
        return out

    # -- main --------------------------------------------------------------

    def run(self) -> dict:
        import workloads

        self.prepare_dirs()
        # Set-up as a user pays it: registry import, JVM launch and session
        # start, and one untimed warm-up pass (codegen, JIT, Python workers).
        # Preparing the input tables in between (input_prep_s) is not part of it.
        t0 = time.perf_counter()
        from big_data_medical_analysis_spark import registry

        registry.all_queries()
        import_s = time.perf_counter() - t0
        log_dir = os.path.join(self.work, "events")
        start_s = self.start_session(log_dir if self.trace else None)
        t0 = time.perf_counter()
        self.wl = workloads.WORKLOADS[self.name](self.spark, self.work, self.seed)
        prep_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        _, warm = self.run_pass()
        warmup_s = time.perf_counter() - t0
        # Passes keep getting faster until the session has run about WARM_S
        # of them while the JIT compiles, and the first pass after the
        # warm-up runs up to half slower than later ones however long the
        # warm-up took. So at least one more untimed pass, and short passes
        # get more, to keep that drift out of the timed passes.
        self.run_pass()
        while time.perf_counter() - t0 < WARM_S:
            self.run_pass()
        self.attempted = 0
        self.failures = []

        walls, records, peak = self.timed_window()
        info = {
            "workload": self.name, "seed": self.seed, "cpus": self.cpus,
            "master": self.master, "driver_heap": self.heap, "input_prep_s": prep_s,
            "passes": len(walls[False]) + len(walls[True]), "op_samples": len(records),
            "peak_rss_mb": peak / 2**20, "cpu_steal_pct": self.steal_pct,
            "op_median_s": _op_medians(records),
            "op_sequence": [[r["op"], round(r["dur"], 4)] for r in records],
            "warmup_sequence": [[r["op"], round(r["dur"], 4)] for r in warm],
        }
        if not self.trace:
            durs = [r["dur"] for r in records]
            metrics = {
                "setup_s": start_s + import_s + warmup_s,
                "wall_s": _median(walls[False]),
                "op_p50_s": _median(durs),
                "op_p90_s": _quantile(durs, 90),
                "heap_live_mb": self.heap_live_mb(),
            }
        t0 = time.perf_counter()
        self.check()
        info["check_s"] = time.perf_counter() - t0
        if self.trace:
            metrics = {
                "session.start_s": start_s,
                "session.import_s": import_s,
                "session.warmup_s": warmup_s,
                "mem.peak_rss_mb": peak / 2**20,
                "trace.wall_s": _median(walls[True]),
                "trace.overhead_s": _median(walls[True]) - _median(walls[False]),
            }
            metrics.update(self.codec_us())
            self.spark.stop()  # flushes the event log
            self.spark = None
            traced = [r for r in records if r["pass_id"]]
            metrics.update(self.per_layer(traced, log_dir))
            path = os.path.join(BUILD, f"trace-{self.name}-{self.seed}.json")
            with open(path, "w") as fh:
                json.dump({"info": info, "metrics": metrics, "spans": self.tracer.spans, "ops": traced}, fh)
            info["trace_file"] = os.path.relpath(path, ROOT)
        info["error_rate"] = len(self.failures) / max(self.attempted, 1)
        info["failures"] = self.failures
        print(json.dumps({"info": info}))
        units = _metric_units()["per_layer" if self.trace else "end_to_end"]
        return {
            "correct": not self.failures,
            "attempted": self.attempted,
            "failed": len(self.failures),
            "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
        }

    def close(self) -> None:
        """Stop the session, then the JVM, and wait for it to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            gateway.proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                gateway.proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                gateway.proc.kill()
                gateway.proc.wait()
            SparkContext._gateway = None
        shutil.rmtree(self.work, ignore_errors=True)


def _op_medians(records: list[dict]) -> dict[str, float]:
    by_op: dict[str, list[float]] = {}
    for r in records:
        by_op.setdefault(r["op"].split("#")[0], []).append(r["dur"])
    return {k: round(_median(v), 4) for k, v in sorted(by_op.items())}


def run_all(args) -> int:
    """Every workload in its own process, one after another."""
    import workloads

    combined = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in workloads.WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(args.trace)]
        proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
        lines = proc.stdout.strip().splitlines()
        print("\n".join(lines[:-1]))
        res = json.loads(lines[-1]) if lines else {"correct": False, "attempted": 1, "failed": 1, "metrics": {}}
        combined["correct"] &= res["correct"] and proc.returncode == 0
        combined["attempted"] += res["attempted"]
        combined["failed"] += res["failed"]
        for k, v in res["metrics"].items():
            combined["metrics"][f"{name}.{k}"] = v
        print(json.dumps({name: res}))
    print(json.dumps(combined))
    return 0 if combined["correct"] else 1


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", default="all")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "big_data_medical_analysis_spark")):
        print(f"engine package not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    # Python workers import the engine by module path, so they need the
    # repository root on their path whatever directory the run starts in.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.makedirs(BUILD, exist_ok=True)
    import workloads

    if args.workload == "all":
        return run_all(args)
    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    bench = Bench(args.workload, args.seed, args.seconds, bool(args.trace))
    try:
        result = bench.run()
    finally:
        bench.close()
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
