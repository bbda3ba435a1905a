#!/usr/bin/env python3
"""Benchmark of the dedup engine through its public Python API.

    python3 perfbench/run.py --workload crawl_full --seed 1 --seconds 10 --trace 0

One process, one closed-loop client, a fixed number of Spark task
slots.  Set-up (timed as ``setup_s``): SparkSession start, the state
bootstrap for ``crawl_incremental``, and untimed warm-up operations on a
small input.  Then whole operations run back to back until
``--seconds`` have passed (at least one), the outputs are checked
(``checks.py``), and the last line of stdout is one JSON object:
``correct``, ``attempted``, ``failed`` and the end-to-end metrics
(``--trace 0``) or the per-layer metrics (``--trace 1``, see
``spans.py``).  See README.md for the workloads.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import threading
import time
import traceback
from contextlib import nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)

# Deployment settings pinned for the host class the figures in README.md
# come from (4 CPUs, 15.7 GiB, no swap): a heap that leaves most of the
# RAM free, and no more task slots than CPUs.
HEAP = "3g"
SLOTS = min(4, len(os.sched_getaffinity(0)))
LAST_START_S = 130  # no operation starts this late in the process's life
MIN_OPS = 1  # a traced run makes at least three, see main()
# The first operation in a JVM pays one-off costs (JIT, generated-code
# compiles, new Python UDFs) that vary by seconds from run to run, and
# the operations after it keep getting faster for a while; set-up runs
# untimed operations on a ``warm_pages`` input, which take most of those
# costs at a fraction of a full operation's price.
WORKLOADS = {
    # one operation = one full dedup job over the corpus; warm-up = two
    # dedup jobs on the corpus's first 300 rows
    "crawl_full": {"corpus_pages": 3000, "snap_pages": 0, "warm_pages": 300},
    # one operation = one snapshot absorbed into the bootstrapped state;
    # warm-up = a 50-page snapshot (snapshot 0) absorbed the same way
    "crawl_incremental": {"corpus_pages": 3000, "snap_pages": 300, "warm_pages": 50},
}
_MB = 1024 * 1024


# -- host record -----------------------------------------------------------

def _cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def _mem_total_mb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1024
    return 0.0


class HostRecord:
    """nproc, RAM, load and CPU steal over the run, read from /proc."""

    def __init__(self) -> None:
        self.cpu0 = _cpu_times()
        self.load0 = _loadavg()

    def finish(self) -> dict:
        cpu1 = _cpu_times()
        delta = [b - a for a, b in zip(self.cpu0, cpu1)]
        total = sum(delta[:8]) or 1  # user..steal; guest is inside user
        return {
            "nproc": os.cpu_count(),
            "slots": SLOTS,
            "heap": HEAP,
            "mem_total_mb": round(_mem_total_mb(), 1),
            "loadavg_start": self.load0,
            "loadavg_end": _loadavg(),
            "steal_pct": round(100 * delta[7] / total, 3) if len(delta) > 7 else None,
            "busy_pct": round(100 * (total - delta[3] - delta[4]) / total, 2),
        }


# -- memory of the process tree ---------------------------------------------

def _descendants(root_pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class PeakRss:
    """Sum over the process tree (this interpreter, the JVM, Python
    workers) of each process's own peak resident set, polled every
    0.5 s; a process that exits keeps the last peak seen.

    Only processes seen by two polls in a row count: the JVM forks
    short-lived helpers (``chmod`` for local files), and one caught
    between fork and exec reports the JVM's own peak, which would
    count the JVM twice."""

    def __init__(self) -> None:
        self.peaks: dict[int, int] = {}
        self._seen: set[int] = set()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _poll(self) -> None:
        alive = set(_descendants(os.getpid()))
        for pid in alive & self._seen:
            self.peaks[pid] = max(self.peaks.get(pid, 0), _hwm_kb(pid))
        self._seen = alive

    def _loop(self) -> None:
        while not self._stop.wait(0.5):
            self._poll()

    def stop(self) -> float:
        self._stop.set()
        self._thread.join()
        self._poll()
        return sum(self.peaks.values()) / 1024


# -- helpers -------------------------------------------------------------------

def _du(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


def _span(tracer, name: str):
    return tracer.span(name) if tracer is not None else nullcontext(None)


def _keep(tracer, idx, value) -> None:
    if tracer is not None:
        tracer.returned[idx] = value


def _prepare_inputs(workload: str, seed: int, n_snapshots: int) -> dict:
    """Generate (or reuse) the seed's inputs in a child process, so that
    neither its time nor its memory is charged to the measured run."""
    w = WORKLOADS[workload]
    sizes = [seed, w["corpus_pages"], n_snapshots, w["snap_pages"], w["warm_pages"]]
    args = [WORK + "/inputs", *map(str, sizes)]
    import corpus

    paths = corpus.paths(WORK + "/inputs", *sizes)
    if not os.path.exists(paths["done"]):
        subprocess.run([sys.executable, os.path.join(HERE, "corpus.py"), *args], check=True)
    return paths


def _env(local: str, tmp: str) -> None:
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    os.environ.update(
        SPARK_DRIVER_MEMORY=HEAP,
        SPARK_GRAFT_CPUS=str(SLOTS),
        SPARK_LOCAL_DIRS=local,
        SPARK_DRIVER_JAVA_OPTS=f"-XX:+UseParallelGC -Djava.io.tmpdir={tmp}",
        TMPDIR=tmp,
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    )
    tempfile.tempdir = tmp


def _stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, then wait until every
    process started under this one has ended."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    while len(_descendants(os.getpid())) > 1 and time.monotonic() < deadline:
        time.sleep(0.2)
    for pid in _descendants(os.getpid())[1:]:
        try:
            os.kill(pid, 9)
        except ProcessLookupError:
            pass


# -- workloads -----------------------------------------------------------------

class Run:
    def __init__(self, args) -> None:
        self.workload = args.workload
        w = WORKLOADS[args.workload]
        self.corpus_pages, self.snap_pages, self.warm_pages = w["corpus_pages"], w["snap_pages"], w["warm_pages"]
        self.out = os.path.join(WORK, "out")
        self.state_dir = os.path.join(WORK, "state")
        # snapshot 0 is the warm-up; an operation takes more than 5 s
        self.n_snapshots = args.seconds // 5 + 4
        self.stats: dict = {}

    def setup(self) -> None:
        from umi_collapse_rs_spark.config import DedupConfig
        from umi_collapse_rs_spark.session import get_spark

        self.spark = get_spark(
            app_name="perfbench",
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            },
        )
        if self.workload == "crawl_full":
            # the flags jobs/run_dedup.py passes by default
            self.cfg = DedupConfig()
            self._warmup()
        else:
            # the flags jobs/run_incremental.py passes by default
            self.cfg = DedupConfig(algo="dir", merge="earliest", window_tokens=0)
            self._bootstrap()
            self.warm = self.op_incremental("warmup", None)

    def _warmup(self) -> None:
        """Two dedup jobs like the timed ones, on the warm-up input: the
        second still runs ~15% faster than the first."""
        for _ in range(2):
            self.op_full("warmup", None)

    def _bootstrap(self) -> None:
        """State BASE from the full pipeline, as ``run_incremental.py
        --bootstrap`` builds it."""
        from umi_collapse_rs_spark.plans.incremental import build_state
        from umi_collapse_rs_spark.plans.pipeline import run_dedup_pipeline
        from umi_collapse_rs_spark.plans.state_store import StateStore

        pages = self.spark.read.parquet(self.inputs["pages"])
        self.boot = run_dedup_pipeline(self.spark, pages, self.cfg)
        StateStore(self.spark, self.state_dir).bootstrap(build_state(self.boot))

    def after_setup(self) -> None:
        """Untimed: keep the bootstrap's cluster of every corpus url for
        the snapshot checks (the warm-up snapshot has absorbed pages into
        the state since, but not changed the cluster of a corpus url)."""
        if self.workload == "crawl_incremental":
            self.boot.clusters.select("url", "canonical_url").write.mode("overwrite").parquet(
                os.path.join(WORK, "boot_clusters")
            )
            self.boot = None

    # one operation each ------------------------------------------------------

    def op_full(self, i, tracer) -> dict:
        """One dedup job, as jobs/run_dedup.py runs it."""
        from umi_collapse_rs_spark.plans.pipeline import run_dedup_pipeline

        out = os.path.join(self.out, f"op{i}")
        warm = i == "warmup"
        t0 = time.perf_counter()
        pages = self.spark.read.parquet(self.inputs["warm" if warm else "pages"])
        pages.count()
        res = run_dedup_pipeline(self.spark, pages, self.cfg)
        with _span(tracer, "outputs"):
            for name, df in [
                ("clusters", res.clusters),
                ("canonical_pages", res.canonical_pages),
                ("pairs", res.pairs),
                ("metrics", res.metrics),
                ("lineage", res.lineage),
            ]:
                df.write.mode("overwrite").parquet(f"{out}/{name}")
        return {"wall": time.perf_counter() - t0, "out": out, "pages": self.warm_pages if warm else self.corpus_pages}

    def op_incremental(self, i, tracer) -> dict:
        """One snapshot, as jobs/run_incremental.py --input absorbs it;
        the warm-up takes snapshot 0 and operation i snapshot i + 1, so
        the snapshots chain onto one state."""
        from umi_collapse_rs_spark.plans.incremental import incremental_assign
        from umi_collapse_rs_spark.plans.state_store import StateStore

        out = os.path.join(self.out, f"op{i}")
        state_before = _du(self.state_dir)
        t0 = time.perf_counter()
        store = StateStore(self.spark, self.state_dir)
        store.gc()
        with _span(tracer, "state_read") as idx:
            state = store.read()
        _keep(tracer, idx, state)
        snap = 0 if i == "warmup" else i + 1
        batch = self.spark.read.parquet(self.inputs["snapshots"][snap])
        with _span(tracer, "inc_assign") as idx:
            res = incremental_assign(self.spark, state, batch, self.cfg, index_bucket_cap=64)
        _keep(tracer, idx, res.assignments)
        with _span(tracer, "inc_write"):
            res.assignments.write.mode("overwrite").parquet(f"{out}/assignments")
        with _span(tracer, "state_commit"):
            store.commit_delta(res.delta)
        wall = time.perf_counter() - t0
        grown = _du(self.state_dir) - state_before
        pages = self.warm_pages if snap == 0 else self.snap_pages
        return {"wall": wall, "out": out, "pages": pages, "state_grown": grown, "snap": snap}

    # checks ---------------------------------------------------------------------

    def check(self, done: list[dict]) -> list[str]:
        import checks

        self.stats = {}
        if not done:
            return []
        if self.workload == "crawl_full":
            pages = checks.read(self.inputs["pages"], ["url", "warc_ts", "text"])
            truth = checks.read(self.inputs["truth"])
            last = done[-1]["out"]
            clusters = checks.read(f"{last}/clusters")
            pairs = checks.read(f"{last}/pairs", ["src", "dst", "dist"])
            return checks.check_full(pages, truth, clusters, pairs, [d["hash"] for d in done], self.stats)

        from pyspark.sql import functions as F
        from umi_collapse_rs_spark.plans.state_store import StateStore

        source_cluster = checks.read(os.path.join(WORK, "boot_clusters")).set_index("url")["canonical_url"]
        fails: list[str] = []
        edited = absorbed = 0
        absorbed_snaps = [self.warm] + done
        for d in absorbed_snaps:
            k = d["snap"]
            snap_urls = checks.read(self.inputs["snapshots"][k], ["url"]).url
            prov = checks.read(self.inputs["provenance"][k])
            assignments = checks.read(f"{d['out']}/assignments")
            f, e, a = checks.check_snapshot(snap_urls, prov, assignments, source_cluster)
            fails += [f"snapshot {k}: {m}" for m in f]
            edited += e
            absorbed += a
        fails += checks.check_edited(edited, absorbed, self.stats)
        total = StateStore(self.spark, self.state_dir).read().canonicals.agg(F.sum("freq")).first()[0]
        fails += checks.check_mass(int(total), self.corpus_pages, sum(d["pages"] for d in absorbed_snaps))
        return fails


def main(argv: list[str] | None = None) -> int:
    t_start = time.monotonic()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "umi_collapse_rs_spark", "__init__.py")):
        print(f"engine package not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    run = Run(args)
    w = WORKLOADS[args.workload]
    local, tmp = os.path.join(WORK, "spark-local"), os.path.join(WORK, "tmp")
    for d in (local, tmp, run.out, run.state_dir, os.path.join(WORK, "boot_clusters")):
        shutil.rmtree(d, ignore_errors=True)
    os.makedirs(local)
    os.makedirs(tmp)
    run.inputs = _prepare_inputs(args.workload, args.seed, run.n_snapshots if w["snap_pages"] else 0)
    t_inputs = time.monotonic() - t_start
    _env(local, tmp)

    host = HostRecord()
    rss = PeakRss()
    t0 = time.perf_counter()
    run.setup()
    setup_s = time.perf_counter() - t0
    run.after_setup()

    from spans import AUX_GROUP, EXTRA_METRICS, SPAN_METRICS, SPANS, StatusStore, Tracer, summarize

    status = StatusStore(run.spark)
    tracer = Tracer(status) if args.trace else None
    op_fn = run.op_full if args.workload == "crawl_full" else run.op_incremental
    limit = len(run.inputs["snapshots"]) - 1 if w["snap_pages"] else None
    done: list[dict] = []
    traced_walls: list[float] = []
    plain_walls: list[float] = []
    op_spans: list[list[dict]] = []
    copies: list[float] = []
    attempted = failed = 0
    loop_t0 = time.monotonic()
    # traced runs alternate untraced, traced, untraced, ...; the first
    # operation may still run on less JIT-compiled code than later ones
    # and is left out of the overhead comparison
    min_ops = 3 if tracer is not None else MIN_OPS
    while attempted < min_ops or time.monotonic() - loop_t0 < args.seconds:
        if limit is not None and attempted >= limit:
            break
        last = max((d["wall"] for d in done), default=0.0)
        if time.monotonic() - t_start + last > LAST_START_S and attempted >= 1:
            break
        i = attempted
        attempted += 1
        traced = tracer is not None and i % 2 == 1
        # untimed: start every operation from a collected heap, with the
        # previous operation's blocks and shuffle files released
        gc.collect()
        run.spark.sparkContext._jvm.System.gc()
        group = f"perfbench-op{i}"
        run.spark.sparkContext.setJobGroup(group, "perfbench")
        if tracer is not None:
            tracer.begin_op(i, group)
        try:
            with tracer.patched() if traced else nullcontext():
                rec = op_fn(i, tracer if traced else None)
        except Exception:
            failed += 1
            traceback.print_exc()
            continue
        rec["op"] = i
        # untimed bookkeeping of the finished operation
        run.spark.sparkContext.setJobGroup(AUX_GROUP, "perfbench")
        rec["shuffle_write_mb"] = status.shuffle_write_mb(group)
        if args.workload == "crawl_full":
            import checks

            rec["write_mb"] = _du(rec["out"]) / _MB
            rec["hash"] = checks.cluster_hash(checks.read(f"{rec['out']}/clusters"))
            if done:
                shutil.rmtree(done[-1]["out"], ignore_errors=True)
        else:
            rec["write_mb"] = (_du(rec["out"]) + rec["state_grown"]) / _MB
        if traced:
            traced_walls.append(rec["wall"])
            op_spans.append(tracer.harvest(i))
            pc = tracer.pair_copies()
            if pc is not None:
                copies.append(pc)
        elif i > 0:
            plain_walls.append(rec["wall"])
        done.append(rec)
    peak_rss_mb = rss.stop()
    t_ops = time.monotonic() - loop_t0
    if not done:
        _stop_spark(run.spark)
        print("no operation completed", file=sys.stderr)
        return 1

    try:
        fails = run.check(done)
    except Exception:
        traceback.print_exc()
        fails = ["a check raised"]
    for msg in fails:
        print(f"CHECK FAILED: {msg}", file=sys.stderr)
    _stop_spark(run.spark)
    shutil.rmtree(local, ignore_errors=True)
    shutil.rmtree(tmp, ignore_errors=True)
    hostrec = host.finish()
    phases = {"inputs_s": t_inputs, "setup_s": setup_s, "ops_s": t_ops, "total_s": time.monotonic() - t_start}

    if args.trace:
        layer = summarize(op_spans)
        s4 = layer["s4_candidates.rows_out"]
        layer["s4_candidates.pair_copies"] = statistics.median(copies) if copies else 0.0
        layer["s5_verified_pairs.pass_ratio"] = layer["s5_verified_pairs.rows_out"] / s4 if s4 else 0.0
        layer["trace.overhead_pct"] = (
            100 * (statistics.median(traced_walls) / statistics.median(plain_walls) - 1)
            if traced_walls and plain_walls
            else 0.0
        )
        coverage = []
        for spans, wall in zip(op_spans, traced_walls):
            top = sum(s["end"] - s["start"] for s in spans if s["parent"] is None)
            coverage.append(top / wall)
        units = {f"{n}.{m}": u for n in SPANS for m, u in SPAN_METRICS.items()} | EXTRA_METRICS
        metrics = {k: {"value": v, "unit": units[k]} for k, v in layer.items()}
        record = {
            "workload": args.workload,
            "seed": args.seed,
            "host": hostrec,
            "setup_s": setup_s,
            "op_walls": {"untraced": plain_walls, "traced": traced_walls},
            "span_coverage": coverage,
            "spans": [{k: v for k, v in s.items() if k != "group"} for ops in op_spans for s in ops],
            "metrics": layer,
        }
        with open(os.path.join(WORK, f"trace-{args.workload}-seed{args.seed}.json"), "w") as f:
            json.dump(record, f, indent=1)
    else:
        walls = [d["wall"] for d in done]
        metrics = {
            "pages_per_s": {"value": sum(d["pages"] for d in done) / sum(walls), "unit": "pages/s"},
            "op_p50_s": {"value": statistics.median(walls), "unit": "s"},
            "setup_s": {"value": setup_s, "unit": "s"},
            "peak_rss_mb": {"value": peak_rss_mb, "unit": "MB"},
            "shuffle_write_mb": {"value": statistics.median(d["shuffle_write_mb"] for d in done), "unit": "MB"},
            "write_mb": {"value": statistics.median(d["write_mb"] for d in done), "unit": "MB"},
        }
    print(json.dumps({"host": hostrec, "phases": phases, "op_walls": [d["wall"] for d in done], "checks": run.stats}))
    print(json.dumps({"correct": not fails, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
