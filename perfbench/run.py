"""Crawl benchmark: closed-loop, single-client crawl ops on local Spark.

Run from the repo root:

    python3 perfbench/run.py --workload trickle --seed 1 --seconds 10 --trace 0

Workloads (sizes in perfbench/expect.py, reasons in perfbench/README.md):

* ``trickle`` -- a resumable crawl advanced one epoch per op: restart from
  the committed snapshot, run one superstep, commit its snapshot.
* ``bulk`` -- every page of the corpus passed as a seed DataFrame, crawled
  in one two-epoch batch with a small bloom filter and no store.

Set-up (session, cached corpus, redirect closure and one untimed crawl:
trickle's base-snapshot crawl, or one warm-up op on bulk) is reported as
``setup_s``. Then ops run back to back for ``--seconds`` (at least one),
and no op starts once the run is ``RUN_CAP_S`` old. Every op counts its four
outputs and hashes its visit log; the values are checked against the
sequential crawl oracle. Between ops, outside the timed window, the op's
frames are unpersisted, its snapshot removed and the JVM collected.

``--trace 1`` alternates untraced ops with ops traced layer by layer
(perfbench/layers.py), at least one of each, and reports per-layer metrics
instead.

Output: one JSON line with the host fingerprint and per-op detail, then the
result line ``{"correct", "attempted", "failed", "metrics"}``. Scratch
files live under perfbench/_work and are removed at exit; span dumps of
traced runs are kept in perfbench/_results.
"""

from __future__ import annotations

import os
import time


def _process_start() -> float:
    """perf_counter() value at which this process started."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    age = uptime - start_ticks / os.sysconf("SC_CLK_TCK")
    return time.perf_counter() - max(age, 0.0)


T_START = _process_start()

import argparse  # noqa: E402
import gc  # noqa: E402
import json  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
import traceback  # noqa: E402
from contextlib import nullcontext  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
MIN_OPS = 1
N_SHARDS = 4
# per-shard bloom bits on bulk: small enough that a few percent of truly
# new candidates are bloom false positives and take the exact anti-join
BULK_BITS = 1 << 12
DRIVER_MEM = "2g"
# once the run is this old, start no op beyond the minimum, so that a run
# stays near a minute even when the shared host is slow
RUN_CAP_S = 45.0


# ------------------------------------------------------------ host probes


def cpu_probe() -> float:
    """Seconds for a fixed single-core Python loop."""
    t = time.perf_counter()
    acc = 0
    for i in range(3_000_000):
        acc = (acc + i * i) % 1_000_003
    return time.perf_counter() - t


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:9]]
    return vals[7], sum(vals)


def mem_total_kb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1])
    return 0


class RssSampler:
    """Peak memory of a process and all its descendants, summed as PSS
    (proportional set size), so pages forked Python workers share with
    their daemon are counted once. Besides the run's peak it keeps the
    peak of the current window, which :meth:`take_window` reads and
    restarts."""

    def __init__(self, pid: int, every_s: float = 0.5) -> None:
        self.pid = pid
        self.every_s = every_s
        self.peak_kb = 0
        self.window_kb = 0
        self.procs = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _tree_rss_kb(self) -> int:
        parent: dict[int, int] = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                try:
                    with open(f"/proc/{name}/stat") as f:
                        parent[int(name)] = int(f.read().rsplit(")", 1)[1].split()[1])
                except OSError:
                    continue
        tree, frontier = {self.pid}, [self.pid]
        while frontier:
            p = frontier.pop()
            kids = [c for c, pp in parent.items() if pp == p and c not in tree]
            tree.update(kids)
            frontier.extend(kids)
        total = 0
        for p in tree:
            try:
                with open(f"/proc/{p}/smaps_rollup") as f:
                    for line in f:
                        if line.startswith("Pss:"):
                            total += int(line.split()[1])
                            break
            except OSError:
                continue
        self.procs = max(self.procs, len(tree))
        return total

    def _sample(self) -> None:
        kb = self._tree_rss_kb()
        with self._lock:
            self.peak_kb = max(self.peak_kb, kb)
            self.window_kb = max(self.window_kb, kb)

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.every_s)

    def take_window(self) -> int:
        self._sample()
        with self._lock:
            kb, self.window_kb = self.window_kb, 0
        return kb

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self._sample()


# ------------------------------------------------------------ workloads


def materialize(res, tracer) -> dict:
    """Count the crawl's four outputs (one job) and hash its visit log in
    visit order, so the op ends only when every output exists."""
    from functools import reduce

    from pyspark.sql import functions as F

    with tracer.span("scheduler.materialize") if tracer.active else nullcontext():
        counts = reduce(
            lambda a, b: a.unionAll(b),
            [df.agg(F.count("*").alias("n"))
             for df in (res.visit_log, res.seen.seen_df, res.payload, res.jar)],
        ).collect()
        cols = ["epoch", "depth", "discovered_epoch", "url_norm",
                "final_url", "status"]
        lines = F.transform(
            F.sort_array(F.collect_list(F.struct(*cols))),
            lambda s: F.concat_ws("\t", *[s[c].cast("string") for c in cols]),
        )
        digest = res.visit_log.agg(
            F.sha2(F.concat_ws("\n", lines), 256)
        ).first()[0]
    n = [r["n"] for r in counts]
    return {"visit_log": n[0], "seen": n[1], "payload": n[2], "jar": n[3],
            "visit_hash": digest}


class Workload:
    """Shared set-up: cached corpus and images plus the redirect closure,
    both properties of the simulated web rather than crawl work."""

    # untimed ops after set-up; each workload runs one untimed crawl
    warmups = 1
    # bytes the crawl committed before the op (trickle's base snapshot)
    base_bytes = 0

    def __init__(self, spark, spec, tracer, setup_spans: dict) -> None:
        from mechaml_spark import agent
        from mechaml_spark.corpus import corpus_df, images_df

        self.spark, self.spec, self.tracer = spark, spec, tracer
        t = time.perf_counter()
        self.corpus = corpus_df(spark, spec).cache()
        self.images = images_df(spark, spec).cache()
        self.corpus.count()
        self.images.count()
        setup_spans["corpus.build.wall_s"] = time.perf_counter() - t
        t = time.perf_counter()
        closure = agent.resolve_redirect_closure(self.corpus).localCheckpoint(
            eager=False)
        closure.count()
        self.fetcher = agent.ResolvedCorpusFetcher(closure)
        setup_spans["agent.resolve_redirect_closure.wall_s"] = (
            time.perf_counter() - t)

    def crawl(self, seeds, **kw):
        from mechaml_spark.frontier import scheduler

        if self.tracer.active:
            self.tracer.open_phase("scheduler.crawl_setup")
        res = scheduler.crawl(
            self.spark, self.spec, seeds, n_shards=N_SHARDS,
            corpus=self.corpus, images=self.images, fetcher=self.fetcher,
            **kw)
        if self.tracer.active:
            self.tracer.close_phase()
        return res

    def cleanup(self) -> None:
        pass


class Trickle(Workload):
    # the base-snapshot crawl is the untimed crawl
    warmups = 0

    def __init__(self, spark, seed, tracer, setup_spans, work) -> None:
        import expect
        import layers

        super().__init__(spark, expect.trickle_spec(seed), tracer, setup_spans)
        self.seeds = expect.trickle_seeds(seed)
        self.budget = expect.TRICKLE_BUDGET
        self.base = expect.BASE_EPOCHS
        self.root = os.path.join(work, "store")
        t = time.perf_counter()
        self.crawl(self.seeds, budget_per_host=self.budget,
                   max_epochs=self.base, checkpoint_dir=self.root)
        setup_spans["store.base.wall_s"] = time.perf_counter() - t
        from mechaml_spark.frontier.store import SnapshotStore

        _, dfs = SnapshotStore(self.root).load(spark)
        self.base_visits = dfs["visit_log"].count()
        self.base_bytes = sum(
            layers.dir_bytes(os.path.join(self.root, f"epoch={e:06d}"))
            for e in range(self.base))

    def op(self) -> dict:
        res = self.crawl(self.seeds, budget_per_host=self.budget,
                         max_epochs=self.base + 1, checkpoint_dir=self.root,
                         resume=True)
        out = materialize(res, self.tracer)
        return {"outputs": out, "visited": out["visit_log"] - self.base_visits}

    def cleanup(self) -> None:
        """Drop the op's snapshot so the next op resumes from the base."""
        shutil.rmtree(os.path.join(self.root, f"epoch={self.base:06d}"),
                      ignore_errors=True)
        manifest = os.path.join(self.root, f"manifest-{self.base:06d}.json")
        if os.path.exists(manifest):
            os.remove(manifest)


class Bulk(Workload):
    def __init__(self, spark, seed, tracer, setup_spans, work) -> None:
        import expect

        super().__init__(spark, expect.bulk_spec(seed), tracer, setup_spans)
        self.seeds = spark.createDataFrame(
            [(u,) for u in expect.bulk_seed_urls(self.spec)], "url string"
        ).cache()
        self.seeds.count()
        self.epochs = expect.BULK_EPOCHS

    def op(self) -> dict:
        res = self.crawl(self.seeds, budget_per_host=self.spec.pages_per_host,
                         max_epochs=self.epochs, n_bits=BULK_BITS)
        out = materialize(res, self.tracer)
        return {"outputs": out, "visited": out["visit_log"]}


WORKLOADS = {"trickle": Trickle, "bulk": Bulk}


# ------------------------------------------------------------ benchmark loop


def start_spark(work: str, trace: bool, nproc: int):
    from mechaml_spark.session import get_spark

    conf = {
        "spark.driver.memory": DRIVER_MEM,
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if trace:
        os.makedirs(os.path.join(work, "events"))
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": os.path.join(work, "events"),
            "spark.eventLog.compress": "false",
        })
    spark = get_spark(app_name="perfbench", master=f"local[{nproc}]",
                      shuffle_partitions=2 * nproc, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    # crawl supersteps run with AQE off, as bench.py does
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)


def release(spark, keep: set) -> None:
    """Unpersist the frames an op cached or checkpointed and collect."""
    for rdd_id, rdd in list(spark.sparkContext._jsc.getPersistentRDDs().items()):
        if rdd_id not in keep:
            rdd.unpersist(False)
    gc.collect()
    spark.sparkContext._jvm.System.gc()


def run_op(wl, tracer, traced: bool) -> dict:
    rec = {"traced": traced}
    t = time.perf_counter()
    try:
        if traced:
            with tracer.op():
                rec.update(wl.op())
        else:
            rec.update(wl.op())
        rec["wall_s"] = time.perf_counter() - t
    except Exception as exc:  # an op that raises counts as failed
        rec["wall_s"] = time.perf_counter() - t
        rec["error"] = f"{type(exc).__name__}: {exc}"[:500]
        traceback.print_exc()
    return rec


def median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "mechaml_spark")):
        print(f"perfbench: no mechaml_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    work = os.path.join(HERE, "_work", f"run-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    try:
        return bench(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def bench(args, work: str) -> int:
    import expect
    import layers

    trace = bool(args.trace)
    nproc = len(os.sched_getaffinity(0))
    probe_before = cpu_probe()
    steal0, total0 = cpu_ticks()
    setup_spans: dict[str, float] = {}

    t = time.perf_counter()
    spark = start_spark(work, trace, nproc)
    setup_spans["session.get_spark.wall_s"] = time.perf_counter() - t
    sampler = RssSampler(spark.sparkContext._gateway.proc.pid)
    sampler.start()
    try:
        tracer = layers.Tracer(spark)
        if trace:
            layers.install(tracer)
        wl = WORKLOADS[args.workload](spark, args.seed, tracer, setup_spans,
                                      work)
        keep = set(spark.sparkContext._jsc.getPersistentRDDs().keys())
        warmups = []
        for _ in range(wl.warmups):
            warmups.append(run_op(wl, tracer, traced=False))
            wl.cleanup()
            release(spark, keep)
        setup_s = time.perf_counter() - T_START

        ops = []
        t_begin = time.perf_counter()
        while True:
            traced = trace and len(ops) % 2 == 1
            sampler.take_window()
            ops.append(run_op(wl, tracer, traced))
            ops[-1]["peak_kb"] = sampler.take_window()
            wl.cleanup()
            release(spark, keep)
            plain = sum(not o["traced"] for o in ops)
            enough = (plain >= MIN_OPS and len(ops) - plain >= MIN_OPS
                      if trace else plain >= MIN_OPS)
            now = time.perf_counter()
            if enough and (now - t_begin >= args.seconds
                           or now - T_START >= RUN_CAP_S):
                break
        conf = {
            "master": spark.sparkContext.master,
            "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
            "aqe": spark.conf.get("spark.sql.adaptive.enabled"),
            "driver_memory": spark.sparkContext.getConf().get(
                "spark.driver.memory"),
            "n_shards": N_SHARDS,
        }
        versions = {
            "python": platform.python_version(),
            "java": spark.sparkContext._jvm.System.getProperty("java.version"),
            "spark": spark.version,
        }
    finally:
        sampler.stop()
        stop_spark(spark)

    if trace:
        layers.attach_task_seconds(
            tracer, layers.task_seconds_by_group(os.path.join(work, "events")))

    # checks: every op against the oracle's expected outputs
    want = expect.expected(args.workload, args.seed)
    for rec in warmups + ops:
        if "error" not in rec and rec["outputs"] != want:
            rec["error"] = f"outputs {rec['outputs']} != expected {want}"
    every = warmups + ops
    failed = sum("error" in r for r in every)
    good = [o for o in ops if "error" not in o]
    plain = [o for o in good if not o["traced"]]
    if not plain:
        print(json.dumps({"errors": [r.get("error") for r in every]}),
              file=sys.stderr)
        return 1

    steal1, total1 = cpu_ticks()
    info = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "fingerprint": {
            "nproc": nproc, "mem_total_kb": mem_total_kb(), **versions,
            "spark_conf": conf,
            "steal_share": (steal1 - steal0) / max(total1 - total0, 1),
            "cpu_probe_s": {"before": probe_before, "after": cpu_probe()},
        },
        "setup": setup_spans,
        "warmup_wall_s": [r["wall_s"] for r in warmups],
        "ops": [{k: r.get(k) for k in
                 ("wall_s", "visited", "peak_kb", "traced", "error")}
                for r in ops],
        "run_peak_kb": sampler.peak_kb,
        # a leftover warm-up trend shows as drift away from 1: last timed
        # op over the first warm-up op (bulk) or first timed op (trickle)
        "op_drift": plain[-1]["wall_s"] / (warmups + plain)[0]["wall_s"],
        "error_rate": failed / len(every),
        "peak_procs": sampler.procs,
    }
    correct = failed == 0

    if trace:
        traced = [o for o in good if o["traced"]]
        per_op = [layers.op_layer_metrics(sp) for sp in tracer.ops]
        values = {k: median(m[k] for m in per_op) for k in per_op[0]} if per_op else {}
        values.update(setup_spans)
        values["store.write_amp"] = (
            (wl.base_bytes + values["store.commit.bytes"])
            / values["store.commit.bytes"]
            if values.get("store.commit.bytes") else 0.0)
        values["trace.overhead_share"] = (
            median(o["wall_s"] for o in traced)
            / median(o["wall_s"] for o in plain) - 1.0) if traced else 0.0
        # epochs, crawl set-up, folds, commits and materialization must
        # account for the traced op's wall within 10 %
        coverage = [m["trace.coverage_share"] for m in per_op]
        if any(abs(c - 1.0) > 0.10 for c in coverage):
            correct = False
            info["coverage_error"] = coverage
        metrics = {k: {"value": values.get(k, 0.0), "unit": unit}
                   for k, unit in layers.UNITS.items()}
        os.makedirs(os.path.join(HERE, "_results"), exist_ok=True)
        with open(os.path.join(
                HERE, "_results",
                f"{args.workload}-seed{args.seed}-spans.json"), "w") as f:
            json.dump({"info": info, "ops": [sp.to_json() for sp in tracer.ops]},
                      f, indent=1)
    else:
        metrics = {
            "urls_per_s": {"value": median(o["visited"] / o["wall_s"]
                                           for o in plain), "unit": "1/s"},
            "setup_s": {"value": setup_s, "unit": "s"},
            "peak_rss_mb": {"value": median(o["peak_kb"] for o in plain)
                            / 1024, "unit": "MB"},
        }

    print(json.dumps(info))
    print(json.dumps({"correct": correct, "attempted": len(every),
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
