#!/usr/bin/env python3
"""The engine's benchmark. README.md in this directory explains the
workloads, the metrics and the pinned environment.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 12 --trace 0
    python3 perfbench/run.py --smoke

Run it from the repository root. One run builds its inputs from the
seed inside a fresh directory under ``.perfbench_run/``, starts one
SparkSession, runs a checked warm-up, measures whole passes for
``--seconds``, re-checks, stops every process it started and deletes
the directory. The last line of stdout is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``: end-to-end
metrics with ``--trace 0``, per-layer metrics with ``--trace 1``. A
traced run also writes its spans to ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

T_PROCESS = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import media  # noqa: E402
from probes import RssSampler, SparkCounters, Tracer, shuffle_exchanges, tree_cpu_s  # noqa: E402

# query_mix: queries from each family whose time at small scale is
# mostly fixed cost. The graph queries are left out (README.md).
QUERY_MIX = [
    "w1_speaking_segments", "j6_greedy_tracking", "w6_nms_greedy",
    "ava_map_eval", "q1_pricing_summary", "dedup_cluster_stats",
    "sim_ivf_disk_topk",
]
# Rows-only checks: the canonical hash from the check pass must repeat
# after the timed section.
ROWS_HASHED = ("j6_greedy_tracking", "w6_nms_greedy")
QUERY_SF, SMOKE_SF = 0.01, 0.001
CORPUS, SMOKE_CORPUS = (2, 6), (1, 6)  # (clips, frames per clip)
DRIVER_MEMORY = "2g"
# Warm-up: the check pass, then this many plain passes (README.md)
WARM_PASSES = 1

END_TO_END = {
    "setup_s": "s", "ops_per_s": "1/s", "op_p50_s": "s",
    "cpu_s_per_op": "s", "peak_rss_mb": "MB",
}
# asd_video stages in pipeline order: (stage key, layer name)
STAGES = [
    ("frames", "sources.decode"), ("scenes", "operators.scenes"),
    ("detections", "operators.detect"), ("tracks", "operators.track"),
    ("features", "operators.featurize"), ("scores", "operators.score"),
    ("segments", "operators.segment"),
]
PER_LAYER = {
    "session.start_s": "s",
    "queries.build_s": "s", "queries.build_jobs": "count", "queries.build_job_share": "ratio",
    "catalyst.plan_s": "s", "catalyst.exchanges": "count",
    "exec.run_s": "s", "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.failed_tasks": "count", "exec.shuffle_read_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes", "exec.spill_bytes": "bytes",
    "exec.slot_busy_share": "ratio",
    **{f"{layer}_s": "s" for _, layer in STAGES}, "sources.sink_s": "s",
    **{f"{layer}_rows": "count" for _, layer in STAGES}, "sources.sink_rows": "count",
    "udf.bytes_to_python": "bytes", "udf.bytes_from_python": "bytes",
    "udf.frame_decode_ratio": "ratio",
}


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", flush=True)


def canonical_hash(pdf) -> str:
    from talknet_segmentation_batchprocessing_spark.oracle_compare import canon

    return hashlib.sha256(canon(pdf).to_csv(index=False).encode()).hexdigest()


def frames_equal(a, b) -> bool:
    """Same columns, dtype classes and rows after canonicalisation."""
    from talknet_segmentation_batchprocessing_spark.oracle_compare import canon, dtype_map

    if dtype_map(a) != dtype_map(b):
        return False
    a, b = canon(a), canon(b)
    if list(a.columns) != list(b.columns) or len(a) != len(b):
        return False
    return all(((a[c] == b[c]) | (a[c].isna() & b[c].isna())).all() for c in a.columns)


class Run:
    """One benchmark run: its isolation root, its session, its counts."""

    def __init__(self, args):
        self.args = args
        self.attempted = 0
        self.failed = 0
        self.detail: dict = {"workload": args.workload, "seed": args.seed}
        self.spark = None
        self.root = None

    def fail(self, what: str) -> None:
        self.failed += 1
        log(f"FAILED: {what}")

    def make_root(self) -> None:
        """A fresh, empty directory for everything the run writes, and
        the pinned environment pointing into it."""
        base = os.path.join(CHECKOUT, ".perfbench_run")
        os.makedirs(base, exist_ok=True)
        self.root = tempfile.mkdtemp(prefix=f"{self.args.workload}-", dir=base)
        if os.listdir(self.root):
            raise RuntimeError(f"isolation root {self.root} is not empty")
        for d in ("cache", "tmp", "local", "warehouse", "data", "out"):
            os.makedirs(os.path.join(self.root, d))
        self.nproc = len(os.sched_getaffinity(0))
        env = {
            "OPENBLAS_NUM_THREADS": "1", "OMP_NUM_THREADS": "1", "MKL_NUM_THREADS": "1",
            "SPARK_GRAFT_CACHE_DIR": os.path.join(self.root, "cache"),
            "TMPDIR": os.path.join(self.root, "tmp"),
            "SPARK_LOCAL_DIRS": os.path.join(self.root, "local"),
            "PYSPARK_PYTHON": sys.executable,
            # no JVM perf-data file under /tmp, from the launcher or Spark JVM
            "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        }
        os.environ.update(env)
        tempfile.tempdir = None  # re-read TMPDIR
        self.extra_conf = {
            "spark.sql.warehouse.dir": os.path.join(self.root, "warehouse"),
            # C1 only: JIT warm-up ends within the warm-up passes instead of
            # running on through the timed section. C1-only mode shrinks the
            # code cache to 48 MB, which a query_mix run can fill; that
            # disables the compiler and can stop the SparkContext, so the
            # cache gets the tiered default's size back. A fixed heap keeps
            # RSS from depending on when the heap grows.
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={env['TMPDIR']} -XX:-UsePerfData"
                f" -XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=256m -Xms{DRIVER_MEMORY}"
            ),
        }
        self.detail["environment"] = {
            **env, **self.extra_conf, "master": f"local[{self.nproc}]",
            "spark.sql.shuffle.partitions": self.nproc, "spark.driver.memory": DRIVER_MEMORY,
        }

    def remove_root(self) -> None:
        if self.root is None:
            return
        shutil.rmtree(self.root, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(self.root))
        except OSError:
            pass  # not empty: another run is using it

    def start_session(self) -> None:
        from talknet_segmentation_batchprocessing_spark.session import get_spark

        t = time.perf_counter()
        self.spark = get_spark(
            app_name=f"perfbench-{self.args.workload}",
            cpus=self.nproc,
            shuffle_partitions=self.nproc,
            driver_memory=DRIVER_MEMORY,
            extra_conf=self.extra_conf,
        )
        self.session_start_s = time.perf_counter() - t
        self.detail["session_start_s"] = round(self.session_start_s, 4)
        self.spark.sparkContext.setLogLevel("ERROR")

    def stop_session(self) -> None:
        """Stop Spark, then the JVM, and wait until it has exited."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        try:
            self.spark.stop()
            gateway.shutdown()
        except Exception:  # a signal cut a gateway call short: the JVM is killed below
            log(f"Spark did not stop cleanly:\n{traceback.format_exc()}")
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)

    def run_pass(self, wl, rng, check: bool = False) -> tuple[float, list[tuple[str, float]]]:
        """Every op of the workload once, in a seeded order; returns the
        pass wall and each op's."""
        order = list(wl.names)
        rng.shuffle(order)
        walls = []
        t0 = time.perf_counter()
        for name in order:
            self.attempted += 1
            t = time.perf_counter()
            try:
                (wl.check_op if check else wl.op)(name)
            except Exception:
                self.fail(f"op {name} raised:\n{traceback.format_exc()}")
            walls.append((name, time.perf_counter() - t))
        return time.perf_counter() - t0, walls

    def warm_up(self, wl, rng) -> None:
        """Untimed: the check pass, then WARM_PASSES plain passes. Their
        walls go in the run detail, to show the warm-up has flattened."""
        walls = [self.run_pass(wl, rng, check=True)[0]]
        walls += [self.run_pass(wl, rng)[0] for _ in range(WARM_PASSES)]
        self.detail["warm_pass_walls_s"] = [round(w, 4) for w in walls]

    def measure(self, wl, rng) -> dict:
        """Whole passes until ``--seconds`` have elapsed."""
        pid = os.getpid()
        cpu0 = tree_cpu_s(pid)
        t0 = time.perf_counter()
        walls: list[tuple[str, float]] = []
        passes = []
        while not passes or time.perf_counter() - t0 < self.args.seconds:
            wall, op_walls = self.run_pass(wl, rng)
            walls += op_walls
            passes.append(wall)
        elapsed = time.perf_counter() - t0
        cpu = tree_cpu_s(pid) - cpu0
        by_name: dict[str, list[float]] = {}
        for name, w in walls:
            by_name.setdefault(name, []).append(w)
        self.detail.update(
            timed_passes=len(passes), timed_ops=len(walls),
            pass_walls_s=[round(w, 4) for w in passes],
            op_median_by_name_s={n: round(statistics.median(v), 4) for n, v in by_name.items()},
        )
        return {
            "ops_per_s": len(walls) / elapsed,
            "op_p50_s": statistics.median(w for _, w in walls),
            "cpu_s_per_op": cpu / len(walls),
        }


class QueryMix:
    """Registry queries over seeded TPC-H-shaped tables, each forced
    through the noop sink; one op is one query."""

    def __init__(self, run: Run, smoke: bool):
        self.run = run
        self.sf = SMOKE_SF if smoke else QUERY_SF
        self.names = list(QUERY_MIX)

    def setup(self) -> None:
        self.sf_dir = os.path.join(self.run.root, "data", f"sf{self.sf}")
        self.run.detail["input_rows"] = datagen.write(self.sf_dir, self.sf, self.run.args.seed)

    def start(self) -> None:
        import duckdb

        import __spark_entry__

        self.queries = __spark_entry__.queries()
        self.oracles = __spark_entry__.oracle_sql()
        self.hashes: dict[str, str] = {}
        self.duck = duckdb.connect()
        for t in datagen.TABLES:
            self.duck.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.sf_dir}/{t}.parquet')"
            )
        self.run.detail["check_rows"] = {}

    def op(self, name: str) -> None:
        self.queries[name](self.run.spark, self.sf_dir).write.format("noop").mode("overwrite").save()

    def check_op(self, name: str) -> None:
        """The query collected and compared with its DuckDB oracle over
        the same tables; a hashed query also keeps its hash."""
        pdf = self.queries[name](self.run.spark, self.sf_dir).toPandas()
        self.run.detail["check_rows"][name] = len(pdf)
        if name in self.oracles and not frames_equal(pdf, self.duck.execute(self.oracles[name]).df()):
            self.run.fail(f"{name}: rows differ from the DuckDB oracle")
        if name in ROWS_HASHED:
            self.hashes[name] = canonical_hash(pdf)

    def recheck(self) -> None:
        for name in ROWS_HASHED:
            self.run.attempted += 1
            try:
                pdf = self.queries[name](self.run.spark, self.sf_dir).toPandas()
            except Exception:
                self.run.fail(f"re-check {name} raised:\n{traceback.format_exc()}")
                continue
            if canonical_hash(pdf) != self.hashes.get(name):
                self.run.fail(f"{name}: rows changed between the check pass and the end of the run")
        self.duck.close()

    def traced_op(self, name: str, op_id: str, tr, counters, acc) -> None:
        """Build, plan and execute as separate spans."""
        sc = self.run.spark.sparkContext
        first_exec = counters.last_execution_id()
        with tr.span("op", op_id):
            sc.setJobGroup(f"{op_id}-build", name)
            with tr.span("queries.build", op_id):
                df = self.queries[name](self.run.spark, self.sf_dir)
            with tr.span("catalyst.plan", op_id):
                df._jdf.queryExecution().executedPlan()
            acc["catalyst.exchanges"] += shuffle_exchanges(df)
            sc.setJobGroup(f"{op_id}-exec", name)
            with tr.span("exec.run", op_id):
                df.write.format("noop").mode("overwrite").save()
        sc.setJobGroup("perfbench", "untraced")
        collect_counts(counters, op_id, first_exec, acc)

    def frame_decode_ratio(self) -> float:
        return 0.0  # no media in this workload


class AsdVideo:
    """The media pipeline over a seeded AVI corpus; one op is one batch
    job over the whole corpus, from the folder scan to one manifest per
    speaking segment."""

    def __init__(self, run: Run, smoke: bool):
        self.run = run
        self.clips, self.frames_per_clip = SMOKE_CORPUS if smoke else CORPUS
        self.names = ["job"]
        self.n_out = 0

    def setup(self) -> None:
        self.corpus = os.path.join(self.run.root, "data", "corpus")
        self.n_frames = media.write_corpus(
            self.corpus, self.run.args.seed, self.clips, self.frames_per_clip
        )
        self.run.detail["corpus"] = {"clips": self.clips, "frames": self.n_frames}

    def start(self) -> None:
        from pyspark import cloudpickle

        # the detector and scorer builders run in Python workers, which
        # cannot import this directory: ship them by value
        cloudpickle.register_pickle_by_value(media)
        self.weights = self.run.spark.sparkContext.broadcast(media.detector_weights())
        self.segment_counts: set[int] = set()
        self.expected: int | None = None  # segments, set by the check pass

    def out_dir(self) -> str:
        self.n_out += 1
        return os.path.join(self.run.root, "out", f"job{self.n_out:05d}")

    def op(self, _name: str) -> None:
        out = self.out_dir()
        media.cut(media.stages(self.run.spark, self.corpus, self.weights), out)
        self.segment_counts.add(len(os.listdir(out)) if os.path.isdir(out) else 0)

    def check_op(self, name: str) -> None:
        """The job, then its cut segments against DuckDB's
        gaps-and-islands over the collected scores table, and the
        summary report against the same segments."""
        import duckdb
        import numpy as np
        import pandas as pd
        from talknet_segmentation_batchprocessing_spark.sources.segment_sink import summary_report

        # one pipeline run: the scores are cached for the job's cut
        st = media.stages(self.run.spark, self.corpus, self.weights)
        scores = st["scores"].cache().toPandas()
        out = self.out_dir()
        media.cut(st, out)
        st["scores"].unpersist()
        self.segment_counts.add(len(os.listdir(out)) if os.path.isdir(out) else 0)
        con = duckdb.connect()
        con.register("scores", scores)
        want = con.execute(media.SEGMENTS_ORACLE).df()
        con.close()
        cut = []
        for f in sorted(os.listdir(out)) if os.path.isdir(out) else []:
            video_id, track, seg = f[: -len(".json")].rsplit("_", 2)
            with open(os.path.join(out, f)) as fh:
                m = json.load(fh)
            cut.append((video_id, int(track[1:]), int(seg[1:]), m["ss"], m["t"]))
        got = pd.DataFrame(cut, columns=["video_id", "track_id", "seg_id", "start_ts", "duration"])
        self.expected = len(want)
        self.run.detail.update(segments=len(want), scored_rows=len(scores))
        if len(want) == 0:
            self.run.fail("the job cut no segments")
            return
        if not frames_equal(got, want[got.columns].astype({"track_id": "int64", "seg_id": "int64"})):
            self.run.fail("cut segments differ from the DuckDB gaps-and-islands oracle")
        summary = summary_report(self.run.spark.createDataFrame(want)).toPandas()
        per_track = (
            want.groupby(["video_id", "track_id"], as_index=False)
            .agg(n_segments=("seg_id", "size"), total_speaking_s=("duration", "sum"),
                 first_start_ts=("start_ts", "min"), last_end_ts=("end_ts", "max"))
        )
        per_track["total_speaking_s"] = np.floor(per_track.total_speaking_s * 100 + 0.5) / 100
        if not frames_equal(summary, per_track):
            self.run.fail("summary report disagrees with the cut segments")

    def recheck(self) -> None:
        self.run.attempted += 1
        if self.expected is not None and self.segment_counts != {self.expected}:
            self.run.fail(f"jobs cut {sorted(self.segment_counts)} segments, expected {self.expected}")

    def traced_op(self, _name: str, op_id: str, tr, counters, acc) -> None:
        """Each stage cached and materialised in pipeline order, so its
        span is that stage's self time; then the two sinks."""
        from talknet_segmentation_batchprocessing_spark.sources.segment_sink import summary_report

        spark = self.run.spark
        sc = spark.sparkContext
        first_exec = counters.last_execution_id()
        cached = []
        with tr.span("op", op_id):
            sc.setJobGroup(f"{op_id}-build", "build")
            with tr.span("queries.build", op_id):
                st = media.stages(spark, self.corpus, self.weights)
            with tr.span("catalyst.plan", op_id):
                st["segments"]._jdf.queryExecution().executedPlan()
            acc["catalyst.exchanges"] += shuffle_exchanges(st["segments"])
            sc.setJobGroup(f"{op_id}-exec", "run")
            with tr.span("exec.run", op_id):
                for key, layer in STAGES:
                    with tr.span(layer, op_id):
                        if key == "frames":
                            cached.append(st["audio"].cache())
                            cached[-1].count()
                        cached.append(st[key].cache())
                        acc[f"{layer}_rows"] += cached[-1].count()
                out = self.out_dir()
                with tr.span("sources.sink", op_id):
                    media.cut(st, out)
                    summary_report(st["segments"]).collect()
                acc["sources.sink_rows"] += len(os.listdir(out)) if os.path.isdir(out) else 0
        sc.setJobGroup("perfbench", "untraced")
        for df in cached:
            df.unpersist()
        collect_counts(counters, op_id, first_exec, acc)

    def frame_decode_ratio(self) -> float:
        """Frames the decoder emits during one uncached run of the job,
        per corpus frame."""
        from talknet_segmentation_batchprocessing_spark.sources.media_ingest import riff_decoder

        spark = self.run.spark
        emitted = spark.sparkContext.accumulator(0)
        dec = riff_decoder()

        def counting(video_id, content):
            out = dec(video_id, content)
            emitted.add(len(out[0]))
            return out

        media.cut(media.stages(spark, self.corpus, self.weights, decoder=counting), self.out_dir())
        return emitted.value / self.n_frames


WORKLOADS = {"query_mix": QueryMix, "asd_video": AsdVideo}


def collect_counts(counters: SparkCounters, op_id: str, first_exec: int, acc: dict) -> None:
    build = counters.jobs(f"{op_id}-build")
    run = counters.jobs(f"{op_id}-exec")
    acc["queries.build_jobs"] += len(build)
    acc["exec.jobs"] += len(run)
    st = counters.stage_totals(build + run)
    for k in ("stages", "tasks", "failed_tasks", "shuffle_read_bytes",
              "shuffle_write_bytes", "spill_bytes"):
        acc[f"exec.{k}"] += st[k]
    acc["_run_ms"] += st["run_ms"]
    sent, got = counters.python_bytes(first_exec)
    acc["udf.bytes_to_python"] += sent
    acc["udf.bytes_from_python"] += got


def traced_metrics(run: Run, wl, rng) -> dict:
    """Whole passes of traced ops for ``--seconds``. Counts are per
    pass, times are self times per op."""
    tr = Tracer()
    counters = SparkCounters(run.spark)
    acc = {k: 0 for k in PER_LAYER}
    acc["_run_ms"] = 0
    t0 = time.perf_counter()
    n_pass = n_op = 0
    while not n_pass or time.perf_counter() - t0 < run.args.seconds:
        order = list(wl.names)
        rng.shuffle(order)
        for name in order:
            run.attempted += 1
            try:
                wl.traced_op(name, f"op{n_op:05d}", tr, counters, acc)
            except Exception:
                run.fail(f"traced op {name} raised:\n{traceback.format_exc()}")
            n_op += 1
        n_pass += 1
    elapsed = time.perf_counter() - t0
    spans = tr.self_times()
    self_s: dict[str, float] = {}
    for s in spans:
        self_s[s["name"]] = self_s.get(s["name"], 0.0) + s["self_s"]
    exec_wall = sum(s["end"] - s["start"] for s in spans if s["name"] == "exec.run")
    m = {k: v / n_pass for k, v in acc.items() if not k.startswith("_")}
    for k, unit in PER_LAYER.items():
        if unit == "s":
            m[k] = self_s.get(k[: -len("_s")], 0.0) / n_op
    m["session.start_s"] = run.session_start_s
    m["exec.run_s"] = exec_wall / n_op
    jobs = acc["queries.build_jobs"] + acc["exec.jobs"]
    m["queries.build_job_share"] = acc["queries.build_jobs"] / jobs if jobs else 0.0
    m["exec.slot_busy_share"] = acc["_run_ms"] / 1000.0 / (exec_wall * run.nproc)
    m["udf.frame_decode_ratio"] = wl.frame_decode_ratio()
    # the traced run's own op rate, to set against an untraced run's
    run.detail.update(traced_passes=n_pass, traced_ops=n_op, traced_ops_per_s=n_op / elapsed)
    write_trace(run, spans)
    return m


def write_trace(run: Run, spans: list[dict]) -> None:
    out_dir = os.path.join(CHECKOUT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"trace_{run.args.workload}_seed{run.args.seed}.json")
    with open(path, "w") as f:
        json.dump({"detail": run.detail, "spans": spans}, f, indent=1)
    log(f"trace written to {os.path.relpath(path, CHECKOUT)}")


def bench(args) -> dict:
    """One run of one workload; returns the result object."""
    run = Run(args)
    try:
        run.make_root()
        sys.path.insert(0, CHECKOUT)
        import __spark_entry__  # noqa: F401  the engine must be importable

        wl = WORKLOADS[args.workload](run, args.smoke)
        rng = random.Random(args.seed)
        with RssSampler() as rss:
            wl.setup()
            run.start_session()
            run.spark.sparkContext.setJobGroup("perfbench", "untraced")
            wl.start()
            run.warm_up(wl, rng)
            setup_s = time.perf_counter() - T_PROCESS
            if args.trace:
                metrics = traced_metrics(run, wl, rng)
            else:
                metrics = run.measure(wl, rng)
            wl.recheck()
        metrics.update(setup_s=setup_s, peak_rss_mb=rss.peak / 2**20)
        log("detail " + json.dumps(run.detail))
        units = PER_LAYER if args.trace else END_TO_END
        return {
            "correct": run.failed == 0,
            "attempted": run.attempted,
            "failed": run.failed,
            "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
        }
    finally:
        try:
            run.stop_session()
        finally:
            run.remove_root()


def smoke(seed: int) -> int:
    """Every workload at its smallest size, untraced and traced, each in
    its own process; prints every metric with its unit."""
    ok = True
    for name in sorted(WORKLOADS):
        for trace in (0, 1):
            cmd = [sys.executable, os.path.abspath(__file__), "--smoke", "--workload", name,
                   "--seed", str(seed), "--seconds", "1", "--trace", str(trace)]
            proc = subprocess.run(cmd, cwd=CHECKOUT, capture_output=True, text=True, timeout=170)
            lines = proc.stdout.strip().splitlines()
            if proc.returncode != 0 or not lines:
                log(f"smoke {name} trace={trace} exited {proc.returncode}:\n{proc.stderr[-3000:]}")
                ok = False
                continue
            res = json.loads(lines[-1])
            for metric, v in res["metrics"].items():
                log(f"smoke {name} trace={trace} {metric} = {v['value']:.6g} {v['unit']}")
            ok = ok and res["correct"]
    print(json.dumps({"smoke_correct": ok}))
    return 0 if ok else 1


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description="Benchmark the engine (see README.md).")
    p.add_argument("--workload", choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=12)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true",
                   help="smallest inputs; without --workload, run every workload "
                        "untraced and traced and exit 0 only if all are correct")
    args = p.parse_args(argv)
    # a terminated run still stops its JVM and deletes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if args.smoke and args.workload is None:
        return smoke(args.seed)
    if args.workload is None:
        p.error("--workload is required")
    print(json.dumps(bench(args)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
