"""Point-cloud store benchmark: window-query latency over generated LAS tiles.

    python3 perfbench/run.py --workload window_mix --seed 7 --seconds 15 --trace 0

Run from the root of a checkout. The run generates its inputs from the
seed (LAS tiles of a clustered cloud plus request streams), builds the
store from the tiles in one ``local[nproc]`` SparkSession, warms up on
one request of every kind, then sends requests in a closed loop with
one client for ``--seconds`` seconds (and at least one request of
every kind). Between requests it times a fixed reference Spark job
that runs no ``lasdb_spark`` code, and reports every time at a
reference host speed (see METRICS.md). Every answer is checked
against a NumPy brute-force oracle. The last
stdout line is one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics`` — the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``. Everything the run writes lives
under ``.perfbench_work/`` in the checkout and is removed at exit;
traced runs also keep their spans under ``.perfbench_traces/``.

Workloads (see METRICS.md for why each exists and what it should move):
  window_mix    flat layout (x, y, z, sfc_key), Morton-sorted Parquet;
                single-window queries plus batch requests (multi_window)
  window_block  PC-SFC block layout (sfc_head, sfc_tail[], z[]);
                the single-window queries only
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback
from contextlib import nullcontext
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent

#: workload name → (stored layout, whether a cycle holds batch requests)
WORKLOADS = {"window_mix": ("flat", True), "window_block": ("block", False)}
POINTS = 500_000
#: a reference job runs after a request once REF_GAP_S of request
#: time has passed since the last one, and REF_WARMUP times, untimed,
#: before the measurement starts; one job varies by ~45 %
#: (interquartile) from the next, so a run needs tens
REF_GAP_S = 0.5
REF_WARMUP = 5
DATASET = "cloud"
#: the reference benchmark's import config (SURVEY.md: ratio 0.7,
#: scales 1, offsets 0)
IMPORT_CONFIG = {"scales": (1.0, 1.0, 1.0), "offsets": (0.0, 0.0, 0.0), "ratio": 0.7}


def _vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _retained_heap_mb(spark) -> float:
    """Heap in use right after a full, compacting collection: the data
    the session and the open store keep between requests, whatever
    the collector's sizing and timing."""
    mx = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    mx.gc()
    mx.gc()  # the first may leave objects that were awaiting finalization
    return mx.getHeapMemoryUsage().getUsed() / 2**20


def _cpu_times() -> tuple[int, int]:
    """(all, steal) jiffies from /proc/stat: the share of time the
    hypervisor gave the machine's CPUs to others."""
    with open("/proc/stat") as f:
        fields = [int(v) for v in f.readline().split()[1:]]
    return sum(fields), fields[7] if len(fields) > 7 else 0


def _dir_bytes(path: str) -> int:
    return sum(p.stat().st_size for p in Path(path).rglob("*") if p.is_file())


def request(querier, op: dict):
    """The lazy DataFrame answering one request: a single-window query
    (generator dict with ``mode``) or a batch request (with ``kind``)."""
    kind = op.get("kind")
    if kind is None:
        return querier.query(op["mode"], op["geometry"], op["minz"], op["maxz"], op["k"])
    if kind == "multi_bbox":
        return querier.multi_bbox([tuple(w) for w in op["windows"]])
    if kind == "knn_join":
        return querier.knn_join([tuple(p) for p in op["poses"]], op["k"], op["radius"])
    return querier.zonal([tuple(z) for z in op["zones"]])


class Run:
    """One benchmark run: inputs, session, store, query loop, checks."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool):
        self.workload = workload
        self.layout, self.batches = WORKLOADS[workload]
        self.seed = seed
        self.seconds = seconds
        self.work = ROOT / ".perfbench_work" / f"run-{os.getpid()}"
        self.spark = None
        self.attempted = 0
        self.failures: list[str] = []
        self.ref_ms: list[float] = []
        self.tracer = None
        if trace:
            from spans import Tracer

            self.tracer = Tracer()

    # -- checks ---------------------------------------------------------
    def _check(self, what: str, ok: bool, detail: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failures.append(f"{what}: {detail}")

    # -- inputs ---------------------------------------------------------
    def make_inputs(self) -> None:
        import gen
        from oracle import Oracle, block_roundtrip

        inputs = self.work / "inputs"
        self.manifest = gen.generate(self.seed, gen.Sizes(points=POINTS), str(inputs))
        self.tiles = str(inputs / "tiles" / "*.las")
        cloud = gen.load_cloud(str(inputs))
        if self.layout == "block":
            cloud = block_roundtrip(cloud, IMPORT_CONFIG["scales"], IMPORT_CONFIG["offsets"])
        self.oracle = Oracle(cloud)

    # -- set-up ---------------------------------------------------------
    def _span(self, name: str, **attrs):
        return self.tracer.span(name, **attrs) if self.tracer else nullcontext()

    def build_store(self, store: str) -> float:
        """LAS tiles → stored layout; returns the build time."""
        from lasdb_spark.operators.ingest import ingest_points
        from lasdb_spark.sources.las import las_to_df

        from session import machine_size

        t0 = time.perf_counter()
        with self._span("las.las_to_df"):
            points = las_to_df(self.spark, self.tiles)
        with self._span("ingest.ingest_points"):
            meta = ingest_points(
                points, DATASET, store, layout=self.layout,
                target_partitions=machine_size()[0], **IMPORT_CONFIG,
            )
        elapsed = time.perf_counter() - t0
        self._check("store point count", meta.point_count == POINTS, f"{meta.point_count} != {POINTS}")
        return elapsed

    def setup(self) -> float:
        """Start the session, build the store, warm up on one query of
        every mode and one request of every batch kind. Returns the
        set-up time."""
        from lasdb_spark.operators.ingest import load_dataset
        from lasdb_spark.operators.window_query import WindowQuerier

        from session import start_session

        t0 = time.perf_counter()
        self.spark = start_session(str(ROOT), str(self.work))
        self.jvm_pid = self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        if self.tracer:
            self.install_tracing()
        self.store = str(self.work / "store")
        self.build_s = self.build_store(self.store)
        df, meta, layout = load_dataset(self.spark, self.store, DATASET)
        self.querier = WindowQuerier(df, meta, layout)
        # run every library path once, as a long-running server has,
        # so the measured cycles are not the first run of any
        warmup = self.manifest["warmup"] + (self.manifest["warmup_batches"] if self.batches else [])
        for j, op in enumerate(warmup):
            self.op(op, f"w{j}")
        return time.perf_counter() - t0

    # -- requests -------------------------------------------------------
    def reference(self) -> None:
        """Time one reference job (``session.reference_job``)."""
        from session import reference_job

        t0 = time.perf_counter()
        reference_job(self.spark, len(self.ref_ms))
        self.ref_ms.append((time.perf_counter() - t0) * 1e3)

    def op(self, op: dict, op_id: str) -> float:
        """Run one request (a single-window query, or a batch request
        when ``op`` has a ``kind``) and check its answer; returns its
        wall-clock seconds."""
        from oracle import batch_answer, checksum, same_batch

        kind = op.get("kind")
        if self.tracer:
            self._begin_op(op_id, kind or op["cls"])
        t0 = time.perf_counter()
        try:
            with self._span("window_query.query" if kind is None else "multi_window.request",
                            cls=kind or op["cls"]):
                df = request(self.querier, op)
            with self._span("window_query.exec" if kind is None else "multi_window.exec"):
                pdf = df.toPandas()
        except Exception:
            elapsed = time.perf_counter() - t0
            self._check(f"{op_id} {kind or op['cls']}", False, traceback.format_exc(limit=3))
            return elapsed
        finally:
            if self.tracer:
                self.tracer.op_id = None
        elapsed = time.perf_counter() - t0
        if kind is None:
            got, want = checksum(pdf["x"], pdf["y"], pdf["z"]), self.oracle.expect(op)
            ok, results = got == want, len(pdf)
        else:
            got, want = batch_answer(kind, pdf), self.oracle.expect_batch(op)
            ok = same_batch(kind, got, want)
            results = len(pdf) if kind == "knn_join" else int(pdf["n_points"].sum())
        if self.tracer:
            self._end_op(op_id, kind or op["cls"], df, results)
        self._check(f"{op_id} {kind or op['cls']}", ok, f"engine {got} != oracle {want}")
        return elapsed

    def cycle(self, c: int) -> list[dict]:
        """Cycle ``c``: on a workload with batches one request of every
        batch kind, then one query of every shape class. The few, slow
        batch requests come first, so a run cut by time inside its
        second cycle has two of each."""
        import gen

        n, b = len(gen.SHAPE_CLASSES), len(gen.BATCH_KINDS)
        c %= len(self.manifest["queries"]) // n
        ops = self.manifest["queries"][c * n:(c + 1) * n]
        if self.batches:
            ops = self.manifest["batches"][c * b:(c + 1) * b] + ops
        return ops

    def measure(self) -> list[tuple[str, float]]:
        """Closed loop, one client, for ``seconds`` of wall time and at
        least one whole cycle; reference jobs between requests.
        Returns (class, seconds) per request."""
        for _ in range(REF_WARMUP):
            self.reference()
        self.ref_ms.clear()
        samples, since_ref, c = [], 0.0, 0
        t0 = time.perf_counter()
        while True:
            for op in self.cycle(c):
                if c and time.perf_counter() - t0 >= self.seconds:
                    return samples
                elapsed = self.op(op, f"{'b' if 'kind' in op else 'q'}{len(samples)}")
                samples.append((op.get("kind") or op["cls"], elapsed))
                since_ref += elapsed
                if since_ref >= REF_GAP_S:
                    self.reference()
                    since_ref = 0.0
            c += 1

    # -- tracing --------------------------------------------------------
    def install_tracing(self) -> None:
        import lasdb_spark.operators.ingest as ingest
        import lasdb_spark.operators.multi_window as mw
        import lasdb_spark.operators.window_query as wq

        def count_ranges(rec, args, kwargs, ranges):
            qx0, qx1, qy0, qy1 = args[:4]
            bits = kwargs["bits"] if "bits" in kwargs else args[4]
            gmax = (1 << bits) - 1
            w = max(0, min(qx1, gmax) - max(qx0, 0) + 1) * max(0, min(qy1, gmax) - max(qy0, 0) + 1)
            rec["ranges"] = len(ranges)
            rec["covered_cells"] = sum(hi - lo + 1 for lo, hi in ranges)
            rec["window_cells"] = w

        def count_cells(rec, args, kwargs, result):
            rec["windows"] = len(args[0])
            rec["cells"] = len(result[1])

        t = self.tracer
        t.wrap(wq, "decompose_bbox", "pcsfc.decompose_bbox", count_ranges)
        t.wrap(wq, "key_ranges_to_head_ranges", "pcsfc.key_ranges_to_head_ranges")
        t.wrap(wq, "apply_key_ranges", "pcsfc.apply_key_ranges")
        t.wrap(wq, "unpack_blocks", "ingest.unpack_blocks")
        t.wrap(mw, "plan_window_cells", "multi_window.plan_window_cells", count_cells)
        t.wrap(ingest, "compute_metadata", "ingest.compute_metadata")
        t.wrap(ingest, "attach_sfc", "ingest.attach_sfc")
        t.wrap(ingest, "pack_blocks", "ingest.pack_blocks")
        self.op_counts: dict[str, dict] = {}

    def _begin_op(self, op_id: str, name: str) -> None:
        t0 = time.perf_counter()
        self.tracer.op_id = op_id
        self.spark.sparkContext.setJobGroup(op_id, name)
        self.tracer.overhead_s += time.perf_counter() - t0

    def _end_op(self, op_id: str, name: str, df, results: int) -> None:
        from spans import jobs_and_tasks, plan_counts

        t0 = time.perf_counter()
        sc = self.spark.sparkContext
        jobs, tasks = jobs_and_tasks(sc, op_id)
        self.op_counts[op_id] = {"cls": name, "jobs": jobs, "tasks": tasks,
                                 "results": results, **plan_counts(df)}
        sc.setLocalProperty("spark.jobGroup.id", None)
        self.tracer.overhead_s += time.perf_counter() - t0

    def layer_metrics(self, samples, scale: float) -> dict:
        from lasdb_spark.operators.ingest import layout_report
        from lasdb_spark.sources.las import las_to_df

        from spans import jvm_gc_ms
        from stats import mix_latency

        t = self.tracer
        ops = [c for op, c in self.op_counts.items() if op.startswith("q")]
        batches = [c for op, c in self.op_counts.items() if op.startswith("b")]
        n = len(ops)
        results = sum(c["results"] for c in ops)
        dec = t.of("pcsfc.decompose_bbox", "q")
        knn_ops = {op for op, c in self.op_counts.items() if op.startswith("q") and c["cls"] == "knn"}
        plan = [d * 1e3 for d in t.durations("window_query.query", "q")]
        execs = [d * 1e3 for d in t.durations("window_query.exec", "q")]
        cells = t.of("multi_window.plan_window_cells", "b")
        setups = [s for s in t.spans if s["op"] is None]
        meta_s = [s["end"] - s["start"] for s in setups if s["name"] == "ingest.compute_metadata"]
        ingest_s = [s["end"] - s["start"] for s in setups if s["name"] == "ingest.ingest_points"]
        # 0 where a workload sends no batch requests
        median_ms = lambda xs: statistics.median(xs) * 1e3 if xs else 0.0  # noqa: E731

        t0 = time.perf_counter()
        las_to_df(self.spark, self.tiles).count()
        decode_s = time.perf_counter() - t0
        record = Path(self.store) / f"pc_record_{DATASET}"
        files = sorted(record.glob("*.parquet"))
        if self.layout == "flat":
            small = layout_report(self.spark, self.store, DATASET)["n_small_files"]
        else:
            small = sum(1 for f in files if f.stat().st_size < 4 * 1024 * 1024)
        per = lambda key: sum(c[key] for c in ops) / n  # noqa: E731
        all_ops = len(ops) + len(batches)
        m = {
            "pcsfc.decompose_us": statistics.median(s["end"] - s["start"] for s in dec) * 1e6,
            "pcsfc.ranges_per_query": sum(s["ranges"] for s in dec) / n,
            "pcsfc.key_overcoverage": sum(s["covered_cells"] for s in dec)
            / max(1, sum(s["window_cells"] for s in dec)),
            "window_query.plan_ms": statistics.median(plan),
            "window_query.exec_ms": statistics.median(execs),
            "window_query.jobs_per_query": per("jobs"),
            "window_query.tasks_per_query": per("tasks"),
            "window_query.knn_rounds": sum(1 for s in dec if s["op"] in knn_ops) / max(1, len(knn_ops)),
            "window_query.files_read_per_query": per("files_read"),
            "window_query.rows_scanned_per_result": sum(c["rows_scanned"] for c in ops) / max(1, results),
            "ingest.blocks_read_per_query": per("rows_scanned") if self.layout == "block" else 0,
            "ingest.points_unpacked_per_result": sum(c["rows_unpacked"] for c in ops) / max(1, results),
            "ingest.metadata_s": statistics.median(meta_s),
            "ingest.write_s": statistics.median(a - b for a, b in zip(ingest_s, meta_s)),
            "ingest.files_written": len(files),
            "ingest.small_files": small,
            "las.decode_s": decode_s,
            "multi_window.plan_ms": median_ms([s["end"] - s["start"] for s in cells]),
            "multi_window.cells_per_window": sum(s["cells"] for s in cells)
            / max(1, sum(s["windows"] for s in cells)),
            "multi_window.candidates_per_result": sum(c["join_rows"] for c in batches)
            / max(1, sum(c["results"] for c in batches)),
            "multi_window.exec_ms": median_ms(t.durations("multi_window.exec", "b")),
            "spark.jvm_gc_ms_per_op": (jvm_gc_ms(self.spark) - self.gc0) / all_ops,
            "trace.overhead_ms_per_op": (t.overhead_s - self.overhead0) * 1e3 / all_ops,
            "trace.query_geomean_ms": mix_latency(samples)[0] * 1e3 * scale,
            "host.reference_ms": statistics.median(self.ref_ms),
        }
        return m

    # -- whole run ------------------------------------------------------
    def run(self) -> dict:
        from session import REFERENCE_MS
        from stats import class_medians, mix_latency, percentile, supported_percentile

        t0 = time.perf_counter()
        self.make_inputs()
        inputs_s = time.perf_counter() - t0
        setup_s = self.setup()
        if self.tracer:
            from spans import jvm_gc_ms

            self.gc0 = jvm_gc_ms(self.spark)
            self.overhead0 = self.tracer.overhead_s
        cpu0 = _cpu_times()
        t0 = time.perf_counter()
        samples = self.measure()
        measure_s = time.perf_counter() - t0
        cpu1 = _cpu_times()
        rss_mb = (_vm_hwm_kb(self.jvm_pid) + _vm_hwm_kb("self")) / 1024
        steal = 100 * (cpu1[1] - cpu0[1]) / max(1, cpu1[0] - cpu0[0])
        ref_ms = statistics.median(self.ref_ms)
        # times are reported as on a host where the reference job takes
        # REFERENCE_MS: the host's speed drifts by up to 2x within minutes
        scale = REFERENCE_MS / ref_ms
        geo_s, rate = mix_latency(samples)
        lat_ms = [e * 1e3 for _, e in samples]
        p = supported_percentile(len(lat_ms))
        print(f"workload={self.workload} layout={self.layout} seed={self.seed} points={POINTS} "
              f"requests={len(lat_ms)} inputs_s={inputs_s:.1f} setup_s={setup_s:.3f} "
              f"build_s={self.build_s:.3f} measure_s={measure_s:.1f} cpu_steal={steal:.1f}% "
              f"peak_rss_mb={rss_mb:.0f}")
        print(f"host: reference job median {ref_ms:.1f} ms over {len(self.ref_ms)} runs, "
              f"so times below the result line are scaled by {scale:.3f}; unscaled: "
              f"query_geomean_ms={geo_s * 1e3:.1f} query_qps={rate:.3f} setup_s={setup_s:.3f}")
        print(f"request p50 = {statistics.median(lat_ms):.1f} ms over {len(lat_ms)} samples"
              + (f"; p{p} = {percentile(lat_ms, p):.1f} ms" if p and p > 50 else
                 "; too few samples for a tail percentile") + " (unscaled)")
        counts: dict[str, int] = {}
        for cls, _ in samples:
            counts[cls] = counts.get(cls, 0) + 1
        print("per-class median ms (unscaled): " + ", ".join(
            f"{c}={v * 1e3:.0f}(n={counts[c]})" for c, v in class_medians(samples).items()))
        for f in self.failures[:20]:
            print(f"FAILED {f}")
        if self.tracer:
            metrics = {k: {"value": v, "unit": LAYER_UNITS[k]}
                       for k, v in self.layer_metrics(samples, scale).items()}
            out = ROOT / ".perfbench_traces"
            out.mkdir(exist_ok=True)
            self.tracer.dump(str(out / f"{self.workload}-seed{self.seed}.jsonl"))
        else:
            values = {
                "setup_s": setup_s * scale,
                "query_geomean_ms": geo_s * 1e3 * scale,
                "query_qps": rate / scale,
                "stored_bytes_per_point": _dir_bytes(self.store) / POINTS,
                "retained_heap_mb": _retained_heap_mb(self.spark),
            }
            metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in values.items()}
        return {
            "correct": not self.failures,
            "attempted": self.attempted,
            "failed": len(self.failures),
            "metrics": metrics,
        }

    def close(self) -> None:
        if self.tracer:
            self.tracer.restore()
        try:
            if self.spark is not None:
                from session import stop_session

                stop_session(self.spark)
                self.spark = None
        finally:
            shutil.rmtree(self.work, ignore_errors=True)
            try:
                self.work.parent.rmdir()  # only when no other run is using it
            except OSError:
                pass


E2E_UNITS = {
    "setup_s": "s",
    "query_geomean_ms": "ms",
    "query_qps": "1/s",
    "stored_bytes_per_point": "bytes/point",
    "retained_heap_mb": "MB",
}
LAYER_UNITS = {
    "pcsfc.decompose_us": "us",
    "pcsfc.ranges_per_query": "count",
    "pcsfc.key_overcoverage": "ratio",
    "window_query.plan_ms": "ms",
    "window_query.exec_ms": "ms",
    "window_query.jobs_per_query": "count",
    "window_query.tasks_per_query": "count",
    "window_query.knn_rounds": "count",
    "window_query.files_read_per_query": "count",
    "window_query.rows_scanned_per_result": "ratio",
    "ingest.blocks_read_per_query": "count",
    "ingest.points_unpacked_per_result": "ratio",
    "ingest.metadata_s": "s",
    "ingest.write_s": "s",
    "ingest.files_written": "count",
    "ingest.small_files": "count",
    "las.decode_s": "s",
    "multi_window.plan_ms": "ms",
    "multi_window.cells_per_window": "count",
    "multi_window.candidates_per_result": "ratio",
    "multi_window.exec_ms": "ms",
    "spark.jvm_gc_ms_per_op": "ms",
    "trace.overhead_ms_per_op": "ms",
    "trace.query_geomean_ms": "ms",
    "host.reference_ms": "ms",
}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not (ROOT / "lasdb_spark" / "__init__.py").is_file():
        print(f"lasdb_spark not found under {ROOT}: run from a checkout of the repository",
              file=sys.stderr)
        return 2
    sys.path[:0] = [str(ROOT), str(HERE)]
    # a terminated run still stops its JVM and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    run = Run(args.workload, args.seed, args.seconds, bool(args.trace))
    try:
        result = run.run()
    finally:
        run.close()
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
