"""Seeded, layered benchmark of the geomatics_geotk_spark engine.

    python3 perfbench/run.py --workload flagship_pip --seed 1 --seconds 15 --trace 0

One driver process, one client, closed loop: the next operation starts
when the previous one has finished.  Spark runs at ``local[<cores>]``
with ``<cores>`` the CPUs this process may use.  The last line of
standard output is one JSON object ``{"correct", "attempted", "failed",
"metrics"}``; the line before it carries the run's details (input shape,
sample counts, per-operation times).  ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` reports the per-layer metrics and
writes the spans to ``perfbench/_out/<run id>.spans.jsonl``.  The exit
code is 0 only when every output check passed.  Workloads, metrics and
the baseline are described in ``perfbench/NOTES.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import statistics
import sys
import time
import traceback

import checks
import host
from spans import Tracer, read_event_log

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
try:
    import gen  # takes its fixtures from the engine's sources.documents
except ImportError as e:
    sys.exit(f"perfbench: cannot import the engine: {e}")

WARMUP_OPS = 2  # the first operations on a cold JVM run well above the steady state
MIN_OPS = 3  # timed operations per run, however long they take
SALT = 8
# docs per cell, as the engine estimates it from a 1% sample: between the
# skewed workload's cold cells (about 46 docs) and its hot ones (about 5 400)
HOT_CELL_THRESHOLD = 1_000
N_BUCKETS = 16
SPARK_KEYS = ("executor_cpu_s", "executor_run_s", "gc_s", "shuffle_write_bytes",
              "shuffle_read_bytes", "broadcast_bytes", "python_worker_s", "spill_bytes",
              "task_skew", "tasks", "failed_tasks")


def _median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def _report(values: dict, section: str) -> dict:
    """``values`` as result metrics: the names and units ``BENCHMARK.json``
    lists under ``section``."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {d["name"]: {"value": values[d["name"]], "unit": d["unit"]}
                for d in json.load(f)[section]}


def _force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _dir_stats(path: str) -> tuple[int, int]:
    """(parquet files, bytes of all files) under ``path``."""
    files = size = 0
    for d, _, names in os.walk(path):
        for n in names:
            files += n.endswith(".parquet")
            size += os.path.getsize(os.path.join(d, n))
    return files, size


class Run:
    """One benchmark process: session, inputs, timed loop, checks."""

    def __init__(self, args):
        self.args = args
        self.workload = args.workload
        self.trace = bool(args.trace)
        self.run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
        self.work = os.path.join(HERE, "_work", self.run_id)
        self.cores = len(os.sched_getaffinity(0))
        self.tracer = Tracer(self.run_id, self.trace)
        self.spark = None
        self.errors: list[str] = []
        self.peak_rss = 0.0
        self.salted = None  # cells the salted join replicates (skew_refine)

    # -- host set-up -------------------------------------------------------

    def configure(self) -> None:
        """Run-private temp, local and warehouse dirs; the package on the
        Python workers' path whatever the cwd; the event log when traced."""
        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        os.makedirs(os.path.join(self.work, "events"), exist_ok=True)
        os.environ["TMPDIR"] = tmp
        os.environ["SPARK_LOCAL_DIRS"] = tmp
        os.environ["PYSPARK_PYTHON"] = sys.executable
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
        conf = {
            "spark.local.dir": tmp,
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.executorEnv.PYTHONPATH": os.environ["PYTHONPATH"],
            "spark.ui.showConsoleProgress": "false",
        }
        if self.trace:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(self.work, "events"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
            f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items()) + " pyspark-shell"

    def start_session(self) -> None:
        from geomatics_geotk_spark.session import get_spark

        self.spark = get_spark(f"perfbench-{self.workload}", master=f"local[{self.cores}]")
        if self.workload == "skew_refine":
            # the zone side stands in for one too large to broadcast: keep
            # Spark (and AQE) from turning the shuffle joins into broadcasts
            self.spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        self.tracer.sc = self.spark.sparkContext if self.trace else None

    # -- the program's calls -------------------------------------------------

    def docs(self):
        from geomatics_geotk_spark.operators import spatial_join as sj

        return sj.decode_geo_spans(self.spark.read.parquet(self.inputs.docs_path))

    def zones(self):
        return self.spark.read.parquet(self.inputs.zones_path)

    def join(self, docs):
        """The workload's PIP join: broadcast for the flagship, salted
        shuffle for the skewed one."""
        from geomatics_geotk_spark.operators import spatial_join as sj

        if self.workload == "flagship_pip":
            out = sj.spatial_join(sj.tile_assign(docs), self.zones(), strategy="broadcast")
        else:
            out = sj.spatial_join(sj.tile_assign(docs), self.zones(), strategy="shuffle",
                                  salt=SALT, hot_cell_threshold=HOT_CELL_THRESHOLD)
        return out.select("doc_id", "zone_id", "cell_id")

    def dwithin(self, docs):
        from geomatics_geotk_spark.operators import spatial_join as sj

        return sj.dwithin_zone_join(docs, self.zones(), checks.DWITHIN_M,
                                    strategy="shuffle").select("doc_id", "zone_id", "dist_m")

    def op(self) -> None:
        """One operation: scan → decode → tile → PIP join, forced into a
        noop sink; the skewed workload adds the DWithin join."""
        span = self.tracer.span
        with span("spatial_join.call"):
            df = self.join(self.docs())
        with span("spatial_join.exec"):
            _force(df)
        if self.workload == "skew_refine":
            with span("spatial_join.dwithin_call"):
                dw = self.dwithin(self.docs())
            with span("spatial_join.dwithin_exec"):
                _force(dw)

    # -- phases --------------------------------------------------------------

    def timed_loop(self) -> list[dict]:
        """Operations until ``--seconds`` have passed, and at least
        ``MIN_OPS``.  When traced, every other operation runs with spans
        off, to measure their cost."""
        ops = []
        deadline = time.time() + self.args.seconds
        pids = host.tree()
        while True:
            self.tracer.enabled = self.trace and len(ops) % 2 == 0
            c0, t0 = host.cpu_seconds(pids), time.time()
            with self.tracer.span("op") as rec:
                self.op()
            wall = time.time() - t0
            pids = host.tree()
            ops.append({"wall": wall, "cpu": host.cpu_seconds(pids) - c0,
                        "span": rec["id"] if rec else None})
            self.peak_rss = max(self.peak_rss, host.peak_rss_mb(pids))
            if time.time() >= deadline and len(ops) >= MIN_OPS:
                self.tracer.enabled = self.trace
                return ops

    def salted_cells(self) -> int:
        """Cells the salted join replicates: the engine's hot-cell estimate
        (per-cell counts on a 1% sample, seed 42, times 100 over the
        threshold), redone on the same DataFrame."""
        from geomatics_geotk_spark.operators import spatial_join as sj
        from pyspark.sql import functions as F

        return (sj.tile_assign(self.docs()).sample(0.01, seed=42)
                .groupBy("cell_id").count()
                .where(F.col("count") * 100 > HOT_CELL_THRESHOLD).count())

    def check(self) -> None:
        """Untimed output checks on a seeded sample of docs.  The joins
        run on the whole input, as in the timed loop (so the salted join
        finds its hot cells), and only their output is narrowed to the
        sample."""
        from pyspark.sql import functions as F

        idx = checks.sample(self.spec.docs, self.args.seed)
        ids = F.col("doc_id").isin([checks.doc_id(i) for i in idx])
        want, loose = checks.expected_pip(self.inputs, idx)
        got = [tuple(r) for r in
               self.join(self.docs()).where(ids).select("doc_id", "zone_id").collect()]
        self.errors += checks.compare_pairs(got, want, loose, self.workload)
        if self.workload == "skew_refine":
            self.salted = self.salted_cells()
            if self.salted != self.spec.hot_cells:
                self.errors.append(f"salting: {self.salted} cells salted, "
                                   f"{self.spec.hot_cells} hot cells generated")
            got = [tuple(r) for r in self.dwithin(self.docs()).where(ids).collect()]
            self.errors += checks.check_dwithin(got, self.inputs, idx)

    def probes(self) -> dict[str, float]:
        """Traced run only: kernel microbenchmark, ablation ladder
        (scan → +decode → +tile), zone preparation, checkpointed sink and
        (on the flagship) one DWithin call."""
        import micro
        import pyarrow.parquet as pq
        from geomatics_geotk_spark.operators import spatial_join as sj
        from geomatics_geotk_spark.sources import sink
        from pyspark.sql import functions as F

        span = self.tracer.span
        m = micro.run(self.args.seed, self.tracer)
        read = lambda: self.spark.read.parquet(self.inputs.docs_path)  # noqa: E731
        for name, df in (("ladder.scan", read), ("ladder.decode", self.docs),
                         ("ladder.tile", lambda: sj.tile_assign(self.docs()))):
            with span(name):
                _force(df())
        with span("spatial_join.prepare_zones"):
            if self.workload == "flagship_pip":
                cells, _ = sj.prepare_zones(self.zones())
            else:
                cells = sj.prepare_zones_distributed(self.zones())
            by_full = dict(cells.groupBy("full").count().collect())
        n_cells = sum(by_full.values())
        m["spatial_join.zone_cells"] = n_cells
        m["spatial_join.full_cell_frac"] = by_full.get(True, 0) / n_cells
        with span("spatial_join.refine_counts"):
            pts = sj.tile_assign(self.docs())
            m["spatial_join.candidates"] = pts.join(cells.select("cell_id"), "cell_id").count()
            join_rows = self.join(self.docs()).count()
        lo, hi = checks.expected_rows(self.inputs)
        if not lo <= join_rows <= hi:
            self.errors.append(f"join: {join_rows} rows, expected {lo}..{hi}")
        m["spatial_join.refine_keep_frac"] = join_rows / m["spatial_join.candidates"]
        if self.workload == "flagship_pip":
            # one broadcast DWithin call: the first 10k docs against eight
            # zones near them.  The far-off FIR fixture polygon is left out:
            # margin-expanded at the DWithin resolution it covers 5M cells,
            # and preparing it alone takes about 20 s on a 4-core host.
            part = self.docs().where(F.col("doc_id") < checks.doc_id(10_000))
            zones = self.zones().where(F.col("zone_id") != "zone-fir-fixture")
            zones = zones.orderBy("zone_id").limit(8)
            with span("spatial_join.dwithin_call"):
                dw = sj.dwithin_zone_join(part, zones, checks.DWITHIN_M, strategy="broadcast")
            with span("spatial_join.dwithin_exec"):
                _force(dw)

        out = os.path.join(self.work, "sink")
        with span("sink.write"):
            first = sink.checkpointed_write(self.join(self.docs()), out, "cell_id", N_BUCKETS)
        with span("sink.resume"):
            again = sink.checkpointed_write(self.join(self.docs()), out, "cell_id", N_BUCKETS)
        lineage = pq.read_table(os.path.join(out, "_lineage")).column("bucket").to_pylist()
        everything = list(range(N_BUCKETS))
        if sorted(first["written_buckets"]) != everything or sorted(lineage) != everything:
            self.errors.append(f"sink: committed {first['written_buckets']}, lineage {lineage}")
        if again["written_buckets"]:
            self.errors.append(f"sink: resume rewrote {again['written_buckets']}")
        if first["rows"] != join_rows:
            self.errors.append(f"sink: read back {first['rows']} rows of {join_rows}")
        files, size = _dir_stats(out)
        m.update({"sink.files": files, "sink.out_bytes": size,
                  "sink.out_bytes_per_doc": size / self.spec.docs,
                  "sources.input_bytes": _dir_stats(self.inputs.docs_path)[1]})
        return m

    def layer_metrics(self, ops: list[dict], probe: dict) -> dict:
        tr = self.tracer
        own = tr.self_times()
        dur = {s["id"]: s["end"] - s["start"] for s in tr.spans}
        first = lambda name: dur[tr.named(name)[0]["id"]]  # noqa: E731
        traced = [o for o in ops if o["span"] is not None]
        in_ops = set().union(*(tr.subtree(o["span"]) for o in traced))
        op_med = lambda name: _median(  # noqa: E731
            [own[s["id"]] for s in tr.named(name) if s["id"] in in_ops]
            or [own[s["id"]] for s in tr.named(name)])
        ev = read_event_log(os.path.join(self.work, "events"), self.run_id)
        per_op = {k: 0.0 for k in SPARK_KEYS}
        skews = []
        for o in traced:
            for sid in tr.subtree(o["span"]):
                for k, v in ev.get(sid, {}).items():
                    if k == "task_skew":
                        skews.append(v)
                    elif k in per_op:
                        per_op[k] += v / len(traced)
        per_op["task_skew"] = max(skews, default=1.0)
        rows = lambda name, k: sum(ev.get(s["id"], {}).get(k, 0.0)  # noqa: E731
                                   for s in tr.named(name))
        n_dw = len(tr.named("spatial_join.dwithin_exec"))
        dw_cand = rows("spatial_join.dwithin_exec", "refine_in_rows")
        untraced = [o["wall"] for o in ops if o["span"] is None]
        traced_wall = [o["wall"] for o in traced]
        m = {
            "setup.session_s": first("setup.session"),
            "setup.input_gen_s": first("setup.input_gen"),
            "setup.warmup_s": first("setup.warmup"),
            "sources.scan_s": first("ladder.scan"),
            "functions.decode_s": first("ladder.decode") - first("ladder.scan"),
            "functions.tile_s": first("ladder.tile") - first("ladder.decode"),
            "spatial_join.call_s": op_med("spatial_join.call"),
            "spatial_join.exec_s": op_med("spatial_join.exec"),
            "spatial_join.prepare_zones_s": first("spatial_join.prepare_zones"),
            "spatial_join.dwithin_call_s": op_med("spatial_join.dwithin_call"),
            "spatial_join.dwithin_exec_s": op_med("spatial_join.dwithin_exec"),
            "spatial_join.dwithin_candidates": dw_cand / max(n_dw, 1),
            "spatial_join.dwithin_keep_frac":
                rows("spatial_join.dwithin_exec", "refine_out_rows") / dw_cand
                if dw_cand else 0.0,
            "sink.write_s": first("sink.write"),
            "sink.overhead_s": first("sink.write") - op_med("spatial_join.exec"),
            "sink.resume_s": first("sink.resume"),
            "trace.docs_per_s": self.spec.docs / _median(traced_wall),
            "trace.overhead_frac":
                _median(traced_wall) / _median(untraced) - 1.0 if untraced else 0.0,
        }
        m["host.cpu_s"] = _median([o["cpu"] for o in ops])
        m["host.peak_rss_mb"] = self.peak_rss
        m.update(probe)
        m.update({f"spark.{k}": v for k, v in per_op.items()})
        return _report(m, "per_layer")

    def main(self) -> dict:
        """Set-up (input generation, session, warm-up operations), the
        timed loop, then the untimed checks and, when traced, the probes.
        ``setup_s`` runs from the start of this process to the first timed
        operation."""
        span = self.tracer.span
        with span("setup.input_gen"):
            self.spec, self.inputs = gen.generate(
                self.workload, self.args.seed, os.path.join(self.work, "inputs"))
        with span("setup.session"):
            self.start_session()
        with span("setup.warmup"):
            for _ in range(WARMUP_OPS):  # starts the Python workers, compiles the plans
                self.op()
        setup_s = host.process_age()
        ops = self.timed_loop()
        with span("check"):
            try:
                self.check()
            except Exception:  # noqa: BLE001 - a check that crashes has failed
                self.errors.append(traceback.format_exc(limit=4))
        probe = self.probes() if self.trace else {}
        self.spark.stop()
        self.spark = None

        detail = {
            "workload": self.workload, "seed": self.args.seed, "cores": self.cores,
            "input": {"docs": self.spec.docs, "hot_share": self.spec.hot_share,
                      "hot_cells": self.spec.hot_cells, "zones": self.spec.zones},
            "salted_cells": self.salted, "samples": {"ops": len(ops)},
            "op_s": [o["wall"] for o in ops], "setup_s": setup_s,
        }
        if self.trace:
            metrics = self.layer_metrics(ops, probe)
            os.makedirs(os.path.join(HERE, "_out"), exist_ok=True)
            detail["spans"] = os.path.join(HERE, "_out", self.run_id + ".spans.jsonl")
            self.tracer.write(detail["spans"])
        else:
            metrics = _report({
                "setup_s": setup_s,
                "docs_per_s": _median([self.spec.docs / o["wall"] for o in ops]),
            }, "end_to_end")
        # the checks cover the outputs of every operation: a failing check
        # fails them all
        failed = len(ops) if self.errors else 0
        detail["failed_frac"] = failed / len(ops)
        return {"detail": detail, "correct": not self.errors, "attempted": len(ops),
                "failed": failed, "metrics": metrics}


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(gen.SPECS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _stop_spark(spark) -> None:
    """Stop the session and the gateway JVM, and wait for the JVM."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def main() -> int:
    # a terminated run still stops Spark and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    args = parse_args()
    run = Run(args)
    try:
        run.configure()
        result = run.main()
        for e in run.errors:
            print("CHECK FAILED:", e, file=sys.stderr)
        print(json.dumps(result.pop("detail")))
        print(json.dumps(result))
        return 0 if result["correct"] else 1
    finally:
        if "pyspark" in sys.modules:
            _stop_spark(run.spark)
        host.stop_descendants()
        shutil.rmtree(run.work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run.work))  # only when no other run is using it
        except OSError:
            pass


if __name__ == "__main__":
    sys.exit(main())
