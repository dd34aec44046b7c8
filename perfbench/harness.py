"""One benchmark run inside an isolated environment (started by run.py).

Usage: python3 perfbench/harness.py --workload NAME --seed N --seconds S
       --trace 0|1 --run-dir DIR

Prints one JSON object as the last line of stdout: the end-to-end metrics
(``--trace 0``) or the per-layer metrics (``--trace 1``), plus the
correctness counts. A human-readable report of every metric goes to
stderr.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import spans as tr  # noqa: E402
import workloads as wl  # noqa: E402

# probe pairs (untraced, traced) run after a traced window for the
# tracing-overhead ratio
OVERHEAD_PAIRS = 3
# named per-query layer metrics (queries.build_s.<q>, queries.build_jobs.<q>)
NAMED_QUERIES = ["dedup_components", "source_pushdown_read"]


class Runner:
    """Times ops; in a traced run also gives every op its own Spark job
    group (``op<i>``)."""

    def __init__(self, spark, tracer: "tr.Tracer | None"):
        self.sc = spark.sparkContext
        self.tracer = tracer
        self.ops: list[wl.Op] = []

    def op(self, kind: str, body) -> wl.Op:
        op = wl.Op(kind, 0.0)
        t = self.tracer
        if t is not None:
            t.op = len(self.ops)
            op.group = f"op{t.op}"
            op.traced = t.enabled
            self.sc.setJobGroup(op.group, kind)
        op.t0 = time.perf_counter()
        try:
            body(op)
        except Exception as e:  # noqa: BLE001 - a failed op is counted, the run goes on
            op.ok, op.error = False, f"{type(e).__name__}: {e}"[:500]
        op.t1 = time.perf_counter()
        op.seconds = op.t1 - op.t0
        if t is not None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            t.op = None
        self.ops.append(op)
        return op

    def span(self, name: str, group: str | None = None):
        """A harness-side span (query build, execution of a returned
        DataFrame); a no-op in an untraced run."""
        if self.tracer is None:
            return contextlib.nullcontext()
        return self.tracer.span(name, group)


def start_session(trace_dir: str | None):
    from flink_connector_lance_spark.session import get_spark

    conf = {}
    if trace_dir is not None:
        conf = {"spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + trace_dir,
                "spark.eventLog.compress": "false"}
    spark = get_spark(app_name="perfbench", master=f"local[{len(os.sched_getaffinity(0))}]",
                      extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then end the JVM it launched and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        proc.wait(timeout=60)


def layer_metrics(runner: Runner, tracer: tr.Tracer, events: dict,
                  session_s: list[float]) -> dict[str, tuple[float, str]]:
    ops = [o for o in runner.ops if o.traced]
    n_ops = max(1, len(ops))
    m: dict[str, tuple[float, str]] = {}

    def med(name):
        sp = tracer.outermost(name)
        return statistics.median([s.end - s.start for s in sp]) if sp else 0.0

    def per_call(name, key):
        sp = tracer.of(name)
        vals = [s.info[key] for s in sp if key in s.info]
        return sum(vals) / len(vals) if vals else 0.0

    m["session.start_s"] = (statistics.median(session_s), "s")
    m["io.load_table_s"] = (med("io.load_table"), "s")
    m["io.load_table_calls"] = (len(tracer.outermost("io.load_table")) / n_ops, "count/op")
    builds = tracer.of("queries.build")
    m["queries.build_s"] = (statistics.median([s.end - s.start for s in builds])
                            if builds else 0.0, "s")
    m["queries.build_jobs"] = (sum(s.info.get("jobs", 0) for s in builds) / len(builds)
                               if builds else 0.0, "count")
    kind_of = {o.group: o.kind for o in ops}
    for q in NAMED_QUERIES:
        qb = [s for s in builds if kind_of.get(f"op{s.op}") == q]
        m[f"queries.build_s.{q}"] = (statistics.median([s.end - s.start for s in qb])
                                     if qb else 0.0, "s")
        m[f"queries.build_jobs.{q}"] = (sum(s.info.get("jobs", 0) for s in qb) / len(qb)
                                        if qb else 0.0, "count")
    ex = tracer.of("exec")
    m["exec.s"] = (statistics.median([s.end - s.start for s in ex]) if ex else 0.0, "s")
    groups = [s.info["group"] for s in ex if "group" in s.info]
    for key, unit in (("jobs", "count"), ("stages", "count"), ("tasks", "count"),
                      ("executor_run_s", "s"), ("input_bytes", "B"),
                      ("shuffle_read_bytes", "B"), ("shuffle_write_bytes", "B"),
                      ("spill_bytes", "B")):
        vals = [events.get(g, {}).get(key, 0) for g in groups]
        m[f"exec.{key}"] = (sum(vals) / len(vals) if vals else 0.0, unit)
    m["writer.write_s"] = (med("writer.write"), "s")
    for key, unit in (("rows", "count"), ("files", "count"), ("bytes", "B")):
        m[f"writer.{key}"] = (per_call("writer.write", key), unit)
    m["fragments.commit_s"] = (med("fragments.commit"), "s")
    m["fragments.commits"] = (len(tracer.outermost("fragments.commit")) / n_ops, "count/op")
    m["fragments.manifest_reads"] = (len(tracer.outermost("fragments.read_manifest")) / n_ops,
                                     "count/op")
    for short in ("delete", "merge", "compact", "vacuum", "read_changes"):
        m[f"maintenance.{short}_s"] = (med(f"maintenance.{short}"), "s")
    rewr = [s.info["files_rewritten"] for n in ("delete", "merge", "compact")
            for s in tracer.of(f"maintenance.{n}") if "files_rewritten" in s.info]
    m["maintenance.files_rewritten"] = (sum(rewr) / len(rewr) if rewr else 0.0, "count")
    m["maintenance.vacuum_files_removed"] = (per_call("maintenance.vacuum", "removed"), "count")
    m["reader.read_s"] = (med("reader.read"), "s")
    m["reader.files_scanned_ratio"] = (per_call("reader.read", "scanned_ratio"), "ratio")
    m["index.ivf_build_s"] = (med("index.ivf_build"), "s")
    ib = [s.info.get("jobs", 0) for n in ("index.ivf_build", "hnsw.build", "pq.build")
          for s in tracer.outermost(n)]
    m["index.build_jobs"] = (sum(ib) / len(ib) if ib else 0.0, "count")
    m["pq.build_s"] = (med("pq.build"), "s")
    m["hnsw.build_s"] = (med("hnsw.build"), "s")
    m["index.search_s"] = (med("index.search"), "s")
    m["pq.search_s"] = (med("pq.search"), "s")
    m["hnsw.search_s"] = (med("hnsw.search"), "s")
    m["udtf.search_s"] = (med("udtf.search"), "s")
    un = [tracer.unattributed(i, o.t0, o.t1)
          for i, o in enumerate(runner.ops) if o.traced]
    m["trace.unattributed_s"] = (sum(un) / len(un) if un else 0.0, "s")
    return m


def install_hooks(tracer: tr.Tracer) -> None:
    """Counts read from a layer's result after its span closes."""
    from flink_connector_lance_spark.sources import fragments as FR

    def manifest(path, version):
        return FR.read_manifest.__wrapped_by_perfbench__(path, version)

    def quiet(fn):
        def hook(args, kwargs, out):
            was, tracer.enabled = tracer.enabled, False
            try:
                return fn(args, kwargs, out)
            except Exception:  # noqa: BLE001 - a count it cannot read is left out
                return {}
            finally:
                tracer.enabled = was
        return hook

    def path_of(args, kwargs, pos):
        return kwargs.get("path", args[pos] if len(args) > pos else None)

    def written(args, kwargs, out):
        path = path_of(args, kwargs, 1)
        prev = {f.file for f in manifest(path, out.version - 1).fragments} \
            if out.version > 0 else set()
        new = [f for f in out.fragments if f.file not in prev]
        return {"rows": sum(f.row_count for f in new), "files": len(new),
                "bytes": sum(os.path.getsize(os.path.join(path, f.file)) for f in new)}

    def rewritten(args, kwargs, out):
        path = path_of(args, kwargs, 1)
        now = {f.file for f in out.fragments}
        prev = manifest(path, out.version - 1).fragments if out.version > 0 else []
        return {"files_rewritten": sum(1 for f in prev if f.file not in now)}

    def scanned(args, kwargs, out):
        path = path_of(args, kwargs, 1)
        frags = manifest(path, kwargs.get("version")).fragments
        return {"scanned_ratio": len(out.inputFiles()) / len(frags)} if frags else {}

    tracer.hooks.update({
        "writer.write": quiet(written),
        "maintenance.delete": quiet(rewritten),
        "maintenance.merge": quiet(rewritten),
        "maintenance.compact": quiet(rewritten),
        "maintenance.vacuum": quiet(lambda a, k, out: {"removed": out["deleted_files"]}),
        "reader.read": quiet(scanned),
    })


def overhead_probe(w: wl.Workload, spark, runner: Runner, tracer: tr.Tracer) -> float:
    """Traced ÷ untraced throughput over matched pairs of the workload's
    own read-only ops, alternating which side runs first."""
    n_spans, n_ops = len(tracer.spans), len(runner.ops)
    w.probe(spark, runner)  # unpaired warm-up: the first probe runs cold
    plain = traced = 0.0
    for i in range(OVERHEAD_PAIRS):
        for on in ((False, True) if i % 2 == 0 else (True, False)):
            tracer.enabled = on
            op = w.probe(spark, runner)
            if on:
                traced += op.seconds
            else:
                plain += op.seconds
    tracer.enabled = False
    del tracer.spans[n_spans:]
    del runner.ops[n_ops:]
    return plain / traced if traced > 0 else 0.0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(wl.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--run-dir", required=True)
    a = ap.parse_args(argv)

    traced = a.trace == 1
    work = os.path.join(a.run_dir, "work")
    os.makedirs(work)
    ev_dir = os.path.join(a.run_dir, "eventlog") if traced else None
    if ev_dir:
        os.makedirs(ev_dir)
    w = wl.WORKLOADS[a.workload](a.seed, work)
    tracer = None
    if traced:
        # before the first registry.queries(): query modules that bind
        # package functions by name at import must bind the wrappers
        tracer = tr.Tracer()
        rebound = tracer.install()
        install_hooks(tracer)
        print(f"perfbench: traced {len(tr.TRACED)} entry points; rebound "
              f"{len(rebound)} imported names: {', '.join(rebound)}", file=sys.stderr)
    phases = {}
    t_phase = time.perf_counter()
    w.generate()
    phases["generate"] = time.perf_counter() - t_phase

    setup_s, session_s = [], []
    spark = None
    for rep in range(w.setup_reps):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = start_session(ev_dir)
        session_s.append(time.perf_counter() - t0)
        w.setup(spark, rep)
        setup_s.append(time.perf_counter() - t0)
    phases["setup"] = time.perf_counter() - t_phase - phases["generate"]
    t_phase = time.perf_counter()
    w.warm(spark)
    phases["warm"] = time.perf_counter() - t_phase

    runner = Runner(spark, tracer)
    if tracer is not None:
        tracer.sc = spark.sparkContext
        tracer.enabled = True
    t_end = time.perf_counter() + a.seconds
    cycles = 0
    while cycles == 0 or time.perf_counter() < t_end:
        w.cycle(spark, runner)
        cycles += 1
    overhead = None
    if tracer is not None:
        tracer.enabled = False
        overhead = overhead_probe(w, spark, runner, tracer)
    t_phase = time.perf_counter()
    stop_session(spark)
    phases["stop"] = time.perf_counter() - t_phase
    ops = runner.ops
    t_phase = time.perf_counter()
    w.check(ops)
    phases["check"] = time.perf_counter() - t_phase
    failed = [o for o in ops if not o.ok]
    for o in failed:
        print(f"perfbench: FAILED op {o.kind}: {o.error}", file=sys.stderr)
    times = [o.seconds for o in ops]
    e2e = {
        "setup_s": (statistics.median(setup_s), "s"),
        "ops_per_s": (len(ops) / sum(times), "1/s"),
        "op_p50_s": (statistics.median(times), "s"),
    }
    extra = dict(w.extra_metrics)
    extra["failed_op_ratio"] = (len(failed) / len(ops), "ratio")
    kinds = {o.kind for o in ops}
    w_times = [o.seconds for o in ops if o.kind in wl.WRITE_KINDS]
    r_times = [o.seconds for o in ops if o.kind in wl.READ_KINDS]
    s_times = [o.seconds for o in ops if o.kind in wl.SEARCH_KINDS]
    for name, vals in (("write_p50_s", w_times), ("read_p50_s", r_times),
                       ("search_p50_s", s_times)):
        extra[name] = (statistics.median(vals) if vals else 0.0, "s")
    for name, unit in (("space_amp", "ratio"), ("index_build_s", "s"),
                       ("recall_at_10", "ratio"), ("pq.recall_at_10", "ratio"),
                       ("hnsw.recall_at_10", "ratio")):
        extra.setdefault(name, (0.0, unit))

    if traced:
        events = tr.parse_event_log(ev_dir)
        metrics = layer_metrics(runner, tracer, events, session_s)
        metrics.update(extra)
        metrics["trace.overhead_ratio"] = (overhead, "ratio")
    else:
        metrics = e2e
    report = {**e2e, **extra, **(metrics if traced else {})}
    print(f"perfbench: {a.workload} seed={a.seed} trace={a.trace} ops={len(ops)} "
          f"cycles={cycles} kinds={sorted(kinds)}", file=sys.stderr)
    phases["setup_reps"] = [round(x, 2) for x in setup_s]
    phases["session_reps"] = [round(x, 2) for x in session_s]
    print("perfbench: phase seconds " + json.dumps(phases),
          file=sys.stderr)
    print("perfbench: op seconds " + json.dumps([[o.kind, round(o.seconds, 3)] for o in ops]),
          file=sys.stderr)
    for k, (v, u) in report.items():
        print(f"perfbench:   {k} = {v:.6g} {u}", file=sys.stderr)
    print(json.dumps({
        "correct": not failed,
        "attempted": len(ops),
        "failed": len(failed),
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
