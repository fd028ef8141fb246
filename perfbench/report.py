"""Turn one run's samples into the printed report and the metrics object."""

from __future__ import annotations

from .stats import median, tail

CHUNKERS = ("python_ast", "markdown", "js", "fixed_lines")


def _at_reference_speed(value: float, unit: str, slow: float) -> float:
    """A time (or rate) measured on a host ``slow`` times slower than the
    reference, as it would read at the reference speed."""
    if unit in ("s", "ms"):
        return value / slow
    if unit == "1/s":
        return value * slow
    return value


def _p50(values: list, scale: float = 1.0) -> float:
    return median(values) * scale if values else 0.0


def _tail_line(name: str, values: list) -> str:
    t = tail(values)
    if t is None:
        return f"metric {name} = n/a (n={len(values)}: no percentile has 10 samples beyond it)"
    q, v = t
    return f"metric {name} = measured {v * 1000:.6g} ms at p{q:g} (n={len(values)})"


def _single_queries(by_kind: dict) -> list:
    # a batch call answers 8 queries at once: its latency is reported on
    # its own line, not mixed into the single-query percentiles
    return [v for k, vs in by_kind.items() if k.startswith("query.") and k != "query.batch" for v in vs]


def _gets(by_kind: dict) -> list:
    return by_kind.get("get.ids", []) + by_kind.get("get.where", [])


def build(args, run, tracer, jobs, store, live_bytes, setup_s, session_s, pinned, cal) -> tuple:
    """(text lines, name -> (value, unit) of every metric the run has)."""
    m = run.measured
    lat, cpu, secs = m["lat"], m["cpu"], m["seconds"]
    queries, gets = _single_queries(lat), _gets(lat)
    writes = [v for k, vs in lat.items() if k.startswith("write.") for v in vs]
    all_cpu = [v for vs in cpu.values() for v in vs]
    n_ops = len(all_cpu)
    store_bytes, files_per_part = store
    recalls = m["recalls"]
    slow, cpu_slow = cal.slowdown(), cal.cpu_slowdown()

    # name -> (value, unit, samples). Wall times and rates are scaled to
    # the host's reference speed, CPU times to its reference CPU time per
    # unit of work (calibrate.py).
    e2e = {
        "setup_s": (setup_s / slow, "s", 1),
        "cpu_ms_per_op": (1000 * sum(all_cpu) / max(1, n_ops) / cpu_slow, "ms", n_ops),
        "query_cpu_p50_ms": (_p50(_single_queries(cpu), 1000) / cpu_slow, "ms", len(queries)),
        "get_cpu_p50_ms": (_p50(_gets(cpu), 1000) / cpu_slow, "ms", len(gets)),
        "query_p50_ms": (_p50(queries, 1000) / slow, "ms", len(queries)),
        "get_p50_ms": (_p50(gets, 1000) / slow, "ms", len(gets)),
        "ops_per_s": (n_ops / secs * slow, "1/s", n_ops),
        "recall_at_10": (sum(recalls) / len(recalls) if recalls else 0.0, "ratio", len(recalls)),
        "store_bytes_per_live_byte": (store_bytes / live_bytes, "ratio", 1),
    }
    if writes:
        e2e["write_p50_ms"] = (_p50(writes, 1000) / slow, "ms", len(writes))
        e2e["rows_written_per_s"] = (m["rows_written"] / secs * slow, "1/s", len(writes))
    lines = [
        f"run workload={args.workload} seed={args.seed} seconds={args.seconds:g} trace={args.trace} "
        f"loop=closed clients=1 measured_s={secs:.3f} calibration_rounds={len(cal.rounds)} "
        f"host_slowdown={slow:.4f} cpu_slowdown={cpu_slow:.4f} "
        + " ".join(f"{k}={v}" for k, v in sorted(pinned.items()) if k.startswith("SPARK_")),
    ]
    lines += [f"metric {k} = {v:.6g} {u} (n={n})" for k, (v, u, n) in e2e.items()]
    lines.append(_tail_line("query_tail_ms", queries))
    if writes:
        lines.append(_tail_line("write_tail_ms", writes))
    lines.append(f"metric error_rate = {run.failed / run.attempted:.6g} (failed={run.failed} attempted={run.attempted})")
    lines.append(f"info commits={run.commits} auto_compactions={run.compactions}")
    for k in sorted(lat):
        lines.append(f"info latency {k} p50={_p50(lat[k], 1000):.6g} ms cpu_p50={_p50(cpu[k], 1000):.6g} ms n={len(lat[k])}")
    metrics = {k: (v, u) for k, (v, u, _) in e2e.items()}
    if not args.trace:
        return lines, metrics

    layer = per_layer(run, tracer, jobs, files_per_part, session_s, n_ops)
    for k, (v, u) in layer.items():
        lines.append(f"layer {k} = {_at_reference_speed(v, u, slow):.6g} {u} measured={v:.6g}")
    for name, s in sorted(tracer.self_times().items()):
        lines.append(f"self_time {name} = {s:.4f} s")
    metrics.update({k: (_at_reference_speed(v, u, slow), u) for k, (v, u) in layer.items()})
    return lines, metrics


def per_layer(run, tracer, jobs, files_per_part, session_s, n_ops) -> dict:
    m = run.measured
    lat = m["lat"]
    lo, hi = m["spans"]
    measured_spans = tracer.spans[lo:hi]

    def span_ms(name: str) -> float:
        return _p50([t1 - t0 for n, t0, t1, _, _ in measured_spans if n == name], 1000)

    writes = [v for lats in (run.setup_lat, lat) for k, vs in lats.items() if k.startswith("write.") for v in vs]

    def per_op(kind: str, field: int) -> float:
        return _p50([c[field] for c in jobs.values() if c[0] == kind])

    query_ops = [op for op in run.result_rows if op in jobs]
    records = sum(jobs[op][3] for op in query_ops)
    returned = sum(run.result_rows[op] for op in query_ops)
    x = run.extra
    out = {
        "session.start_s": (session_s, "s"),
        "collection.query_plan_ms": (span_ms("collection.query_plan"), "ms"),
        "collection.query_exec_ms": (span_ms("collection.query_exec"), "ms"),
        "collection.query_ms.probe": (_p50(lat.get("query.probe", []), 1000), "ms"),
        "collection.query_ms.filtered": (_p50(lat.get("query.filtered", []), 1000), "ms"),
        "collection.query_ms.graph": (_p50(run.lat.get("query.graph", []), 1000), "ms"),
        "collection.get_ms": (_p50(lat.get("get.ids", []) + lat.get("get.where", []), 1000), "ms"),
        "collection.write_ms": (_p50(writes, 1000), "ms"),
        "collection.write_ms.add": (_p50(run.setup_lat.get("write.add", []), 1000), "ms"),
        "spark.jobs_per_op.query": (per_op("query", 1), "count"),
        "spark.tasks_per_op.query": (per_op("query", 2), "count"),
        "spark.jobs_per_op.get": (per_op("get", 1), "count"),
        "spark.jobs_per_op.write": (per_op("write", 1), "count"),
        "spark.tasks_per_op.write": (per_op("write", 2), "count"),
        "spark.input_rows_per_result.query": (records / returned if returned else 0.0, "ratio"),
        "graph_ann.sidecar_build_s": (x.get("graph_ann.sidecar_build_s", 0.0), "s"),
        "versioning.bytes_written_per_user_byte": (run.store_bytes_written / max(1, run.user_bytes), "ratio"),
        "versioning.files_per_partition": (files_per_part, "count"),
        "corpus.scan_s": (x.get("corpus.scan_s", 0.0), "s"),
    }
    for c in CHUNKERS:
        out[f"chunking.elements_per_s.{c}"] = (x.get(f"chunking.elements_per_s.{c}", 0.0), "1/s")
    out.update(
        {
            "embed.rows_per_s": (x.get("embed.rows_per_s", 0.0), "1/s"),
            "indexing.elements_per_s": (x.get("indexing.elements_per_s", 0.0), "1/s"),
            "indexing.reindex_s": (x.get("indexing.reindex_s", 0.0), "s"),
            "indexing.reembed_ratio": (x.get("indexing.reembed_ratio", 0.0), "ratio"),
            "sinks.upsert_s": (x.get("sinks.upsert_s", 0.0), "s"),
            "trace.overhead_pct": (100.0 * m["bookkeeping_s"] / m["seconds"], "%"),
            "trace.bookkeeping_ms_per_op": (1000.0 * m["bookkeeping_s"] / max(1, n_ops), "ms"),
        }
    )
    return out
