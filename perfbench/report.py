"""Turn one run's raw measurements into the metrics the benchmark reports.

`summarize(raw)` returns (result, detail):
  result: the contract line, {"correct", "attempted", "failed", "metrics"}, whose
          metrics are BENCHMARK.json's end-to-end metrics (untraced run) or its
          per-layer metrics (traced run), with the same names in every workload;
  detail: the same run under the metric names of the benchmark's design
          (README.md), with units and sample counts, for standard error.
"""

import json
import os

from stats import carve_planning, geomean, group_totals, median, op_class, percentile, self_times

HERE = os.path.dirname(os.path.abspath(__file__))
FINGERPRINTS = os.path.join(HERE, "fingerprints.json")

ROOT_SPANS = ("op", "batch", "read", "query")
LAYER_SPANS = (
    "api.Routes.resolve", "api.Wire.decode", "operators.Catalog.route",
    "operators.Engine.fence_wait", "operators.Engine.plan_build", "spark.planning",
    "api.Wire.execute_encode", "spark.streaming.trigger", "streaming.StreamingIngest.cdc",
    "streaming.IndexMaintenance.vs_append", "streaming.IndexMaintenance.fts_append",
    "streaming.IndexMaintenance.compaction", "streaming.IndexMaintenance.reconcile_search",
    "SparkEntry.queries.build", "spark.execute")
SPARK_PER_OP = (
    ("jobs", "jobs", 1, "count"), ("stages", "stages", 1, "count"),
    ("tasks", "tasks", 1, "count"), ("task_run_ms", "task_run_ms", 1, "ms"),
    ("task_cpu_ms", "task_cpu_ms", 1, "ms"), ("sched_wait_ms", "sched_wait_ms", 1, "ms"),
    ("sched_overhead_ms", "sched_overhead_ms", 1, "ms"),
    ("planning_ms", "planning_ms", 1, "ms"), ("spill_kb", "spill_b", 1 / 1024, "KiB"),
    ("scan_files", "scan_files", 1, "count"), ("scan_rows", "scan_rows", 1, "count"),
    ("files_written", "files_written", 1, "count"))
ANN_CLASSES = ("exact", "lsh", "filtered")
SERVE_CLASSES = ANN_CLASSES + ("bm25",)


def m(value, unit, n=None):
    out = {"value": value, "unit": unit}
    if n is not None:
        out["n"] = n
    return out


def _scaled(v, factor):
    return None if v is None else v * factor


# ---- end-to-end metrics ------------------------------------------------------

def serve_read(raw):
    """End-to-end figures of the HTTP requests. In a traced run every client
    alternates HTTP and in-process requests; its HTTP requests, which run
    with the listeners on, are the traced end-to-end figures, and its
    throughput is the closed loop's, clients / mean HTTP latency (Little's
    law), since part of the clients' time goes to in-process requests."""
    lat, val = raw["latency_ms"], raw["values"]
    traced = raw["trace"]
    prefix = "http:" if traced else ""
    classes = {c: lat.get(prefix + c, []) for c in SERVE_CLASSES}
    every = [x for c in SERVE_CLASSES for x in classes[c]]
    ann = [x for c in ANN_CLASSES for x in classes[c]]
    if traced:
        rate = val["clients"] * len(every) / (sum(every) / 1000) if every else None
        e2e = {"ops_per_s": m(rate, "1/s", len(every))}
    else:
        e2e = {"ops_per_s": m(val["completed"] / val["timed_s"], "1/s", val["completed"])}
    e2e.update({
           "op_ms": m(median(every), "ms", len(every)),
           "ann_ms": m(median(ann), "ms", len(ann)),
           "bm25_ms": m(median(classes["bm25"]), "ms", len(classes["bm25"]))})
    recall = val.get("recall_at_10", [])
    detail = {"inputs": {k: val[k] for k in ("vectors", "documents", "nbits")},
              "read_qps": e2e["ops_per_s"],
              # JVM work during the timed loop: the JIT compilers compete
              # with the requests for the cores
              "jvm.timed_gc_ms": m(val["jvm"]["gc_ms"], "ms"),
              "jvm.timed_jit_ms": m(val["jvm"]["jit_ms"], "ms"),
              "jvm.timed_classes_loaded": m(val["jvm"]["classes_loaded"], "count"),
              "read_p90_ms": m(percentile(every, 0.9), "ms", len(every)),
              "ann_recall_at_10": m(sum(recall) / len(recall) if recall else None, "ratio",
                                    len(recall))}
    # median HTTP latency in each quarter of the timed window: how far the
    # JIT warm-up still moves latency while it is measured
    quarters = [[ms for t, ms in val.get("timeline", []) if q * val["timed_s"] / 4 <= t < (q + 1) * val["timed_s"] / 4]
                for q in range(4)]
    detail["op_ms_by_quarter"] = [m(median(xs), "ms", len(xs)) for xs in quarters]
    for c in SERVE_CLASSES:
        name = "bm25_p50_ms" if c == "bm25" else f"ann_{c}_p50_ms"
        detail[name] = m(percentile(classes[c], 0.5), "ms", len(classes[c]))
        # a run has too few requests of a class for its p50 (10 beyond it)
        detail[name.replace("_p50_", "_median_")] = m(median(classes[c]), "ms", len(classes[c]))
    if traced:
        local = [x for c in SERVE_CLASSES for x in lat.get(c, [])]
        detail["in_process_op_ms"] = m(median(local), "ms", len(local))
    return e2e, detail


def batch(raw):
    lat, val = raw["latency_ms"], raw["values"]
    fam = val["families"]
    kinds = list(fam) + ["cdc"]
    med = {k: median(lat[k]) for k in kinds if lat.get(k)}
    execs = sum(len(lat.get(k, [])) for k in kinds)
    seg = {c: median(lat.get(c, [])) for c in ("seg_ann", "seg_bm25")}

    def typical(*xs):
        xs = [x for x in xs if x is not None]
        return m(geomean(xs), "ms", len(xs))

    e2e = {"ops_per_s": m(execs / val["timed_s"], "1/s", execs),
           "op_ms": typical(*med.values()),
           "ann_ms": typical(med.get("ann_rescored"), seg["seg_ann"]),
           "bm25_ms": typical(med.get("bm25_multi"), seg["seg_bm25"])}
    queries = {q: v for q, v in med.items() if q in fam}
    lags = val["batch_lag_ms"]
    searches = lat.get("seg_ann", []) + lat.get("seg_bm25", [])
    detail = {"inputs": {"operations": val["ops"], "nbits": val["nbits"],
                         "bootstrap_s": val["bootstrap_ms"] / 1000},
              "analytics_total_s": m(sum(queries.values()) / 1000, "s", len(queries)),
              "analytics_geomean_s": m(_scaled(geomean(list(queries.values())), 1e-3), "s",
                                       len(queries)),
              "query_median_ms": {q: m(v, "ms", len(lat[q])) for q, v in sorted(queries.items())},
              "passes": val["passes"],
              "ingest_rows_per_s": m(sum(val["batch_events"]) / (sum(lags) / 1000) if lags else None,
                                     "rows/s", sum(val["batch_events"])),
              "write_to_visible_p50_s": m(_scaled(percentile(lags, 0.5), 1e-3), "s", len(lags)),
              "write_to_visible_p90_s": m(_scaled(percentile(lags, 0.9), 1e-3), "s", len(lags)),
              "write_to_visible_median_s": m(_scaled(median(lags), 1e-3), "s", len(lags)),
              "segment_search_p50_ms": m(percentile(searches, 0.5), "ms", len(searches)),
              "segment_search_median_ms": m(median(searches), "ms", len(searches)),
              "fingerprints": val["fingerprints"]}
    for f in sorted(set(fam.values())):
        detail[f"SparkEntry.wall_s.{f}"] = m(
            sum(v for q, v in queries.items() if fam[q] == f) / 1000, "s",
            sum(1 for q in queries if fam[q] == f))
    return e2e, detail


WORKLOADS = {"serve-read": serve_read, "batch": batch}


# ---- per-layer metrics (traced runs) ----------------------------------------

def _self_times(raw):
    return self_times(carve_planning([tuple(s) for s in raw["spans"]], raw["groups"]))


def per_layer(raw, e2e):
    """The per-layer metrics of BENCHMARK.json, named alike in every workload."""
    wl, val, groups = raw["workload"], raw["values"], raw["groups"]
    spans = _self_times(raw)
    roots = [s for s in spans if s[0] in ROOT_SPANS]
    root_ms = sum(s[2] for s in roots) / 1e6
    ops = {s[1] for s in roots}
    out = {"trace.ops_per_s": m(e2e["ops_per_s"]["value"], "1/s"),
           "trace.op_ms": m(e2e["op_ms"]["value"], "ms"),
           "trace.unspanned_share": m(sum(s[3] for s in roots) / 1e6 / root_ms, "ratio")}
    for layer in LAYER_SPANS:
        out[f"{layer}.self_share"] = m(
            sum(s[3] for s in spans if s[0] == layer) / 1e6 / root_ms, "ratio")
    total, _ = group_totals(groups, lambda g: g in ops)
    n = max(1, len(ops))
    for name, key, factor, unit in SPARK_PER_OP:
        out[f"spark.{name}_per_op"] = m(total.get(key, 0.0) * factor / n, unit)
    shuffle = total.get("shuffle_read_b", 0.0) + total.get("shuffle_write_b", 0.0)
    out["spark.shuffle_kb_per_op"] = m(shuffle / 1024 / n, "KiB")
    # JVM-wide counters, over every op of the timed phase
    jvm, jvm_ops = val["jvm"], max(1, val["jvm_ops"])
    out["jvm.gc_ms_per_op"] = m(jvm["gc_ms"] / jvm_ops, "ms")
    out["jvm.jit_ms_per_op"] = m(jvm["jit_ms"] / jvm_ops, "ms")
    out["jvm.classes_loaded_per_op"] = m(jvm["classes_loaded"] / jvm_ops, "count")
    if wl == "serve-read":
        build_s = median(val["store_build_ms"]) / 1000
    else:
        build_s = sum(val["warmup_ms"].get(q, 0.0) for q in val["index_backed"]) / 1000
    out["sources.IndexStorage.build_s"] = m(build_s, "s")
    out["sources.IndexStorage.store_files"] = m(val["store_files"], "count")
    lsh_ops = val.get("lsh_ops", 0)
    out["operators.ApproxAnn.fallback_share"] = m(
        val.get("lsh_fallbacks", 0) / lsh_ops if lsh_ops else 0.0, "ratio")
    out["streaming.IndexMaintenance.compactions"] = m(len(val.get("compaction_ms", [])), "count")
    out["streaming.IndexMaintenance.segments_max"] = m(max(val.get("segments", []) or [0]), "count")
    live = val.get("live_rows", 0)
    out["streaming.IndexMaintenance.bytes_per_live_row"] = m(
        val["store_bytes"] / live if live else 0.0, "B")
    return out


def layer_detail(raw):
    """Per-layer numbers under the design's names, split by op class."""
    wl, val, groups = raw["workload"], raw["values"], raw["groups"]
    spans = _self_times(raw)
    by = {}  # (span name, class) -> per-op self ms
    per_op = {}
    for name, op, _, own in spans:
        per_op[(name, op)] = per_op.get((name, op), 0.0) + own / 1e6
    for (name, op), ms in per_op.items():
        by.setdefault((name, op_class(op)), []).append(ms)

    def med(name, cls, factor=1.0):
        """Median per-op self time of a layer (few traced ops: not a tail figure)."""
        xs = by.get((name, cls), [])
        return m(_scaled(median(xs), factor), "us" if factor == 1000 else "ms", len(xs))

    def spark(cls_filter):
        ops = {op for (name, op) in per_op if name in ROOT_SPANS and cls_filter(op_class(op))}
        total, _ = group_totals(groups, lambda g: g in ops)
        return total, max(1, len(ops))

    d = {}
    if wl == "serve-read":
        lat = raw["latency_ms"]
        for c in SERVE_CLASSES:
            # medians: a traced run has too few requests per class for a p50
            http, local = median(lat.get("http:" + c, [])), median(lat.get(c, []))
            d[f"api.HttpShell.transport_ms.{c}"] = m(
                None if http is None or local is None else http - local, "ms",
                min(len(lat.get("http:" + c, [])), len(lat.get(c, []))))
            d[f"api.Wire.decode_us.{c}"] = med("api.Wire.decode", c, 1000)
            d[f"operators.Engine.plan_build_ms.{c}"] = med("operators.Engine.plan_build", c)
            d[f"spark.planning_ms.{c}"] = med("spark.planning", c)
            d[f"api.Wire.execute_encode_ms.{c}"] = med("api.Wire.execute_encode", c)
            total, n = spark(lambda k, c=c: k == c)
            for key, name in (("jobs", "jobs_per_req"), ("tasks", "tasks_per_req"),
                              ("task_run_ms", "task_run_ms_per_req"),
                              ("task_cpu_ms", "task_cpu_ms_per_req"),
                              ("sched_wait_ms", "sched_wait_ms_per_req"),
                              ("scan_files", "scan_files_per_req")):
                d[f"spark.{name}.{c}"] = m(total.get(key, 0.0) / n, "count" if "ms" not in key else "ms", n)
            d[f"spark.scan_rows_per_result.{c}"] = m(total.get("scan_rows", 0.0) / n / 10, "ratio", n)
        route = [x for c in ANN_CLASSES for x in by.get(("operators.Catalog.route", c), [])]
        d["operators.Catalog.route_us"] = m(_scaled(percentile(route, 0.5), 1000), "us", len(route))
        d["spark.gc_ms_per_req"] = m(val["jvm"]["gc_ms"] / max(1, val["jvm_ops"]), "ms")
        d["operators.ApproxAnn.fallback_share"] = m(
            val["lsh_fallbacks"] / max(1, val["lsh_ops"]), "ratio", val["lsh_ops"])
        d["sources.IndexStorage.build_s"] = m(median(val["store_build_ms"]) / 1000, "s",
                                              len(val["store_build_ms"]))
        d["sources.IndexStorage.store_files"] = m(val["store_files"], "count")
    else:
        for name, key in (("vs_append_ms", "streaming.IndexMaintenance.vs_append"),
                          ("fts_append_ms", "streaming.IndexMaintenance.fts_append"),
                          ("compaction_ms", "streaming.IndexMaintenance.compaction")):
            d[f"streaming.IndexMaintenance.{name}"] = med(key, "batch")
        d["streaming.IndexMaintenance.compactions"] = m(len(val["compaction_ms"]), "count")
        d["streaming.IndexMaintenance.segments_max"] = m(max(val["segments"] or [0]), "count")
        d["streaming.IndexMaintenance.bytes_per_live_row"] = m(
            val["store_bytes"] / max(1, val["live_rows"]), "B", val["live_rows"])
        d["streaming.StreamingIngest.cdc_overhead_ms"] = med("streaming.StreamingIngest.cdc", "batch")
        d["spark.streaming.trigger_overhead_ms"] = med("spark.streaming.trigger", "batch")
        d["operators.Engine.fence_wait_ms"] = med("operators.Engine.fence_wait", "batch")
        for c in ("ann", "bm25"):
            xs = raw["latency_ms"].get(f"seg_{c}", [])
            d[f"streaming.IndexMaintenance.reconcile_search_ms.{c}"] = m(median(xs), "ms", len(xs))
        total, n = spark(lambda k: k == "batch")
        for key, name in (("jobs", "jobs_per_batch"), ("tasks", "tasks_per_batch"),
                          ("files_written", "files_written_per_batch")):
            d[f"spark.{name}"] = m(total.get(key, 0.0) / n, "count", n)
        # analytics: listener sums over the query executions, scaled to one pass
        fam = val["families"]
        total, execs = spark(lambda k: k in fam)
        for key, name, factor, unit in (
                ("jobs", "jobs", 1, "count"), ("stages", "stages", 1, "count"),
                ("tasks", "tasks", 1, "count"), ("task_run_ms", "task_run_s", 1e-3, "s"),
                ("task_cpu_ms", "task_cpu_s", 1e-3, "s"), ("gc_ms", "gc_s", 1e-3, "s"),
                ("sched_overhead_ms", "sched_overhead_s", 1e-3, "s"),
                ("shuffle_read_b", "shuffle_read_mb", 2 ** -20, "MiB"),
                ("shuffle_write_b", "shuffle_write_mb", 2 ** -20, "MiB"),
                ("spill_b", "spill_mb", 2 ** -20, "MiB"),
                ("planning_ms", "driver_planning_s", 1e-3, "s")):
            d[f"spark.{name}"] = m(total.get(key, 0.0) * factor * len(fam) / execs, unit, execs)
    d["notes"] = NOTES
    return d


NOTES = {
    "spark.planning_ms": "Spark plans the encoded frame lazily inside the encoder (for ANN, "
                         "a frame Wire builds internally), so this is the QueryExecutionListener's "
                         "optimization + planning phase time of the encoder's job group, carved "
                         "out of api.Wire.execute_encode; analysis of that frame stays in it.",
    "api.HttpShell.transport_ms": "median HTTP latency minus median in-process latency of the "
                                  "class, both from the traced run, whose clients alternate the "
                                  "two kinds of request under the listeners.",
    "tracing_overhead": "serve-read: trace.op_ms and trace.ops_per_s come from the traced run's "
                        "HTTP requests, to compare with the untraced op_ms and ops_per_s "
                        "(README.md records them); in_process_op_ms is not an end-to-end figure.",
}


# ---- the contract line ---------------------------------------------------------

def check_fingerprints(raw, tiny):
    """Compare the batch queries' fingerprints with the pinned ones.

    Returns (checks made, failures). Tiny runs use another corpus, so they
    have nothing pinned to compare with."""
    if raw["workload"] != "batch" or tiny:
        return 0, []
    with open(FINGERPRINTS) as fh:
        pinned = json.load(fh)
    got = raw["values"]["fingerprints"]
    bad = [f"{q} fingerprint {got.get(q)} != pinned {fp}" for q, fp in pinned.items() if got.get(q) != fp]
    return len(pinned), bad


def summarize(raw, tiny=False):
    failures = list(raw["failures"])
    attempted = raw["attempted"]
    checks, bad = check_fingerprints(raw, tiny)
    attempted += checks
    failures += bad
    if raw["workload"] == "selftest":
        # alpha ran 2 identical actions and beta 3: their job counts must be
        # in that ratio, whatever number of jobs one action takes
        got = {g: int(c.get("jobs", 0)) for g, c in raw["groups"].items() if g in ("alpha", "beta")}
        ok = got.get("alpha", 0) > 0 and 3 * got.get("alpha", 0) == 2 * got.get("beta", 0)
        metrics = {"jobs_alpha": m(got.get("alpha", 0), "count"),
                   "jobs_beta": m(got.get("beta", 0), "count")}
        return ({"correct": ok, "attempted": 1, "failed": 0 if ok else 1, "metrics": metrics},
                {"groups": raw["groups"]})
    e2e, detail = WORKLOADS[raw["workload"]](raw)
    # ann_ms and bm25_ms spread too widely across the batch workload's runs
    # (quartile distance 0.23 and 0.19 of the median over ten seeds) to carry
    # a bound, so they are reported in the detail only
    detail["ann_ms"], detail["bm25_ms"] = e2e.pop("ann_ms"), e2e.pop("bm25_ms")
    setup = raw["setup_s"]
    e2e["setup_s"] = m(median(setup), "s", len(setup))
    detail["setup_s"] = e2e["setup_s"]
    detail["failed_share"] = m(len(failures) / max(1, attempted), "ratio", attempted)
    detail["failures"] = failures[:20]
    metrics = e2e
    if raw["trace"]:
        metrics = per_layer(raw, e2e)
        detail["layers"] = layer_detail(raw)
    correct = not failures and all(v["value"] is not None for v in metrics.values())
    line = {"correct": correct, "attempted": attempted, "failed": len(failures),
            "metrics": {k: {"value": v["value"], "unit": v["unit"]} for k, v in metrics.items()}}
    detail = {"workload": raw["workload"], "seed": raw["seed"], "trace": raw["trace"],
              "cpus": raw["cpus"], "heap_mb": raw["heap_mb"], "metrics": detail}
    return line, detail
