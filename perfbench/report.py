"""Derives the benchmark's metrics from one raw run record.

The JVM client (graftbench.Main) writes a raw record: every operation with
its wall time, the set-up repetitions, the spans of a traced run with the
Spark listener totals attributed to them, and per-run counts. Everything
reported is computed here, from that record alone, so the arithmetic can be
tested without Spark.
"""

import json
import os
import statistics

HERE = os.path.dirname(os.path.abspath(__file__))

# Operation kinds whose latency is the workload's end-to-end `op_p50_ms`.
QUERY_KINDS = ("term", "or", "and", "phrase")
PIPELINE_KINDS = ("minhash_sig", "lsh_candidates", "jaccard", "passage_dups",
                  "passage_locations", "excise", "simhash", "quality",
                  "redact_pii", "decontaminate", "components")
UNIT_KINDS = {
    "search": QUERY_KINDS,
    "ingest": ("visible",),
    "pipelines": PIPELINE_KINDS,
}

SPARK_KEYS = ("jobs", "stages", "tasks", "failed_tasks", "input_bytes",
              "input_records", "shuffle_write_bytes", "shuffle_read_bytes",
              "spill_bytes", "task_run_ms", "task_cpu_ms", "gc_ms",
              "task_wait_ms")


def load_spec(path=None):
    """BENCHMARK.json, which declares every metric name and unit."""
    path = path or os.path.join(os.path.dirname(HERE), "BENCHMARK.json")
    with open(path) as f:
        return json.load(f)


# ---------------------------------------------------------------- statistics

def median(xs):
    xs = list(xs)
    return statistics.median(xs) if xs else None


def mean(xs):
    xs = list(xs)
    return sum(xs) / len(xs) if xs else None


def tail(xs, beyond=10):
    """Highest percentile with at least `beyond` samples above it.

    Returns (value, percentile) or None when there are too few samples: with
    n sorted samples, the value at 0-based index n - beyond - 1 has exactly
    `beyond` samples above it, and (n - beyond) / n of them at or below it.
    """
    xs = sorted(xs)
    n = len(xs)
    if n < beyond + 1:
        return None
    return xs[n - beyond - 1], 100.0 * (n - beyond) / n


# ---------------------------------------------------------------- spans

def union_length(intervals, lo, hi):
    """Length of the union of `intervals` clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals
                     if min(b, hi) > max(a, lo))
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans):
    """Span id -> its duration minus the part its child spans cover (ms)."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["t0"], s["t1"]))
    return {s["id"]: (s["t1"] - s["t0"])
            - union_length(children.get(s["id"], []), s["t0"], s["t1"])
            for s in spans}


# ---------------------------------------------------------------- metrics

def unit_ops(rec, traced=None):
    kinds = UNIT_KINDS[rec["workload"]]
    return [o for o in rec["ops"] if o["kind"] in kinds
            and (traced is None or o["traced"] == traced)]


def complete(rec, ops):
    """The unit operations that count for throughput: every one, except on
    pipelines, where a pass cut short by the time limit is left out."""
    if rec["workload"] != "pipelines":
        return ops
    passes = {}
    for o in ops:
        passes.setdefault(o["parts"]["round"], []).append(o)
    return [o for p in passes.values() if len(p) == len(PIPELINE_KINDS) for o in p]


def unit_samples(rec, ops, key):
    """One value of `key` ("ms" or "cpu_ms") per unit of work: an operation
    on search and ingest; on pipelines, a complete pass over every op (the
    sum over its ops), because the ops differ too much for their median to
    mean anything."""
    if rec["workload"] != "pipelines":
        return [o[key] for o in ops]
    passes = {}
    for o in complete(rec, ops):
        r = o["parts"]["round"]
        passes[r] = passes.get(r, 0.0) + o[key]
    return list(passes.values())


def docs_per_s(rec, ops):
    """Documents through the workload per second of wall time of its unit
    operations.

    search: corpus docs ranked per query; ingest: docs made visible per
    commit; pipelines: corpus docs per complete pass over every op.
    """
    ops = complete(rec, ops)
    if rec["workload"] == "pipelines":
        docs = sum(o["docs"] for o in ops) / len(PIPELINE_KINDS)
    else:
        docs = sum(o["docs"] for o in ops)
    seconds = sum(o["ms"] for o in ops) / 1e3
    return docs / seconds if seconds > 0 else None


def end_to_end(rec):
    """Every end-to-end metric, from untraced operations only.

    They are CPU time of the JVM (all threads): on a shared VM the time the
    hypervisor steals moved wall time by up to 2x between runs, and stolen
    time is not charged as CPU time. Wall times are per-layer metrics.
    """
    ops = unit_ops(rec, traced=False)
    return {
        "setup_s": median(rec["setup_cpu_s"]),
        "op_cpu_ms": median(unit_samples(rec, ops, "cpu_ms")),
    }


def attempted_failed(rec):
    attempted = len(rec["ops"])
    failed = sum(1 for o in rec["ops"] if not o["ok"]) + rec["unattributed_failures"]
    return attempted, failed


def per_layer(rec):
    """Every per-layer metric of a traced run.

    Span metrics are medians of self time over the traced operations;
    listener metrics are means per traced unit operation. Workload-level
    latencies (search classes, commit, ...) use every operation of the run.
    A metric of a layer the workload never reaches reads 0.
    """
    ops = rec["ops"]
    spans = rec["spans"]
    selfs = self_times(spans)
    out = {}

    def span_median(name, scale):
        v = median(selfs[s["id"]] for s in spans if s["name"] == name)
        return None if v is None else v * scale

    def kind_ms(*kinds):
        return [o["ms"] for o in ops if o["kind"] in kinds]

    # wall time of the whole workload
    out["setup_wall_s"] = median(rec["setup_s"])
    out["op_p50_ms"] = median(unit_samples(rec, unit_ops(rec), "ms"))
    out["docs_per_s"] = docs_per_s(rec, unit_ops(rec))

    # search
    q = kind_ms(*QUERY_KINDS)
    out["search_p50_ms"] = median(q)
    t = tail(q)
    out["search_tail_ms"] = t[0] if t else None
    for k in QUERY_KINDS:
        out[f"search_{k}_p50_ms"] = median(kind_ms(k))
    for name in ("query.parse", "exec.plan", "exec.collect", "exec.termstats"):
        out[name + "_ms"] = span_median(name, 1.0)
    wand = [o["parts"] for o in ops if o["traced"] and "wand_candidates" in o["parts"]]
    out["exec.wand_decoded_blocks"] = mean(p["wand_decoded"] for p in wand)
    out["exec.wand_candidate_blocks"] = mean(p["wand_candidates"] for p in wand)
    cand = sum(p["wand_candidates"] for p in wand)
    out["exec.wand_decode_ratio"] = (sum(p["wand_decoded"] for p in wand) / cand
                                     if cand else None)

    # bulk build (the search workload's set-up)
    counts = rec["counts"]
    out["build_docs_per_s"] = median(o["docs"] / (o["ms"] / 1e3) for o in ops
                                     if o["kind"] == "build" and not o["traced"])
    tables = ("postings", "docs", "termdict", "termgrams")
    for tb in tables:
        out[f"index.{tb}_bytes"] = counts.get(f"index.{tb}_bytes")
    content = counts.get("content_bytes")
    out["index_bytes_per_content_byte"] = (
        sum(counts.get(f"index.{tb}_bytes", 0) for tb in tables) / content
        if content else None)
    for name in ("analysis.tokenize", "index.prepare_docs", "index.blocks",
                 "index.save", "index.load"):
        out[name + "_s"] = span_median(name, 1e-3)
    for name in ("analysis.tokens", "index.blocks", "index.terms"):
        out[name] = counts.get(name)

    # ingest
    vis = [o for o in ops if o["kind"] == "visible"]
    out["commit_p50_ms"] = median(o["parts"]["commit_ms"] for o in vis
                                  if "commit_ms" in o["parts"])
    out["visible_p50_ms"] = median(o["ms"] for o in vis)
    out["ingest_search_p50_ms"] = median(kind_ms("search"))
    for name in ("indexer.add", "indexer.commit", "indexer.reopen", "indexer.merge"):
        out[name + "_ms"] = span_median(name, 1.0)
    out["indexer.first_search_ms"] = median(
        o["parts"]["first_search_ms"] for o in vis
        if o["traced"] and "first_search_ms" in o["parts"])
    traced_vis = [o["parts"] for o in vis if o["traced"] and "segments" in o["parts"]]
    out["indexer.segments"] = mean(p["segments"] for p in traced_vis)
    out["indexer.tombstones"] = mean(p["tombstones"] for p in traced_vis)

    # pipelines
    for k in PIPELINE_KINDS:
        out[f"ops.{k}_s"] = span_median("ops." + k, 1e-3)
    lsh = [o["parts"] for o in ops if o["traced"] and "pairs" in o["parts"]]
    ver = [o["parts"] for o in ops if o["traced"] and "verified" in o["parts"]]
    out["ops.lsh_candidate_pairs"] = mean(p["pairs"] for p in lsh)
    out["ops.verified_pairs"] = mean(p["verified"] for p in ver)
    pairs = sum(p["pairs"] for p in lsh)
    out["ops.lsh_precision"] = (sum(p["verified"] for p in ver) / pairs
                                if pairs and ver else None)

    # Spark runtime, per traced unit operation
    traced_units = unit_ops(rec, traced=True)
    span_op = {s["id"]: s["op"] for s in spans}
    per_op = {o["id"]: dict.fromkeys(SPARK_KEYS, 0.0) for o in traced_units}
    for span_id, totals in rec["spark"].items():
        op = span_op.get(int(span_id))
        if op in per_op:
            for k in SPARK_KEYS:
                per_op[op][k] += totals.get(k, 0.0)
    for k in SPARK_KEYS:
        out["spark." + k] = mean(v[k] for v in per_op.values())
    jobs_by_op = {}
    for span_id, a, b in rec["jobs"]:
        jobs_by_op.setdefault(span_op.get(span_id), []).append((a, b))
    roots = {s["op"]: s for s in spans if s["parent"] == -1}
    out["spark.driver_ms"] = mean(
        (roots[o]["t1"] - roots[o]["t0"])
        - union_length(jobs_by_op.get(o, []), roots[o]["t0"], roots[o]["t1"])
        for o in per_op if o in roots)

    # whole run
    attempted, failed = attempted_failed(rec)
    out["failed_frac"] = failed / attempted if attempted else None
    out["cache_mb"] = counts.get("cache_mb")
    # round 0 runs cold; the traced rounds are compared with warm ones
    traced_ms = median(unit_samples(rec, traced_units, "ms"))
    untraced_ms = median(unit_samples(rec, [o for o in unit_ops(rec, traced=False)
                                            if o["parts"].get("round", 0) >= 1], "ms"))
    out["trace.overhead_frac"] = (traced_ms / untraced_ms - 1.0
                                  if traced_ms and untraced_ms else None)
    return out


def result_line(rec, spec):
    """The benchmark's final JSON object, with each metric and its unit.

    Raises ValueError when an end-to-end metric could not be measured.
    """
    trace = rec["trace"]
    declared = spec["per_layer"] if trace else spec["end_to_end"]
    values = per_layer(rec) if trace else end_to_end(rec)
    unknown = set(values) - {m["name"] for m in declared}
    if unknown:
        raise ValueError(f"metrics not declared in BENCHMARK.json: {sorted(unknown)}")
    metrics = {}
    for m in declared:
        v = values.get(m["name"])
        if v is None:
            if not trace:
                raise ValueError(f"no samples for end-to-end metric {m['name']}")
            v = 0.0
        metrics[m["name"]] = {"value": float(v), "unit": m["unit"]}
    attempted, failed = attempted_failed(rec)
    return {"correct": failed == 0 and attempted > 0, "attempted": attempted,
            "failed": failed, "metrics": metrics}
