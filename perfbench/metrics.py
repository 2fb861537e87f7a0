"""Output checks and metrics from the harness's result document.

Every workload reports the same end-to-end and per-layer metrics, each
defined per operation of that workload: one HTTP request in ar_serve, one
pass over the nine queries in catalog_sf001, timed as the sum of each
query's median time. The workload's own named metrics (ingest rows/s,
req/s, per-endpoint, per-layer and per-query splits) are reported beside
them.
"""
import math
import statistics
from collections import defaultdict

import argen


def pct(values, q):
    """Nearest-rank percentile."""
    s = sorted(values)
    return s[max(0, math.ceil(q * len(s)) - 1)]


def _check(out, name, error=None, wrong=False):
    c = out.setdefault(name, {"attempted": 0, "failed": 0, "wrong": 0, "example": ""})
    c["attempted"] += 1
    if error:
        c["failed"] += 1
        c["wrong"] += int(wrong)
        c["example"] = c["example"] or error


def check(res, expected):
    """Per check name: attempted, failed, wrong (an answer that was not the
    expected one) and the first failure."""
    out = {name: {"attempted": a, "failed": f, "wrong": w, "example": ex}
           for name, (a, f, w, ex) in res.get("checks", {}).items()}
    for load in res.get("ingest", []):
        exp = expected[load["kind"]]
        got = {**load["stats"], "fact_rows": load["fact"]["rows"],
               "fact_crc": load["fact"]["crc"], "fact_applied": load["fact"]["applied"]}
        bad = [f"{k}={got[k]} expected {v}" for k, v in exp.items() if got[k] != v]
        _check(out, f"ingest.{load['kind']}", "; ".join(bad) or None, wrong=True)
    for o in res.get("observed", []):
        if "error" not in o:
            exp = expected.get(o["query"])
            got = {"rows": o["rows"], "fingerprint": o["fingerprint"]}
            _check(out, f"catalog.{o['query']}",
                   None if got == exp else f"got {got}, expected {exp}", wrong=True)
    return out


def _serve_ops(res, phase="c4", traced=None):
    return [o for o in res["ops"] if o.get("phase") == phase
            and (traced is None or o["traced"] == traced)]


def _query_ops(res, traced=None):
    return [o for o in res["ops"] if traced is None or o["traced"] == traced]


def _passes(res, traced=None):
    """Catalog passes run: query runs over the number of queries."""
    ops = _query_ops(res, traced)
    return len(ops) / max(1, len({o["k"] for o in res["ops"]}))


def _pass_s(res, traced=None):
    """Catalog pass time in seconds: the sum of each query's median time, so
    that a partly run last pass counts each query once."""
    by = defaultdict(list)
    for o in _query_ops(res, traced):
        by[o["k"]].append(o["ms"] / 1e3)
    return sum(statistics.median(v) for v in by.values()) if by else None


def _request_s(res):
    """One request of the mix on an idle server, in seconds: each kind's
    median one-client round trip, weighted by its share of the mix; None
    when a kind has no round trip."""
    by = defaultdict(list)
    for o in _serve_ops(res, phase="c1"):
        by[o["k"]].append(o["ms"] / 1e3)
    if not all(by[k] for k, _ in argen.MIX):
        return None
    return sum(share * statistics.median(by[k]) for k, share in argen.MIX) / sum(
        share for _, share in argen.MIX)


def op_seconds(workload, res, traced=None):
    """Typical operation time: the median request of the 4-client load, or a
    pass; None when no such operation ran."""
    if workload == "ar_serve":
        lat = [o["ms"] / 1e3 for o in _serve_ops(res, traced=traced)]
        return statistics.median(lat) if lat else None
    return _pass_s(res, traced)


def end_to_end(workload, res, gen_s):
    """(end-to-end metrics, the workload's named metrics), name -> (value, unit)."""
    if workload == "ar_serve":      # concurrent clients: requests over wall time
        ops = _serve_ops(res)
        window = max(o["t0"] + o["ms"] / 1e3 for o in ops) - min(o["t0"] for o in ops)
        samples = len(ops)
        ops_per_s = samples / window
        op_s = _request_s(res)
    else:                           # one operation at a time
        samples = len(res["ops"])
        op_s = _pass_s(res)
        ops_per_s = 1 / op_s
    ingest = res.get("ingest", [])
    setup = (gen_s + res["session_s"] + sum(x["ms"] for x in ingest) / 1e3
             + statistics.median(res["setup_s"]) + res.get("warmup_s", 0.0))
    e2e = {
        "ops_per_s": (ops_per_s, "1/s"),
        "op_latency_ms": (op_s * 1e3 if op_s is not None else None, "ms"),
        "setup_s": (setup, "s"),
    }
    named = {"samples": (samples, "count")}
    if workload == "ar_serve":
        lat = [o["ms"] for o in ops]
        named.update(serve_rps=(ops_per_s, "req/s"),
                     serve_p50_ms=(statistics.median(lat), "ms"),
                     serve_p90_ms=(pct(lat, 0.90), "ms"))
        for load in ingest:
            named[f"ingest_{load['kind']}_rows_per_s"] = (
                load["stats"]["rows"] / (load["ms"] / 1e3), "rows/s")
    else:
        named["catalog_pass_s"] = (op_s, "s")
    named["setup_s"] = e2e["setup_s"]
    # the peak depends on how fast unpersisted blocks leave, so it is
    # reported, not gated
    named["storage_peak_mb"] = (res["storage_peak_mb"], "MB")
    return e2e, named


# ------------------------------------------------------------- per layer

def _union(intervals):
    out = []
    for a, b in sorted(intervals):
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return out


def _overlap(a, b):
    """Total length of the intersection of two sorted unions of intervals."""
    total, i, j = 0.0, 0, 0
    while i < len(a) and j < len(b):
        total += max(0.0, min(a[i][1], b[j][1]) - max(a[i][0], b[j][0]))
        if a[i][1] < b[j][1]:
            i += 1
        else:
            j += 1
    return total


def _inside(t, windows):
    return any(a <= t <= b for a, b in windows)


def _job_sums(jobs):
    keys = ("tasks", "cpu_s", "input_bytes", "output_bytes", "shuffle_read_bytes",
            "shuffle_write_bytes", "spill_bytes")
    s = {k: sum(j[k] for j in jobs) for k in keys}
    s["jobs"] = len(jobs)
    return s


def _descendants(spans):
    """span id -> ids of the span and everything under it."""
    kids = defaultdict(list)
    for s in spans:
        kids[s["parent"]].append(s["id"])
    memo = {}

    def walk(i):
        if i not in memo:
            memo[i] = [i] + [d for k in kids[i] for d in walk(k)]
        return memo[i]
    return {s["id"]: set(walk(s["id"])) for s in spans}


def self_times(spans):
    """Per layer (span name prefix): span time not covered by child spans."""
    kids = defaultdict(list)
    for s in spans:
        kids[s["parent"]].append(s)
    out = defaultdict(float)
    for s in spans:
        covered = _overlap(_union([(c["t0"], c["t1"]) for c in kids[s["id"]]]),
                           [[s["t0"], s["t1"]]])
        out[s["name"].split(".")[0]] += s["t1"] - s["t0"] - covered
    return dict(out)


def per_layer(workload, res):
    """(per-layer metrics shared by all workloads, name -> (value, unit);
    the workload's named layer metrics)."""
    if workload == "ar_serve":
        traced_ops = _serve_ops(res, traced=True)
        n = len(traced_ops)
        resident = res["resident_end"]
    else:
        traced_ops = _query_ops(res, True)
        n = _passes(res, True)
        traced_obs = [o for o in res["observed"] if o.get("traced")]
        resident = sum(o.get("resident_blocks", 0) for o in traced_obs) / max(1, n)
    n = max(n, 1)
    windows = _union([(o["t0"], o["t0"] + o["ms"] / 1e3) for o in traced_ops])
    jobs = [j for j in res["jobs"] if _inside(j["t0"], windows)]
    busy = _overlap(_union([(j["t0"], j["t1"]) for j in jobs if j["t1"] is not None]), windows)
    plans = sum(p["plan_s"] for p in res["plans"] if _inside(p["t1"], windows))
    sums = _job_sums(jobs)
    traced, untraced = (op_seconds(workload, res, t) for t in (True, False))
    overhead = 100.0 * (traced / untraced - 1) if traced and untraced else 0.0
    layer = {
        "spark.jobs": (sums["jobs"] / n, "count"),
        "spark.tasks": (sums["tasks"] / n, "count"),
        "spark.task_cpu_s": (sums["cpu_s"] / n, "s"),
        "spark.busy_s": (busy / n, "s"),
        "driver.self_s": ((sum(b - a for a, b in windows) - busy) / n, "s"),
        "catalyst.plan_s": (plans / n, "s"),
        "spark.input_bytes": (sums["input_bytes"] / n, "bytes"),
        "spark.output_bytes": (sums["output_bytes"] / n, "bytes"),
        "spark.shuffle_write_bytes": (sums["shuffle_write_bytes"] / n, "bytes"),
        "spark.spill_bytes": (sums["spill_bytes"] / n, "bytes"),
        "spark.gc_s": (res["gc_s"] / max(1, len(_serve_ops(res)) if workload == "ar_serve"
                                         else _passes(res)), "s"),
        "storage.resident_blocks": (resident, "count"),
        "trace.overhead_pct": (overhead, "%"),
    }
    detail = {f"spark.{k}": v for k, v in sums.items()}
    detail.update({"spark.gc_s": res["gc_s"], "trace.overhead_pct": overhead})
    detail.update({f"self_s.{k}": v for k, v in self_times(res["spans"]).items()})
    if workload == "ar_serve":
        detail.update(_ingest_named(res))
        detail.update(_serve_named(res))
    else:
        detail.update(_catalog_named(res))
    return layer, detail


def _spans_named(res, name):
    return [s for s in res["spans"] if s["name"] == name]


def _jobs_under(res, spans):
    desc = _descendants(res["spans"])
    ids = set().union(*(desc[s["id"]] for s in spans))
    return _job_sums([j for j in res["jobs"] if j["span"] in ids])


def _mean_s(spans):
    return statistics.mean(s["t1"] - s["t0"] for s in spans) if spans else 0.0


def _ingest_named(res):
    """The set-up's ingest cycle, run through IngestJob.run's steps."""
    d = {}
    csv_bytes = sum(x["csv_bytes"] for x in res["ingest"])
    prep = _spans_named(res, "ingest.prepare")
    pj = _jobs_under(res, prep)
    d["ingest.prepare_s"] = _mean_s(prep)
    d["ingest.prepare_jobs"] = pj["jobs"] / max(1, len(prep))
    d["ingest.csv_scans"] = pj["input_bytes"] / csv_bytes
    d["ingest.resident_blocks"] = statistics.mean(x["resident_blocks"] for x in res["ingest"])
    steps = ("load.overwrite_dim", "load.fact_write", "load.merge_into")
    for name in steps:
        d[f"{name}_s"] = _mean_s(_spans_named(res, name))
    d["load.merge_shuffle_bytes"] = _jobs_under(res, _spans_named(res, "load.merge_into"))[
        "shuffle_write_bytes"]
    written = _jobs_under(res, [s for n in steps for s in _spans_named(res, n)])["output_bytes"]
    d["load.bytes_written"] = written
    d["load.write_amp"] = written / csv_bytes
    return d


def _serve_named(res):
    d = {}
    c1 = defaultdict(list)
    for o in _serve_ops(res, phase="c1"):
        c1[o["k"]].append(o["ms"])
    for k in ("health", "past_due", "month", "contact", "invoice", "customer"):
        d[f"api.{k}_p50_ms"] = statistics.median(c1[k]) if c1[k] else None
    q = defaultdict(list)
    for o in _serve_ops(res, phase="q"):
        q[o["k"].split(".", 1)[1]].append(o["ms"])
    for k in ("past_due", "month", "contact", "customer", "customer_list"):
        d[f"query.{k}_ms"] = statistics.median(q[k]) if q[k] else None
        spans = _spans_named(res, f"query.{k}")
        s = _jobs_under(res, spans)
        d[f"query.{k}_jobs"] = s["jobs"] / max(1, len(spans))
        d[f"query.{k}_scan_bytes"] = s["input_bytes"] / max(1, len(spans))
    for k in ("past_due", "month", "contact", "customer"):
        if d[f"api.{k}_p50_ms"] is not None and d[f"query.{k}_ms"] is not None:
            d[f"api.{k}_overhead_ms"] = d[f"api.{k}_p50_ms"] - d[f"query.{k}_ms"]
    # one-client p50 over the same mix: the weighted median of the per-kind samples
    weights = dict(argen.MIX)
    samples = sorted((ms, weights[k] / len(v)) for k, v in c1.items() for ms in v)
    half, acc, p50_1 = sum(w for _, w in samples) / 2, 0.0, None
    for ms, w in samples:
        acc += w
        if acc >= half:
            p50_1 = ms
            break
    c4 = [o["ms"] for o in _serve_ops(res)]
    d["api.queue_ms"] = statistics.median(c4) - p50_1 if c4 and p50_1 is not None else None
    return d


def _catalog_named(res):
    d = {}
    desc = _descendants(res["spans"])
    kids = defaultdict(list)
    for s in res["spans"]:
        kids[s["parent"]].append(s)
    qspans = [s for s in res["spans"] if s["name"].startswith("catalog.q")]
    totals = defaultdict(float)
    for q in sorted({s["name"][len("catalog."):] for s in qspans}):
        spans = [s for s in qspans if s["name"] == f"catalog.{q}"]
        for part in ("build", "plan", "action"):
            parts = [c for s in spans for c in kids[s["id"]] if c["name"] == f"catalog.{part}"]
            ids = set().union(*(desc[c["id"]] for c in parts))
            jobs = sum(1 for j in res["jobs"] if j["span"] in ids) / len(spans)
            totals[f"{part}_s"] += _mean_s(parts)
            totals["jobs"] += jobs
            if part != "plan":
                d[f"catalog.{q}.{part}_s"] = _mean_s(parts)
                d[f"catalog.{q}.{part}_jobs"] = jobs
        d[f"catalog.{q}.shuffle_bytes"] = (
            _jobs_under(res, spans)["shuffle_write_bytes"] / len(spans))
    d.update({f"catalog.{k}": v for k, v in totals.items()})
    d["catalog.resident_blocks"] = sum(o["resident_blocks"] for o in res["observed"]
                                       if o.get("traced"))
    return d
