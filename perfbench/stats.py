"""Pure computations over the harness's raw output: percentiles, span self
time, identifier-dimension hit counting, and the per-layer metric table.
Unit-tested in perfbench/tests/test_stats.py.
"""
import math
import statistics

LAYERS = ["ingest", "enrich", "sessionize", "identifier_dim", "api", "gold",
          "session_gold", "report", "dedup"]

# request kinds whose interpretation consults a materialized identifier dim
DIM_KINDS = {"dataset", "repository", "portal", "user_charts", "filters"}


def percentile(values, q):
    """Nearest-rank percentile: the smallest sample with at least q% of the
    samples at or below it."""
    if not values:
        raise ValueError("no samples")
    s = sorted(values)
    rank = max(1, math.ceil(q / 100.0 * len(s)))
    return s[rank - 1]


def beyond(n, q):
    """Samples strictly beyond the nearest-rank q-th percentile of n."""
    return n - max(1, math.ceil(q / 100.0 * n))


def _union_length(intervals):
    total, end = 0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def self_times(spans):
    """Span id -> duration minus the part of its interval that its child
    spans cover (children clipped to the parent; overlapping children, as
    with concurrent work, count once)."""
    by_id = {s["id"]: s for s in spans}
    children = {}
    for s in spans:
        if s["parent"] in by_id:
            children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        a, b = s["start_ns"], s["end_ns"]
        cover = [(max(a, c["start_ns"]), min(b, c["end_ns"]))
                 for c in children.get(s["id"], [])]
        cover = [(x, y) for x, y in cover if y > x]
        out[s["id"]] = (b - a) - _union_length(cover)
    return out


def hit_ratio(lookups):
    """Share of lookups that ran no dimension-build job. `lookups` holds the
    count of such jobs per lookup; 0.0 when there were no lookups."""
    if not lookups:
        return 0.0
    return sum(1 for jobs in lookups if jobs == 0) / len(lookups)


def _ratio(num, den):
    return num / den if den else 0.0


def layer_of(name):
    return name.split(".", 1)[0]


def layer_metrics(out):
    """Per-layer metrics from a traced run. Time and byte figures are per
    operation of the traced blocks; a layer that only works during set-up
    (the identifier dims of api_serve) is reported per set-up repetition."""
    spans = out["spans"]
    work = {int(k): v for k, v in out["span_work"].items()}
    facts = out["facts"]
    selfs = self_times(spans)
    traced_reqs = {o["req"] for o in out["ops"] if o["traced"]}
    n_ops = max(1, len(traced_reqs))
    n_setup = max(1, len(out["setup_s"]))

    def phase_spans(layer):
        mine = [s for s in spans if layer_of(s["name"]) == layer]
        ops = [s for s in mine if s["phase"] == "op" and s["req"] in traced_reqs]
        if ops:
            return ops, n_ops
        return [s for s in mine if s["phase"] == "setup"], n_setup

    def w(ss, key):
        return sum(work.get(s["id"], {}).get(key, 0) for s in ss)

    def dur_s(ss, names):
        return sum(s["end_ns"] - s["start_ns"] for s in ss if s["name"] in names) / 1e9

    m = {}
    for layer in LAYERS:
        ss, n = phase_spans(layer)
        m[f"{layer}.busy_s"] = (w(ss, "busy_ms") / 1e3 / n, "s")
        m[f"{layer}.wait_s"] = (w(ss, "wait_ms") / 1e3 / n, "s")
        m[f"{layer}.self_s"] = (sum(selfs[s["id"]] for s in ss) / 1e9 / n, "s")
        m[f"{layer}.failed"] = (sum(1 for s in ss if s["failed"]) +
                                w(ss, "failed_tasks"), "count")

    ss, n = phase_spans("ingest")
    m["ingest.parse_s"] = (dur_s(ss, {"ingest.parse"}) / n, "s")
    m["ingest.write_s"] = (dur_s(ss, {"ingest.write"}) / n, "s")
    m["ingest.bytes_written"] = (w(ss, "bytes_written") / n, "B")
    m["ingest.files_written"] = (facts.get("bronze_files", 0), "count")
    m["ingest.rows_quarantined"] = (facts.get("quarantined", 0), "count")
    good = facts.get("good_rows", 0)
    m["ingest.dup_ratio"] = (_ratio(good - facts.get("bronze_rows", 0), good), "ratio")

    ss, n = phase_spans("enrich")
    m["enrich.s"] = (dur_s(ss, {"enrich"}) / n, "s")
    m["enrich.robot_ratio"] = (_ratio(facts.get("robot_rows", 0),
                                      facts.get("bronze_rows", 0)), "ratio")

    ss, n = phase_spans("sessionize")
    m["sessionize.s"] = (dur_s(ss, {"sessionize"}) / n, "s")
    m["sessionize.shuffle_bytes"] = (w(ss, "shuffle_write") / n, "B")
    m["sessionize.spill_bytes"] = (w(ss, "spill") / n, "B")
    skews = [mx / max(md, 1) for s in ss
             for _, mx, md in work.get(s["id"], {}).get("stage_skew", [])]
    m["sessionize.task_skew"] = (max(skews) if skews else 0.0, "ratio")

    ss, n = phase_spans("identifier_dim")
    m["identifier_dim.build_s"] = (dur_s(ss, {"identifier_dim.build"}) / n, "s")
    plans = [s for s in spans if s["name"] == "api.plan" and s["req"] in traced_reqs]
    kind_of = {o["req"]: o["kind"].split(".", 1)[-1] for o in out["ops"]}
    lookups = [s for s in plans if kind_of.get(s["req"]) in DIM_KINDS]
    # the whole interpret call of the shapes that consult a dim: the engine
    # has no span around the lookup itself, so this includes all planning
    m["identifier_dim.lookup_plan_ms"] = (
        _ratio(sum(s["end_ns"] - s["start_ns"] for s in lookups) / 1e6, len(lookups)), "ms")
    m["identifier_dim.hit_ratio"] = (
        hit_ratio([work.get(s["id"], {}).get("dim_jobs", 0) for s in lookups]), "ratio")

    api = [s for s in spans if layer_of(s["name"]) == "api" and s["req"] in traced_reqs]
    n_req = len(plans)
    m["api.plan_ms"] = (_ratio(dur_s(api, {"api.plan"}) * 1e3, n_req), "ms")
    m["api.exec_ms"] = (_ratio(dur_s(api, {"api.exec"}) * 1e3, n_req), "ms")
    m["api.jobs_per_request"] = (_ratio(w(api, "jobs"), n_req), "count")
    m["api.rows_scanned_per_row_returned"] = (
        _ratio(w(api, "records_read"), facts.get("rows_returned_traced", 0)), "ratio")
    m["api.sched_wait_ms"] = (_ratio(w(api, "wait_ms"), n_req), "ms")

    gold_counts = facts.get("refresh_counts", [])
    sg_rebuilt = sum(c[0] for c in gold_counts)
    sg_all = sum(c[0] + c[1] for c in gold_counts)
    g_rebuilt = sum(c[3] for c in gold_counts)
    g_all = sum(c[3] + c[4] for c in gold_counts)
    ss, n = phase_spans("gold")
    m["gold.refresh_s"] = (dur_s(ss, {"gold.refresh"}) / n, "s")
    m["gold.groups_rebuilt_ratio"] = (_ratio(g_rebuilt, g_all), "ratio")
    sgs, sn = phase_spans("session_gold")
    m["gold.bytes_rewritten"] = ((w(ss, "bytes_written") + w(sgs, "bytes_written")) / n, "B")
    m["session_gold.build_s"] = (dur_s(sgs, {"session_gold.build"}) / sn, "s")
    m["session_gold.days_rebuilt_ratio"] = (_ratio(sg_rebuilt, sg_all), "ratio")

    ss, n = phase_spans("report")
    m["report.flat_s"] = (dur_s(ss, {"report.flat"}) / n, "s")
    m["report.sushi_s"] = (dur_s(ss, {"report.sushi"}) / n, "s")
    m["report.write_s"] = (dur_s(ss, {"report.write"}) / n, "s")

    ss, n = phase_spans("dedup")
    m["dedup.exact_substr_s"] = (dur_s(ss, {"dedup.exact_substr"}) / n, "s")
    m["dedup.trim_s"] = (dur_s(ss, {"dedup.trim"}) / n, "s")
    m["dedup.minhash_s"] = (dur_s(ss, {"dedup.minhash"}) / n, "s")
    m["dedup.jobs"] = (w(ss, "jobs") / n, "count")
    m["dedup.shuffle_bytes"] = (w(ss, "shuffle_write") / n, "B")
    m["dedup.spill_bytes"] = (w(ss, "spill") / n, "B")

    traced = [o["lat_ms"] for o in out["ops"] if o["traced"] and o["ok"]]
    untraced = [o["lat_ms"] for o in out["ops"] if not o["traced"] and o["ok"]]
    if traced and untraced:
        t, u = statistics.median(traced), statistics.median(untraced)
        m["trace.latency_p50_ms_traced"] = (t, "ms")
        m["trace.latency_p50_ms_untraced"] = (u, "ms")
        m["trace.overhead_pct"] = (100.0 * (t - u) / u, "%")
    return m
