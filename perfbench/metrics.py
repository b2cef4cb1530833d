"""Arithmetic that turns the benchmark JVM's raw observations into metrics.

Everything here is pure: it reads the raw JSON document written by
``perfbench.Main`` (and the span file of a traced run) and returns
numbers. ``test_metrics.py`` pins the rules.
"""

import math
import statistics

# The queries workload's list, as in QueryWorkload.Names; the per-layer
# metric names built from it are fixed in BENCHMARK.json.
QUERY_NAMES = [
    "t34_bpe_train", "q68_domain_pagerank", "q69_hits_authority", "q76_kcore_peel",
    "q01_pricing_summary", "q03_shipping_priority", "q05_local_supplier_volume",
    "q18_large_orders", "q62_market_share", "q67_basket_lift",
]
SELF_LAYERS = {"source": "source", "engine": "engine", "exec": "exec",
               "job": "spark.job", "query": "query"}


# -- percentiles ------------------------------------------------------------

def percentile(values, q):
    """The q-quantile (0 < q < 1) by nearest rank, or None unless at least
    ten samples lie beyond it (p50 needs 20 samples, p90 needs 100)."""
    n = len(values)
    if n == 0 or n * (1.0 - q) < 10.0 - 1e-9:
        return None
    ordered = sorted(values)
    return ordered[max(0, math.ceil(q * n) - 1)]


def median(values):
    return statistics.median(values) if values else None


# -- micro-batch records ----------------------------------------------------

def commit_ms(batch):
    """Trigger start plus trigger execution: when the batch committed."""
    return batch["ts_ms"] + batch["dur"].get("triggerExecution", 0)


def in_window(batches, window):
    """Non-empty batches that committed inside [start, end] of the window."""
    w0, w1 = window
    return [b for b in batches if b["rows"] > 0 and w0 <= commit_ms(b) <= w1]


def whole_batch_rate(batches, window):
    """Rows per second between the first and last batch-completion
    boundaries inside the window. Only whole batches count: the rows of
    the first completing batch were processed before the measured span.
    None with fewer than two completions."""
    done = sorted(in_window(batches, window), key=commit_ms)
    if len(done) < 2:
        return None
    span_s = (commit_ms(done[-1]) - commit_ms(done[0])) / 1000.0
    if span_s <= 0:
        return None
    return sum(b["rows"] for b in done[1:]) / span_s


def skipped_ticks(batches, pace_s, window=None):
    """Ticks that fell due minus chunks granted. A chunk is granted at the
    end of its batch's latestOffset; the source's schedule is anchored at
    the first grant, so the tick count due at grant j is
    floor((grant_j - grant_1) / pace) + 1 and the skipped count is that
    minus j. Over a window, the difference between the last and the first
    batch inside it."""
    seq = sorted((b for b in batches if b["rows"] > 0), key=lambda b: b["ts_ms"])
    if not seq:
        return 0
    pace_ms = pace_s * 1000.0

    def grant(b):
        return b["ts_ms"] + b["dur"].get("latestOffset", 0)

    g1 = grant(seq[0])
    skipped = [math.floor((grant(b) - g1) / pace_ms + 1e-9) + 1 - (j + 1)
               for j, b in enumerate(seq)]
    if window is None:
        return skipped[-1]
    inside = [s for b, s in zip(seq, skipped) if window[0] <= commit_ms(b) <= window[1]]
    return inside[-1] - inside[0] if inside else 0


def offset_failures(batches):
    """Batches breaking the offset contract: each batch starts where the
    previous one ended (the first at 0), and spans exactly its row count."""
    bad = 0
    prev_end = 0
    for b in sorted((b for b in batches if b["rows"] > 0), key=lambda b: b["id"]):
        if b["start"] != prev_end or b["end"] - b["start"] != b["rows"]:
            bad += 1
        prev_end = b["end"]
    return bad


def durations(batches, key):
    return [b["dur"].get(key, 0) for b in batches]


def trigger_gaps(batches):
    """Idle time from one batch's commit to the next batch's trigger start."""
    seq = sorted(batches, key=lambda b: b["ts_ms"])
    return [max(0, n["ts_ms"] - commit_ms(p)) for p, n in zip(seq, seq[1:])]


def add_batch_ms_per_mrow(batches):
    rows = sum(b["rows"] for b in batches)
    if rows == 0:
        return None
    return sum(b["dur"].get("addBatch", 0) for b in batches) * 1e6 / rows


def add_batch_rows_per_s(batches):
    """Rows per second of addBatch time: the rate of the work the batches
    did. Unlike the whole-batch rate it is not capped by the source's
    admission of one chunk per tick. None without rows or time."""
    per_mrow = add_batch_ms_per_mrow(batches)
    return None if not per_mrow else 1e9 / per_mrow


# -- fingerprints -----------------------------------------------------------

def fingerprint_failures(samples, pinned):
    """Samples whose row count or order-independent row hash differs from
    the fingerprint pinned for their query (an unpinned query fails)."""
    bad = []
    for s in samples:
        pin = pinned.get(s["name"])
        if pin is None or pin["rows"] != s["rows"] or pin["fp"] != s["fp"]:
            bad.append(s["name"])
    return bad


# -- spans ------------------------------------------------------------------

def self_times(spans):
    """Self time of every span: its duration minus the part of its
    interval that its children cover. Returns {span id: ms}."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start_ms"], s["end_ms"]
        covered, cur_lo, cur_hi = 0.0, None, None
        for c in sorted(children.get(s["id"], []), key=lambda c: c["start_ms"]):
            a, b = max(lo, c["start_ms"]), min(hi, c["end_ms"])
            if b <= a:
                continue
            if cur_hi is None or a > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = a, b
            else:
                cur_hi = max(cur_hi, b)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = max(0.0, (hi - lo) - covered)
    return out


def self_by_layer(spans, window):
    """Self time summed per layer over spans that start inside the window."""
    own = self_times(spans)
    total = {}
    for s in spans:
        if window[0] <= s["start_ms"] <= window[1]:
            total[s["layer"]] = total.get(s["layer"], 0.0) + own[s["id"]]
    return total


# -- workloads --------------------------------------------------------------

def playback_end_to_end(raw):
    untraced = raw["untraced"]
    return {
        "throughput_per_s": whole_batch_rate(raw["batches"], untraced["window_ms"]),
        "setup_s": median(raw["setup_s"]),
    }


def playback_detail(raw):
    window = raw["untraced"]["window_ms"]
    done = in_window(raw["batches"], window)
    lat = durations(done, "triggerExecution")
    return {
        "readings_per_s": {"value": whole_batch_rate(raw["batches"], window), "unit": "1/s",
                           "n": max(0, len(done) - 1)},
        "batch_p50_ms": {"value": percentile(lat, 0.5), "unit": "ms", "n": len(lat)},
        "batch_p90_ms": {"value": percentile(lat, 0.9), "unit": "ms", "n": len(lat)},
        "batch_median_ms": {"value": median(lat), "unit": "ms", "n": len(lat)},
        "skipped_ticks": {"value": skipped_ticks(raw["batches"], raw["pace_s"], window),
                          "unit": "count"},
        "setup_s": {"value": median(raw["setup_s"]), "unit": "s", "n": len(raw["setup_s"])},
        "batch_phase_median_ms": {k: median(durations(done, k)) for k in sorted(
            {k for b in done for k in b["dur"]})},
    }


def playback_checks(raw):
    """(attempted, failed): every committed batch of every stream the run
    measured, plus the independently parsed sample batch."""
    streams = [raw["batches"]]
    if raw.get("traced"):
        streams += [s["batches"] for s in raw["traced"]["subruns"].values()]
    attempted = sum(len([b for b in s if b["rows"] > 0]) for s in streams)
    failed = sum(offset_failures(s) for s in streams)
    v = raw["verify"]
    attempted += 1
    if v["mismatches"] > 0 or v["checked_rows"] == 0 or v["batches"] == 0:
        failed += 1
    return attempted, failed


def playback_layers(raw, spans, nproc):
    t = raw["traced"]
    window = t["window_ms"]
    done = in_window(raw["batches"], window)
    subs = t["subruns"]

    def sub_done(name):
        return in_window(subs[name]["batches"], subs[name]["window_ms"])

    main = add_batch_ms_per_mrow(done)
    raw_per_mrow = add_batch_ms_per_mrow(sub_done("raw"))
    current_per_mrow = add_batch_ms_per_mrow(sub_done("current_time"))
    fine = sub_done("fine")
    untraced_rate = whole_batch_rate(raw["batches"], raw["untraced"]["window_ms"])
    traced_rate = whole_batch_rate(raw["batches"], window)
    wall_ms = window[1] - window[0]
    m = {
        "source.index_build_ms": median(t["index_build_ms"]),
        "source.latest_offset_ms": median(durations(done, "latestOffset")),
        "source.skipped_ticks": skipped_ticks(raw["batches"], raw["pace_s"], window),
        "source.read_rows_per_s": add_batch_rows_per_s(sub_done("raw")),
        "source.tasks_per_batch": median(t["tasks_per_batch"]),
        "stream.build_ms": median(t["stream_build_ms"]),
        "stream.parse_ms_per_mrow": _diff(current_per_mrow, raw_per_mrow),
        "stream.ts_rewrite_ms_per_mrow": _diff(main, current_per_mrow),
        "engine.add_batch_ms": median(durations(done, "addBatch")),
        "engine.query_planning_ms": median(durations(done, "queryPlanning")),
        "engine.wal_commit_ms": median(durations(done, "walCommit")),
        "engine.commit_offsets_ms": median(durations(done, "commitOffsets")),
        "engine.trigger_gap_ms": median(trigger_gaps(done)),
        "fine.readings_per_s": whole_batch_rate(subs["fine"]["batches"],
                                                subs["fine"]["window_ms"]),
        "fine.batch_p50_ms": percentile(durations(fine, "triggerExecution"), 0.5),
        "fine.add_batch_ms": median(durations(fine, "addBatch")),
        "fine.query_planning_ms": median(durations(fine, "queryPlanning")),
        "fine.wal_commit_ms": median(durations(fine, "walCommit")),
        "fine.commit_offsets_ms": median(durations(fine, "commitOffsets")),
        "fine.trigger_gap_ms": median(trigger_gaps(fine)),
        "fine.skipped_ticks": skipped_ticks(subs["fine"]["batches"], subs["fine"]["pace_s"],
                                            subs["fine"]["window_ms"]),
        "jvm.live_heap_peak_mb": raw["heap_after_gc_peak_mb"],
        "jvm.gc_ms": t["gc_ms"],
        "jvm.gc_count": t["gc_count"],
        "spark.executor_busy_share": t["task_run_ms"] / (wall_ms * nproc),
        "trace.overhead_share": _ratio_minus_one(untraced_rate, traced_rate),
    }
    selfs = self_by_layer(spans, window)
    for name, layer in SELF_LAYERS.items():
        m[f"trace.self_ms.{name}"] = selfs.get(layer, 0.0) / max(1, len(done))
    return m


def query_end_to_end(raw):
    walls = [p["wall_ms"] for p in raw["warm"]]
    samples = sum(len(p["samples"]) for p in raw["warm"])
    return {
        "throughput_per_s": samples / (sum(walls) / 1000.0),
        "setup_s": _query_setup_s(raw),
    }


def _query_setup_s(raw):
    return median(raw["tables_load_ms"]) / 1000.0 + raw["cold"]["wall_ms"] / 1000.0


def query_detail(raw):
    walls = [p["wall_ms"] / 1000.0 for p in raw["warm"]]
    per_query = {}
    for p in raw["warm"]:
        for s in p["samples"]:
            per_query.setdefault(s["name"], []).append(s["ms"])
    return {
        "pass_s": {"value": median(walls), "unit": "s", "n": len(walls)},
        "setup_s": {"value": _query_setup_s(raw), "unit": "s", "n": 1},
        "query_wall_ms": {k: {"value": median(v), "unit": "ms", "n": len(v)}
                          for k, v in sorted(per_query.items())},
    }


def query_samples(raw):
    out = list(raw["cold"]["samples"])
    for p in raw["warm"]:
        out += p["samples"]
    if raw.get("traced"):
        for p in raw["traced"]["passes"]:
            out += p["samples"]
    return out


def query_layers(raw, spans, nproc):
    t = raw["traced"]
    warm = {}
    for p in raw["warm"]:
        for s in p["samples"]:
            warm.setdefault(s["name"], []).append(s["ms"])
    cold = {s["name"]: s["ms"] for s in raw["cold"]["samples"]}
    work = {}
    for p in t["passes"]:
        for s in p["samples"]:
            work[s["name"]] = t["work"].get(s["group"], {})
    m = {}
    for q in QUERY_NAMES:
        w = work.get(q, {})
        m[f"query.{q}.wall_ms"] = median(warm.get(q, []))
        m[f"query.{q}.cold_ms"] = cold.get(q)
        m[f"query.{q}.jobs"] = w.get("jobs", 0)
        m[f"query.{q}.stages"] = w.get("stages", 0)
        m[f"query.{q}.tasks"] = w.get("tasks", 0)
        m[f"query.{q}.shuffle_bytes"] = w.get("shuffle_bytes", 0)
        m[f"query.{q}.spill_bytes"] = w.get("spill_bytes", 0)
    m["tables.load_ms"] = median(raw["tables_load_ms"])
    m["jvm.live_heap_peak_mb"] = raw["heap_after_gc_peak_mb"]
    m["jvm.gc_ms"] = t["gc_ms"]
    m["jvm.gc_count"] = t["gc_count"]
    m["spark.executor_busy_share"] = t["task_run_ms"] / (t["wall_ms"] * nproc)
    untraced = median([p["wall_ms"] for p in raw["warm"]])
    traced = median([p["wall_ms"] for p in t["passes"]])
    m["trace.overhead_share"] = _ratio_minus_one(traced, untraced)
    passes = [s for s in spans if s["name"] == "pass.traced"]
    window = (min(s["start_ms"] for s in passes), max(s["end_ms"] for s in passes)) \
        if passes else (0, 0)
    selfs = self_by_layer(spans, window)
    for name, layer in SELF_LAYERS.items():
        m[f"trace.self_ms.{name}"] = selfs.get(layer, 0.0) / max(1, len(passes))
    return m


def _diff(a, b):
    return None if a is None or b is None else a - b


def _ratio_minus_one(a, b):
    return None if not a or not b else a / b - 1.0
