"""Turns the engine's raw observations into the benchmark's metrics and
checks the outputs. Pure functions over the raw JSON document that
`EngineMain` writes; `perfbench/tests/test_metrics.py` covers them."""
import math
import statistics

# A timed live episode whose generator ran later than this behind its
# schedule is failed: a starved generator offers less load and would read
# as lower latency.
GEN_LATE_TOLERANCE_MS = 500

PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
MIN_BEYOND = 10


def rank(n, q):
    """1-based nearest rank of the q-th percentile among n samples."""
    return max(1, math.ceil(round(q * n / 100.0, 6)))


def percentile(values, q):
    """Nearest-rank q-th percentile of `values`."""
    s = sorted(values)
    if not s:
        raise ValueError("percentile of no samples")
    return s[rank(len(s), q) - 1]


def beyond(n, q):
    """How many of n samples lie above the nearest-rank q-th percentile."""
    return n - rank(n, q)


def highest_supported(n, candidates=PERCENTILES, min_beyond=MIN_BEYOND):
    """The highest percentile with at least `min_beyond` samples beyond it,
    or None when even the lowest candidate lacks them."""
    for q in sorted(candidates, reverse=True):
        if beyond(n, q) >= min_beyond:
            return q
    return None


def in_window(t, window):
    return window[0] <= t <= window[1]


def latency_samples(sink, episode, window, since=None):
    """One sample per emitted row: the wall time its foreachBatch held the
    row minus the row's max(created_ms). Creation time is the generator's
    due time, so a stalled generator adds to latency instead of hiding it.
    With `since`, every row counts from that time instead. Only batches
    held inside the measured window count."""
    return [b["held_ms"] - (row[3] if since is None else since) for b in sink
            if b["episode"] == episode and in_window(b["held_ms"], window)
            for row in b["rows"]]


def last_counts(sink, episode):
    """The last emitted count per (window start ms, campaign)."""
    out = {}
    for b in sorted((b for b in sink if b["episode"] == episode),
                    key=lambda b: b["batch_id"]):
        for w, c, n, _ in b["rows"]:
            out[(w, c)] = n
    return out


def mismatches(emitted, tally):
    """Keys whose last emitted count differs from the generator's tally,
    missing and unexpected keys included."""
    expected = {(w, c): n for w, c, n in tally}
    return sorted(k for k in set(emitted) | set(expected)
                  if emitted.get(k) != expected.get(k))


def overlap(a0, a1, b0, b1):
    return max(0.0, min(a1, b1) - max(a0, b0))


def window_rows(progress, run_id, window):
    """Input rows of the run's triggers inside the window, a trigger that
    straddles an edge counted by its share of time inside."""
    rows = 0.0
    for p in progress:
        if p["run_id"] != run_id:
            continue
        t0 = p["start_ms"]
        t1 = t0 + p["duration_ms"].get("triggerExecution", 0)
        if t1 <= t0:
            rows += p["input_rows"] if in_window(t0, window) else 0
        else:
            rows += p["input_rows"] * overlap(t0, t1, *window) / (t1 - t0)
    return rows


def self_times(spans):
    """Self time per span name: each span's duration minus the part of it
    its children cover. Spans are (id, parent, name, start, end)."""
    children = {}
    for s in spans:
        children.setdefault(s[1], []).append(s)
    out = {}
    for sid, _, name, t0, t1 in spans:
        covered, cur = 0.0, None
        for c0, c1 in sorted((max(c[3], t0), min(c[4], t1))
                             for c in children.get(sid, ()) if c[4] > t0 and c[3] < t1):
            if cur is None or c0 > cur[1]:
                if cur:
                    covered += cur[1] - cur[0]
                cur = [c0, c1]
            else:
                cur[1] = max(cur[1], c1)
        if cur:
            covered += cur[1] - cur[0]
        out[name] = out.get(name, 0.0) + (t1 - t0) - covered
    return out


def resolve_parents(spans):
    """Give spans whose parent is unknown ("?") the innermost span that
    contains them in time (callbacks run on other threads, so a Catalyst
    phase or a sink batch cannot name its parent when it is recorded)."""
    out = []
    for s in spans:
        if s[1] != "?":
            out.append(s)
            continue
        hosts = [h for h in spans
                 if h[3] <= s[3] and s[4] <= h[4] and h[4] - h[3] > s[4] - s[3]]
        host = min(hosts, key=lambda h: h[4] - h[3]) if hosts else None
        out.append([s[0], host[0] if host else "run", s[2], s[3], s[4]])
    return out


def triggers_to_spans(progress):
    """One span per trigger, from StreamingQueryProgress."""
    return [["trigger:%s:%d" % (p["run_id"], p["batch_id"]), "?", "streaming.trigger",
             float(p["start_ms"]),
             float(p["start_ms"] + p["duration_ms"].get("triggerExecution", 0))]
            for p in progress]


def evaluate(raw):
    """(correct, attempted, failed, end_to_end, per_layer, notes) for one run."""
    sink, progress = raw["sink"], raw["progress"]
    timed = [e for e in raw["episodes"] if e["timed"]]
    attempted = failed = 0
    notes = []
    lat, rows_in, cpu, rps, cpu_per = [], 0.0, 0.0, [], []
    live = raw["workload"] == "kafka_live"
    for e in raw["episodes"]:
        gen = e["gen"]
        attempted += gen["calls"]
        bad = mismatches(last_counts(sink, e["index"]), gen["tally"])
        attempted += len(gen["tally"])
        failed += len(bad)
        if bad:
            notes.append("episode %d: %d (window, campaign) counts differ from the "
                         "generator's tally, e.g. %s" % (e["index"], len(bad), bad[:3]))
        if not e["timed"]:
            continue
        trig = [p for p in progress if p["run_id"] == e["run_id"]]
        attempted += len(trig)
        if raw["workload"] == "kafka_live" and gen["late_ms_max"] > GEN_LATE_TOLERANCE_MS:
            failed += 1
            notes.append("episode %d: generator ran %d ms behind schedule (tolerance %d)"
                         % (e["index"], gen["late_ms_max"], GEN_LATE_TOLERANCE_MS))
        win = e["window"]
        # a backlog record is available from the drain's start, however
        # long ago the preload wrote it
        lat += latency_samples(sink, e["index"], win, since=None if live else win[0])
        secs = (win[1] - win[0]) / 1e3
        n = window_rows(progress, e["run_id"], win)
        task_cpu = sum(t["cpu_ns"] for t in raw["tasks"] if in_window(t["end_ms"], win)) / 1e9
        rows_in += n
        cpu += task_cpu
        rps.append(n / secs)
        cpu_per.append(task_cpu / n * 1e6 if n else float("inf"))
    q = highest_supported(len(lat))
    if q is None or q < 99.0:
        failed += 1
        notes.append("%d latency samples: p99 is not supported (needs %d beyond it)"
                     % (len(lat), MIN_BEYOND))
    notes.append("%d latency samples" % len(lat))
    # the one-off set-up (JVM, session, the JIT warm-up episode) plus the
    # median of the set-ups repeated before each timed episode
    once_s = (timed[0]["start_ms"] - raw["jvm_start_ms"]) / 1e3
    e2e = {
        "latency_p50_ms": percentile(lat, 50) if lat else float("nan"),
        "latency_p99_ms": percentile(lat, 99) if lat else float("nan"),
        # live: pooled over the windows; catch-up: median drain
        "records_per_s": (rows_in / sum((e["window"][1] - e["window"][0]) / 1e3
                                        for e in timed)) if live else statistics.median(rps),
        "task_cpu_us_per_record": (cpu / rows_in * 1e6) if live else statistics.median(cpu_per),
        "setup_s": once_s + statistics.median(e["setup_s"] for e in timed),
        # the live set after a full collection, once each timed query ended
        "heap_live_mb": statistics.median(e["heap_live_mb"] for e in timed),
    }
    layers = per_layer(raw, timed) if raw["trace"] else {}
    return failed == 0, attempted, failed, e2e, layers, notes


def p50(xs):
    return statistics.median(xs) if xs else 0.0


def per_layer(raw, timed):
    """The traced run's per-layer numbers; each names the end-to-end metric
    it should move in perfbench/README.md."""
    windows = [(e["run_id"], e["window"]) for e in timed]
    trig = [p for p in raw["progress"]
            if any(p["run_id"] == r and in_window(p["start_ms"], w) for r, w in windows)]
    data = [p for p in trig if p["input_rows"] > 0]
    d = lambda k, ps=trig: [p["duration_ms"].get(k, 0) for p in ps]
    tasks = [t for t in raw["tasks"] if any(in_window(t["end_ms"], w) for _, w in windows)]
    phases = [p for p in raw["phases"] if any(in_window(p["end_ms"], w) for _, w in windows)]
    sink = [b for b in raw["sink"] if any(in_window(b["held_ms"], w) for _, w in windows)]
    last = [p for p in raw["progress"] if p["run_id"] == timed[-1]["run_id"]]
    probe = raw["probe"]
    produce = [ns / 1e6 for e in timed for ns in e["gen"]["produce_ns"]]
    run_ms = sum(t["run_ms"] for t in tasks)
    cpu_s = sum(t["cpu_ns"] for t in tasks) / 1e9
    phase_s = lambda name: sum(p["end_ms"] - p["start_ms"] for p in phases
                               if p["phase"] == name) / 1e3
    mb = 1024.0 * 1024.0
    out = {
        "replay.wire.fetch_rps": probe["wire_records"] / probe["wire_s"],
        "replay.wire.fetch_mb_s": probe["wire_bytes"] / mb / probe["wire_s"],
        "replay.wire.produce_ms_p99": percentile(produce, 99),
        "gen.late_ms_max": max(e["gen"]["late_ms_max"] for e in timed),
        "replay.log.read_rps": probe["log_records"] / probe["log_s"],
        "replay.source.latest_offset_ms_p50": p50(d("latestOffset")),
        "replay.source.get_batch_ms_p50": p50(d("getBatch", data)),
        "replay.source.records_behind_max": max([p["records_behind"] for p in trig] or [0]),
        "replay.source.rows_per_trigger_p50": p50([p["input_rows"] for p in data]),
        "streaming.trigger_count": len(trig),
        "streaming.trigger_ms_p50": p50(d("triggerExecution", data)),
        "streaming.trigger_ms_p99": percentile(d("triggerExecution", data), 99),
        "streaming.query_planning_ms_p50": p50(d("queryPlanning", data)),
        "streaming.add_batch_ms_p50": p50(d("addBatch", data)),
        "streaming.wal_commit_ms_p50": p50(d("walCommit", data)),
        "streaming.commit_offsets_ms_p50": p50(d("commitOffsets", data)),
        "streaming.state_commit_ms_p50": p50([p["state_commit_ms"] for p in data]),
        "streaming.state_commit_s": sum(p["state_commit_ms"] for p in trig) / 1e3,
        "streaming.sink_batch_ms_p50": p50([b["end_ms"] - b["start_ms"] for b in sink]),
        "streaming.state_rows_end": last[-1]["state_rows"] if last else 0,
        "streaming.state_memory_mb_end": (last[-1]["state_memory_bytes"] / mb) if last else 0.0,
        "catalyst.analysis_s": phase_s("analysis"),
        "catalyst.optimizer_s": phase_s("optimization"),
        "catalyst.physical_s": phase_s("planning"),
        "exec.task_cpu_s": cpu_s,
        "exec.task_run_s": run_ms / 1e3,
        "exec.gc_s": sum(t["gc_ms"] for t in tasks) / 1e3,
        "exec.off_cpu_share": (1.0 - cpu_s / (run_ms / 1e3)) if run_ms else 0.0,
        "exec.tasks": len(tasks),
        "exec.peak_rss_mb": raw["peak_rss_mb"],
        "exec.process_cpu_s": sum(e["cpu_s"] for e in timed),
        "exchange.shuffle_write_mb": sum(t["shuffle_write_bytes"] for t in tasks) / mb,
        "exchange.shuffle_read_mb": sum(t["shuffle_read_bytes"] for t in tasks) / mb,
    }
    names = [s[2] for s in raw["spans"] if any(in_window(s[4], w) for _, w in windows)]
    out["exec.jobs"] = names.count("exec.job")
    out["exec.stages"] = names.count("exec.stage")
    for fn, ns in sorted(probe["functions"].items()):
        out["functions.%s_ns_row" % fn] = ns
    return out
