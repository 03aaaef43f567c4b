"""Seeded hour generator and the engine-free model of what the pipeline and
the TLB job must output for an hour.

The generator writes the three hourly inputs in the reference's shape (one
JSON array per file). The model replays the reference semantics in plain
Python:

- stage_1 reads user_exp, writes mapping trace_to_client (traceId -> clientId,
  single value, later record wins, null/empty keys and null values skipped);
- stage_2 enriches traces from trace_to_client on traceId and writes
  span_to_trace_client (spans.spanId -> {traceId, clientId}, nulls kept);
- stage_3 enriches logs from span_to_trace_client on spanId;
- the TLB job pairs page_view_start/end per client in (timestamp, eventId)
  order, counts RETRY/TIMEOUT/ERROR logs reached through event -> trace
  (duplicate traceIds: the later trace record wins) -> span -> log, and
  zero-fills every client of the event stream (`Metrics.zeroFill`).
"""
import datetime as dt
import hashlib
import json

import numpy as np

EVENT_TYPES = ["page_view_start", "page_view_end", "click", "error"]
EVENT_P = [0.36, 0.32, 0.26, 0.06]
LOG_TYPES = ["INFO", "SUCCESS", "RETRY", "TIMEOUT", "ERROR"]
LOG_P = [0.55, 0.25, 0.08, 0.06, 0.06]
PAGES = ["/home", "/login", "/profile", "/settings", "/search", "/cart"]
SERVERS = ["web-server-1", "web-server-2", "db-server-1", "cache-server-1", "auth-server-1"]


def hour_start(hour):
    return dt.datetime.strptime(hour, "%Y%m%d%H").replace(tzinfo=dt.timezone.utc)


def iso(ts):
    return ts.strftime("%Y-%m-%dT%H:%M:%SZ")


def generate_hour(hour, seed, n_events, n_clients, zipf_s=None):
    """Returns (user_exp, traces, logs) record lists for one hour.

    Clients are Zipf-distributed with exponent `zipf_s` (uniform when None).
    Every event gets a whole-second timestamp, distinct within its client, so
    the pairing order never depends on a tie-break and the page-view sums are
    exact in floating point. About 1 in 50 events reuses an earlier traceId,
    1 in 100 has no traceId, 1 in 40 traces has no event (no mapping), 1 in 60
    trace records repeats a traceId with new spans, and 1 in 30 logs points at
    a span no trace has.
    """
    rng = np.random.default_rng(seed)
    if zipf_s is None:
        weights = np.ones(n_clients)
    else:
        weights = 1.0 / np.arange(1, n_clients + 1) ** zipf_s
    weights /= weights.sum()
    # A client holds at most one event per second of the hour.
    cap = 3600
    draws = rng.choice(n_clients, size=n_events, p=weights)
    counts = np.bincount(draws, minlength=n_clients)
    over = counts > cap
    if over.any():
        spill = int((counts[over] - cap).sum())
        counts[over] = cap
        free = np.flatnonzero(counts < cap)
        while spill:
            c = int(rng.choice(free))
            if counts[c] < cap:
                counts[c] += 1
                spill -= 1
    stamps = [iso(hour_start(hour) + dt.timedelta(seconds=sec)) for sec in range(cap)]
    slots = []
    for c in np.flatnonzero(counts):
        secs = rng.choice(cap, size=int(counts[c]), replace=False)
        slots.extend((int(s), int(c)) for s in secs)
    order = rng.permutation(len(slots))
    slots = [slots[i] for i in order]
    slots.sort(key=lambda x: x[0])  # file order roughly follows time

    etypes = rng.choice(len(EVENT_TYPES), size=n_events, p=EVENT_P)
    pages = rng.integers(0, len(PAGES), size=n_events)
    trace_roll = rng.random(n_events)
    reuse_pick = rng.integers(0, max(1, n_events), size=n_events)
    events = []
    trace_ids = []
    for i, (sec, c) in enumerate(slots):
        e = {"eventId": f"e{hour}-{i}", "clientId": f"client{c}"}
        if trace_roll[i] < 0.01:
            pass
        elif trace_roll[i] < 0.03 and trace_ids:
            e["traceId"] = trace_ids[reuse_pick[i] % len(trace_ids)]
        else:
            t = f"t{hour}-{i}"
            trace_ids.append(t)
            e["traceId"] = t
        e["timestamp"] = stamps[sec]
        e["page"] = PAGES[pages[i]]
        e["eventType"] = EVENT_TYPES[etypes[i]]
        if e["eventType"] == "error":
            e["errorCode"] = "500"
            e["errorMessage"] = "Internal error"
        events.append(e)

    n_orphans = len(trace_ids) // 40
    all_traces = trace_ids + [f"t{hour}-x{j}" for j in range(n_orphans)]
    n_dups = len(all_traces) // 60
    dup_of = rng.choice(len(all_traces), size=n_dups, replace=False) if n_dups else []
    trace_order = list(all_traces) + [all_traces[j] for j in dup_of]
    n_spans = rng.integers(1, 6, size=len(trace_order))
    traces = []
    span_ids = []
    sid = 0
    for t, k in zip(trace_order, n_spans):
        spans = []
        for _ in range(int(k)):
            s = f"s{hour}-{sid}"
            sid += 1
            span_ids.append(s)
            spans.append({"spanId": s, "server": SERVERS[sid % len(SERVERS)], "log": "handled"})
        traces.append({"traceId": t, "spans": spans})

    n_logs_per_span = rng.integers(0, 3, size=len(span_ids))
    log_spans = [s for s, k in zip(span_ids, n_logs_per_span) for _ in range(int(k))]
    n_stray = len(log_spans) // 30
    log_spans += [f"s{hour}-y{j}" for j in range(n_stray)]
    ltypes = rng.choice(len(LOG_TYPES), size=len(log_spans), p=LOG_P)
    lsecs = rng.integers(0, 3600, size=len(log_spans))
    lms = rng.integers(1, 500, size=len(log_spans))
    logs = []
    for j, s in enumerate(log_spans):
        lt = LOG_TYPES[ltypes[j]]
        logs.append({"logId": f"l{hour}-{j}", "spanId": s,
                     "timestamp": stamps[lsecs[j]],
                     "message": "processed", "level": "ERROR" if lt in ("TIMEOUT", "ERROR") else "INFO",
                     "processingTimeMs": int(lms[j]), "eventType": lt})
    return events, traces, logs


def write_json_array(path, records):
    """One JSON array per file, one record per line, as the reference ships."""
    with open(path, "w") as f:
        f.write("[\n    " + ",\n    ".join(json.dumps(r) for r in records) + "\n]\n")


def enrich(records, mapping, key_field):
    """`Enrich.apply`: on a hit the mapping's fields overwrite the record's."""
    out, hits = [], 0
    for r in records:
        v = mapping.get(r.get(key_field)) if r.get(key_field) else None
        if v is not None:
            r = {**r, **v}
            hits += 1
        out.append(r)
    return out, hits


def pipeline(events, traces, logs):
    """The three stage outputs and their enrich hit counts."""
    trace_to_client = {}
    for e in events:
        if e.get("traceId") and e.get("clientId") is not None:
            trace_to_client[e["traceId"]] = {"clientId": e["clientId"]}
    traces_out, trace_hits = enrich(traces, trace_to_client, "traceId")
    span_map = {}
    for t in traces_out:
        for s in t.get("spans") or []:
            if s.get("spanId"):
                span_map[s["spanId"]] = {"traceId": t.get("traceId"), "clientId": t.get("clientId")}
    logs_out, log_hits = enrich(logs, span_map, "spanId")
    return {
        "stage_1": {"records": events, "rows": len(events), "hits": None},
        "stage_2": {"records": traces_out, "rows": len(traces_out), "hits": trace_hits},
        "stage_3": {"records": logs_out, "rows": len(logs_out), "hits": log_hits},
    }


def tlb_metrics(events, traces, logs):
    """Per-client {page_view_time, retry_count, timeout_count, error_count}."""
    by_client = {}
    for e in events:
        by_client.setdefault(e["clientId"], []).append(e)
    parsed = {}
    out = {}
    for c, evs in by_client.items():
        pending, total = None, 0.0
        for e in sorted(evs, key=lambda e: (e["timestamp"], e["eventId"])):
            t = parsed.get(e["timestamp"])
            if t is None:
                t = parsed[e["timestamp"]] = dt.datetime.strptime(e["timestamp"], "%Y-%m-%dT%H:%M:%SZ")
            if e["eventType"] == "page_view_start":
                pending = t
            elif e["eventType"] == "page_view_end" and pending is not None:
                total += (t - pending).total_seconds()
                pending = None
        out[c] = {"page_view_time": total, "retry_count": 0, "timeout_count": 0, "error_count": 0}
    spans_of = {}
    for t in traces:  # later record wins
        spans_of[t["traceId"]] = [s["spanId"] for s in t.get("spans") or []]
    logs_of = {}
    for lg in logs:
        logs_of.setdefault(lg.get("spanId"), []).append(lg.get("eventType"))
    field = {"RETRY": "retry_count", "TIMEOUT": "timeout_count", "ERROR": "error_count"}
    for e in events:
        if not e.get("traceId"):
            continue
        for s in spans_of.get(e["traceId"], []):
            for lt in logs_of.get(s, []):
                if lt in field:
                    out[e["clientId"]][field[lt]] += 1
    return out


def render_tlb(metrics):
    """`TlbMetrics.toGoldenObjectJson`: clients sorted, 2-space indent, an
    int 0 where page_view_time was zero-filled, no trailing newline."""
    def num(v):
        return "0" if v == 0 else repr(float(v))
    entries = [
        f'  "{c}": {{\n    "page_view_time": {num(m["page_view_time"])},\n'
        f'    "retry_count": {m["retry_count"]},\n    "timeout_count": {m["timeout_count"]},\n'
        f'    "error_count": {m["error_count"]}\n  }}'
        for c, m in sorted(metrics.items())]
    return "{\n" + ",\n".join(entries) + "\n}"


def expected_hour(events, traces, logs):
    """What the benchmark checks for one hour: the TLB file's digest and each
    stage output's row and enrich-hit counts."""
    stages = pipeline(events, traces, logs)
    tlb = render_tlb(tlb_metrics(events, traces, logs))
    return {
        "tlb_sha256": hashlib.sha256(tlb.encode()).hexdigest(),
        "clients": len({e["clientId"] for e in events}),
        "records": len(events) + len(traces) + len(logs),
        "stages": {k: {"rows": v["rows"], "hits": v["hits"]} for k, v in stages.items()},
    }
