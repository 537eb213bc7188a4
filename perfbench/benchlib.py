"""Arithmetic of the benchmark: per-event latency, percentiles, the
sustained-rate rule, and the metric tables built from the JVM's raw record.

Pure functions over plain lists and dicts, so `test_benchlib.py` can feed
them synthetic series.
"""
import bisect
import hashlib
import math
import statistics

# A step sustains its offered rate when its p99 latency stays within this
# limit (a minute's mood that lands after the next minute has passed is
# stale) ...
LATENCY_LIMIT_MS = 60000.0
# ... and its backlog does not grow faster than this share of the offered
# rate over the step's commits. Batch-to-batch jitter alone moves the slope
# of a few commits by about a quarter of the rate, so the rule flags
# overloads of about 2x and more.
BACKLOG_GROWTH_SHARE = 0.5
# A step too short to hold two commits has no backlog slope. It is
# sustained when its tail latency stays within this many base-step batch
# durations: an event the engine keeps up with waits for the batch in
# flight and then for its own.
SHORT_STEP_BATCHES = 3.0


def quantile(xs, q):
    """Nearest-rank quantile of a non-empty list."""
    s = sorted(xs)
    k = max(1, math.ceil(q * len(s)))
    return s[min(k, len(s)) - 1]


def tail_quantile(n):
    """The highest quantile, at most p99, with at least ten of `n` samples
    beyond it; the median when the sample is too small for any tail."""
    if n <= 0:
        return None
    return max(0.5, min(0.99, 1.0 - 10.0 / n))


def event_latencies(chunks, batches):
    """Per-event latency from the scheduled send to the commit of the
    micro-batch that consumed it.

    `chunks` maps a stream name to its sends, one list per send:
    [offset, first scheduled ms, gap ms, rows, due ms, sent ms, step];
    row i of a send was scheduled at first + i * gap. `batches` are dicts
    with `commit_ms` and `offsets` {stream: [start, end]}: a micro-batch
    consumed the sends with start < offset <= end.

    Returns (events, uncommitted): events are (step, scheduled ms,
    latency ms); uncommitted maps a step to the rows no batch consumed.
    """
    events, uncommitted = [], {}
    for stream, sends in chunks.items():
        spans = sorted((b["offsets"][stream][1], b["offsets"][stream][0], b["commit_ms"])
                       for b in batches if stream in b.get("offsets", {}))
        ends = [s[0] for s in spans]
        for offset, first, gap, rows, _due, _sent, step in sends:
            rows = int(rows)
            i = bisect.bisect_left(ends, offset)
            if i == len(spans) or spans[i][1] >= offset:
                uncommitted[int(step)] = uncommitted.get(int(step), 0) + rows
                continue
            commit = spans[i][2]
            for r in range(rows):
                sched = first + r * gap
                events.append((int(step), sched, commit - sched))
    return events, uncommitted


def backlog_at(events, t):
    """Events scheduled by `t` whose batch had not committed by `t`."""
    return sum(1 for _, sched, lat in events if sched <= t < sched + lat)


def slope(points):
    """Least-squares slope of (x, y) points; None below two points."""
    if len(points) < 2:
        return None
    mx = sum(p[0] for p in points) / len(points)
    my = sum(p[1] for p in points) / len(points)
    den = sum((p[0] - mx) ** 2 for p in points)
    if den == 0:
        return None
    return sum((p[0] - mx) * (p[1] - my) for p in points) / den


def step_verdict(step, events, commits, uncommitted=0, base_batch_ms=None):
    """Whether one ladder step sustained its rate.

    `step` has rate (events/s), start_ms, end_ms; `events` are the step's
    own (step, scheduled, latency); `commits` are all commit times. The
    step's tail latency must stay within LATENCY_LIMIT_MS, and its backlog,
    sampled at each commit inside the step, must not grow faster than
    BACKLOG_GROWTH_SHARE of the rate. With micro-batches that take all that
    is queued, that backlog is the rate times the batch's duration, so it
    grows when consecutive batches lengthen. A step with fewer than two
    commits inside it has no slope; its tail latency must instead stay
    within SHORT_STEP_BATCHES times `base_batch_ms`, the base step's median
    batch duration.
    """
    lats = [e[2] for e in events]
    if not lats or uncommitted:
        return {"sustained": False, "p99_ms": None, "growth_eps": None,
                "limit_ms": None, "samples": len(lats)}
    p99 = quantile(lats, tail_quantile(len(lats)))
    inside = [c for c in commits if step["start_ms"] < c <= step["end_ms"]]
    growth = slope([((t - step["start_ms"]) / 1000.0, backlog_at(events, t)) for t in inside])
    limit = LATENCY_LIMIT_MS
    if growth is None and base_batch_ms:
        limit = min(limit, SHORT_STEP_BATCHES * base_batch_ms)
    ok = ((growth is None or growth <= BACKLOG_GROWTH_SHARE * step["rate"])
          and p99 <= limit)
    return {"sustained": ok, "p99_ms": p99, "growth_eps": growth, "limit_ms": limit,
            "samples": len(lats)}


def sustained_rate(steps, events, commits, uncommitted=None, base_batch_ms=None):
    """The rate of the last ladder step before the first one that failed
    (0 when the base step failed), with each step's verdict."""
    verdicts, best, held = [], 0, True
    for k, st in enumerate(steps):
        v = step_verdict(st, [e for e in events if e[0] == k], commits,
                         (uncommitted or {}).get(k, 0), base_batch_ms)
        verdicts.append(dict(v, rate=st["rate"]))
        held = held and v["sustained"]
        if held:
            best = st["rate"]
    return best, verdicts


def median(xs):
    return statistics.median(xs) if xs else 0.0


def latency_pair(samples):
    """(p50, tail, tail quantile, n) of a latency sample."""
    q = tail_quantile(len(samples))
    return quantile(samples, 0.5), quantile(samples, q), q, len(samples)


def stream_metrics(raw):
    """End-to-end and per-layer figures of a `mood_stream` record."""
    s = raw["stream"]
    t0, t1 = raw["timed_start_ms"], raw["timed_end_ms"]
    timed = [b for b in s["batches"] if b["start_ms"] >= t0 and b["commit_ms"] <= t1]
    events, uncommitted = event_latencies(s["chunks"], s["batches"])
    commits = sorted(b["commit_ms"] for b in s["batches"])
    base = [e[2] for e in events if e[0] == 0]
    p50, tail, q, n = latency_pair(base) if base else (0.0, 0.0, None, 0)
    base_step = s["steps"][0]
    base_batches = [b for b in timed if b["commit_ms"] <= base_step["end_ms"]] or timed[:1]
    top = [b for b in timed if b["start_ms"] >= s["steps"][-2]["start_ms"]] or timed[-1:]

    def dur(bs, key):
        return median([b["duration_ms"].get(key, 0) for b in bs])

    rate, verdicts = sustained_rate(s["steps"], events, commits, uncommitted,
                                    dur(base_batches, "triggerExecution"))

    sent = [c for sends in s["chunks"].values() for c in sends]
    n_events = int(sum(c[3] for c in sent))
    e2e = {
        "latency_p50_ms": p50,
        "latency_p99_ms": tail,
        "sustained_eps": float(rate),
        "wall_s": dur(base_batches, "triggerExecution") / 1000.0,
    }
    layers = {
        "streaming.batches": len(timed),
        "streaming.batch_ms_p50": dur(base_batches, "triggerExecution"),
        "streaming.state_commit_ms": median([b["state_commit_ms"] for b in base_batches]),
        "streaming.wal_commit_ms_p50": dur(base_batches, "walCommit"),
        "streaming.planning_ms_p50": dur(base_batches, "queryPlanning"),
        "streaming.add_batch_ms_p50": dur(top, "addBatch"),
        "streaming.state_rows": max([b["state_rows"] for b in timed] or [0]),
        "streaming.state_mb": max([b["state_bytes"] for b in timed] or [0]) / 1e6,
        "streaming.watermark_dropped_rows": sum(b["dropped"] for b in timed),
        "streaming.rows_out": sum(b["rows_out"] for b in timed),
        "streaming.batch_ms_p50.local1": median(s.get("local1_batch_ms") or []),
        "io.generator_late_ms_max": max([c[5] - c[4] for c in sent] or [0]),
        "io.backlog_events_max": max([backlog_at(events, c) for c in commits
                                      if t0 <= c <= t1] or [0]),
    }
    detail = {
        "latency_samples": n, "latency_tail_quantile": q, "events": n_events,
        "uncommitted": sum(uncommitted.values()), "too_late": s["too_late"],
        "out_of_order": s["out_of_order"], "steps": verdicts,
    }
    return e2e, layers, detail, n_events + len(timed), sum(uncommitted.values())


def closed_loop_metrics(raw):
    """End-to-end figures of a closed-loop record: passes and, per pass, its
    operations (DAG tasks or queries) timed by the JVM.

    The median operation is taken over every operation of every pass. The
    tail is each pass's slowest operation, as a median over passes, so its
    meaning does not change with the number of passes a run makes.
    """
    passes = raw["passes"]
    ops = raw["operations"]
    wall = median(passes)
    size = raw.get("rows") or raw.get("documents") or 1
    e2e = {
        "latency_p50_ms": median([o for p in ops for o in p]),
        "latency_p99_ms": median([max(p) for p in ops]),
        "sustained_eps": size / wall if wall else 0.0,
        "wall_s": wall,
    }
    detail = {"passes": len(passes), "pass_s": passes,
              "operations_per_pass": [len(p) for p in ops],
              "latency_tail": "slowest operation of a pass, median over passes"}
    return e2e, detail


def canon(v):
    """Value canonicalisation of the repository's DuckDB comparison."""
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if v != v:
            return "NaN"
        return f"{v:.6g}"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return str(v)


def table_hash(cols, rows):
    """Order-free md5 of a result, columns sorted by name."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x01".join(canon(r[i]) for i in order) for r in rows)
    h = hashlib.md5()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()


def same_result(a_cols, a_rows, b_cols, b_rows):
    """(equal, reason): row count, column names and hash all agree."""
    if len(a_rows) != len(b_rows):
        return False, f"rows {len(a_rows)} vs {len(b_rows)}"
    if sorted(a_cols) != sorted(b_cols):
        return False, f"columns {sorted(a_cols)} vs {sorted(b_cols)}"
    if table_hash(a_cols, a_rows) != table_hash(b_cols, b_rows):
        return False, "hash differs"
    return True, f"{len(a_rows)} rows"
