"""Pure functions that turn the JVM's raw measurements into metrics and
verdicts. Kept free of I/O so the tests can feed them hand-built data."""
import collections
import datetime
import math

WINDOW_MS = 300_000
STREAM_LAYERS = ("batches", "add_batch_ms", "query_planning_ms", "wal_commit_ms",
                 "commit_offsets_ms", "state_commit_ms", "state_rows", "state_mem_mb",
                 "state_rows_removed", "rows_dropped_by_watermark", "sink_rows", "emit_ms")
PHASES = ("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch",
          "commitOffsets")


def percentile(values, q):
    """Linear-interpolated percentile, ``q`` in [0, 100]."""
    v = sorted(values)
    if not v:
        return math.nan
    k = (len(v) - 1) * q / 100.0
    lo, hi = math.floor(k), math.ceil(k)
    return v[lo] + (v[hi] - v[lo]) * (k - lo)


def iso_ms(s):
    """Epoch ms of a StreamingQueryProgress timestamp ("...T..Z")."""
    d = datetime.datetime.strptime(s, "%Y-%m-%dT%H:%M:%S.%fZ")
    return d.replace(tzinfo=datetime.timezone.utc).timestamp() * 1000.0


def wire_ms(s):
    """Epoch ms of a wire timestamp, ``yyyy-MM-dd HH:mm:ss.SSS+0000``."""
    d = datetime.datetime.strptime(s, "%Y-%m-%d %H:%M:%S.%f%z")
    return d.timestamp() * 1000.0


def files_to_batches(file_rows, batches):
    """Map files, in the order the source reads them, to the micro-batch
    that consumed each: file ``i`` belongs to the first batch whose
    cumulative ``numInputRows`` reaches the cumulative row count through
    file ``i``. ``batches`` is ``[(batch_id, num_input_rows), ...]`` in
    batch order. A file beyond the last row read maps to ``None``."""
    out, b, seen = [], 0, 0
    need = 0
    for rows in file_rows:
        need += rows
        while b < len(batches) and seen < need:
            seen += batches[b][1]
            b += 1
        out.append(batches[b - 1][0] if seen >= need and b > 0 else None)
    return out


def file_latencies(due_ms, file_rows, batches, emit_end_ms):
    """Per-file latency: from the file's due time to the return of the
    emit call of the batch that consumed it (``None`` if never emitted)."""
    lat = []
    for due, batch in zip(due_ms, files_to_batches(file_rows, batches)):
        end = emit_end_ms.get(batch)
        lat.append(None if end is None else end - due)
    return lat


def data_batches(progress):
    return [(p["batchId"], p["numInputRows"]) for p in progress if p["numInputRows"] > 0]


def stream_layers(progress, emits, parquet_rows):
    """Per-layer streaming totals over both sink queries' progress. Both
    sinks report no output count in progress, so ``sink_rows`` counts the
    rows handed to the emit plus the rows in the parquet sink."""
    d = dict.fromkeys(STREAM_LAYERS, 0.0)
    peak_rows = peak_mem = 0
    for p in progress:
        dur = p["durationMs"]
        d["batches"] += 1
        d["add_batch_ms"] += dur.get("addBatch", 0)
        d["query_planning_ms"] += dur.get("queryPlanning", 0)
        d["wal_commit_ms"] += dur.get("walCommit", 0)
        d["commit_offsets_ms"] += dur.get("commitOffsets", 0)
        for s in p.get("stateOperators", []):
            d["state_commit_ms"] += s.get("commitTimeMs", 0)
            d["state_rows_removed"] += s.get("numRowsRemoved", 0)
            d["rows_dropped_by_watermark"] += s.get("numRowsDroppedByWatermark", 0)
            peak_rows = max(peak_rows, s.get("numRowsTotal", 0))
            peak_mem = max(peak_mem, s.get("memoryUsedBytes", 0))
    d["state_rows"] = peak_rows
    d["state_mem_mb"] = peak_mem / 2**20
    d["emit_ms"] = sum(e["end_ms"] - e["start_ms"] for e in emits)
    d["sink_rows"] = sum(e["rows"] for e in emits) + parquet_rows
    return d


def source_layers(progress):
    """Per-batch medians of the source phases over data batches (0 when
    no micro-batch ran)."""
    rows = [p["durationMs"] for p in progress if p["numInputRows"] > 0] or [{}]
    return {"latest_offset_ms": percentile([r.get("latestOffset", 0) for r in rows], 50),
            "get_batch_ms": percentile([r.get("getBatch", 0) for r in rows], 50)}


def final_watermark_ms(progress):
    wm = [iso_ms(p["eventTime"]["watermark"]) for p in progress
          if "watermark" in p.get("eventTime", {})]
    return max(wm) if wm else 0.0


def windows_mismatch(expected, latest):
    """Keys ``(window_start_ms, source)`` whose latest emitted count
    differs from the expected count (missing or extra keys included)."""
    return {k for k in set(expected) | set(latest) if expected.get(k) != latest.get(k)}


def replay_failures(files, oracle, latest, parquet_rows, parquet_progress, dropped):
    """Indices of the staged files whose output is wrong.

    ``oracle``: ``[start_ms, end_ms, source, count]`` rows of the batch
    reference. A mismatched window fails every file whose event-time
    range overlaps it. The parquet sink must hold exactly the oracle's
    windows that end at or before the final watermark, compared as a
    (source, count) multiset; a wrong multiset fails the files of the
    windows whose (source, count) differ, or every file if a row cannot
    be traced. Rows dropped by the watermark fail every file."""
    if dropped:
        return set(range(len(files)))
    expected = {(s, src): n for s, _, src, n in oracle}
    bad = windows_mismatch(expected, latest)
    wm = final_watermark_ms(parquet_progress)
    want = collections.Counter((src, n) for _, e, src, n in oracle if e <= wm)
    got = collections.Counter((src, n) for src, n in parquet_rows)
    diff = (want - got) + (got - want)
    for src, n in diff:
        keys = {(s, src) for s, e, o_src, m in oracle if o_src == src and m == n and e <= wm}
        if not keys:
            return set(range(len(files)))
        bad |= keys
    failed = set()
    for start, _src in bad:
        for i, f in enumerate(files):
            if f["lo_ms"] < start + WINDOW_MS and f["hi_ms"] >= start:
                failed.add(i)
    return failed


def phase_children(p):
    """The progress phases of one micro-batch laid out in execution order
    from its start, plus the part of ``triggerExecution`` no phase
    covers, so the children add up to the batch."""
    start = iso_ms(p["timestamp"])
    total = p["durationMs"].get("triggerExecution", 0)
    out, t = [], start
    for name in PHASES:
        d = p["durationMs"].get(name)
        if d is not None:
            out.append((name, t, t + d))
            t += d
    out.append(("unattributed", t, start + total))
    return start, start + total, out


def self_times(spans):
    """Self time of each span: its duration minus the union of the
    intervals its direct children cover (clipped to the span)."""
    kids = collections.defaultdict(list)
    for s in spans:
        kids[s["parent"]].append(s)
    out = {}
    for s in spans:
        ivs = sorted((max(c["start_ms"], s["start_ms"]), min(c["end_ms"], s["end_ms"]))
                     for c in kids.get(s["id"], []))
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in ivs:
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (s["end_ms"] - s["start_ms"]) - covered
    return out
