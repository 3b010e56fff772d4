"""Pure logic of the benchmark: percentiles, stream latency and recovery,
update-mode reconciliation, output fingerprints, span self times and the
compare verdicts. No Spark, no files except the checkpoint log reader."""
import json
import os
import statistics

MIN_BEYOND = 10  # a percentile is reported only with this many samples above it


def percentile(values, q):
    """Linear-interpolated percentile (q in [0, 1]) of a non-empty list."""
    xs = sorted(values)
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def supported(n, q):
    """True when at least MIN_BEYOND of n samples lie beyond percentile q."""
    return n * (1 - q) >= MIN_BEYOND - 1e-9


def tail(values, q):
    """Percentile q, or None when too few samples lie beyond it."""
    return percentile(values, q) if values and supported(len(values), q) else None


def weighted_percentile(pairs, q):
    """Percentile of (value, weight) pairs, each weight counting as that
    many equal samples (nearest rank)."""
    pairs = sorted(pairs)
    total = sum(w for _, w in pairs)
    rank = q * (total - 1)
    seen = 0
    for v, w in pairs:
        seen += w
        if seen > rank:
            return v
    return pairs[-1][0]


# ---- stream ---------------------------------------------------------------

def file_batches(source_log_dir):
    """File name -> micro-batch id, from a file source's checkpoint log
    (`<checkpoint>/sources/0`, plain and compacted entries)."""
    out = {}
    for entry in os.listdir(source_log_dir):
        if entry.startswith(".") or entry.endswith(".crc") or entry.endswith(".tmp"):
            continue
        with open(os.path.join(source_log_dir, entry)) as f:
            for line in f.read().splitlines()[1:]:
                if line.strip():
                    e = json.loads(line)
                    name = e["path"].rstrip("/").rsplit("/", 1)[-1]
                    out[name] = min(out.get(name, e["batchId"]), e["batchId"])
    return out


def commit_times(calls):
    """Batch id -> time the first sink call for it returned. A batch whose
    call was followed by the injected crash was still committed then."""
    out = {}
    for c in sorted(calls, key=lambda c: c["start"]):
        out.setdefault(c["batch"], c["end"])
    return out


def stream_timeline(files, rows_per_file, batch_of, commits, crashes):
    """Per-event latency from each file's due time to the return of the sink
    call that committed it, plus one recovery time per crash.

    `crashes` holds (crash time, time the restarted query started). A
    recovery runs from its crash until every file due when the restarted
    query started is committed. Events hit by a crash (committed after it
    and due before its recovery ended) are left out of the latency samples
    and counted in recovery instead. Returns (pairs of (latency_ms,
    events), recovery times in s, excluded events, uncommitted files)."""
    committed_at, missing = {}, []
    for f in files:
        b = batch_of.get(f["name"])
        if b is None or b not in commits:
            missing.append(f["name"])
        else:
            committed_at[f["name"]] = commits[b]
    ends = []
    for crash_at, restart_at in crashes:
        hit = [committed_at[f["name"]] for f in files
               if f["due"] <= restart_at and f["name"] in committed_at]
        ends.append((crash_at, max([crash_at] + hit)))
    pairs, excluded = [], 0
    for f in files:
        t = committed_at.get(f["name"])
        if t is None:
            continue
        n = rows_per_file[f["name"]]
        if any(t > c and f["due"] < e for c, e in ends):
            excluded += n
        else:
            pairs.append((t - f["due"], n))
    return pairs, [(e - c) / 1000.0 for c, e in ends], excluded, missing


def reconcile(committed, twin, key=("win_start", "event_type")):
    """Compare update-mode output with its batch twin.

    `committed` is a list of (batch id, row dict): each micro-batch emits
    the windows it updated, so the last committed row per key is the
    window's final value. Returns (missing keys, extra keys, mismatched
    keys, duplicate rows within one batch)."""
    last, dups = {}, 0
    seen = set()
    for b, row in sorted(committed, key=lambda br: br[0]):
        k = tuple(row[c] for c in key)
        dups += (b, k) in seen
        seen.add((b, k))
        last[k] = row
    expect = {tuple(r[c] for c in key): r for r in twin}
    missing = sorted(set(expect) - set(last), key=str)
    extra = sorted(set(last) - set(expect), key=str)
    bad = sorted((k for k in set(expect) & set(last) if expect[k] != last[k]), key=str)
    return missing, extra, bad, dups


# ---- board ----------------------------------------------------------------

def check_fingerprints(checks, expected):
    """Failures of one run's output checks against the expected values.

    An expected entry without a hash is checked on rows only (its reason is
    recorded with it). Returns a list of (query, message)."""
    fails = []
    for c in checks:
        name = c["name"]
        exp = expected.get(name)
        if c.get("error"):
            fails.append((name, c["error"]))
        elif exp is None:
            fails.append((name, "no expected fingerprint"))
        elif c["rows"] != exp["rows"]:
            fails.append((name, f"rows {c['rows']} != expected {exp['rows']}"))
        elif exp.get("hash") is not None and c["hash"] != exp["hash"]:
            fails.append((name, f"hash {c['hash']} != expected {exp['hash']}"))
    return fails


# ---- tracing --------------------------------------------------------------

def self_times(spans):
    """Self time per span kind, in ms.

    Spans are dicts with id, parent, kind, start, end. Each span is first
    clipped to its parent's interval. At every instant the time goes to the
    deepest open span (the latest started among equals), so the self times
    of a tree add up to its root's duration even when children overlap."""
    by_id = {s["id"]: dict(s) for s in spans}
    depth = {}

    def resolve(sid, guard=0):
        if sid in depth:
            return depth[sid]
        s = by_id[sid]
        p = by_id.get(s["parent"])
        if p is None or guard > 64:
            depth[sid] = 0
        else:
            d = resolve(p["id"], guard + 1)
            s["start"] = max(s["start"], p["start"])
            s["end"] = max(s["start"], min(s["end"], p["end"]))
            depth[sid] = d + 1
        return depth[sid]

    for sid in list(by_id):
        resolve(sid)
    events = []
    for s in by_id.values():
        if s["end"] > s["start"]:
            events.append((s["start"], 1, s["id"]))
            events.append((s["end"], 0, s["id"]))
    events.sort()
    out, open_ = {}, {}
    prev = None
    for t, is_start, sid in events:
        if open_ and prev is not None and t > prev:
            top = max(open_, key=lambda i: (depth[i], by_id[i]["start"], i))
            kind = by_id[top]["kind"]
            out[kind] = out.get(kind, 0.0) + (t - prev)
        if is_start:
            open_[sid] = True
        else:
            open_.pop(sid, None)
        prev = t
    return out


# ---- compare --------------------------------------------------------------

def quartiles(values):
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def verdict(parent, change, better, bound):
    """Classify a change against its parent on one metric.

    improved: the change wins at least 9/10 of pairs and the medians differ
    by more than the parent's quartile spread; unresolved: the parent's
    spread is wider than the bound (unless every change run beats every
    parent run, which counts as within bound); worse: the change's median is worse by more than the
    bound; otherwise within bound. Returns (verdict, share of pairs won)."""
    sign = 1 if better == "lower" else -1
    pairs = list(zip(parent, change))
    wins = sum(1 for a, b in pairs if sign * (a - b) > 0)
    won = wins / len(pairs) if pairs else 0.0
    pq1, pmed, pq3 = quartiles(parent)
    cmed = statistics.median(change)
    gain = sign * (pmed - cmed)
    if won >= 0.9 and gain > (pq3 - pq1):
        return "improved", won
    if pmed and (pq3 - pq1) / abs(pmed) > bound:
        if all(sign * (a - b) > 0 for a in parent for b in change):
            return "within bound", won
        return "unresolved", won
    if pmed and -gain / abs(pmed) > bound:
        return "worse", won
    return "within bound", won


def correctness_verdict(parent, change):
    """Compare (incorrect runs, failed operations) of two sets of runs: worse
    when the change has more of either, since a gain does not count when
    more operations fail than at the parent; otherwise within bound."""
    return "worse" if change[0] > parent[0] or change[1] > parent[1] else "within bound"
