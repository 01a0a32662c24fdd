"""Turns the raw measurements one benchmark run writes into its metrics.

Pure functions only, so the tests can check them on hand-made inputs.
"""
import math

# The four workloads, and the queries each corpus workload runs.
WORKLOADS = ("sync_initial", "sync_steady", "corpus_batch", "corpus_stream")
BATCH_QUERIES = ("dedup_winnowed_drop_list", "pipeline_clean_corpus_semantic")
STREAM_QUERIES = ("stream_sessionize", "stream_minhash_pairs")

END_TO_END = {
    "setup_s": "s",
    "op_s": "s",
    "live_heap_mib": "MiB",
}

PER_LAYER = {
    "sources.scan_s": "s",
    "sources.scan_ms_per_kobj": "ms",
    "sources.objects_listed": "count",
    "ledger.read_s": "s",
    "ledger.commit_s": "s",
    "ledger.files_written": "count",
    "ledger.bytes_written": "bytes",
    "syncops.diff_s": "s",
    "syncops.rows_decided": "count",
    "syncops.to_copy": "count",
    "syncops.orphans": "count",
    "copy.copy_s": "s",
    "copy.objects": "count",
    "copy.bytes": "bytes",
    "copy.tasks": "count",
    "copy.busy_frac": "ratio",
    "copy.failed": "count",
    "copy.delete_s": "s",
    "copy.deleted": "count",
    "fs.read_ops": "count",
    "fs.write_ops": "count",
    "fs.list_ops": "count",
    "fs.bytes_written": "bytes",
    "fs.write_amp": "ratio",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.task_s": "s",
    "spark.busy_frac": "ratio",
    "spark.driver_gap_s": "s",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.gc_s": "s",
    "spark.persisted_rdds": "count",
    "spark.persisted_rdds_per_op": "count",
    "heap.live_mib_per_op": "MiB",
}
for _q in BATCH_QUERIES + STREAM_QUERIES:
    PER_LAYER["query.%s.s" % _q] = "s"
    PER_LAYER["query.%s.jobs" % _q] = "count"
PER_LAYER.update({
    "stream.triggers": "count",
    "stream.trigger_ms_p50": "ms",
    "stream.add_batch_ms": "ms",
    "stream.wal_commit_ms": "ms",
    "stream.commit_offsets_ms": "ms",
    "stream.planning_ms": "ms",
    "stream.latest_offset_ms": "ms",
    "stream.state_rows": "count",
    "stream.state_mem_bytes": "bytes",
    "stream.state_commit_ms": "ms",
    "stream.overhead_frac": "ratio",
    "trace.overhead_frac": "ratio",
    "trace.unattributed_s": "s",
})


def percentile(xs, p):
    """The p-th percentile (0-100) of a non-empty sequence, linear between
    closest ranks."""
    s = sorted(xs)
    if not s:
        raise ValueError("percentile of no values")
    if not 0 <= p <= 100:
        raise ValueError("percentile out of range: %r" % p)
    k = (len(s) - 1) * p / 100.0
    lo, hi = int(math.floor(k)), int(math.ceil(k))
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def median(xs):
    """Median of a non-empty sequence (mean of the two middle values)."""
    return percentile(xs, 50)


def slope(ys):
    """Least-squares slope of ys against 0, 1, 2, ...; 0 for fewer than 2."""
    n = len(ys)
    if n < 2:
        return 0.0
    mx = (n - 1) / 2.0
    my = sum(ys) / n
    num = sum((i - mx) * (y - my) for i, y in enumerate(ys))
    den = sum((i - mx) ** 2 for i in range(n))
    return num / den


def self_times(spans):
    """Self time of every span (its duration minus its children's) and the
    op's unattributed remainder, the self time of the root span.

    Returns (self_s by span id, remainder_s, wall_s)."""
    by_id = {s["id"]: s for s in spans}
    dur = {s["id"]: (s["end_ns"] - s["start_ns"]) / 1e9 for s in spans}
    own = dict(dur)
    roots = []
    for s in spans:
        if s["parent"] in by_id:
            own[s["parent"]] -= dur[s["id"]]
        else:
            roots.append(s["id"])
    if len(roots) != 1:
        raise ValueError("a traced op must have exactly one root span")
    root = roots[0]
    return own, own[root], dur[root]


def self_counts(spans, group):
    """Per-span filesystem counts minus those of the span's children (the
    filesystem counters are read at both ends of every span, so they are
    inclusive)."""
    out = {s["id"]: dict(s[group]) for s in spans}
    for s in spans:
        if s["parent"] in out:
            for k, v in s[group].items():
                out[s["parent"]][k] = out[s["parent"]].get(k, 0) - v
    return out


def union_ms(intervals, lo, hi):
    """Length of the union of [a, b] intervals, clipped to [lo, hi]."""
    total, cur_a, cur_b = 0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def op_layers(op, cores):
    """Per-layer figures of one traced op."""
    spans = op["spans"]
    own, remainder, wall = self_times(spans)
    fs_self = self_counts(spans, "fs")
    root = next(s for s in spans if s["parent"] not in {x["id"] for x in spans})
    out = {k: 0.0 for k in PER_LAYER}

    def layer(pred):
        return [s for s in spans if pred(s["name"])]

    def t(pred):
        return sum(own[s["id"]] for s in layer(pred))

    def fs(pred, key):
        return sum(fs_self[s["id"]].get(key, 0) for s in layer(pred))

    def note(pred, key):
        return sum(s.get("notes", {}).get(key, 0) for s in layer(pred))

    out["sources.scan_s"] = t(lambda n: n.startswith("sources."))
    out["sources.objects_listed"] = fs(lambda n: n.startswith("sources."), "listed_files")
    if out["sources.objects_listed"]:
        out["sources.scan_ms_per_kobj"] = (out["sources.scan_s"] * 1e6
                                           / out["sources.objects_listed"])
    out["ledger.read_s"] = t(lambda n: n == "ledger.read")
    commit = lambda n: n in ("ledger.commit", "ledger.write")  # noqa: E731
    out["ledger.commit_s"] = t(commit)
    out["ledger.files_written"] = fs(commit, "creates")
    out["ledger.bytes_written"] = fs(commit, "bytes_written")
    out["syncops.diff_s"] = t(lambda n: n.startswith("syncops."))
    out["syncops.rows_decided"] = note(lambda n: n.startswith("syncops."), "rows_decided")
    out["syncops.to_copy"] = note(lambda n: n.startswith("syncops."), "to_copy")
    out["copy.failed"] = note(lambda n: n.startswith("syncops."), "copy_failed")
    out["copy.deleted"] = note(lambda n: n == "copy.delete", "deleted")
    out["syncops.orphans"] = note(lambda n: n == "copy.delete", "orphans")
    out["copy.objects"] = out["syncops.to_copy"] - out["copy.failed"]
    is_copy = lambda n: n == "copy.copy"  # noqa: E731
    out["copy.copy_s"] = t(is_copy)
    out["copy.bytes"] = fs(is_copy, "bytes_read")
    out["copy.tasks"] = sum(s["spark"]["tasks"] for s in layer(is_copy))
    if out["copy.copy_s"] > 0:
        copy_task_s = sum(s["spark"]["task_ms"] for s in layer(is_copy)) / 1000.0
        out["copy.busy_frac"] = copy_task_s / (out["copy.copy_s"] * cores)
    out["copy.delete_s"] = t(lambda n: n == "copy.delete")

    total_fs = root["fs"]
    out["fs.read_ops"] = total_fs.get("read_ops", 0)
    out["fs.write_ops"] = total_fs.get("write_ops", 0)
    out["fs.list_ops"] = total_fs.get("list_ops", 0)
    out["fs.bytes_written"] = total_fs.get("bytes_written", 0)
    if out["copy.bytes"]:
        out["fs.write_amp"] = out["fs.bytes_written"] / out["copy.bytes"]

    sk = [s["spark"] for s in spans]
    out["spark.jobs"] = sum(x["jobs"] for x in sk)
    out["spark.stages"] = sum(x["stages"] for x in sk)
    out["spark.tasks"] = sum(x["tasks"] for x in sk)
    out["spark.task_s"] = sum(x["task_ms"] for x in sk) / 1000.0
    out["spark.busy_frac"] = out["spark.task_s"] / (wall * cores) if wall > 0 else 0.0
    jobs_ms = union_ms([iv for s in spans for iv in s["job_intervals_ms"]],
                       root["start_ms"], root["end_ms"])
    out["spark.driver_gap_s"] = max(0.0, wall - jobs_ms / 1000.0)
    out["spark.shuffle_read_bytes"] = sum(x["shuffle_read_bytes"] for x in sk)
    out["spark.shuffle_write_bytes"] = sum(x["shuffle_write_bytes"] for x in sk)
    out["spark.spill_bytes"] = sum(x["spill_bytes"] for x in sk)
    out["spark.gc_s"] = sum(x["gc_ms"] for x in sk) / 1000.0
    out["spark.persisted_rdds"] = op["persisted_rdds"]

    for s in spans:
        if s["name"].startswith("query."):
            q = s["name"][len("query."):]
            if "query.%s.s" % q in out:
                out["query.%s.s" % q] += own[s["id"]]
                out["query.%s.jobs" % q] += s["spark"]["jobs"]

    trig = op.get("detail", {}).get("triggers", [])
    if trig:
        out["stream.triggers"] = len(trig)
        out["stream.trigger_ms_p50"] = median([x["trigger_ms"] for x in trig])
        for key in ("add_batch_ms", "wal_commit_ms", "commit_offsets_ms",
                    "planning_ms", "latest_offset_ms", "state_commit_ms"):
            out["stream." + key] = sum(x[key] for x in trig)
        total = sum(x["trigger_ms"] for x in trig)
        if total:
            out["stream.overhead_frac"] = (total - out["stream.add_batch_ms"]) / total
        out["stream.state_rows"] = op["detail"].get("state_rows", 0)
        out["stream.state_mem_bytes"] = op["detail"].get("state_mem_bytes", 0)

    attributed = sum(v for k, v in own.items() if k != root["id"])
    if abs(attributed + remainder - wall) > 1e-6:
        raise ValueError("self times do not add up to the op's wall time")
    out["trace.unattributed_s"] = remainder
    return out


def end_to_end(raw, launch_epoch_ms):
    """End-to-end metrics of an untraced run, with their sample counts."""
    ops = [o for o in raw["ops"] if not o["traced"]]
    walls = [o["wall_s"] for o in ops]
    values = {
        "setup_s": (raw["first_op_epoch_ms"] - launch_epoch_ms) / 1000.0,
        "op_s": median(walls),
        "live_heap_mib": raw["live_heap_mib"],
    }
    samples = {"setup_s": 1, "op_s": len(walls), "live_heap_mib": 1}
    return values, samples


def per_layer(raw):
    """Per-layer metrics of a traced run: per-op medians over its traced ops,
    with the growth series of the whole run and the tracing overhead."""
    cores = raw["cores"]
    traced = [o for o in raw["ops"] if o["traced"]]
    # the first op still pays warm-up, so it is not the overhead's baseline
    plain = [o for o in raw["ops"] if not o["traced"] and o["i"] > 0]
    per_op = [op_layers(o, cores) for o in traced]
    values = {k: median([p[k] for p in per_op]) for k in PER_LAYER}
    values["spark.persisted_rdds_per_op"] = slope([o["persisted_rdds"] for o in raw["ops"]])
    values["heap.live_mib_per_op"] = slope([o["heap_mib"] for o in raw["ops"]])
    values["trace.overhead_frac"] = (median([o["wall_s"] for o in traced])
                                     / median([o["wall_s"] for o in plain]) - 1.0)
    samples = {k: len(per_op) for k in PER_LAYER}
    samples["spark.persisted_rdds_per_op"] = len(raw["ops"])
    samples["heap.live_mib_per_op"] = len(raw["ops"])
    series = {"persisted_rdds": [o["persisted_rdds"] for o in raw["ops"]],
              "heap_mib": [o["heap_mib"] for o in raw["ops"]]}
    return values, samples, series
