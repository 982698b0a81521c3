#!/usr/bin/env python3
"""Per-layer metrics from a traced run's span file.

    python3 benchmark/summarize.py <workload> <trace.jsonl> [result.json]

The traced run writes one JSON line per span (a request round, a
maintenance cycle, or one call into a layer) and per Spark job. A span
is named `<module>.<function>` under a layer (`sources`, `ops`,
`profiles`, `sinks`, `text`, `similarity`); the metric prefix of a call
is `<layer>.<module>` (e.g. `ops.Regrid`) or `<layer>.<module>.<function>`
(e.g. `text.Bm25.appendIndex`).

Definitions (every value is per round unless it says otherwise):
  *.self_s        median over rounds of the summed self time of the
                  matching calls; self time = span duration minus the part
                  its child spans cover
  *.jobs, *.tasks mean Spark jobs / tasks of the matching calls
  *.input_bytes   mean bytes the calls' scans read (Spark input metrics;
                  for the NetCDF source, the bytes of the files it scans)
  *.prune_frac    mean of 1 - input_bytes / index bytes on disk; below 0
                  when a call reads the same bytes more than once
  *.shuffle_bytes / *.spill_bytes / *.bytes_written   mean per round
  <workload>.driver_gap_s   mean time inside a request (or cycle) when
                  none of its Spark jobs is running
A metric of a layer or workload that the run does not exercise reads 0.
"""

import json
import statistics
import sys


def load(path):
    spans, jobs = {}, []
    with open(path) as f:
        for line in f:
            r = json.loads(line)
            if r["kind"] == "span":
                spans[r["id"]] = r
            else:
                jobs.append(r)
    for s in spans.values():
        s["children"] = []
    for s in spans.values():
        if s["parent"] in spans:
            spans[s["parent"]]["children"].append(s["id"])
    return spans, jobs


def union_length(intervals):
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def self_ms(s, spans):
    cover = [(spans[c]["start_ms"], spans[c]["end_ms"]) for c in s["children"]]
    return (s["end_ms"] - s["start_ms"]) - union_length(cover)


def subtree(s, spans):
    out, todo = [], [s["id"]]
    while todo:
        i = todo.pop()
        out.append(i)
        todo += spans[i]["children"]
    return out


def driver_gap_ms(s, spans, jobs_by_span):
    """Time inside span `s` when none of its (subtree's) jobs runs."""
    lo, hi = s["start_ms"], s["end_ms"]
    iv = []
    for i in subtree(s, spans):
        for j in jobs_by_span.get(i, []):
            a, b = max(lo, j["start_ms"]), min(hi, j["end_ms"] if j["end_ms"] >= 0 else hi)
            if b > a:
                iv.append((a, b))
    return (hi - lo) - union_length(iv)


def c(s, key):
    return s["counters"].get(key, 0)


def mean(xs):
    return statistics.fmean(xs) if xs else 0.0


def per_layer(workload, spans, jobs, result):
    """Every per-layer metric, as {name: {"value", "unit"}}."""
    jobs_by_span = {}
    for j in jobs:
        jobs_by_span.setdefault(j["span"], []).append(j)
    rounds = [s for s in spans.values() if s["layer"] == "request"]
    calls = [s for s in spans.values() if s["layer"] not in ("request", "cycle")]
    cycles = [s for s in spans.values() if s["layer"] == "cycle"]
    out = {}

    def put(name, value, unit):
        out[name] = {"value": float(value), "unit": unit}

    def match(prefix):
        return [s for s in calls
                if f"{s['layer']}.{s['name']}" == prefix
                or f"{s['layer']}.{s['name'].split('.')[0]}" == prefix]

    def per_round_sum(sel, fn):
        by_req = {}
        for s in sel:
            by_req[s["req"]] = by_req.get(s["req"], 0.0) + fn(s)
        return [by_req.get(r["req"], 0.0) for r in rounds] if sel else []

    def self_s(prefix):
        xs = per_round_sum(match(prefix), lambda s: self_ms(s, spans) / 1000.0)
        return statistics.median(xs) if xs else 0.0

    def per_round_mean(prefix, fn):
        return mean(per_round_sum(match(prefix), fn))

    def prune(prefix):
        sel = [s for s in match(prefix) if c(s, "index_bytes") > 0]
        return mean([1.0 - c(s, "input_bytes") / c(s, "index_bytes") for s in sel])

    def per_call_mean(prefix, key):
        sel = match(prefix)
        return mean([c(s, key) for s in sel])

    def cache_hit_frac(sel):
        h = sum(c(s, "cache_hits") for s in sel)
        m = sum(c(s, "cache_misses") for s in sel)
        return h / (h + m) if h + m else 0.0

    def tree_sum(s, key):
        return sum(c(spans[i], key) for i in subtree(s, spans))

    # --- inventory -------------------------------------------------------
    put("sources.GlobalRasters.self_s", self_s("sources.GlobalRasters"), "s")
    # the NetCDF reader loads whole files outside Hadoop, so its input is
    # the bytes of the files it scans (Spark's input metric counts rows)
    put("sources.GlobalRasters.input_bytes", per_round_mean(
        "sources.GlobalRasters", lambda s: c(s, "input_bytes_files")), "B")
    put("ops.Grouping.self_s", self_s("ops.Grouping"), "s")
    put("ops.Regrid.self_s", self_s("ops.Regrid"), "s")
    put("ops.Regrid.shuffle_bytes", per_round_mean(
        "ops.Regrid", lambda s: c(s, "shuffle_write_bytes")), "B")
    put("ops.Regrid.spill_bytes", per_round_mean(
        "ops.Regrid", lambda s: c(s, "spill_bytes")), "B")
    put("ops.Speciation.self_s", self_s("ops.Speciation"), "s")
    put("profiles.VerticalProfiles.self_s", self_s("profiles.VerticalProfiles"), "s")
    put("sinks.Exports.self_s", self_s("sinks.Exports"), "s")
    put("sinks.Exports.shuffle_bytes", per_round_mean(
        "sinks.Exports", lambda s: c(s, "shuffle_write_bytes")), "B")
    put("sinks.Exports.spill_bytes", per_round_mean(
        "sinks.Exports", lambda s: c(s, "spill_bytes")), "B")
    put("sinks.Exports.bytes_written", per_round_mean(
        "sinks.Exports", lambda s: c(s, "bytes_written")), "B")
    inv = workload == "inventory"
    put("inventory.jobs", mean([tree_sum(r, "jobs") for r in rounds]) if inv else 0, "count")
    put("inventory.tasks", mean([tree_sum(r, "tasks") for r in rounds]) if inv else 0, "count")
    put("inventory.driver_gap_s", mean(
        [driver_gap_ms(r, spans, jobs_by_span) / 1000.0 for r in rounds]) if inv else 0, "s")

    # --- serve -----------------------------------------------------------
    for fn in ("text.Bm25.searchPersisted",
               "similarity.Similarity.ivfPqSearchPersistedQ"):
        put(f"{fn}.self_s", self_s(fn), "s")
        put(f"{fn}.jobs", per_call_mean(fn, "jobs"), "count")
        put(f"{fn}.input_bytes", per_call_mean(fn, "input_bytes"), "B")
        put(f"{fn}.prune_frac", prune(fn), "frac")
    put("ops.RankFusion.hybridSearchPersisted.self_s",
        self_s("ops.RankFusion.hybridSearchPersisted"), "s")
    put("ops.RankFusion.hybridSearchPersisted.jobs",
        per_call_mean("ops.RankFusion.hybridSearchPersisted", "jobs"), "count")
    put("ops.ServingCache.hit_frac", cache_hit_frac(rounds), "frac")
    srv = workload == "serve"
    queries = sum(c(s, "queries") for s in calls)
    put("serve.driver_gap_s", mean(
        [driver_gap_ms(s, spans, jobs_by_span) / 1000.0 for s in calls]) if srv else 0, "s")
    put("serve.tasks_per_query", sum(c(s, "tasks") for s in calls) / queries
        if srv and queries else 0, "count")

    # --- maintain --------------------------------------------------------
    for op in ("appendIndex", "deleteIndex", "upsertIndex", "optimizeIndex",
               "consolidateIndex", "vacuumIndex"):
        put(f"text.Bm25.{op}.self_s", self_s(f"text.Bm25.{op}"), "s")
        twin = "ivfPq" + op[0].upper() + op[1:]
        put(f"similarity.Similarity.{twin}.self_s",
            self_s(f"similarity.Similarity.{twin}"), "s")
    lifecycle = [s for s in calls if c(s, "probe") == 0]
    # Hadoop FileSystem bytes of the index calls (the parquet and manifest
    # I/O of ops.Layout and TableManifest), per round. The local file
    # system counts bytes but not operations.
    index_calls = [s for s in calls if s["layer"] in ("text", "similarity")
                   or s["name"].startswith("RankFusion.")]
    for key in ("fs_read_bytes", "fs_write_bytes"):
        put(f"ops.Layout.{key}", mean(per_round_sum(index_calls, lambda s: c(s, key))), "B")
    user = sum(c(s, "user_bytes") for s in cycles)
    written = sum(c(s, "fs_write_bytes") for s in lifecycle)
    put("ops.Layout.write_amp", written / user if user else 0.0, "ratio")
    probes = [s for s in calls if c(s, "probe") > 0]
    put("ops.Layout.files_live", mean([c(s, "files_live") for s in probes]), "count")
    put("maintain.stale_prune_frac", mean(
        [1.0 - c(s, "input_bytes") / c(s, "index_bytes") for s in probes
         if c(s, "index_bytes") > 0]), "frac")
    put("maintain.jobs_per_cycle", mean([tree_sum(s, "jobs") for s in cycles]), "count")
    put("maintain.driver_gap_s", mean(
        [driver_gap_ms(s, spans, jobs_by_span) / 1000.0 for s in cycles]), "s")

    # --- tracing overhead: traced minus untraced round time, with base ---
    base = result.get("untraced_round_ms") or []
    traced = result.get("round_ms") or []
    b = statistics.median(base) if base else 0.0
    t = statistics.median(traced) if traced else 0.0
    put("trace.untraced_round_ms", b, "ms")
    put("trace.traced_round_ms", t, "ms")
    put("trace.overhead_frac", (t - b) / b if b else 0.0, "frac")
    put("trace.rounds", len(rounds), "count")
    return out


def main():
    if len(sys.argv) < 3:
        sys.exit(__doc__)
    spans, jobs = load(sys.argv[2])
    result = {}
    if len(sys.argv) > 3:
        with open(sys.argv[3]) as f:
            result = json.load(f)
    for name, v in per_layer(sys.argv[1], spans, jobs, result).items():
        print(f"{name:55s} {v['value']:16.6g} {v['unit']}")


if __name__ == "__main__":
    main()
