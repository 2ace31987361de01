"""Turns one benchmark JVM's raw samples into the reported metrics.

End-to-end metrics (every workload reports all four, each with its own
meaning of "operation"; see perfbench/README.md):
  setup_s           JVM start -> first timed operation
  latency_p50_ms    median operation latency
  latency_tail_ms   tail operation latency (p90 for queries, p99 for
                    commits; lowered until MIN_BEYOND samples lie past it)
  throughput_per_s  operations (queries) or ingested rows per second

Per-layer metrics come from the traced run's spans and listener counts.
"""
import statistics

import stats

MODULES = ["Scans", "RowOps", "Joins", "JoinsAsync", "Aggs", "Windows",
           "SetOps", "Fns", "Streaming", "Llm", "LlmExtra", "Ads", "Cep",
           "Graph"]
MODULE_METRICS = [("construct_ms", "ms"), ("plan_ms", "ms"), ("exec_ms", "ms"),
                  ("stages", "count"), ("tasks", "count"),
                  ("shuffle_bytes", "bytes"), ("task_cpu_ms", "ms")]
WIDE_METRICS = [("spark.core_util", "ratio"), ("spark.small_task_share", "ratio"),
                ("spark.gc_ms", "ms"), ("spark.spill_bytes", "bytes"),
                ("artifacts.build_ms", "ms"), ("artifacts.jobs", "count"),
                ("trace.query_self_share", "ratio")]
INGEST_METRICS = [("streams.trigger_ms", "ms"), ("streams.add_batch_ms", "ms"),
                  ("streams.planning_ms", "ms"), ("streams.wal_ms", "ms"),
                  ("streams.batch_rows", "count"), ("streams.backlog_rows", "count"),
                  ("streams.state_rows", "count"),
                  ("lake.merge_commit_ms", "ms"), ("lake.jobs_per_commit", "count"),
                  ("lake.files_per_version", "count"), ("lake.write_amp", "ratio"),
                  ("lake.change_step_ms", "ms"), ("lake.snapshot_read_ms", "ms")]

# bytes of one generated ingest row (k, event_id, ts and value as 8-byte
# fields plus a short event_type): the denominator of lake.write_amp
INPUT_ROW_BYTES = 48


def per_layer_names():
    names = [(f"ops.{m}.{n}", u) for m in MODULES for n, u in MODULE_METRICS]
    return names + WIDE_METRICS + INGEST_METRICS


def _med(xs):
    return statistics.median(xs) if xs else 0.0


def _metric(value, unit, n=None, q=None, commits=None):
    m = {"value": value, "unit": unit}
    if n is not None:
        m["n"] = n
    if q is not None:
        m["quantile"] = q
    if commits is not None:
        m["commits"] = commits
    return m


# ---------------------------------------------------------------- queries

def key_medians(samples, field="wall_ms"):
    by = {}
    for s in samples:
        if s["ok"]:
            by.setdefault(s["key"], []).append(s[field])
    return {k: statistics.median(v) for k, v in by.items()}


def query_end_to_end(raw):
    """Latency percentiles and throughput over every successful timed
    sample (whole passes, so each key counts equally)."""
    ok = [s["wall_ms"] for s in raw["samples"] if s["ok"]]
    tail, q = stats.tail(ok, 0.9)
    n = len(ok)
    out = {
        "latency_p50_ms": _metric(stats.percentile(ok, 0.5), "ms", n),
        "latency_tail_ms": _metric(tail, "ms", n, q),
        "throughput_per_s": _metric(n / (sum(ok) / 1000.0), "1/s", n),
    }
    med = key_medians(raw["samples"])
    module = {s["key"]: s["module"] for s in raw["samples"]}
    cur = [v for k, v in med.items() if module[k] in ("Llm", "LlmExtra")]
    gr = [v for k, v in med.items() if module[k] == "Graph"]
    detail = {"query_p50_ms": out["latency_p50_ms"],
              "query_p90_ms": out["latency_tail_ms"],
              "queries_per_s": out["throughput_per_s"],
              "curation_pass_s": _metric(sum(cur) / 1000.0, "s", len(cur)),
              "graph_pass_s": _metric(sum(gr) / 1000.0, "s", len(gr))}
    return out, detail


def check_queries(raw, expected):
    """(checked, mismatches, notes): each key's row count, and its
    content hash where one is recorded, against expected.json."""
    bad, notes = 0, []
    for c in raw.get("checks", []):
        want = expected.get(c["key"])
        if "error" in c:
            bad += 1
            notes.append(f"{c['key']}: {c['error']}")
        elif want is None:
            bad += 1
            notes.append(f"{c['key']}: no expected value recorded")
        elif c["rows"] != want["rows"] or (
                want.get("hash") is not None and c["hash"] != want["hash"]):
            bad += 1
            notes.append(f"{c['key']}: rows={c['rows']} hash={c['hash']} "
                         f"expected rows={want['rows']} hash={want.get('hash')}")
    return len(raw.get("checks", [])), bad, notes


def _timed_spans(spans):
    """Spans outside the set-up subtree."""
    by_id = {s["id"]: s for s in spans}

    def in_setup(s):
        while s is not None:
            if s["kind"] == "setup":
                return True
            s = by_id.get(s["parent"])
        return False
    return [s for s in spans if not in_setup(s)]


def _sum_counter(spans, name):
    return sum(s["counters"].get(name, 0.0) for s in spans)


def _subtree(spans, roots):
    """`roots` and every span below them."""
    ids = {s["id"] for s in roots}
    out = list(roots)
    grew = True
    while grew:
        kids = [s for s in spans if s["parent"] in ids and s["id"] not in ids]
        ids |= {s["id"] for s in kids}
        out += kids
        grew = bool(kids)
    return out


def wide_layers(raw, spans):
    timed = _timed_spans(spans)
    tasks = _sum_counter(timed, "tasks")
    run_ms = _sum_counter(timed, "task_run_ms")
    art = [s for s in spans if s["kind"] == "artifacts"]
    queries = [s for s in spans if s["kind"] == "query"]
    selfs = stats.self_times(spans)
    qdur = sum(s["dur_ms"] for s in queries)
    return {
        "spark.core_util": _metric(
            run_ms / (raw["timed_ms"] * raw["cores"]) if raw["timed_ms"] else 0.0,
            "ratio"),
        "spark.small_task_share": _metric(
            _sum_counter(timed, "small_tasks") / tasks if tasks else 0.0, "ratio"),
        "spark.gc_ms": _metric(_sum_counter(timed, "gc_ms"), "ms"),
        "spark.spill_bytes": _metric(_sum_counter(timed, "spill_bytes"), "bytes"),
        "artifacts.build_ms": _metric(sum(s["dur_ms"] for s in art), "ms"),
        "artifacts.jobs": _metric(_sum_counter(_subtree(spans, art), "jobs"),
                                  "count"),
        "trace.query_self_share": _metric(
            sum(selfs[s["id"]] for s in queries) / qdur if qdur else 0.0, "ratio"),
    }


def module_layers(raw, spans):
    """Per operator module: the sum over its keys of each key's median
    construct/plan/exec time, and of the listener counts of each key's
    first timed execution."""
    out = {}
    module = {s["key"]: s["module"] for s in raw.get("samples", [])}
    meds = {f: key_medians(raw.get("samples", []), f)
            for f in ("construct_ms", "plan_ms", "exec_ms")}
    by_id = {s["id"]: s for s in spans}
    first = {}
    for s in spans:
        if s["kind"] in ("construct", "plan", "exec"):
            q = by_id.get(s["parent"])
            p = by_id.get(q["parent"]) if q else None
            if q and p and p["kind"] == "pass" and p["name"] == "pass0":
                first.setdefault(q["name"], []).append(s)
    for m in MODULES:
        ks = [k for k, mm in module.items() if mm == m]
        for f in ("construct_ms", "plan_ms", "exec_ms"):
            out[f"ops.{m}.{f}"] = _metric(sum(meds[f].get(k, 0.0) for k in ks), "ms")
        for c, unit in (("stages", "count"), ("tasks", "count"),
                        ("shuffle_bytes", "bytes"), ("task_cpu_ms", "ms")):
            out[f"ops.{m}.{c}"] = _metric(
                sum(_sum_counter(first.get(k, []), c) for k in ks), unit)
    return out


# ----------------------------------------------------------------- ingest

def commit_latencies(commits):
    out = []
    for c in commits:
        out += stats.uniform_latencies(c["end_ms"], c["min_ts"], c["max_ts"],
                                       c["rows"])
    return out


def ingest_end_to_end(raw):
    """Per-row commit latencies are spread evenly over each commit's
    rows, so the tail rests on the few commits of a run: `commits` is
    reported beside the row count `n`."""
    cs = sorted(raw["commits"], key=lambda c: c["end_ms"])
    lat = commit_latencies(cs)
    p99 = stats.percentile(lat, 0.99) if lat else float("inf")
    ok, growth = stats.sustained(cs, raw["rate"], p99, raw["latency_limit_ms"])
    verdict = {"rate": raw["rate"], "commits": len(cs), "sustained": ok,
               "backlog_growth_rows_per_s": growth, "commit_p99_ms": p99,
               "latency_limit_ms": raw["latency_limit_ms"]}
    tail, q = stats.tail(lat, 0.99)
    n_rows = len(lat)
    out = {
        "latency_p50_ms": _metric(stats.percentile(lat, 0.5), "ms", n_rows,
                                  commits=len(cs)),
        "latency_tail_ms": _metric(tail, "ms", n_rows, q, commits=len(cs)),
        "throughput_per_s": _metric(stats.committed_rate(cs), "1/s", n_rows,
                                    commits=len(cs)),
    }
    version_rows = {c["version"]: c for c in cs}
    board, board_versions = [], 0
    for st in raw["steps"]:
        c = version_rows.get(st["version"])
        if c:
            board_versions += 1
            board += stats.uniform_latencies(st["at_ms"], c["min_ts"], c["max_ts"],
                                             c["rows"])
    reads = [r["ms"] for r in raw["reads"]]
    btail, bq = stats.tail(board, 0.99) if board else (0.0, 0.99)
    detail = {
        "ingest_rows_per_s": {**out["throughput_per_s"], "unit": "rows/s"},
        "sustained_rate": _metric(raw["rate"] if ok else 0, "rows/s"),
        "commit_latency_p50_ms": out["latency_p50_ms"],
        "commit_latency_p99_ms": out["latency_tail_ms"],
        "board_latency_p99_ms": _metric(btail, "ms", len(board), bq,
                                        commits=board_versions),
        "snapshot_read_p50_ms": _metric(_med(reads), "ms", len(reads)),
    }
    return out, detail, verdict


def ingest_layers(raw, spans):
    prog = raw.get("progress", [])
    commits = sorted(raw["commits"], key=lambda c: c["end_ms"])
    backlog = [b for _, b in stats.backlog_points(commits, raw["rate"])]
    commit_spans = [s for s in _timed_spans(spans) if s["kind"] == "commit"]
    rows_of = {c["version"]: c["rows"] for c in commits}
    vers = raw.get("versions", [])
    amp = [v["added_bytes"] / (rows_of[v["version"]] * INPUT_ROW_BYTES)
           for v in vers if rows_of.get(v["version"])]

    def pm(k):
        return _med([p[k] for p in prog])
    return {
        "streams.trigger_ms": _metric(pm("trigger_ms"), "ms", len(prog)),
        "streams.add_batch_ms": _metric(pm("add_batch_ms"), "ms", len(prog)),
        "streams.planning_ms": _metric(pm("planning_ms"), "ms", len(prog)),
        "streams.wal_ms": _metric(pm("wal_ms"), "ms", len(prog)),
        "streams.batch_rows": _metric(pm("batch_rows"), "count", len(prog)),
        "streams.backlog_rows": _metric(_med(backlog), "count", len(backlog)),
        "streams.state_rows": _metric(max([p["state_rows"] for p in prog] or [0]),
                                      "count"),
        "lake.merge_commit_ms": _metric(_med([c["commit_ms"] for c in commits]),
                                        "ms", len(commits)),
        "lake.jobs_per_commit": _metric(
            _med([s["counters"].get("jobs", 0.0) for s in commit_spans]), "count"),
        "lake.files_per_version": _metric(_med([v["files"] for v in vers]), "count"),
        "lake.write_amp": _metric(_med(amp), "ratio", len(amp)),
        "lake.change_step_ms": _metric(_med([s["ms"] for s in raw["steps"]]),
                                       "ms", len(raw["steps"])),
        "lake.snapshot_read_ms": _metric(_med([r["ms"] for r in raw["reads"]]),
                                         "ms", len(raw["reads"])),
    }


def check_ingest(raw):
    checks = raw.get("checks", [])
    bad = [c for c in checks if not c["ok"]]
    return len(checks), len(bad), [f"{c['key']}: {c['detail']}" for c in bad]


# ------------------------------------------------------------------ all

def evaluate(raw, spans, expected):
    """(result dict, summary lines) for one run."""
    wl = raw["workload"]
    if wl == "cdc_ingest":
        e2e, detail, verdict = ingest_end_to_end(raw)
        attempted = len(raw["commits"]) + len(raw["steps"]) + len(raw["reads"])
        failed = len(raw.get("failures", []))
        checked, bad, notes = check_ingest(raw)
        notes = list(raw.get("failures", [])) + notes
        inputs = {"rate": raw["rate"], "seconds": raw["seconds"],
                  "update_permille": raw["update_permille"],
                  "update_window": raw["update_window"],
                  "fixtures": raw["fixtures"], "verdict": verdict}
    else:
        e2e, detail = query_end_to_end(raw)
        attempted = len(raw["samples"])
        failed = len([s for s in raw["samples"] if not s["ok"]])
        checked, bad, notes = check_queries(raw, expected)
        notes = [f"{s['key']}: {s['error']}" for s in raw["samples"]
                 if not s["ok"]] + notes
        keys = sorted({s["key"] for s in raw["samples"]})
        inputs = {"keys": len(keys), "passes": 1 + max(s["pass"] for s in raw["samples"]),
                  "fixtures": raw["fixtures"]}
    e2e = {"setup_s": _metric(raw["setup_ms"] / 1000.0, "s", 1), **e2e}
    failed_total = failed + bad
    result = {
        "workload": wl, "seed": raw["seed"], "traced": raw["traced"],
        "correct": failed_total == 0,
        "attempted": attempted + checked, "failed": failed_total,
        "error_rate": failed_total / max(attempted + checked, 1),
        "end_to_end": e2e, "detail": detail,
        "conditions": {"cores": raw["cores"], "threads": raw["threads"],
                       "probe_start_s": raw["probe_start_s"],
                       "probe_end_s": raw["probe_end_s"],
                       "loadavg_1m_start": raw.get("loadavg_start"),
                       "loadavg_1m_end": raw.get("loadavg_end"),
                       "cpu_steal_share": raw.get("cpu_steal_share")},
        "inputs": inputs, "notes": notes[:50],
        "setup": {k: raw.get(k) for k in ("session_ms", "artifacts_ms", "setup_ms")},
    }
    # every timed sample, as measured
    result["samples"] = {k: raw[k] for k in ("samples", "commits", "steps", "reads")
                         if k in raw}
    if raw["traced"]:
        layers = {n: _metric(0.0, u) for n, u in per_layer_names()}
        layers.update(wide_layers(raw, spans))
        if wl == "cdc_ingest":
            layers.update(ingest_layers(raw, spans))
        else:
            layers.update(module_layers(raw, spans))
        result["per_layer"] = layers
    return result
