"""Per-layer metrics of a traced run, from its spans and its event log.

Every metric is a mean per pass (``spark.task_skew``: the median), so runs
that fit a different number of passes into their time stay comparable.
Layers a workload does not exercise report 0.
"""

from __future__ import annotations

import statistics
from collections import defaultdict

from benchmark.eventlog import (
    EventLog,
    count_exchanges,
    pair_expansion_rows,
    union_length,
)

SPARK_KEYS = ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "jvm_gc_s",
              "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
              "python_worker_s", "arrow_bytes_to_python", "arrow_bytes_from_python")

# span name -> per-layer metric holding the span's inclusive time
SPAN_TIMES = {
    "catalog.append": "catalog.append_s",
    "catalog.read_delta": "catalog.read_delta_s",
    "catalog.overwrite_partitions": "catalog.overwrite_partitions_s",
    "catalog.drop_partitions": "catalog.drop_partitions_s",
    "tiers.expire": "tiers.expire_s",
    "spine.gapfill": "spine.gapfill_s",
    "window.native": "window.native_s",
    "window.pudf": "window.pudf_s",
    "lags": "lags.s",
    "gorilla.encode": "gorilla.encode_s",
    "gorilla.decode": "gorilla.decode_s",
    "pipeline.fit": "pipeline.fit_s",
    "pipeline.forecast": "pipeline.forecast_s",
    "pipeline.backtest_build": "pipeline.backtest_build_s",
    "pipeline.action": "pipeline.action_s",
    "dedup.signatures": "dedup.signatures_s",
    "dedup.band_pairs": "dedup.band_pairs_s",
    "similarity.signatures": "similarity.signatures_s",
    "similarity.neardup": "similarity.neardup_s",
    "sessionize": "sessionize.s",
}

# per-layer values the workloads measure themselves (no event log needed)
PASS_VALUES = (
    "catalog.files_per_partition", "catalog.snapshot_log_bytes",
    "catalog.tier_bytes_per_point", "manifest.records", "manifest.bytes",
    "tiers.backfill_s", "tiers.refresh_1m_s", "tiers.refresh_1h_s", "tiers.refresh_1d_s",
    "tiers.rows_rewritten_per_input_row", "spine.fill_ratio",
    "gorilla.bytes_per_point", "dedup.pairs", "similarity.pairs", "sessionize.sessions",
    "trace.cpu_s", "trace.op_p50_s", "trace.points_per_s",
)

DERIVED = (
    *(f"spark.{k}" for k in SPARK_KEYS), "spark.driver_gap_s", "spark.task_skew",
    "spark.cpu_busy_ratio",
    "catalog.write_jobs", "catalog.files_written", "catalog.bytes_written",
    "catalog.files_scanned_per_refresh", "catalog.file_prune_ratio", "manifest.read_s",
    "tiers.jobs_per_refresh", "tiers.shuffle_bytes_per_point",
    "gorilla.python_worker_s", "pipeline.jobs", "pipeline.exchanges",
    "dedup.candidates", "dedup.pair_yield", "similarity.candidates",
    "similarity.pair_yield", "trace.wall_s", "trace.spans",
)

METRICS = tuple(dict.fromkeys((*DERIVED, *SPAN_TIMES.values(), *PASS_VALUES)))


def unit(name: str) -> str:
    if name.endswith("_per_s"):
        return "1/s"
    if name.endswith(("_s", ".s")):
        return "s"
    if name.endswith("bytes_per_point"):
        return "B/point"
    if "bytes" in name:
        return "B"
    if name.endswith("_per_refresh"):
        return "1/refresh"
    if name.endswith("_per_partition"):
        return "1/partition"
    if name.endswith(("ratio", "yield", "skew", "per_input_row")):
        return "ratio"
    return "count"


class SpanTree:
    def __init__(self, spans: list[dict], group_of):
        self.spans = spans
        self.group_of = group_of
        self.children: dict[int, list[int]] = defaultdict(list)
        for s in spans:
            if s["parent"] is not None:
                self.children[s["parent"]].append(s["id"])

    def subtree(self, sid: int) -> list[dict]:
        out, todo = [], [sid]
        while todo:
            i = todo.pop()
            out.append(self.spans[i])
            todo.extend(self.children[i])
        return out

    def groups(self, sid: int) -> set[str]:
        return {self.group_of(s["id"]) for s in self.subtree(sid)}

    def named(self, root: int, name: str) -> list[dict]:
        return [s for s in self.subtree(root) if s["name"] == name]

    @staticmethod
    def dur(s: dict) -> float:
        return s["end"] - s["start"]

    def self_time(self, s: dict) -> float:
        return self.dur(s) - sum(self.dur(self.spans[c]) for c in self.children[s["id"]])


def _pass_metrics(tree: SpanTree, log: EventLog, root: dict, layer: dict,
                  cores: int) -> dict:
    rid = root["id"]
    groups = tree.groups(rid)
    sp = log.group_stats(groups)
    wall = tree.dur(root)
    m = {f"spark.{k}": float(sp[k]) for k in SPARK_KEYS}
    busy = union_length(log.job_intervals(groups), root["start"], root["end"])
    m["spark.driver_gap_s"] = wall - busy
    m["spark.task_skew"] = sp["task_skew"]
    m["spark.cpu_busy_ratio"] = sp["executor_cpu_s"] / (wall * cores)

    def under(name: str) -> set[str]:
        return set().union(*(tree.groups(s["id"]) for s in tree.named(rid, name)))

    for name, metric in SPAN_TIMES.items():
        m[metric] = sum(tree.dur(s) for s in tree.named(rid, name))
    writes = under("catalog.append") | under("catalog.overwrite_partitions")
    m["catalog.write_jobs"] = float(log.group_stats(writes)["jobs"])
    for key in ("files_written", "bytes_written"):
        m[f"catalog.{key}"] = float(sum(
            s["attrs"].get(key, 0) for n in ("catalog.append", "catalog.overwrite_partitions")
            for s in tree.named(rid, n)))

    refreshes = tree.named(rid, "tiers.refresh")
    scanned = needed = 0
    for op in tree.subtree(rid):
        days = set(op["attrs"].get("days", []))
        if not days:
            continue
        for rd in tree.named(op["id"], "catalog.read"):
            scanned += rd["attrs"]["files_scanned"]
            needed += sum(1 for parts in rd["attrs"]["file_partitions"].values()
                          if days & set(parts))
    m["catalog.files_scanned_per_refresh"] = scanned / max(len(refreshes), 1)
    m["catalog.file_prune_ratio"] = needed / scanned if scanned else 0.0
    rgroups = under("tiers.refresh")
    rstats = log.group_stats(rgroups)
    m["tiers.jobs_per_refresh"] = rstats["jobs"] / max(len(refreshes), 1)
    points = layer["points"]
    m["tiers.shuffle_bytes_per_point"] = rstats["shuffle_write_bytes"] / points if points else 0.0

    gor = under("gorilla.encode") | under("gorilla.decode")
    m["gorilla.python_worker_s"] = log.group_stats(gor)["python_worker_s"]

    action = under("pipeline.action")
    m["pipeline.jobs"] = float(log.group_stats(under("pipeline.backtest_build") | action)["jobs"])
    m["pipeline.exchanges"] = float(sum(count_exchanges(ex["initial"])
                                        for ex in log.executions_of(action)))

    for layer_name, span_name in (("dedup", "dedup.band_pairs"),
                                  ("similarity", "similarity.neardup")):
        plans = [ex["final"] for ex in log.executions_of(under(span_name))]
        cand = pair_expansion_rows(log, plans)
        m[f"{layer_name}.candidates"] = cand
        m[f"{layer_name}.pair_yield"] = layer.get(f"{layer_name}.pairs", 0) / cand if cand else 0.0

    m["manifest.read_s"] = 0.0  # set per run in per_layer: reads happen in checks too
    m["trace.wall_s"] = wall
    m["trace.spans"] = float(len(tree.subtree(rid)))
    for key in PASS_VALUES:
        m[key] = float(layer.get(key, 0.0))
    return m


def per_layer(spans: list[dict], group_of, log: EventLog, pass_roots: list[int],
              pass_layers: list[dict], cores: int) -> dict[str, float]:
    """Mean per-pass value of every per-layer metric."""
    tree = SpanTree(spans, group_of)
    rows = [_pass_metrics(tree, log, spans[r], lay, cores)
            for r, lay in zip(pass_roots, pass_layers)]
    out = {k: statistics.fmean(r[k] for r in rows) for k in METRICS}
    out["spark.task_skew"] = statistics.median(r["spark.task_skew"] for r in rows)
    reads = [tree.dur(s) for s in spans if s["name"] == "manifest.read"]
    out["manifest.read_s"] = statistics.fmean(reads) if reads else 0.0
    return out


def layer_table(spans: list[dict], group_of, log: EventLog) -> list[dict]:
    """One row per span name: calls, inclusive and self time, and the Spark
    totals of the jobs that ran directly under it (not under a child)."""
    tree = SpanTree(spans, group_of)
    rows: dict[str, dict] = {}
    for s in spans:
        r = rows.setdefault(s["name"], {"span": s["name"], "calls": 0, "total_s": 0.0,
                                        "self_s": 0.0, **{k: 0.0 for k in SPARK_KEYS}})
        r["calls"] += 1
        r["total_s"] += tree.dur(s)
        r["self_s"] += tree.self_time(s)
        st = log.group_stats({group_of(s["id"])})
        for k in SPARK_KEYS:
            r[k] += st[k]
    return sorted(rows.values(), key=lambda r: -r["self_s"])
