"""Metrics of one run, from the engine's raw observations.

End-to-end metrics (`--trace 0`) are defined on both workloads. An
operation is what a user waits for: a read or a delivery in the journey,
one key (building its DataFrame and the timed action) in the mix. Its
type is the read kind or delivery size class, or the key.

Per-layer metrics (`--trace 1`) come from the traced run's spans and
listeners, over its timed phase; mix figures are per timed pass. A
layer a workload does not call reads 0 there.
"""
import math
import statistics

PERCENTILES = (50, 90, 95, 99, 99.9)
GROUPS = ("relational", "corpus", "drives")
READS = ("code", "miss", "partial", "exact", "status")


def tail_percentile(n):
    """The highest percentile with at least ten samples beyond it, or
    None when even the median has fewer than ten beyond it."""
    ok = [p for p in PERCENTILES if round(n * (100 - p) / 100, 9) >= 10]
    return max(ok) if ok else None


def percentile(values, p):
    """Nearest-rank percentile."""
    s = sorted(values)
    return s[max(0, math.ceil(p / 100 * len(s)) - 1)]


def geomean(values):
    return math.exp(sum(math.log(v) for v in values) / len(values))


def _ingested(o):
    """Records in a delivery op's file; None for a failed delivery."""
    st = o["result"]["status"]
    return st[2] if st and st[1] != "failed" else None


def _op_type(o):
    if o["kind"] == "delivery":
        n = _ingested(o)
        return "delivery-" + ("failed" if n is None else f"{n // 1000}k")
    return o["kind"] if o["kind"] in READS else o["name"]


def end_to_end(workload, res):
    ops = [o for o in res["ops"] if o["phase"] == "timed"]
    by_type = {}
    for o in ops:
        by_type.setdefault(_op_type(o), []).append(o["ms"])
    if workload == "journey":
        wall = res["wall_ms"] / 1e3
    else:
        wall = statistics.median(res["timed_passes"])
    return {
        "setup_s": (res["setup"]["setup_s"], "s"),
        "wall_s": (wall, "s"),
        "op_geomean_ms": (geomean([statistics.median(v) for v in by_type.values()]), "ms"),
    }


def _layer(prefix, a, per):
    return {
        f"{prefix}build_s": (a["build_s"] / per, "s"),
        f"{prefix}exec_s": (a["exec_s"] / per, "s"),
        f"{prefix}jobs": (a["jobs"] / per, "count"),
        f"{prefix}task_s": (a["task_s"] / per, "s"),
        f"{prefix}shuffle_mb": ((a["shuffle_write_mb"] + a["shuffle_read_mb"]) / per, "MiB"),
    }


def per_layer(workload, res):
    L = res["layers"]
    a = L["all"]
    journey = workload == "journey"
    per = 1 if journey else len(res["timed_passes"])
    wall = res["wall_ms"] / 1e3 if journey else sum(res["timed_passes"])
    cores = res["env"]["cores"]
    s = res["setup"]
    m = {
        "setup.session_s": (s["session_s"], "s"),
        "setup.warm_s": (s["warm_s"], "s"),
        "setup.artifact_mb": (s["artifact_mb"], "MiB"),
        "jvm.peak_rss_mb": (res["peak_rss_mb"], "MiB"),
        "jvm.cpu_s": (statistics.median(res["timed_cpu_s"]), "s"),
        "trace.wall_s": (end_to_end(workload, res)["wall_s"][0], "s"),
        "spark.jobs": (a["jobs"] / per, "count"),
        "spark.stages": (a["stages"] / per, "count"),
        "spark.tasks": (a["tasks"] / per, "count"),
        "spark.task_s": (a["task_s"] / per, "s"),
        "spark.task_cpu_s": (a["task_cpu_s"] / per, "s"),
        "spark.gc_s": (a["gc_s"] / per, "s"),
        "spark.shuffle_write_mb": (a["shuffle_write_mb"] / per, "MiB"),
        "spark.shuffle_read_mb": (a["shuffle_read_mb"] / per, "MiB"),
        "spark.spill_mb": (a["spill_mb"] / per, "MiB"),
        "spark.output_mb": (a["output_mb"] / per, "MiB"),
        "spark.busy_frac": (a["task_s"] / (wall * cores), "ratio"),
        "spark.single_task_stage_s": (a["single_task_stage_s"] / per, "s"),
        "catalyst.analysis_s": (a["analysis_s"] / per, "s"),
        "catalyst.optimize_s": (a["optimize_s"] / per, "s"),
        "catalyst.plan_s": (a["plan_s"] / per, "s"),
        "catalyst.codegen_s": (a["codegen_s"] / per, "s"),
        "catalyst.codegen_compiles": (a["codegen_compiles"] / per, "count"),
        "catalyst.partial_agg_ratio": (
            a["partial_agg_out"] / a["partial_agg_in"] if a["partial_agg_in"] else 0.0,
            "ratio"),
    }
    for k in ("triggers", "no_data_triggers", "state_rows"):
        m[f"streaming.{k}"] = (a[k] / per, "count")
    for k in ("start", "latestOffset", "queryPlanning", "addBatch", "walCommit",
              "commitOffsets", "other", "state_commit"):
        m[f"streaming.{k}_ms"] = (a[f"{k}_ms"] / per, "ms")
    m["streaming.state_mb"] = (a["state_mb"] / per, "MiB")

    ops = [o for o in res["ops"] if o["phase"] == "timed"]
    dels = [o for o in ops if o["kind"] == "delivery" and _ingested(o) is not None]
    reads = [o for o in ops if o["kind"] in READS]
    calls = L["calls"]
    zero = {"jobs": 0, "output_mb": 0.0}

    def med(xs):
        return statistics.median(xs) if xs else 0.0
    m["graft.upload_ms"] = (med([o["parts"]["upload"] for o in dels]), "ms")
    m["graft.process_s"] = (med([o["parts"]["process"] / 1e3 for o in dels]), "s")
    m["graft.delivery_p50_s"] = (med([o["ms"] / 1e3 for o in dels]), "s")
    records = sum(_ingested(o) for o in dels)
    m["ingest.records_per_s"] = (
        records / (sum(o["ms"] for o in dels) / 1e3) if dels else 0.0, "1/s")
    dcalls = [calls.get(f"graft/{c}", zero) for c in ("upload", "process", "status")]
    m["ingest.jobs_per_delivery"] = (
        sum(c["jobs"] for c in dcalls) / len(dels) if dels else 0.0, "count")
    delivered = sum(o["result"]["bytes"] for o in dels)
    m["ingest.write_amp"] = (
        sum(c["output_mb"] for c in dcalls) * 2**20 / delivered if dels else 0.0,
        "ratio")
    m["ingest.store_files"] = (med([o["result"]["store"]["files"] for o in dels]), "count")
    m["ingest.store_versions"] = (
        med([o["result"]["store"]["versions"] for o in dels]), "count")
    for k in READS:
        name = "graft.status_ms" if k == "status" else f"query.Finders.{k}_ms"
        m[name] = (med([o["ms"] for o in reads if o["kind"] == k]), "ms")
    m["query.Finders.jobs_per_read"] = (
        calls.get("query.Finders/find", zero)["jobs"] / len(reads) if reads else 0.0,
        "count")
    p = tail_percentile(len(reads))
    m["query.Finders.read_p90_ms"] = (
        percentile([o["ms"] for o in reads], 90) if p and p >= 90 else 0.0, "ms")

    for g in GROUPS:
        b = calls.get(f"{g}/build", {"wall_s": 0.0})
        x = calls.get(f"{g}/action", {"wall_s": 0.0})
        grp = dict(L["groups"].get(g, {"jobs": 0, "task_s": 0.0, "shuffle_write_mb": 0.0,
                                       "shuffle_read_mb": 0.0}))
        grp.update(build_s=b["wall_s"], exec_s=x["wall_s"])
        m.update(_layer(f"{g}.", grp, per))
    return m


def summarize(workload, res, checks, traced):
    failures = checks["failures"]
    attempted = checks["attempted"]
    m = per_layer(workload, res) if traced else end_to_end(workload, res)
    return {"correct": not failures, "attempted": attempted,
            "failed": min(len(failures), attempted),
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in m.items()}}
