"""Per-layer metrics of a traced run, from its spans, the Spark event
log and the workloads' own counters. Every value is per timed pass
(a total divided by the number of passes) unless its name says
otherwise; the ``session.*`` and ``catalog.load_*`` values describe
set-up."""

from __future__ import annotations

import statistics

from tracing import covered, outermost, self_times, under

OPERATOR_MODULES = [
    "bloomjoin",
    "classify",
    "dedup",
    "expectations",
    "graph",
    "incremental",
    "merge",
    "multimodal",
    "ordered",
    "packing",
    "scd",
    "sectionize",
    "similarity",
    "skew",
    "temporal",
    "textstats",
]

# (layer, module) pairs whose public functions the traced mode wraps.
TARGETS = (
    [
        ("session", "hi_csa_db_spark.session"),
        ("catalog", "hi_csa_db_spark.catalog"),
        ("operators.cache", "hi_csa_db_spark.operators._cache_ledger"),
    ]
    + [(f"operators.{m}", f"hi_csa_db_spark.operators.{m}") for m in OPERATOR_MODULES]
    + [
        ("sources.txlog", "hi_csa_db_spark.sources.txlog"),
        ("streaming", "hi_csa_db_spark.streaming.acid_sink"),
        ("queries", "hi_csa_db_spark.flagship"),
    ]
)

PER_QUERY = [
    "graph_bfs_reachability",
    "graph_components_star",
    "d10_quality_survivors",
    "pipe_training_prep_v3",
    "d2_minhash_lsh_pairs",
    "d3_ngram_jaccard_topk",
]

COMMIT_FNS = ("write_table", "append_batch", "merge_table", "compact_table", "replace_batch")

MB = 1e6


def per_layer(spans, events, counters, setup, extras, runs, cores) -> dict[str, float]:
    """Per-layer metrics over the timed passes named in ``runs``.

    ``events``: parse_event_log output keyed by job group
    "<run>|<op>|<phase>"; ``counters``: {run: {metric: value}} from the
    workloads; ``setup``: session start and warm-up seconds;
    ``extras``: one dict per pass of storage counters (empty for
    workloads that write nothing)."""
    n = len(runs)
    runs = set(runs)
    timed = [i for i, s in enumerate(spans) if s["run"] in runs]
    dur = lambda idxs: sum(spans[i]["end"] - spans[i]["start"] for i in idxs)  # noqa: E731

    def sel(layer, name=None, pool=timed, query=None):
        return [
            i
            for i in pool
            if spans[i]["layer"] == layer
            and (name is None or spans[i]["name"] == name)
            and (query is None or spans[i].get("attrs", {}).get("query") == query)
        ]

    groups = {}
    for gid, tot in events.items():
        parts = gid.split("|")
        if len(parts) == 3 and parts[0] in runs:
            groups.setdefault(parts[2], []).append(tot)

    def ev(phase, key):
        return sum(t[key] for t in groups.get(phase, []))

    def job_s(phase):
        return covered([j for t in groups.get(phase, []) for j in t["job_spans"]]) / 1000

    m: dict[str, float] = {}
    build_s = dur(outermost(spans, sel("queries"))) / n
    m["queries.build_s"] = build_s
    m["queries.build_eager_jobs"] = ev("build", "jobs") / n
    m["queries.build_self_s"] = build_s - job_s("build") / n
    ops = [i for i in timed if spans[i]["layer"].startswith("operators.")]
    m["operators.s"] = dur([i for i in ops if not under(spans, i, "operators")]) / n
    for mod in OPERATOR_MODULES:
        idx = sel(f"operators.{mod}")
        m[f"operators.{mod}.calls"] = len(idx) / n
        m[f"operators.{mod}.s"] = dur(outermost(spans, idx)) / n
    m["operators.cache.registrations"] = len(sel("operators.cache", "register_cached")) / n
    m["operators.cache.live"] = max(counters.get(r, {}).get("operators.cache.live", 0) for r in runs)
    m["plan.analyze_s"] = dur(sel("plan", "analyze")) / n
    m["plan.physical_s"] = dur(sel("plan", "physical")) / n
    m["plan.python_eval_nodes"] = (
        sum(counters.get(r, {}).get("plan.python_eval_nodes", 0) for r in runs) / n
    )
    exec_wall = job_s("exec")
    m["exec.s"] = dur(sel("exec")) / n
    m["exec.jobs"] = ev("exec", "jobs") / n
    m["exec.stages"] = ev("exec", "stages") / n
    m["exec.tasks"] = ev("exec", "tasks") / n
    m["exec.shuffle_read_mb"] = ev("exec", "shuffle_read_b") / MB / n
    m["exec.shuffle_write_mb"] = ev("exec", "shuffle_write_b") / MB / n
    m["exec.spill_mb"] = ev("exec", "spill_b") / MB / n
    m["exec.run_s"] = ev("exec", "run_ms") / 1000 / n
    m["exec.cpu_s"] = ev("exec", "cpu_ns") / 1e9 / n
    m["exec.gc_s"] = ev("exec", "gc_ms") / 1000 / n
    m["exec.core_util"] = ev("exec", "run_ms") / 1000 / (exec_wall * cores) if exec_wall else 0.0
    m["session.start_s"] = setup["start_s"]
    m["session.warmup_s"] = setup["warmup_s"]
    setup_spans = [i for i, s in enumerate(spans) if s["run"] == "setup"]
    loads = sel("catalog", "load_table", pool=setup_spans)
    m["catalog.load_calls"] = len(loads)
    m["catalog.load_s"] = dur(outermost(spans, loads))

    txlog_idx = sel("sources.txlog")
    own = [i for i in txlog_idx if not under(spans, i, "streaming")]
    m["sources.txlog.commits"] = _mean(extras, "sources.txlog.commits")
    m["sources.txlog.commit_s"] = (
        dur(outermost(spans, [i for i in own if spans[i]["name"] in COMMIT_FNS])) / n
    )
    m["sources.txlog.read_s"] = (
        dur([i for i in own if spans[i]["name"] == "read_table" and not under(spans, i, "sources.txlog")])
        / n
    )
    for key in ("files_written", "mb_written", "live_files", "commit_p50_s", "read_p50_s"):
        m[f"sources.txlog.{key}"] = _mean(extras, f"sources.txlog.{key}")
    m["sources.txlog.write_amp"] = _mean(extras, "write_amp")
    m["sources.txlog.space_amp"] = _mean(extras, "space_amp")
    m["catalog.publish_s"] = dur(sel("catalog", "publish")) / n
    m["catalog.publish_mb"] = _mean(extras, "catalog.publish_mb")
    streamed = [i for i in txlog_idx if under(spans, i, "streaming")]
    batches = len([i for i in streamed if spans[i]["name"] == "append_batch"]) / n
    m["streaming.batches"] = batches
    m["streaming.batch_s"] = dur(outermost(spans, streamed)) / n
    m["streaming.replays_skipped"] = batches - _mean(extras, "stream_appends")
    for q in PER_QUERY:
        m[f"query.{q}.build_s"] = dur(sel("queries", "build", query=q)) / n
        m[f"query.{q}.exec_s"] = dur(sel("exec", query=q)) / n
    m["trace.attributed_frac"] = attributed(spans, timed)
    return m


def _mean(extras, key) -> float:
    return statistics.fmean(e.get(key, 0.0) for e in extras) if extras else 0.0


def layer_self(spans, pool) -> dict[str, float]:
    """Self seconds per layer over the spans in ``pool``."""
    st = self_times(spans)
    out: dict[str, float] = {}
    for i in pool:
        out[spans[i]["layer"]] = out.get(spans[i]["layer"], 0.0) + st[i]
    return out


def attributed(spans, pool) -> float:
    """Share of the timed passes' wall time that lies in a layer's span
    rather than in the benchmark's own code between calls."""
    roots = [i for i in pool if spans[i]["parent"] is None]
    wall = sum(spans[i]["end"] - spans[i]["start"] for i in roots)
    own = layer_self(spans, pool).get("bench", 0.0)
    return (wall - own) / wall if wall else 0.0
