"""Turns a harness run record into the benchmark's metrics.

The JVM harness (perfbench/harness) records raw samples, checks and
spans; everything derived from them -- medians, tail percentiles, span
self times, per-layer attributions, failure ratios -- is computed here,
so the arithmetic is testable without Spark (perfbench/tests).
"""
import statistics

# Every workload reports every end-to-end metric; per workload, an
# "operation" is the unit the timed phase repeats.
END_TO_END = {
    "op_mean_ms": "ms",
    "setup_s": "s",
    "heap_live_mb": "MB",
}

# SparkEntry.queries, by name; each gets a per-layer timing.
CATALOG_QUERIES = [
    "q_ann_ivf", "q_ann_lsh", "q_ann_multiprobe", "q_ann_recall", "q_biblio_enrich",
    "q_biblio_index", "q_bm25_topk", "q_chunker", "q_corpus_stats", "q_dedup_clusters",
    "q_dedup_exact", "q_doc_token_stats", "q_doi_ttl", "q_embed_neardup",
    "q_embed_topk", "q_events_hourly", "q_events_sessionize", "q_fingerprint",
    "q_fuzzy_bonus", "q_gibberish", "q_jaccard_pairs", "q_lang_dist", "q_langid",
    "q_lsh_pairs", "q_metadata_bonus", "q_minhash_sigs", "q_multimodal_stub",
    "q_ngram_bonus", "q_normalize", "q_pattern_bonus", "q_proximity_bonus",
    "q_quality_gate", "q_quality_scores", "q_rm3_terms", "q_rrf_fusion",
    "q_search_confidence", "q_search_topk", "q_semantic_mix", "q_sentences",
    "q_simhash", "q_snippet", "q_source_enrich_join", "q_term_df", "q_term_idf",
    "q_tpch_order_priority", "q_tpch_pricing", "q_tpch_region_revenue",
    "q_tpch_top_customers", "q_wand_headterm", "q_wand_topk",
]

# name -> unit; reported by every traced run, 0 where the workload does
# not exercise the layer.
PER_LAYER = {
    "backend.open_ms": "ms",
    "termstats.ms": "ms", "termstats.miss_terms": "count",
    "pool.ms": "ms", "pool.bounded_ms": "ms", "pool.dense_ms": "ms",
    "pool.served_bounded": "count", "pool.served_dense": "count",
    "pool.served_headterm": "count", "pool.bounded_rounds": "count",
    "pool.fallback_ratio": "ratio",
    "wand.round_ms": "ms", "wand.candidates": "count",
    "postings.scan_ms": "ms",
    "rescore.bonus_ms": "ms", "rescore.ms": "ms",
    "fusion.ms": "ms",
    "query.spark_jobs": "count", "query.spark_tasks": "count",
    "query.input_bytes": "bytes", "query.shuffle_bytes": "bytes",
    "corpus.chunk_ms": "ms", "corpus.chunks": "count",
    "index.build_ms": "ms", "index.postings": "count", "index.block_bytes": "bytes",
    "index.bytes_per_posting": "ratio", "index.partition_skew": "ratio",
    "index.shuffle_write_bytes": "bytes", "index.spill_bytes": "bytes",
    "index.task_skew": "ratio", "index.spark_jobs": "count",
    "refresh.detect_ms": "ms", "refresh.apply_ms": "ms", "refresh.changed_urls": "count",
    "refresh.path_change_proportional": "count", "refresh.path_full_diff": "count",
    "refresh.path_full_rebuild": "count", "refresh.affected_shards": "count",
    "refresh.bytes_rewritten": "bytes", "refresh.write_amp": "ratio",
    "refresh.spark_jobs": "count",
    **{f"catalog.{q}_ms": "ms" for q in CATALOG_QUERIES},
    "catalog.spark_jobs": "count", "catalog.shuffle_write_bytes": "bytes",
    "jvm.gc_ms": "ms",
    "trace.overhead_pct": "%", "trace.coverage": "ratio",
}


def median(xs):
    return statistics.median(xs) if xs else 0.0


def mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def ratio(num, den):
    return num / den if den else 0.0


def tail_percentile(xs, beyond=10):
    """Highest nearest-rank percentile with at least `beyond` samples
    strictly above its rank: (percentile, value), or None when there are
    too few samples for any."""
    n = len(xs)
    if n <= beyond:
        return None
    k = n - beyond  # 1-based rank of the value; n - k samples lie beyond it
    return 100.0 * k / n, sorted(xs)[k - 1]


def fail_ratio(attempted, failed):
    return ratio(failed, attempted)


def outcome(attempted, failures):
    """The run's verdict: every attempted operation and output check
    counts, a thrown exception or a failed check is a failure, and the
    outputs are correct only when nothing failed."""
    return {"correct": not failures, "attempted": attempted, "failed": len(failures)}


# ---- spans ---------------------------------------------------------------

def duration_ms(span):
    return (span["end_ns"] - span["start_ns"]) / 1e6


def children(spans):
    out = {}
    for s in spans:
        out.setdefault(s["parent"], []).append(s)
    return out


def self_ms(span, kids):
    """Span duration minus the part of its interval its children cover."""
    lo, hi = span["start_ns"], span["end_ns"]
    covered, end = 0, lo
    for c in sorted(kids.get(span["id"], []), key=lambda c: c["start_ns"]):
        a, b = max(c["start_ns"], end), min(c["end_ns"], hi)
        if b > a:
            covered += b - a
            end = b
    return (hi - lo - covered) / 1e6


def subtree(span, kids):
    out, todo = [], [span]
    while todo:
        s = todo.pop()
        out.append(s)
        todo.extend(kids.get(s["id"], []))
    return out


def spark_sum(spans, key):
    return sum(s.get("spark", {}).get(key, 0) for s in spans)


def widest_stage_skew(spans):
    """max/median task time of the stage with the most tasks."""
    stages = [st for s in spans for st in s.get("spark", {}).get("stage_task_ms", [])]
    if not stages:
        return 0.0
    widest = max(stages, key=len)
    return ratio(max(widest), median(widest))


def query_layers(spans):
    """Per-query layer attribution over the `query` request spans."""
    kids = children(spans)
    queries = [s for s in spans if s["name"] == "query"]
    per = []
    for q in queries:
        tree = subtree(q, kids)
        by = lambda name: [s for s in tree if s["name"] == name]
        pools = by("pool")
        top = by("searchTopK")
        path = pools[0]["attrs"].get("path", "") if pools else ""
        rounds = pools[0]["attrs"].get("rounds", 0) if pools else 0
        per.append({
            "query_ms": duration_ms(q),
            "termstats_ms": sum(duration_ms(s) for s in by("termstats")),
            "miss_terms": sum(s["attrs"].get("miss_terms", 0) for s in by("termstats")),
            "pool_ms": sum(duration_ms(s) for s in pools),
            "rescore_ms": sum(duration_ms(s) for s in by("rescore")),
            "fusion_ms": sum(self_ms(s, kids) for s in top),
            "path": path, "rounds": rounds,
            "jobs": spark_sum(tree, "jobs"), "tasks": spark_sum(tree, "tasks"),
            "input_bytes": spark_sum(tree, "input_bytes"),
            "shuffle_bytes": spark_sum(tree, "shuffle_write_bytes") + spark_sum(tree, "shuffle_read_bytes"),
        })
    probes = lambda name: [s for s in spans if s["name"] == name]
    tried = [p for p in per if p["rounds"] > 0]
    layer = {
        "termstats.ms": mean([p["termstats_ms"] for p in per]),
        "termstats.miss_terms": sum(p["miss_terms"] for p in per),
        "pool.ms": mean([p["pool_ms"] for p in per]),
        "pool.bounded_ms": mean([p["pool_ms"] for p in per if p["path"] == "bounded"]),
        "pool.dense_ms": mean([p["pool_ms"] for p in per if p["path"] == "dense"]),
        "pool.served_bounded": sum(p["path"] == "bounded" for p in per),
        "pool.served_dense": sum(p["path"] == "dense" for p in per),
        "pool.served_headterm": sum(p["path"] == "wand-headterm" for p in per),
        "pool.bounded_rounds": mean([p["rounds"] for p in tried]),
        "pool.fallback_ratio": ratio(sum(p["path"] == "dense" for p in tried), len(tried)),
        "wand.round_ms": mean([duration_ms(s) for s in probes("wand.probe")]),
        "wand.candidates": mean([s["attrs"].get("candidates", 0) for s in probes("wand.probe")]),
        "postings.scan_ms": mean([duration_ms(s) for s in probes("postings.probe")]),
        "rescore.bonus_ms": mean([duration_ms(s) for s in probes("rescore.bonus.probe")]),
        "rescore.ms": mean([p["rescore_ms"] for p in per]),
        "fusion.ms": mean([p["fusion_ms"] for p in per]),
        "query.spark_jobs": mean([p["jobs"] for p in per]),
        "query.spark_tasks": mean([p["tasks"] for p in per]),
        "query.input_bytes": mean([p["input_bytes"] for p in per]),
        "query.shuffle_bytes": mean([p["shuffle_bytes"] for p in per]),
        "trace.coverage": ratio(
            sum(p["termstats_ms"] + p["pool_ms"] + p["rescore_ms"] + p["fusion_ms"] for p in per),
            sum(p["query_ms"] for p in per)),
    }
    return layer, per


# ---- workloads -----------------------------------------------------------

def _ok_ms(ops):
    return [o["ms"] for o in ops if o["ok"]]


def serve(rec):
    ms = _ok_ms(rec["ops"])
    e2e = {"op_mean_ms": mean(ms)}
    tail = tail_percentile(ms)
    report = {
        "query_p50_ms": (median(ms), "ms", len(ms)),
        "query_p90_ms": (sorted(ms)[int(0.9 * len(ms))] if ms else 0.0, "ms", len(ms)),
        "query_qps": (ratio(len(ms), rec["timed_wall_s"]), "1/s", len(ms)),
        "n_docs": (rec["n_docs"], "count", 1),
    }
    if tail:
        report[f"query_p{tail[0]:.0f}_ms"] = (tail[1], "ms", len(ms))
    ing = rec.get("ingest")
    if ing:  # traced runs: the build and re-crawl round
        report.update({
            "build_pages_per_s": (ratio(ing["pages"], ing["build_s"]), "pages/s", 1),
            "index_bytes_per_text_byte": (ratio(ing["index_bytes"], ing["text_bytes"]), "ratio", 1),
            "update_s": (ing["update_s"], "s", 1),
            "fresh_query_ms": (ing["fresh_ms"], "ms", 1),
            "refresh_path": (ing["path"], "", 1),
        })
    return e2e, report


def catalog(rec):
    sums = [sum(q["ms"] for q in p) for p in rec["passes"]]
    e2e = {"op_mean_ms": mean(sums)}
    report = {"catalog_s": (median(sums) / 1000, "s", len(sums))}
    return e2e, report


WORKLOADS = {"serve": serve, "catalog": catalog}


def end_to_end(workload, rec):
    """(metrics, sample counts, report lines) of an untraced run."""
    e2e, report = WORKLOADS[workload](rec)
    e2e["setup_s"] = median(rec["setup_s"])
    e2e["heap_live_mb"] = rec["heap_live_mb"]
    ops = _ok_ms(rec["ops"]) if workload == "serve" else rec["passes"]
    counts = {"op_mean_ms": len(ops), "setup_s": len(rec["setup_s"]), "heap_live_mb": 1}
    return e2e, counts, report


def build_layers(ing, spans, kids):
    """Corpus, index-build and refresh layers of the traced build and
    re-crawl round (see harness Ingest.scala)."""
    named = lambda name: [s for s in spans if s["name"] == name]
    build = [x for s in named("index.build") for x in subtree(s, kids)]
    walls = ing["partition_wall_ms"]
    refresh = [x for s in named("refresh") for x in subtree(s, kids)]
    return {
        "corpus.chunk_ms": sum(duration_ms(s) for s in named("corpus.chunk")),
        "corpus.chunks": ing["raw_chunks"],
        "index.build_ms": sum(duration_ms(s) for s in named("index.build")),
        "index.postings": ing["postings"],
        "index.block_bytes": ing["block_bytes"],
        "index.bytes_per_posting": ratio(ing["block_bytes"], ing["postings"]),
        "index.partition_skew": ratio(max(walls), median(walls)) if walls else 0.0,
        "index.shuffle_write_bytes": spark_sum(build, "shuffle_write_bytes"),
        "index.spill_bytes": spark_sum(build, "spill_bytes"),
        "index.task_skew": widest_stage_skew(build),
        "index.spark_jobs": spark_sum(build, "jobs"),
        "refresh.detect_ms": sum(duration_ms(s) for s in named("refresh.detect")),
        "refresh.apply_ms": sum(duration_ms(s) for s in named("refresh.apply")),
        "refresh.changed_urls": ing["changed_urls"],
        "refresh.path_change_proportional": int(ing["path"] == "change_proportional"),
        "refresh.path_full_diff": int(ing["path"] == "full_diff"),
        "refresh.path_full_rebuild": int(ing["path"] == "full_rebuild"),
        "refresh.affected_shards": ing["affected_shards"],
        "refresh.bytes_rewritten": ing["bytes_rewritten"],
        "refresh.write_amp": ratio(ing["bytes_rewritten"], ing["changed_text_bytes"]),
        "refresh.spark_jobs": spark_sum(refresh, "jobs"),
    }


def per_layer(workload, rec):
    spans = rec.get("spans", [])
    kids = children(spans)
    out = {k: 0.0 for k in PER_LAYER}
    named = lambda name: [s for s in spans if s["name"] == name]
    out["backend.open_ms"] = mean([duration_ms(s) for s in named("backend.open")])
    out["jvm.gc_ms"] = float(rec["gc_ms"])
    if workload == "serve":
        layer, per = query_layers(spans)
        out.update(layer)
        untraced = median(_ok_ms(rec["ops"]))
        out["trace.overhead_pct"] = 100.0 * (ratio(median([p["query_ms"] for p in per]), untraced) - 1)
        out.update(build_layers(rec["ingest"], spans, kids))
    if workload == "catalog":
        runs = rec["traced_runs"]
        for q in runs:
            out[f"catalog.{q['name']}_ms"] = q["ms"]
        out["catalog.spark_jobs"] = spark_sum(spans, "jobs")
        out["catalog.shuffle_write_bytes"] = spark_sum(spans, "shuffle_write_bytes")
        out["trace.overhead_pct"] = 100.0 * (ratio(
            sum(x["ms"] for x in runs), sum(x["ms"] for x in rec["untraced_runs"])) - 1)
    return out
