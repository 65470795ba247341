"""The benchmark's metric catalogue: one source for BENCHMARK.json and
for the mapping from each per-layer metric to the end-to-end metric
and workload it should move.

    python3 perfbench/metrics.py            # print BENCHMARK.json
    python3 perfbench/metrics.py --check    # exit 1 if the file differs
    python3 perfbench/metrics.py --layers   # per-layer metric -> what it moves
"""

from __future__ import annotations

import json
import os
import sys

CORPUS = ("ngram_model_score", "islands_flagship", "eightvalues_axis_scores",
          "embedding_cosine_topk", "token_bounded_chunks",
          "mllib_lsh_similar_pairs", "corpus_release_prep",
          "bloom_prefilter_contamination", "minhash_lsh_candidate_pairs")
DASHBOARD = ("pricing_summary", "brand_revenue",
             "sql_frontend_revenue_by_region", "hll_distinct_profile",
             "tumbling_hourly_event_stats", "asof_purchase_context",
             "session_windows_per_user")

# (name, why)
WORKLOADS = [
    ("corpus_batch", "one client runs the paper's batch products and "
     "curation (nine queries) over a seeded 600-doc corpus: operator, plan "
     "and Spark execution work, no cache and no store writes"),
    ("stream_serve", "rounds land a seeded 50-doc micro-batch in the "
     "pipeline stores (one redelivered), then serve 20 Zipf-skewed "
     "dashboard requests: store writes, HTTP, cache"),
]
WORKLOAD_NAMES = tuple(n for n, _ in WORKLOADS)

# Every end-to-end metric is printed on every workload, so each is
# defined for both; an "op" is one pass over the corpus queries
# (corpus_batch) or one round (stream_serve): a micro-batch landed plus
# its block of dashboard requests. Times are raw wall times.
#   name, unit, better, bound, meaning
END_TO_END = [
    ("setup_s", "s", "lower", 0.25,
     "process start to the first timed op: SparkSession, inputs, "
     "oracle, store init, warm-up"),
    ("op_p50_s", "s", "lower", 0.25,
     "median wall time of one pass (corpus_batch) or one round "
     "(stream_serve)"),
    ("throughput_per_s", "1/s", "higher", 0.25,
     "queries completed (corpus_batch) or documents landed (stream_serve) "
     "per second of summed op wall time"),
    ("ok_ratio", "ratio", "higher", 0.01,
     "ops (queries, micro-batches, requests) that returned and passed "
     "their output check / ops attempted (1 - failed_ratio)"),
]
# Resident memory is not end-to-end: the driver JVM's heap grows with
# GC timing, and its peak over the process tree spread 24-29% (IQR /
# median) across five seeds, wider than any usable bound. It is
# reported per layer (process.*) on traced runs.


def _layer(name, unit, better, moves, workloads):
    return {"name": name, "unit": unit, "better": better,
            "moves": moves, "workloads": tuple(workloads)}


def per_layer(workloads=WORKLOAD_NAMES) -> list[dict]:
    """The per-layer metrics of any of ``workloads``."""
    return [m for m in _catalogue()
            if set(m["workloads"]) & set(workloads)]


def _catalogue() -> list[dict]:
    both = WORKLOAD_NAMES
    corpus = ["corpus_batch"]
    stream = ["stream_serve"]
    out = [_layer("session.start_s", "s", "lower", "setup_s", both),
           _layer("process.peak_rss_mb", "MB", "lower", "none", both),
           _layer("process.median_rss_mb", "MB", "lower", "none", both),
           _layer("sources.load_s", "s", "lower", "op_p50_s", both)]
    out += [_layer(f"plans.{q}.build_s", "s", "lower", "op_p50_s", corpus)
            for q in CORPUS]
    out += [_layer(f"plans.{q}.build_s", "s", "lower", "op_p50_s", stream)
            for q in DASHBOARD]
    # Driver-side time in the operator modules: building the lazy plan
    # (and any eager step, such as the LSH model fit). Their execution
    # runs later, inside the query's noop write, and is counted in
    # spark.<query>.run_s / task_s of the query attributed to them
    # (islands_flagship, mllib_lsh_similar_pairs, token_bounded_chunks).
    # operators.scoring and operators.eightvalues are not listed: the
    # queries named after them are plain DataFrame plans that call
    # neither module.
    out += [_layer(f"operators.{op}.build_s", "s", "lower", "op_p50_s",
                   corpus) for op in ("islands", "chunking", "ann")]
    for q in CORPUS:
        out += [_layer(f"spark.{q}.{k}", u, "lower", "op_p50_s", corpus)
                for k, u in (("run_s", "s"), ("task_s", "s"),
                             ("jobs", "count"), ("tasks", "count"),
                             ("shuffle_bytes", "bytes"),
                             ("spill_bytes", "bytes"))]
    out += [
        _layer("spark.parallelism", "ratio", "higher", "op_p50_s", corpus),
        _layer("spark.gc_s", "s", "lower", "op_p50_s", corpus),
        _layer("spark.dashboard.jobs_per_miss", "count", "lower",
               "op_p50_s", stream),
        _layer("spark.dashboard.task_s_per_miss", "s", "lower",
               "op_p50_s", stream),
        _layer("serving.request_p50_s", "s", "lower", "op_p50_s", stream),
        _layer("serving.request_p75_s", "s", "lower", "op_p50_s", stream),
        _layer("serving.run_s", "s", "lower", "op_p50_s", stream),
        _layer("serving.http_s", "s", "lower", "op_p50_s", stream),
        _layer("serving.cache_hit_ratio", "ratio", "higher", "op_p50_s",
               stream),
        _layer("serving.timeouts", "count", "lower", "ok_ratio", stream),
    ]
    out += [_layer(f"streaming.{stage}_s", "s", "lower", "op_p50_s", stream)
            for stage in ("islands", "neardup", "decontam", "dsir", "sample",
                          "perceptron", "sketch", "ivf", "pca")]
    out += [
        _layer("streaming.other_s", "s", "lower", "op_p50_s", stream),
        _layer("streaming.microbatch_s", "s", "lower", "throughput_per_s",
               stream),
        _layer("streaming.jobs_per_batch", "count", "lower", "op_p50_s",
               stream),
        _layer("streaming.task_s_per_batch", "s", "lower",
               "throughput_per_s", stream),
        _layer("streaming.init_s", "s", "lower", "setup_s", stream),
        _layer("store_io.write_s", "s", "lower", "op_p50_s", stream),
        _layer("store_io.files_per_batch", "count", "lower",
               "store_io.bytes_per_input_byte", stream),
        _layer("store_io.bytes_per_batch", "bytes", "lower",
               "store_io.bytes_per_input_byte", stream),
        _layer("store_io.bytes_per_input_byte", "ratio", "lower",
               "op_p50_s", stream),
        # the traced run's own op_p50_s: traced / untraced of the same
        # workload and seed is the tracing overhead
        _layer("trace.op_p50_s", "s", "lower", "op_p50_s", both),
        _layer("trace.spans_per_op", "count", "lower", "none", both),
        _layer("trace.overhead_s", "s", "lower", "none", both),
        _layer("trace.uncovered_share", "ratio", "lower", "none", both),
    ]
    return out


RUN_SECONDS = 10


def benchmark_json() -> dict:
    return {
        "command": ["python3", "perfbench/run.py"],
        "paths": ["perfbench"],
        "run_seconds": RUN_SECONDS,
        "workloads": [{"name": n, "why": w} for n, w in WORKLOADS],
        "end_to_end": [{"name": n, "unit": u, "better": b, "bound": bound}
                       for n, u, b, bound, _ in END_TO_END],
        "per_layer": [{k: m[k] for k in ("name", "unit", "better")}
                      for m in per_layer()],
    }


def render() -> str:
    return json.dumps(benchmark_json(), indent=2) + "\n"


if __name__ == "__main__":
    path = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "BENCHMARK.json")
    if "--check" in sys.argv[1:]:
        with open(path) as f:
            sys.exit(0 if f.read() == render() else 1)
    if "--layers" in sys.argv[1:]:
        for m in _catalogue():
            print(f"{m['name']:48} {m['unit']:6} moves {m['moves']} "
                  f"on {', '.join(m['workloads'])}")
        sys.exit(0)
    sys.stdout.write(render())
