"""The benchmark's metric names and units, in the order BENCHMARK.json
lists them. `END_TO_END` are printed by untraced runs, `PER_LAYER` by
traced runs (`--trace 1`)."""

END_TO_END = [
    ("throughput_rows_per_s", "rows/s"),
    ("round_p50_s", "s"),
    ("compile_s", "s"),
    ("run_s", "s"),
    ("peak_rss_mb", "MB"),
    ("setup_s", "s"),
]

# the v3 spec nodes that launch compile-time jobs
V3_NODES = ["qvecs", "sem", "cleaned", "sel", "train"]
KERNELS = ["quality_score", "minhash_sig", "word_ngrams", "span_kernel", "hashed_grams",
           "cosine_normed", "bpe_encode"]
MODULES = ["sources", "plans", "operators", "functions", "streaming", "sinks"]

PER_LAYER = (
    [("session.start_s", "s"), ("bench.gen_s", "s"), ("bench.warmup_s", "s"),
     ("sources.scan_s", "s"), ("sources.scan_mb", "MB"),
     ("plans.parse_s", "s"), ("plans.compile_s", "s"), ("plans.compile_jobs", "count"),
     ("plans.compile_task_s", "s"), ("plans.compile_cores_busy", "cores")]
    + [(f"plans.node.{n}.{m}", u) for n in V3_NODES for m, u in (("jobs", "count"), ("wall_s", "s"))]
    + [(f"functions.{k}.rows_per_s", "rows/s") for k in KERNELS]
    + [("operators.vector_index.append_s", "s"), ("operators.vector_index.fold_s", "s"),
       ("operators.vector_index.ann_s", "s"),
       ("streaming.round_s", "s"), ("streaming.empty_round_s", "s"),
       ("streaming.jobs_per_round", "count"),
       ("sinks.write_s", "s"), ("sinks.bytes_per_input_byte", "ratio"),
       ("sinks.live_files", "count"), ("sinks.compact_round_s", "s")]
    + [(f"exec.{m}.{k}", u) for m in MODULES
       for k, u in (("task_s", "s"), ("shuffle_write_mb", "MB"), ("spill_disk_mb", "MB"),
                    ("tasks_failed", "count"))]
    + [(f"jvm.{m}.{k}", "s") for m in MODULES for k in ("gc_s", "jit_s")]
    + [("host.other_cores", "cores"), ("host.steal_cores", "cores"),
       ("trace.overhead_frac", "ratio"), ("trace.span_coverage", "ratio")]
)
