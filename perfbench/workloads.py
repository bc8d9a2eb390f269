"""Workload definitions: the ops each workload runs per pass, and the op
families the per-layer totals are grouped by."""

WORKLOADS = {
    # Short relational, coder and Pipeline plans: planning and per-job
    # scheduling set the time, executors are mostly idle.
    "pipelines": [
        "q1_agg", "q3_join_broadcast", "q6_window_rank", "q13_limit",
        "q24_string_agg", "c_avro_roundtrip", "c_json_roundtrip",
        "p_from_list", "p_split_flatmap",
    ],
    # Curation operators in batch (MinHash-LSH dedup, the quality
    # classifier kernel, IVF vector search, multimodal near-duplicates)
    # and incrementally (stream gates with per-epoch state commits):
    # executor compute and state writes.
    "curation": ["d_minhash_lsh", "t_quality_lr", "s_ann_ivf", "mm_neardup",
                 "q27_stream_e2e", "q35_stream_cms"],
}

# Typical warm pass of each workload at local[4] (seconds). A run
# measures round(--seconds / this) warm passes, at least three: the
# count depends on the run length only, so a slower host or a faster
# program changes the time a run takes, not which passes it measures.
NOMINAL_PASS_S = {"pipelines": 3.0, "curation": 9.5}
MIN_PASSES = 3
# Unmeasured passes between the cold pass and the measured ones. The JIT
# keeps compiling for several passes of the short pipelines plans (their
# passes fell from 5.7-7.0 s to a plateau of about 2.7 s within four to
# six passes); curation's passes are longer and reach the plateau sooner.
WARMUP_PASSES = {"pipelines": 4, "curation": 1}


def measured_passes(workload, seconds):
    return max(MIN_PASSES, round(seconds / NOMINAL_PASS_S[workload]))


STREAM_OPS = {"q27_stream_e2e", "q30_late_data", "q31_stream_join",
              "q35_stream_cms", "q38_stream_sessions",
              "q39_stream_sessions_late"}

FAMILIES = ["relational", "coders", "pipeline", "dedup", "textstats",
            "similarity", "multimodal", "curation_stream", "streams"]


def family(op):
    if op == "mm_curation_stream":
        return "curation_stream"
    if op in STREAM_OPS:
        return "streams"
    prefix = op.split("_", 1)[0]
    return {"c": "coders", "p": "pipeline", "d": "dedup", "t": "textstats",
            "s": "similarity", "mm": "multimodal"}.get(prefix, "relational")
