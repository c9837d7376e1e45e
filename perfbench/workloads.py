"""The benchmark's workloads: which SparkEntry keys each runs, which
compute layer each key belongs to, and the generated input sizes.

A key's layer is the graft module its query function calls: `ts` is
graft.operators.TimeSeriesOps (plus the per-key window keys
q_sessionize and ev_funnel, whose query functions are plain windows and
graft.operators.Funnel), `diurnal`/`gps`/`hydro`/`melt` the matching
graft.operators module, `dedup` graft.dedup, `similarity`
graft.similarity, `text` graft.text, `mix` graft.mix and `multimodal`
graft.multimodal. text_lines_dedup calls Dedup.dropBoilerplateLines,
so it counts as `dedup`.

Each workload is a few keys per layer, not every key of its family: one
run, cold warm-up included, must finish in well under a minute, and at
these sizes every key costs a few hundred milliseconds of per-job
overhead. The field-data layers run on the skewed events of `hot_key`,
so every layer is measured on one of the two workloads.
"""

LAYERS = ["ts", "diurnal", "gps", "hydro", "melt",
          "dedup", "similarity", "text", "mix", "multimodal"]

PREFIX_LAYER = [
    ("text_lines_dedup", "dedup"),
    ("ts_", "ts"), ("q_sessionize", "ts"), ("ev_funnel", "ts"),
    ("diurnal_", "diurnal"), ("gps_", "gps"), ("hydro_", "hydro"),
    ("melt_", "melt"), ("dedup_", "dedup"), ("ann_", "similarity"),
    ("emb_", "similarity"), ("text_", "text"), ("ds_", "mix"),
    ("mm_", "multimodal"),
]


def layer_of(key):
    for prefix, layer in PREFIX_LAYER:
        if key.startswith(prefix):
            return layer
    raise KeyError(f"no layer for key {key}")


# Row counts are at scale 1; ScaleGen's sf0.1 sizes are 100000 events
# (1500 users), 5000 documents and 2000 embeddings.
WORKLOADS = {
    "llm_curation": {
        "keys": ["dedup_incremental", "ann_ivf", "ann_knn_join", "text_pii",
                 "ds_mix", "mm_features"],
        "events": 0, "users": 0, "documents": 400, "embeddings": 400,
        "skew": False, "indexes": ["ivf16", "ivf64", "lsh"],
        "dedup_recall_key": "dedup_incremental",
    },
    "hot_key": {
        "keys": ["ts_interpolate", "ts_asof_nearest", "diurnal_extrema",
                 "gps_velocity", "hydro_wlb_pipeline", "melt_pipeline",
                 "dedup_minhash", "dedup_jaccard"],
        "events": 10000, "users": 150, "documents": 120, "embeddings": 0,
        "skew": True, "indexes": [],
        "dedup_recall_key": "dedup_minhash",
    },
}

# ann_recall_at_10 is ANN_RECALL_KEY's top-10 against ANN_TRUTH_KEY's
# oracle SQL, the brute-force cosine top-10. dedup_recall is each
# workload's dedup_recall_key against exact word 3-gram Jaccard >= 0.7.
ANN_RECALL_KEY = "ann_ivf"
ANN_TRUTH_KEY = "ann_brute"
# dedup.pair_yield: the pairs this key verifies over the candidate pairs
# Runner's pairMassAudit counts for it.
PAIR_KEY = "dedup_jaccard"
