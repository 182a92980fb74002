"""The benchmark's workloads: which `SparkEntry.queries` a pass submits,
the generated input tables (sizes) they read, and how many untimed
warm-up passes follow the cold pass.

batch_s is the median of at least four warm passes. The first warm pass
is still slower (JIT compilation; on dedup_x8 by about a third), and the
median leaves it out. No workload runs an untimed warm-up pass: a run's
time goes to the cold pass and the cold session builds.

The comments give the shares a traced run measured (4 cores, warm
passes); README.md has the figures."""

WORKLOADS = {
    # The paper's own pipeline on one month of trips: scans, the relational
    # ops shuffle and aggregation, and the coalesce(1) single-file sink.
    # About 31 jobs a pass, nearly one task each (the 3.7 MB input is one
    # split); driver-side time between jobs is about 40% of the pass.
    "taxi_month": {
        "queries": ["q_flagship_pipeline", "q_dropna", "q_derive_month",
                    "q_time_bucket", "q_hour_filter", "q_quality_nulls",
                    "q_null_matrix", "q_hourly_rollup", "q_csv_roundtrip"],
        "tables": {"events": {"rows": 200_000}, "nation": {}},
        "warmup_passes": 0,
    },
    # Near-dup kernels on the disjoint-shingle x8 corpus. About 40 jobs a
    # pass; jobs cover about 60% of the pass and executor CPU (mostly the
    # functions/dedup/text kernels) is about 0.8 s per second of pass,
    # while driver-side time between jobs is about 40%.
    "dedup_x8": {
        "queries": ["q_ngram_jaccard", "q_dsir_select"],
        "tables": {"documents": {"base_rows": 500, "replicas": 8}},
        "warmup_passes": 0,
    },
}
