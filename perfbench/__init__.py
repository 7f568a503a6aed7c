"""georiva_spark benchmark: seeded closed-loop workloads, per-layer tracing."""
